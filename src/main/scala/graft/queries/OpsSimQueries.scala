package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 ops-simulation wave: sample entropy of the revenue series,
  * an (s,S) inventory policy replay, Kendall τ-b with tie corrections,
  * a decision-stump Gini screen, and the Nelson–Aalen cumulative
  * hazard. The SampEn tolerance and the (s,S) parameters derive from
  * the data itself (floor'd exact expressions), so the queries stay
  * scale-free; the inventory fold is pure integer arithmetic. */
object OpsSimQueries {

  val all: Seq[Q] = Seq(q476, q477, q478, q479, q480)

  /** Sample entropy (m = 2, r = 0.2σ) of daily order revenue: the
    * regularity statistic −ln(A/B) over template pairs, with the
    * tolerance integerized as T = ⌊σ/5⌋ dollars so every match test is
    * an exact integer comparison. Template triples come from value
    * lags on the zero-filled calendar grid; the pair pass is
    * day-dim² — bounded by the calendar, not the fact table. */
  def q476: Q = Q(
    "q476_sample_entropy_revenue",
    Some(s"""
      |WITH ${Scaffolds.sqlDailyDollars},
      |st AS (SELECT count(*) AS n, sum(x) AS sx,
      |              sum(CAST(x AS HUGEINT) * x) AS q FROM grid),
      |tol AS (
      |  SELECT CAST(floor(sqrt(CAST(CAST(n AS HUGEINT) * q
      |           - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |           / (5.0 * CAST(n AS DOUBLE))) AS BIGINT) AS t
      |  FROM st),
      |tpl AS (
      |  SELECT day, x,
      |         lead(x, 1) OVER (ORDER BY day) AS x1,
      |         lead(x, 2) OVER (ORDER BY day) AS x2
      |  FROM grid),
      |tr AS (SELECT * FROM tpl WHERE x2 IS NOT NULL),
      |cmp AS (
      |  SELECT count(*) FILTER (abs(a.x - b.x) <= tol.t
      |           AND abs(a.x1 - b.x1) <= tol.t) AS b,
      |         count(*) FILTER (abs(a.x - b.x) <= tol.t
      |           AND abs(a.x1 - b.x1) <= tol.t
      |           AND abs(a.x2 - b.x2) <= tol.t) AS a
      |  FROM tr a JOIN tr b ON a.day < b.day CROSS JOIN tol)
      |SELECT (SELECT CAST(n AS BIGINT) FROM st) AS n_days,
      |       (SELECT CAST(t AS BIGINT) FROM tol) AS tol_dollars,
      |       CAST(b AS BIGINT) AS n_match2,
      |       CAST(a AS BIGINT) AS n_match3,
      |       CAST(floor(CAST(ln(CAST(b AS DOUBLE) / CAST(a AS DOUBLE))
      |            AS DECIMAL(28,6)) * 1000) AS BIGINT) AS sampen_milli
      |FROM cmp
      |""".stripMargin)) { (s, dir) =>
    val grid = Scaffolds.dailyDollars(s, dir)
      .materialize()
    val st = grid.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
    val tol = st.select(col("n"),
      expr("""CAST(floor(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q
          - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
          / (5.0 * CAST(n AS DOUBLE))) AS BIGINT)""").as("t"))
    val w = Window.orderBy(col("day")) // calendar-bounded day dim
    val tr = grid.select(col("day"), col("x"),
        lead(col("x"), 1).over(w).as("x1"),
        lead(col("x"), 2).over(w).as("x2"))
      .where(col("x2").isNotNull)
      .materialize()
    val trb = tr.select(col("day").as("bd"), col("x").as("bx"),
      col("x1").as("bx1"), col("x2").as("bx2"))
    val cmp = tr.join(trb, col("day") < col("bd"))
      .crossJoin(broadcast(tol))
      .agg(
        sum(when(abs(col("x") - col("bx")) <= col("t")
          && abs(col("x1") - col("bx1")) <= col("t"), 1L).otherwise(0L))
          .as("b"),
        sum(when(abs(col("x") - col("bx")) <= col("t")
          && abs(col("x1") - col("bx1")) <= col("t")
          && abs(col("x2") - col("bx2")) <= col("t"), 1L).otherwise(0L))
          .as("a"),
        max(col("n")).as("n"), max(col("t")).as("tl"))
    cmp.select(col("n").as("n_days"), col("tl").as("tol_dollars"),
      col("b").as("n_match2"), col("a").as("n_match3"),
      expr("CAST(floor(CAST(ln(CAST(b AS DOUBLE) / CAST(a AS DOUBLE))" +
        " AS DECIMAL(28,6)) * 1000) AS BIGINT)").as("sampen_milli"))
  }

  /** (s,S) inventory policy replay for Brand#11 demand: daily demand
    * from the zero-filled ship calendar, reorder point s = 5·d̄ and
    * order-up-to S = 12·d̄ derived from the data (scale-free), lead
    * time exactly 3 days via a three-slot pipeline. The fold is pure
    * integer state (on-hand, pipeline, stockouts, fill) — inherently
    * sequential, so OrderedFold with the DuckDB list_reduce replaying
    * the identical op order. Outputs the service-level table an
    * inventory planner reads. */
  def q477: Q = {
    // shared fold arithmetic (DuckDB text); Scala mirrors op for op
    val oh1 = "(acc[1].oh + acc[1].p1)"
    val sv = s"least($oh1, e[1].v)"
    val oh2 = s"($oh1 - $sv)"
    val pos = s"($oh2 + acc[1].p2 + acc[1].p3)"
    val ord = s"(CASE WHEN $pos < sp THEN bigs - $pos ELSE 0 END)"
    Q("q477_ss_inventory_replay",
      Some(s"""
        |WITH lp AS (
        |  SELECT epoch_us(l.l_shipdate) // 86400000000 AS d,
        |         CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#11'),
        |dd AS (SELECT d, sum(q) AS q FROM lp GROUP BY 1),
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM lp),
        |grid AS (
        |  SELECT g.d AS day, coalesce(dd.q, 0) AS q
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  LEFT JOIN dd ON g.d = dd.d),
        |pars AS (SELECT 5 * (sum(q) // count(*)) AS sp,
        |                12 * (sum(q) // count(*)) AS bigs FROM grid),
        |f AS (
        |  SELECT sp, bigs, list_reduce(
        |    list_prepend(
        |      [{'oh': bigs, 'p1': CAST(0 AS BIGINT), 'p2': CAST(0 AS BIGINT),
        |        'p3': CAST(0 AS BIGINT), 'so': CAST(0 AS BIGINT),
        |        'op': CAST(0 AS BIGINT), 'sv': CAST(0 AS BIGINT),
        |        'dm': CAST(0 AS BIGINT), 'soh': CAST(0 AS BIGINT),
        |        'tt': CAST(0 AS BIGINT), 'v': CAST(0 AS BIGINT)}],
        |      list([{'oh': CAST(0 AS BIGINT), 'p1': CAST(0 AS BIGINT),
        |        'p2': CAST(0 AS BIGINT), 'p3': CAST(0 AS BIGINT),
        |        'so': CAST(0 AS BIGINT), 'op': CAST(0 AS BIGINT),
        |        'sv': CAST(0 AS BIGINT), 'dm': CAST(0 AS BIGINT),
        |        'soh': CAST(0 AS BIGINT), 'tt': CAST(0 AS BIGINT),
        |        'v': q}] ORDER BY day)),
        |    (acc, e) -> [{
        |      'oh': $oh2,
        |      'p1': acc[1].p2, 'p2': acc[1].p3, 'p3': $ord,
        |      'so': acc[1].so + (CASE WHEN e[1].v > $oh1 THEN 1 ELSE 0 END),
        |      'op': acc[1].op + (CASE WHEN $ord > 0 THEN 1 ELSE 0 END),
        |      'sv': acc[1].sv + $sv,
        |      'dm': acc[1].dm + e[1].v,
        |      'soh': acc[1].soh + $oh2,
        |      'tt': acc[1].tt + 1,
        |      'v': CAST(0 AS BIGINT)}]) AS st
        |  FROM grid CROSS JOIN pars GROUP BY sp, bigs)
        |SELECT CAST(st[1].tt AS BIGINT) AS n_days,
        |       CAST(sp AS BIGINT) AS s_reorder,
        |       CAST(bigs AS BIGINT) AS s_up_to,
        |       CAST(st[1].op AS BIGINT) AS orders_placed,
        |       CAST(st[1].so AS BIGINT) AS stockout_days,
        |       CAST((1000 * st[1].sv) // st[1].dm AS BIGINT)
        |         AS fill_rate_milli,
        |       CAST((1000 * st[1].soh) // st[1].tt AS BIGINT)
        |         AS avg_onhand_milli
        |FROM f
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      val lp = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .where(col("p_brand") === "Brand#11").select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
          " div 86400000000").as("d"),
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
        .materialize()
      val dd = lp.groupBy(col("d")).agg(sum(col("q")).as("q"))
      val mm = lp.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(dd, col("day") === col("d"), "left")
        .select(col("day"), coalesce(col("q"), lit(0L)).as("q"))
        .materialize()
      val pars = grid.agg(
        expr("5 * (sum(q) div count(1))").as("sp"),
        expr("12 * (sum(q) div count(1))").as("bigs"))
      val xp = grid.crossJoin(broadcast(pars))
        .select(lit(0L).as("g"), col("day"), col("q"),
          col("sp"), col("bigs"))
      val out = StructType(Seq(
        StructField("n_days", LongType, nullable = false),
        StructField("s_reorder", LongType, nullable = false),
        StructField("s_up_to", LongType, nullable = false),
        StructField("orders_placed", LongType, nullable = false),
        StructField("stockout_days", LongType, nullable = false),
        StructField("served", LongType, nullable = false),
        StructField("demand", LongType, nullable = false),
        StructField("sum_onhand", LongType, nullable = false)))
      // state: [oh, p1, p2, p3, so, op, sv, dm, soh, tt, sp, bigS]
      val folded = graft.operators.OrderedFold.foldGroups[Array[Long]](
        xp, Seq("g"), Seq(col("day")), out)(
        init = row => {
          val st = new Array[Long](12)
          st(10) = row.getLong(3); st(11) = row.getLong(4)
          st(0) = st(11) // start at S
          st
        },
        step = { (st, row) =>
          val q = row.getLong(2)
          val oh1 = st(0) + st(1)
          val sv = math.min(oh1, q)
          val oh2 = oh1 - sv
          val pos = oh2 + st(2) + st(3)
          val ord = if (pos < st(10)) st(11) - pos else 0L
          st(0) = oh2
          st(1) = st(2); st(2) = st(3); st(3) = ord
          if (q > oh1) st(4) += 1
          if (ord > 0) st(5) += 1
          st(6) += sv; st(7) += q; st(8) += oh2; st(9) += 1
          st
        },
        emit = (_, st) => Iterator(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](st(9), st(10), st(11), st(5), st(4), st(6), st(7),
              st(8)))))
      folded.select(col("n_days"), col("s_reorder"), col("s_up_to"),
        col("orders_placed"), col("stockout_days"),
        expr("(1000 * served) div demand").as("fill_rate_milli"),
        expr("(1000 * sum_onhand) div n_days").as("avg_onhand_milli"))
    }
  }

  /** Kendall τ-b between supplier account balance and realized revenue
    * — the tie-corrected rank correlation (q360's Spearman sibling):
    * concordant/discordant/tied pair counts by pure comparisons (no
    * arithmetic on the values, so no overflow surface), τ-b =
    * (C−D)/√((n₀−n₁)(n₀−n₂)). Supplier dim is fixed-size; the pair
    * pass is dim². */
  def q478: Q = Q(
    "q478_kendall_tau_b",
    Some("""
      |WITH rev AS (
      |  SELECT l_suppkey AS k,
      |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS y
      |  FROM lineitem GROUP BY 1),
      |v AS (
      |  SELECT s.s_suppkey AS k,
      |         CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT) AS x,
      |         coalesce(rev.y, 0) AS y
      |  FROM supplier s LEFT JOIN rev ON s.s_suppkey = rev.k),
      |pc AS (
      |  SELECT count(*) AS n0,
      |         sum(CASE WHEN (a.x > b.x AND a.y > b.y)
      |                   OR (a.x < b.x AND a.y < b.y) THEN 1 ELSE 0 END)
      |           AS c,
      |         sum(CASE WHEN (a.x > b.x AND a.y < b.y)
      |                   OR (a.x < b.x AND a.y > b.y) THEN 1 ELSE 0 END)
      |           AS d,
      |         sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS n2
      |  FROM v a JOIN v b ON a.k < b.k)
      |SELECT CAST(n0 AS BIGINT) AS n_pairs,
      |       CAST(c AS BIGINT) AS concordant,
      |       CAST(d AS BIGINT) AS discordant,
      |       CAST(n1 AS BIGINT) AS ties_x, CAST(n2 AS BIGINT) AS ties_y,
      |       CAST(floor(CAST(
      |           CAST(c - d AS DOUBLE)
      |             / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
      |         AS DECIMAL(28,6)) * 1000) AS BIGINT) AS tau_b_milli
      |FROM pc
      |""".stripMargin)) { (s, dir) =>
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("k"))
      .agg(expr("CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("y"))
    val v = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("k"),
        expr("CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
      .join(rev.withColumnRenamed("k", "rk"), col("k") === col("rk"), "left")
      .select(col("k"), col("x"), coalesce(col("y"), lit(0L)).as("y"))
      .materialize() // supplier dim
    val b = v.select(col("k").as("bk"), col("x").as("bx"), col("y").as("by"))
    v.join(broadcast(b), col("k") < col("bk"))
      .agg(count(lit(1)).as("n0"),
        sum(when((col("x") > col("bx") && col("y") > col("by"))
          || (col("x") < col("bx") && col("y") < col("by")), 1L)
          .otherwise(0L)).as("c"),
        sum(when((col("x") > col("bx") && col("y") < col("by"))
          || (col("x") < col("bx") && col("y") > col("by")), 1L)
          .otherwise(0L)).as("d"),
        sum(when(col("x") === col("bx"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("y") === col("by"), 1L).otherwise(0L)).as("n2"))
      .select(col("n0").as("n_pairs"), col("c").as("concordant"),
        col("d").as("discordant"), col("n1").as("ties_x"),
        col("n2").as("ties_y"),
        expr("""CAST(floor(CAST(
            CAST(c - d AS DOUBLE)
              / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
          AS DECIMAL(28,6)) * 1000) AS BIGINT)""").as("tau_b_milli"))
  }

  /** Oracle CTEs `l`/`agg`: lineitem × order flags — deep discount
    * (≥ 5%), bulk quantity (> 25), urgent priority — against the
    * return label y, reduced to one row of counts (n, yy and per
    * feature n·/y·). */
  private[queries] def sqlFeatureCounts: String =
    """l AS (
      |  SELECT CASE WHEN floor(l.l_discount * 100 + 0.5) >= 5
      |              THEN 1 ELSE 0 END AS f_disc,
      |         CASE WHEN l.l_quantity > 25.0 THEN 1 ELSE 0 END AS f_qty,
      |         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |           AS f_urg,
      |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |agg AS (
      |  SELECT count(*) AS n, sum(y) AS yy,
      |         sum(f_disc) AS nd, sum(f_disc * y) AS yd,
      |         sum(f_qty) AS nq, sum(f_qty * y) AS yq,
      |         sum(f_urg) AS nu, sum(f_urg * y) AS yu
      |  FROM l)""".stripMargin

  /** Spark side of [[sqlFeatureCounts]], one row per feature:
    * (feature, n, yy, n1, y1). */
  private[queries] def featureCounts(s: SparkSession, dir: String)
      : DataFrame = {
    val l = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        when(expr("floor(l_discount * 100 + 0.5) >= 5"), 1L).otherwise(0L)
          .as("f_disc"),
        when(col("l_quantity") > 25.0, 1L).otherwise(0L).as("f_qty"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("f_urg"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val agg = l.agg(count(lit(1)).as("n"), sum(col("y")).as("yy"),
      sum(col("f_disc")).as("nd"), sum(col("f_disc") * col("y")).as("yd"),
      sum(col("f_qty")).as("nq"), sum(col("f_qty") * col("y")).as("yq"),
      sum(col("f_urg")).as("nu"), sum(col("f_urg") * col("y")).as("yu"))
      .materialize()
    agg.select(lit("deep_discount").as("feature"), col("n"),
        col("yy"), col("nd").as("n1"), col("yd").as("y1"))
      .unionAll(agg.select(lit("bulk_quantity"), col("n"), col("yy"),
        col("nq"), col("yq")))
      .unionAll(agg.select(lit("urgent_priority"), col("n"), col("yy"),
        col("nu"), col("yu")))
  }

  /** Decision-stump screen: which single binary feature (deep
    * discount, bulk quantity, urgent priority) best splits return
    * risk, by Gini impurity gain with permille-quantized side
    * impurities (the stated contract). The first node a tree learner
    * would grow, as a pure relational computation — one fact pass,
    * then dim-sized arithmetic per feature. */
  def q479: Q = Q(
    "q479_gini_stump_returns",
    Some(s"""
      |WITH ${sqlFeatureCounts},
      |m AS (
      |  SELECT feature, n, n1, y1, n - n1 AS n0, yy - y1 AS y0,
      |         (2000 * yy * (n - yy)) // (n * n) AS gp
      |  FROM (
      |    SELECT 'deep_discount' AS feature, n, yy, nd AS n1, yd AS y1
      |    FROM agg
      |    UNION ALL SELECT 'bulk_quantity', n, yy, nq, yq FROM agg
      |    UNION ALL SELECT 'urgent_priority', n, yy, nu, yu FROM agg) u),
      |g AS (
      |  SELECT feature, n, n1, gp,
      |         (n1 * ((2000 * y1 * (n1 - y1)) // (n1 * n1))
      |          + n0 * ((2000 * y0 * (n0 - y0)) // (n0 * n0))) // n AS gw
      |  FROM m)
      |SELECT feature, CAST(n1 AS BIGINT) AS n_true,
      |       CAST(gp AS BIGINT) AS gini_parent_milli,
      |       CAST(gw AS BIGINT) AS gini_split_milli,
      |       CAST(gp - gw AS BIGINT) AS gain_milli
      |FROM g ORDER BY gain_milli DESC, feature
      |""".stripMargin)) { (s, dir) =>
    val u = featureCounts(s, dir)
    u.select(col("feature"), col("n"), col("n1"),
        (col("n") - col("n1")).as("n0"), col("y1"),
        (col("yy") - col("y1")).as("y0"),
        expr("(2000 * yy * (n - yy)) div (n * n)").as("gp"))
      .select(col("feature"), col("n1").as("n_true"),
        col("gp").as("gini_parent_milli"),
        expr("(n1 * ((2000 * y1 * (n1 - y1)) div (n1 * n1))" +
          " + n0 * ((2000 * y0 * (n0 - y0)) div (n0 * n0))) div n")
          .as("gini_split_milli"),
        (col("gp") - expr("(n1 * ((2000 * y1 * (n1 - y1)) div (n1 * n1))" +
          " + n0 * ((2000 * y0 * (n0 - y0)) div (n0 * n0))) div n"))
          .as("gain_milli"))
      .orderBy(col("gain_milli").desc, col("feature"))
  }

  /** Nelson–Aalen cumulative hazard of order fulfillment spans at
    * fixed horizons (60/180/365/730 days): H(t) = Σ d_i/n_i with each
    * increment micro-quantized (the published estimator contract) and
    * at-risk counts from a cumulative count over the span dim —
    * calendar-bounded, like every survival face here. The exp(−H)
    * survival column is the one libm call, quantized at the end. */
  def q480: Q = Q(
    "q480_nelson_aalen_spans",
    Some("""
      |WITH ord AS (
      |  SELECT o.o_orderkey AS id,
      |         max(epoch_us(l.l_shipdate) // 86400000000)
      |           - epoch_us(o.o_orderdate) // 86400000000 + 1 AS t
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, o.o_orderdate
      |  HAVING max(epoch_us(l.l_shipdate) // 86400000000)
      |         >= epoch_us(o.o_orderdate) // 86400000000),
      |n AS (SELECT count(*) AS n FROM ord),
      |ev AS (SELECT t, count(*) AS d FROM ord GROUP BY 1),
      |cum AS (
      |  SELECT t, d,
      |         n.n - (sum(d) OVER (ORDER BY t) - d) AS at_risk
      |  FROM ev CROSS JOIN n),
      |h AS (
      |  SELECT t, sum((1000000 * d) // at_risk) OVER (ORDER BY t) AS hh,
      |         sum(d) OVER (ORDER BY t) AS ne
      |  FROM cum),
      |hz(horizon) AS (VALUES (60), (180), (365), (730)),
      |pick AS (
      |  SELECT hz.horizon, max(h.hh) AS hh, max(h.ne) AS ne
      |  FROM hz LEFT JOIN h ON h.t <= hz.horizon
      |  GROUP BY 1)
      |SELECT CAST(horizon AS BIGINT) AS horizon_days,
      |       CAST(coalesce(ne, 0) AS BIGINT) AS events_within,
      |       CAST(coalesce(hh, 0) AS BIGINT) AS cum_hazard_micro,
      |       CAST(floor(CAST(exp(-CAST(coalesce(hh, 0) AS DOUBLE)
      |              / 1000000.0)
      |            AS DECIMAL(28,6)) * 1000) AS BIGINT) AS survival_milli
      |FROM pick ORDER BY horizon_days
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("id"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("a"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 86400000000").as("sd")),
        col("id") === col("l_orderkey"))
      .groupBy(col("id"), col("a"))
      .agg(max(col("sd")).as("done"))
      .where(col("done") >= col("a"))
      .select((col("done") - col("a") + 1).as("t"))
      .materialize()
    val n = ord.agg(count(lit(1)).as("n"))
    val ev = ord.groupBy(col("t")).agg(count(lit(1)).as("d"))
    val w = Window.orderBy(col("t")) // span dim: calendar-bounded
    val h = ev.crossJoin(broadcast(n))
      .withColumn("at_risk", col("n") - (sum(col("d")).over(w) - col("d")))
      .withColumn("hh", sum(expr("(1000000 * d) div at_risk")).over(w))
      .withColumn("ne", sum(col("d")).over(w))
      .select(col("t"), col("hh"), col("ne"))
    val hz = Seq(60, 180, 365, 730).toDF("horizon")
    hz.join(h, col("t") <= col("horizon"), "left")
      .groupBy(col("horizon"))
      .agg(max(col("hh")).as("hh"), max(col("ne")).as("ne"))
      .select(col("horizon").cast("long").as("horizon_days"),
        coalesce(col("ne"), lit(0L)).as("events_within"),
        coalesce(col("hh"), lit(0L)).as("cum_hazard_micro"),
        expr("CAST(floor(CAST(exp(-CAST(coalesce(hh, 0) AS DOUBLE)" +
          " / 1000000.0) AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("survival_milli"))
      .orderBy(col("horizon_days"))
  }
}
