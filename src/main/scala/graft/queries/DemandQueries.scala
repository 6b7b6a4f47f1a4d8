package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 demand-planning wave: index-number theory (Paasche/Fisher,
  * completing q384's Laspeyres), weighted order statistics, Croston's
  * intermittent-demand smoothing, the newsvendor quantile policy, and
  * binary-segmentation changepoint detection — the forecasting/
  * replenishment faces of the warehouse, each exact-integer or
  * pinned-IEEE end to end with a DuckDB oracle replaying the same
  * arithmetic.
  */
object DemandQueries {

  val all: Seq[Q] = Seq(q391, q392, q393, q394, q395, q396, q397, q398,
    q399, q400)

  /** Paasche + Fisher price indices per year (base 1995): Paasche
    * re-weights by the CURRENT year's quantities (own basket), Fisher
    * is the geometric mean of the two — the index-number triple over
    * one (part, year) unit-price dim. Everything to the two ppm
    * integers is exact rational arithmetic (q384's discipline); the
    * Fisher sqrt runs on an exact ≤2^53 integer product, so the
    * correctly-rounded IEEE sqrt is bit-identical in both engines. */
  def q391: Q = Q(
    "q391_paasche_fisher_index",
    Some(s"""
      |WITH ${WarehouseQueries.sqlUnitPrices},
      |idx AS (
      |  SELECT up.y, count(*) AS n_parts,
      |         sum(CAST(up.upm AS HUGEINT) * base.q0) AS lnum,
      |         sum(CAST(base.up0 AS HUGEINT) * base.q0) AS lden,
      |         sum(CAST(up.upm AS HUGEINT) * up.qty) AS pnum,
      |         sum(CAST(base.up0 AS HUGEINT) * up.qty) AS pden
      |  FROM up JOIN base USING (part)
      |  WHERE up.y <> 1995 GROUP BY 1),
      |px AS (
      |  SELECT y, n_parts,
      |         (1000000 * lnum) // lden AS lppm,
      |         (1000000 * pnum) // pden AS pppm
      |  FROM idx)
      |SELECT y, CAST(n_parts AS BIGINT) AS n_parts,
      |       CAST(lppm AS BIGINT) AS laspeyres_ppm,
      |       CAST(pppm AS BIGINT) AS paasche_ppm,
      |       CAST(floor(sqrt(CAST(lppm * pppm AS DOUBLE))) AS BIGINT)
      |         AS fisher_ppm
      |FROM px ORDER BY y
      |""".stripMargin)) { (s, dir) =>
    val d38 = "decimal(38,0)"
    val up = WarehouseQueries.unitPrices(s, dir)
      .materialize() // part×year dim feeds the base AND the index join
    val base = up.where(col("y") === 1995)
      .select(col("part"), col("upm").as("up0"), col("qty").as("q0"))
    up.where(col("y") =!= 1995)
      .join(broadcast(base), Seq("part"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("upm").cast(d38) * col("q0")).cast(d38).as("lnum"),
        sum(col("up0").cast(d38) * col("q0")).cast(d38).as("lden"),
        sum(col("upm").cast(d38) * col("qty")).cast(d38).as("pnum"),
        sum(col("up0").cast(d38) * col("qty")).cast(d38).as("pden"))
      .select(col("y"), col("n_parts"),
        expr("CAST((1000000 * lnum) div lden AS BIGINT)").as("lppm"),
        expr("CAST((1000000 * pnum) div pden AS BIGINT)").as("pppm"))
      .select(col("y"), col("n_parts"),
        col("lppm").as("laspeyres_ppm"), col("pppm").as("paasche_ppm"),
        expr("CAST(floor(sqrt(CAST(lppm * pppm AS DOUBLE))) AS BIGINT)")
          .as("fisher_ppm"))
      .orderBy(col("y"))
  }

  /** Quantity-weighted price quartiles per brand: "the price a
    * MEDIAN UNIT shipped at", not the median line — heavy lines count
    * by their volume (OrderStats.weightedQuantilesDisc). The
    * cumulative walk runs over the merged (brand, cents) value dim,
    * never the fact. */
  def q392: Q = Q(
    "q392_weighted_price_quartiles",
    Some("""
      |WITH v AS (
      |  SELECT p.p_brand AS brand,
      |         CAST(l.l_extendedprice * 100 AS BIGINT) AS cents,
      |         CAST(l.l_quantity AS BIGINT) AS w
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |a AS (SELECT brand, cents, sum(w) AS w FROM v GROUP BY 1, 2),
      |r AS (
      |  SELECT brand, cents, w,
      |         sum(w) OVER (PARTITION BY brand ORDER BY cents) AS cw,
      |         sum(w) OVER (PARTITION BY brand) AS tw
      |  FROM a)
      |SELECT brand, CAST(pm.p AS INTEGER) AS permille, r.cents AS value
      |FROM r JOIN (VALUES (250), (500), (750)) pm(p)
      |  ON r.cw - r.w < (pm.p * r.tw + 999) // 1000
      | AND (pm.p * r.tw + 999) // 1000 <= r.cw
      |ORDER BY brand, permille
      |""".stripMargin)) { (s, dir) =>
    val v = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("p_partkey") === col("l_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_extendedprice") * 100).cast("decimal(38,0)").cast("long")
          .as("cents"),
        col("l_quantity").cast("long").as("w"))
    graft.operators.OrderStats
      .weightedQuantilesDisc(v, Seq("brand"), "cents", "w",
        Seq(250, 500, 750))
      .orderBy(col("brand"), col("permille"))
  }

  /** Croston's method (α=0.2) over per-brand demand days: separate
    * EWMAs of the nonzero demand SIZE and the inter-demand INTERVAL,
    * forecast rate = size/interval — the intermittent-demand
    * forecaster. The fold is an OrderedFold (secondary-sorted, one
    * pass, 25 brand groups); the oracle replays the IDENTICAL IEEE op
    * sequence via list_reduce (q340's discipline: z′ = 0.2·q + 0.8·z,
    * p′ = 0.2·(d−pd) + 0.8·p, seed z=q₁, p=1), and only the three
    * final scalars are DECIMAL-quantized. */
  def q393: Q = Q(
    "q393_croston_brand_demand",
    Some("""
      |WITH d AS (
      |  SELECT p.p_brand AS brand,
      |         epoch_us(l.l_shipdate) // 86400000000 AS d,
      |         sum(CAST(l.l_quantity AS BIGINT)) AS q
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |v AS (
      |  SELECT brand,
      |         list({'z': CAST(q AS DOUBLE), 'p': CAST(0.0 AS DOUBLE),
      |               'pd': CAST(d AS DOUBLE)} ORDER BY d) AS vals,
      |         count(*) AS n
      |  FROM d GROUP BY brand),
      |f AS (
      |  SELECT brand, n, list_reduce(
      |    list_prepend([{'z': vals[1].z, 'p': CAST(1.0 AS DOUBLE),
      |                   'pd': vals[1].pd}],
      |      list_transform(vals[2:], x -> [x])),
      |    (acc, e) -> [{'z': 0.2 * e[1].z + 0.8 * acc[1].z,
      |                  'p': 0.2 * (e[1].pd - acc[1].pd)
      |                       + 0.8 * acc[1].p,
      |                  'pd': e[1].pd}]) AS st
      |  FROM v)
      |SELECT brand, CAST(n AS BIGINT) AS n_days,
      |       CAST(floor(CAST(st[1].z AS DECIMAL(28,6)) * 1000)
      |            AS BIGINT) AS size_milli,
      |       CAST(floor(CAST(st[1].p AS DECIMAL(28,6)) * 1000)
      |            AS BIGINT) AS interval_milli,
      |       CAST(floor(CAST(st[1].z / st[1].p AS DECIMAL(28,6)) * 1000)
      |            AS BIGINT) AS rate_milli
      |FROM f ORDER BY brand
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.types._
    val dem = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand").as("brand"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
          "div 86400000000").as("d"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .select(col("brand"), col("d"), col("q"))
    val out = StructType(Seq(
      StructField("brand", StringType, nullable = false),
      StructField("n_days", LongType, nullable = false),
      StructField("zf", DoubleType, nullable = false),
      StructField("pf", DoubleType, nullable = false)))
    // state: (size EWMA, interval EWMA, prev day, rows); first row seeds
    graft.operators.OrderedFold.foldGroups[(Double, Double, Long, Long)](
      dem, Seq("brand"), Seq(col("d")), out)(
      init = _ => (0.0, 0.0, 0L, 0L),
      step = { case ((z, p, pd, n), row) =>
        val d = row.getLong(1)
        val q = row.getLong(2).toDouble
        if (n == 0L) (q, 1.0, d, 1L)
        else {
          val z2 = 0.2 * q + 0.8 * z
          val p2 = 0.2 * (d - pd).toDouble + 0.8 * p
          (z2, p2, d, n + 1)
        }
      },
      emit = (key, st) => Iterator(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](key.getUTF8String(0).copy(), st._4, st._1, st._2))))
      .select(col("brand"), col("n_days"),
        expr("CAST(floor(CAST(zf AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("size_milli"),
        expr("CAST(floor(CAST(pf AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("interval_milli"),
        expr("CAST(floor(CAST(zf / pf AS DECIMAL(28,6)) * 1000) " +
          "AS BIGINT)").as("rate_milli"))
      .orderBy(col("brand"))
  }

  /** Newsvendor stocking policy per brand: underage costs 3× overage,
    * so the optimal order-up-to level is the 750‰ quantile of daily
    * demand (critical-ratio rule) — then the realized cost of that
    * policy vs the naive mean policy, replayed against the same
    * demand days. Demand-day grain (zero days carry no cost signal
    * under either policy's comparison and are stated out). All-integer
    * quantity units end to end. */
  def q394: Q = Q(
    "q394_newsvendor_policy",
    Some("""
      |WITH d AS (
      |  SELECT p.p_brand AS brand,
      |         epoch_us(l.l_shipdate) // 86400000000 AS d,
      |         sum(CAST(l.l_quantity AS BIGINT)) AS q
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT brand, q,
      |         row_number() OVER (PARTITION BY brand ORDER BY q) AS rn,
      |         count(*) OVER (PARTITION BY brand) AS n
      |  FROM d),
      |sel AS (SELECT brand, q AS q_opt, n FROM r
      |        WHERE rn = (750 * n + 999) // 1000),
      |mn AS (SELECT brand, sum(q) // count(*) AS q_mean FROM d
      |       GROUP BY 1),
      |c AS (
      |  SELECT d.brand,
      |         sum(CASE WHEN s.q_opt >= d.q THEN s.q_opt - d.q
      |                  ELSE 3 * (d.q - s.q_opt) END) AS cost_opt,
      |         sum(CASE WHEN m.q_mean >= d.q THEN m.q_mean - d.q
      |                  ELSE 3 * (d.q - m.q_mean) END) AS cost_mean
      |  FROM d JOIN sel s ON d.brand = s.brand
      |         JOIN mn m ON d.brand = m.brand
      |  GROUP BY 1)
      |SELECT c.brand, CAST(s.n AS BIGINT) AS n_days,
      |       CAST(s.q_opt AS BIGINT) AS q_opt,
      |       CAST(m.q_mean AS BIGINT) AS q_mean,
      |       CAST(c.cost_opt AS BIGINT) AS cost_opt,
      |       CAST(c.cost_mean AS BIGINT) AS cost_mean
      |FROM c JOIN sel s ON c.brand = s.brand
      |       JOIN mn m ON c.brand = m.brand
      |ORDER BY c.brand
      |""".stripMargin)) { (s, dir) =>
    val dem = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand").as("brand"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
          "div 86400000000").as("d"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .select(col("brand"), col("d"), col("q"))
      .materialize() // brand-day dim feeds quantile, mean, AND cost
    val sel = graft.operators.OrderStats
      .quantilesDisc(dem, Seq("brand"), "q", Seq(750))
      .select(col("brand"), col("value").as("q_opt"))
    val stats = dem.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_days"),
        expr("sum(q) div count(1)").as("q_mean"))
    val pol = sel.join(stats, Seq("brand")) // 25-row policy dim
    val cost = dem.join(broadcast(pol), Seq("brand"))
      .groupBy(col("brand"))
      .agg(sum(when(col("q_opt") >= col("q"), col("q_opt") - col("q"))
          .otherwise(lit(3L) * (col("q") - col("q_opt")))).as("cost_opt"),
        sum(when(col("q_mean") >= col("q"), col("q_mean") - col("q"))
          .otherwise(lit(3L) * (col("q") - col("q_mean"))))
          .as("cost_mean"))
    cost.join(broadcast(pol), Seq("brand"))
      .select(col("brand"), col("n_days"), col("q_opt"), col("q_mean"),
        col("cost_opt"), col("cost_mean"))
      .orderBy(col("brand"))
  }

  /** Binary-segmentation changepoint on the daily-revenue series: the
    * split maximizing the between-segment SSE gain diff²/(nl·nr)
    * where diff = sl·nr − sr·nl (prefix sums in whole dollars, so
    * diff stays long-exact). The ordering score and the reported
    * gain_ppm (gain normalized by s²/n) ride ONE shared double
    * expression — identical operand order in both engines, so the
    * argmax and the quantized output are deterministic. The only
    * ordered window runs over the daily dim (calendar-bounded, not
    * data-sized). */
  def q395: Q = {
    // shared IEEE fragment: both engines compute score identically
    val scoreExpr = "(CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE))" +
      " / (CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE))"
    Q("q395_revenue_changepoint",
      Some(s"""
        |WITH daily AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS d,
        |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) // 100
        |              AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT count(*) AS n, sum(r) AS s FROM daily),
        |c AS (
        |  SELECT d, row_number() OVER (ORDER BY d) AS nl,
        |         CAST(sum(r) OVER (ORDER BY d) AS BIGINT) AS sl
        |  FROM daily),
        |sc AS (
        |  SELECT c.d, c.nl, t.n - c.nl AS nr, c.sl,
        |         CAST(t.s - c.sl AS BIGINT) AS sr,
        |         c.sl * (t.n - c.nl) - CAST(t.s - c.sl AS BIGINT) * c.nl
        |           AS diff,
        |         CAST(t.s AS BIGINT) AS s, t.n
        |  FROM c CROSS JOIN t WHERE c.nl < t.n),
        |best AS (SELECT * FROM sc
        |         ORDER BY $scoreExpr DESC, d LIMIT 1)
        |SELECT CAST(d AS BIGINT) AS split_d, CAST(nl AS BIGINT) AS n_left,
        |       CAST(nr AS BIGINT) AS n_right,
        |       CAST(sl // nl AS BIGINT) AS mean_left,
        |       CAST(sr // nr AS BIGINT) AS mean_right,
        |       CAST(floor(CAST(
        |         1000000.0 * CAST(n AS DOUBLE) * ($scoreExpr)
        |         / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |       AS DECIMAL(18,6))) AS BIGINT) AS gain_ppm
        |FROM best
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.lineitem(s, dir)
        .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
          "div 86400000000").as("d"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100 " +
          "AS DECIMAL(38,0))) div 100 AS BIGINT)").as("r"))
      val t = daily.agg(count(lit(1)).as("n"), sum(col("r")).as("s"))
      // daily dim is calendar-bounded → the total-order window is fine
      val w = Window.orderBy(col("d"))
      val c = daily
        .withColumn("nl", row_number().over(w).cast("long"))
        .withColumn("sl", sum(col("r")).over(w))
      c.crossJoin(broadcast(t))
        .where(col("nl") < col("n"))
        .select(col("d"), col("nl"), (col("n") - col("nl")).as("nr"),
          col("sl"), (col("s") - col("sl")).as("sr"),
          (col("sl") * (col("n") - col("nl"))
            - (col("s") - col("sl")) * col("nl")).as("diff"),
          col("s"), col("n"))
        .orderBy(expr(scoreExpr).desc, col("d"))
        .limit(1)
        .select(col("d").as("split_d"), col("nl").as("n_left"),
          col("nr").as("n_right"),
          expr("CAST(sl div nl AS BIGINT)").as("mean_left"),
          expr("CAST(sr div nr AS BIGINT)").as("mean_right"),
          expr(s"""CAST(floor(CAST(
            1000000.0 * CAST(n AS DOUBLE) * ($scoreExpr)
            / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
          AS DECIMAL(18,6))) AS BIGINT)""").as("gain_ppm"))
    }
  }

  /** Partial autocorrelation of daily revenue at lags 1-3 via the
    * Durbin-Levinson recursion unrolled over exact-integer
    * autocovariances: each r_k is a ratio of exact Σ(n·x−S)(n·y−S)
    * integer sums (q189's moment discipline, shared mean), and the
    * whole φ chain is ONE set of double fragments inlined identically
    * in both engines — PACF answers "is the weekly cycle direct or
    * inherited from shorter lags". Lag pairing is by series index
    * (row rank over the calendar-bounded day dim). */
  def q396: Q = {
    val phi22 = "((r2 - r1 * r1) / (1.0 - r1 * r1))"
    val phi21 = s"(r1 - $phi22 * r1)"
    val phi33 = s"((r3 - $phi21 * r2 - $phi22 * r1)" +
      s" / (1.0 - $phi21 * r1 - $phi22 * r2))"
    def q(x: String) =
      s"CAST(floor(CAST(1000.0 * ($x) AS DECIMAL(28,6))) AS BIGINT)"
    Q("q396_pacf_daily_revenue",
      Some(s"""
        |WITH daily AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS d,
        |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx
        |      FROM daily),
        |ix AS (SELECT x, row_number() OVER (ORDER BY d) AS i FROM daily),
        |cx AS (
        |  SELECT ix.i, ix.x * t.n - t.sx AS c FROM ix CROSS JOIN t),
        |lags AS (SELECT unnest(range(0, 4)) AS lag),
        |nm AS (
        |  SELECT lags.lag,
        |         sum(CAST(cur.c AS HUGEINT) * prev.c) AS num
        |  FROM lags JOIN cx cur ON TRUE
        |       JOIN cx prev ON prev.i = cur.i - lags.lag
        |  GROUP BY 1),
        |rr AS (
        |  SELECT max(t.n) AS n_days,
        |         CAST(max(CASE WHEN lag = 1 THEN num END) AS DOUBLE)
        |           / CAST(max(CASE WHEN lag = 0 THEN num END) AS DOUBLE)
        |           AS r1,
        |         CAST(max(CASE WHEN lag = 2 THEN num END) AS DOUBLE)
        |           / CAST(max(CASE WHEN lag = 0 THEN num END) AS DOUBLE)
        |           AS r2,
        |         CAST(max(CASE WHEN lag = 3 THEN num END) AS DOUBLE)
        |           / CAST(max(CASE WHEN lag = 0 THEN num END) AS DOUBLE)
        |           AS r3
        |  FROM nm CROSS JOIN t)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |       ${q("r1")} AS r1_milli, ${q("r2")} AS r2_milli,
        |       ${q("r3")} AS r3_milli,
        |       ${q("r1")} AS pacf1_milli,
        |       ${q(phi22)} AS pacf2_milli,
        |       ${q(phi33)} AS pacf3_milli
        |FROM rr
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d38 = "decimal(38,0)"
      val daily = Tables.lineitem(s, dir)
        .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
          "div 86400000000").as("d"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100 " +
          "AS DECIMAL(38,0))) AS BIGINT)").as("x"))
      val t = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      // day dim is calendar-bounded → the index window is fine
      val ix = daily
        .withColumn("i", row_number().over(Window.orderBy(col("d")))
          .cast("long"))
        .select(col("i"), col("x"))
      val cx = ix.crossJoin(broadcast(t))
        .select(col("i"), (col("x") * col("n") - col("sx")).as("c"))
        .materialize() // centered series feeds all four lag joins
      val lags = s.range(0, 4).select(col("id").as("lag"))
      val nm = lags
        .crossJoin(cx.select(col("i").as("__ci"), col("c").as("__cc")))
        .join(cx.select(col("i").as("__pi"), col("c").as("__pc")),
          col("__pi") === col("__ci") - col("lag"))
        .groupBy(col("lag"))
        .agg(sum(col("__cc").cast(d38) * col("__pc").cast(d38))
          .cast(d38).as("num"))
      nm.crossJoin(broadcast(t))
        .agg(max(col("n")).as("n_days"),
          (max(when(col("lag") === 1, col("num"))).cast("double")
            / max(when(col("lag") === 0, col("num"))).cast("double"))
            .as("r1"),
          (max(when(col("lag") === 2, col("num"))).cast("double")
            / max(when(col("lag") === 0, col("num"))).cast("double"))
            .as("r2"),
          (max(when(col("lag") === 3, col("num"))).cast("double")
            / max(when(col("lag") === 0, col("num"))).cast("double"))
            .as("r3"))
        .select(col("n_days"),
          expr(q("r1")).as("r1_milli"), expr(q("r2")).as("r2_milli"),
          expr(q("r3")).as("r3_milli"),
          expr(q("r1")).as("pacf1_milli"),
          expr(q(phi22)).as("pacf2_milli"),
          expr(q(phi33)).as("pacf3_milli"))
    }
  }

  /** Theil inequality decomposition of customer revenue by nation:
    * per-customer pico-quantized entropy terms (x/S)·ln(x/μ) — total —
    * and (x/S)·ln(x/μ_g) — within — summed as INTEGERS (the q385/q386
    * quantized-log discipline makes the sums order-free), plus the
    * nation's single between-group term (S_g/S)·ln(μ_g/μ). Means come
    * from exact cent sums; only ln and the final products run in
    * doubles, with identical operand order in both engines. */
  def q397: Q = {
    // pico-quantized term: coef · ln(num/den), all double-derived with
    // ONE operand order shared by oracle and Spark
    def t2(coef: String, num: String, den: String) =
      "CAST(floor(CAST(1000000000000.0 * " +
        s"($coef) * ln(($num) / ($den))" +
        " AS DECIMAL(28,6))) AS BIGINT)"
    val xd = "CAST(cents AS DOUBLE)"
    val sd = "CAST(sx AS DOUBLE)"
    val mu = s"($sd / CAST(nn AS DOUBLE))"
    val mug = "(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))"
    val totalT = t2(s"($xd / $sd)", xd, mu)
    val withinT = t2(s"($xd / $sd)", xd, mug)
    val betweenT = t2(s"(CAST(sg AS DOUBLE) / $sd)", mug, mu)
    Q("q397_theil_decomposition",
      Some(s"""
        |WITH cr AS (
        |  SELECT o_custkey AS cust,
        |         CAST(sum(CAST(o_totalprice * 100 AS HUGEINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |cn AS (
        |  SELECT n.n_name AS nation, cr.cust, cr.cents
        |  FROM cr JOIN customer c ON c.c_custkey = cr.cust
        |       JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |t AS (SELECT count(*) AS nn, CAST(sum(cents) AS BIGINT) AS sx
        |      FROM cn),
        |g AS (SELECT nation, count(*) AS ng,
        |             CAST(sum(cents) AS BIGINT) AS sg
        |      FROM cn GROUP BY 1),
        |terms AS (
        |  SELECT cn.nation,
        |         $totalT AS tt,
        |         $withinT AS wt
        |  FROM cn CROSS JOIN t JOIN g ON g.nation = cn.nation)
        |SELECT g.nation, CAST(g.ng AS BIGINT) AS n_cust,
        |       CAST(g.sg // g.ng AS BIGINT) AS mean_cents,
        |       CAST($betweenT AS BIGINT) AS between_pico,
        |       CAST(sum(terms.wt) AS BIGINT) AS within_pico,
        |       CAST(sum(terms.tt) AS BIGINT) AS total_pico
        |FROM terms JOIN g ON g.nation = terms.nation CROSS JOIN t
        |GROUP BY g.nation, g.ng, g.sg, t.sx, t.nn
        |ORDER BY g.nation
        |""".stripMargin)) { (s, dir) =>
      val cr = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("cust"))
        .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) " +
          "AS BIGINT)").as("cents"))
      val cn = cr
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("c_custkey") === col("cust"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("nation"), col("cust"), col("cents"))
        .materialize() // customer dim feeds totals, groups, AND terms
      val t = cn.agg(count(lit(1)).as("nn"), sum(col("cents")).as("sx"))
      val g = cn.groupBy(col("nation"))
        .agg(count(lit(1)).as("ng"), sum(col("cents")).as("sg"))
      val terms = cn.crossJoin(broadcast(t))
        .join(broadcast(g), Seq("nation"))
        .select(col("nation"), expr(totalT).as("tt"),
          expr(withinT).as("wt"))
      terms.groupBy(col("nation"))
        .agg(sum(col("wt")).as("within_pico"),
          sum(col("tt")).as("total_pico"))
        .join(broadcast(g), Seq("nation"))
        .crossJoin(broadcast(t))
        .select(col("nation"), col("ng").as("n_cust"),
          expr("CAST(sg div ng AS BIGINT)").as("mean_cents"),
          expr(betweenT).as("between_pico"),
          col("within_pico"), col("total_pico"))
        .orderBy(col("nation"))
    }
  }

  /** Harmonic centrality of the top-100-degree co-purchase hubs:
    * BFS to depth ≤4 from the hub set (frontier iteration, one
    * materialized round per depth — q99/q176's constant-depth
    * discipline), hc = Σ 1000//d over reached nodes — all-integer, so
    * the oracle's recursive-CTE min-distance replay matches exactly.
    * The hub restriction bounds the frontier at |hubs|×|nodes| — the
    * 100 TB shape for "centrality of the heads", not all-pairs. */
  def q398: Q = {
    val nSrc = 100
    val maxD = 4
    Q("q398_harmonic_centrality",
      Some(s"""
        |WITH RECURSIVE ${SeriesQueries.sqlCopurchaseEdgeCtes},
        |e2 AS (SELECT pa AS a, pb AS b FROM e
        |       UNION ALL SELECT pb, pa FROM e),
        |deg AS (SELECT a, count(*) AS dg FROM e2 GROUP BY 1),
        |src AS (SELECT a FROM deg ORDER BY dg DESC, a LIMIT $nSrc),
        |bfs AS (
        |  SELECT a AS s, a AS v, 0 AS d FROM src
        |  UNION
        |  SELECT bfs.s, e2.b, bfs.d + 1
        |  FROM bfs JOIN e2 ON e2.a = bfs.v
        |  WHERE bfs.d < $maxD),
        |sp AS (SELECT s, v, min(d) AS d FROM bfs WHERE s <> v
        |       GROUP BY 1, 2),
        |hc AS (SELECT s, count(*) AS n_reached,
        |              sum(1000 // d) AS hc_milli
        |       FROM sp GROUP BY 1)
        |SELECT CAST(s AS BIGINT) AS part,
        |       CAST(n_reached AS BIGINT) AS n_reached,
        |       CAST(hc_milli AS BIGINT) AS hc_milli
        |FROM hc ORDER BY hc_milli DESC, part LIMIT 20
        |""".stripMargin)) { (s, dir) =>
      val e = SeriesQueries.copurchaseEdges(s, dir)
      val e2 = e.select(col("pa").as("a"), col("pb").as("b"))
        .unionAll(e.select(col("pb").as("a"), col("pa").as("b")))
        .materialize() // both the degree pass and every BFS round
      val src = e2.groupBy(col("a")).agg(count(lit(1)).as("dg"))
        .orderBy(col("dg").desc, col("a")).limit(nSrc)
        .select(col("a").as("src"))
      // the shared size-gated BFS (min-distance is execution-shape
      // independent, so rows match the former inline per-round loop)
      val dist = SupplierGraph
        .bfsFrom(e2.select(col("a").as("ea"), col("b").as("ec")), src, maxD)
        .select(col("src").as("s"), col("node").as("v"), col("d"))
      dist.where(col("s") =!= col("v"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("1000 div d")).as("hc_milli"))
        .orderBy(col("hc_milli").desc, col("s"))
        .limit(20)
        .select(col("s").as("part"), col("n_reached"), col("hc_milli"))
    }
  }

  /** Gumbel extreme-value fit of monthly-maximum daily revenue
    * (method of moments: β̂ = s·√6/π, μ̂ = m − γ·β̂) plus the 100-month
    * return level — "how bad can a peak day get". Block maxima and
    * the two moment sums are exact integers; the double chain (one
    * shared fragment) starts only at the variance ratio. */
  def q399: Q = {
    val varD = "((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"
    val beta = s"(sqrt($varD) * 2.449489742783178 / 3.141592653589793)"
    val muHat = s"(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)" +
      s" - 0.5772156649015329 * $beta)"
    val r100 = s"($muHat + $beta * (0.0 - ln(0.0 - ln(0.99))))"
    def q(x: String) =
      s"CAST(floor(CAST($x AS DECIMAL(28,6)) * 1000) AS BIGINT)"
    Q("q399_gumbel_monthly_max",
      Some(s"""
        |WITH daily AS (
        |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate)
        |              AS BIGINT) AS ym,
        |         epoch_us(l_shipdate) // 86400000000 AS d,
        |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT ym, max(cents) AS mx FROM daily GROUP BY 1),
        |s AS (SELECT count(*) AS n, CAST(sum(mx) AS BIGINT) AS sx,
        |             sum(CAST(mx AS HUGEINT) * mx) AS sxx,
        |             max(mx) AS hi
        |      FROM mx)
        |SELECT CAST(n AS BIGINT) AS n_blocks,
        |       CAST(hi AS BIGINT) AS max_cents,
        |       ${q(beta)} AS beta_milli,
        |       ${q(muHat)} AS mu_milli,
        |       ${q(r100)} AS r100_milli
        |FROM s
        |""".stripMargin)) { (s, dir) =>
      val d38 = "decimal(38,0)"
      val daily = Tables.lineitem(s, dir)
        .groupBy((year(col("l_shipdate")) * 12
          + month(col("l_shipdate"))).cast("long").as("ym"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
            "div 86400000000").as("d"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100 " +
          "AS DECIMAL(38,0))) AS BIGINT)").as("cents"))
      daily.groupBy(col("ym")).agg(max(col("cents")).as("mx"))
        .agg(count(lit(1)).as("n"), sum(col("mx")).as("sx"),
          sum(col("mx").cast(d38) * col("mx")).cast(d38).as("sxx"),
          max(col("mx")).as("hi"))
        .select(col("n").as("n_blocks"), col("hi").as("max_cents"),
          expr(q(beta)).as("beta_milli"),
          expr(q(muHat)).as("mu_milli"),
          expr(q(r100)).as("r100_milli"))
    }
  }

  /** Holt-Winters additive smoothing (α=0.3, β=0.1, γ=0.2) of daily
    * revenue with a 7-slot day-of-week seasonal state: the full
    * level/trend/seasonal fold as an OrderedFold, the oracle replaying
    * the IDENTICAL IEEE op sequence via a list_reduce whose 9-field
    * struct lambda is GENERATED from the same fragments (q340's
    * discipline, extended to vector state). Day-of-week is calendar
    * (d mod 7), so demand-day gaps keep their seasonal slot. */
  def q400: Q = {
    val sSel = (0 to 6).map(i =>
      s"WHEN e[1].b = $i THEN acc[1].s$i").mkString(
      "CASE ", " ", " END")
    val lExpr = s"0.3 * (e[1].l - ($sSel)) + 0.7 * (acc[1].l + acc[1].b)"
    val bExpr = s"0.1 * (($lExpr) - acc[1].l) + 0.9 * acc[1].b"
    val sFields = (0 to 6).map(i =>
      s"'s$i': CASE WHEN e[1].b = $i THEN 0.2 * (e[1].l - ($lExpr))" +
        s" + 0.8 * acc[1].s$i ELSE acc[1].s$i END").mkString(",\n      ")
    val zeros = (0 to 6).map(i => s"'s$i': CAST(0.0 AS DOUBLE)")
      .mkString(", ")
    def q(x: String) =
      s"CAST(floor(CAST($x AS DECIMAL(28,6)) * 1000) AS BIGINT)"
    val sOut = (0 to 6).map(i =>
      s"${q(s"st[1].s$i")} AS s${i}_milli").mkString(",\n       ")
    Q("q400_holt_winters_weekly",
      Some(s"""
        |WITH daily AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS d,
        |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |v AS (SELECT list({'l': CAST(r AS DOUBLE),
        |                   'b': CAST(d % 7 AS DOUBLE), $zeros}
        |                  ORDER BY d) AS vals,
        |             count(*) AS n FROM daily),
        |f AS (
        |  SELECT n, list_reduce(
        |    list_prepend([{'l': vals[1].l, 'b': CAST(0.0 AS DOUBLE),
        |                   $zeros}],
        |      list_transform(vals[2:], x -> [x])),
        |    (acc, e) -> [{'l': $lExpr,
        |      'b': $bExpr,
        |      $sFields}]) AS st
        |  FROM v)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |       ${q("st[1].l")} AS level_milli,
        |       ${q("st[1].b")} AS trend_milli,
        |       $sOut
        |FROM f
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      val daily = Tables.lineitem(s, dir)
        .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
          "div 86400000000").as("d"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100 " +
          "AS DECIMAL(38,0))) AS BIGINT)").as("r"))
        .select(lit(0L).as("g"), col("d"), col("r"))
      val out = StructType(
        StructField("n_days", LongType, nullable = false) +:
        StructField("lv", DoubleType, nullable = false) +:
        StructField("tr", DoubleType, nullable = false) +:
        (0 to 6).map(i =>
          StructField(s"sv$i", DoubleType, nullable = false)))
      // state: (level, trend, 7 dow seasonals, rows); first row seeds
      // level only — its seasonal slot stays 0, same as the oracle seed
      graft.operators.OrderedFold
        .foldGroups[(Double, Double, Array[Double], Long)](
          daily, Seq("g"), Seq(col("d")), out)(
        init = _ => (0.0, 0.0, Array.fill(7)(0.0), 0L),
        step = { case ((l, b, sv, n), row) =>
          val d = row.getLong(1)
          val x = row.getLong(2).toDouble
          if (n == 0L) (x, 0.0, Array.fill(7)(0.0), 1L)
          else {
            val j = (d % 7).toInt
            val l2 = 0.3 * (x - sv(j)) + 0.7 * (l + b)
            val b2 = 0.1 * (l2 - l) + 0.9 * b
            val s2 = sv.clone()
            s2(j) = 0.2 * (x - l2) + 0.8 * sv(j)
            (l2, b2, s2, n + 1)
          }
        },
        emit = (_, st) => Iterator(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            (st._4.asInstanceOf[Any] +: st._1.asInstanceOf[Any] +:
              st._2.asInstanceOf[Any] +:
              st._3.map(_.asInstanceOf[Any]).toSeq).toArray)))
        .select(col("n_days") +: expr(q("lv")).as("level_milli") +:
          expr(q("tr")).as("trend_milli") +:
          (0 to 6).map(i => expr(q(s"sv$i")).as(s"s${i}_milli")): _*)
    }
  }
}
