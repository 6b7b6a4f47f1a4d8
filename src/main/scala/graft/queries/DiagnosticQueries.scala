package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 diagnostics wave: a priority-class queue backlog replay,
  * the two-sample Cramér–von Mises EDF test (completing the KS/AD
  * family), Cook's-distance influence ranking, partial correlation,
  * and a BCG growth-share classification. Queue/fold state is pure
  * integer; the EDF statistic is one exact rational; regression
  * influence keeps every sum exact and evaluates the per-point double
  * formula from one shared expression string. */
object DiagnosticQueries {

  val all: Seq[Q] = Seq(q481, q482, q483, q484, q485)

  private def prios =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Priority-class queue replay: orders arrive by order day in five
    * priority classes and a fixed daily service capacity
    * c = ⌈total/n_days⌉ drains them strictly highest-priority-first.
    * The fold tracks per-class backlogs and their day-integrals —
    * the starvation diagnostic for priority scheduling (low classes
    * absorb all the queueing at near-critical load). Integer state,
    * OrderedFold + list_reduce replays. */
  def q481: Q = {
    val k = prios.size
    // DuckDB fold text: sequential capacity pass class by class
    val bIn = (1 to k).map(i => s"(acc[1].b$i + e[1].a$i)")
    val serveExpr = new Array[String](k + 1)
    val remExpr = new Array[String](k + 1)
    remExpr(0) = "cap"
    for (i <- 1 to k) {
      serveExpr(i) = s"least(${bIn(i - 1)}, ${remExpr(i - 1)})"
      remExpr(i) = s"(${remExpr(i - 1)} - ${serveExpr(i)})"
    }
    val newFields = (1 to k).map { i =>
      s"'b$i': ${bIn(i - 1)} - ${serveExpr(i)}, " +
        s"'s$i': acc[1].s$i + ${serveExpr(i)}, " +
        s"'ib$i': acc[1].ib$i + (${bIn(i - 1)} - ${serveExpr(i)})"
    }.mkString(",\n        |      ")
    val zeroState = (1 to k).map(i =>
      s"'b$i': CAST(0 AS BIGINT), 's$i': CAST(0 AS BIGINT), " +
        s"'ib$i': CAST(0 AS BIGINT)").mkString(", ")
    val zeroArr = (1 to k).map(i => s"'a$i': CAST(0 AS BIGINT)")
      .mkString(", ")
    val arrFields = (1 to k).map(i => s"'a$i': a$i").mkString(", ")
    val arrCols = (1 to k).map(i =>
      s"sum(CASE WHEN pr = $i THEN 1 ELSE 0 END) AS a$i").mkString(", ")
    val unionRows = (1 to k).map { i =>
      s"SELECT $i AS class_rank, st[1].s$i AS served, " +
        s"st[1].ib$i AS backlog_integral, nd, cap FROM f"
    }.mkString(" UNION ALL ")
    val prioCase = "CASE o_orderpriority " + prios.zipWithIndex.map {
      case (p, i) => s"WHEN '$p' THEN ${i + 1}" }.mkString(" ") + " END"
    Q("q481_priority_queue_backlog",
      Some(s"""
        |WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
        |         $prioCase AS pr
        |  FROM orders),
        |dd AS (SELECT d, $arrCols FROM o GROUP BY 1),
        |mm AS (SELECT min(d) AS lo, max(d) AS hi, count(*) AS tot FROM o),
        |grid AS (
        |  SELECT g.d AS day, ${(1 to k).map(i =>
                 s"coalesce(dd.a$i, 0) AS a$i").mkString(", ")}
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  LEFT JOIN dd ON g.d = dd.d),
        |pars AS (SELECT hi - lo + 1 AS nd,
        |                (tot + (hi - lo)) // (hi - lo + 1) AS cap FROM mm),
        |f AS (
        |  SELECT nd, cap, list_reduce(
        |    list_prepend([{$zeroState, 'tt': CAST(0 AS BIGINT), $zeroArr}],
        |      list([{$zeroState, 'tt': CAST(0 AS BIGINT), $arrFields}]
        |           ORDER BY day)),
        |    (acc, e) -> [{
        |      $newFields,
        |      'tt': acc[1].tt + 1,
        |      $zeroArr}]) AS st
        |  FROM grid CROSS JOIN pars GROUP BY nd, cap)
        |SELECT CAST(class_rank AS BIGINT) AS class_rank,
        |       CAST(served AS BIGINT) AS served,
        |       CAST((1000 * backlog_integral) // nd AS BIGINT)
        |         AS avg_backlog_milli,
        |       CAST(cap AS BIGINT) AS daily_capacity
        |FROM ($unionRows) u
        |ORDER BY class_rank
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      val prioIdx = prios.zipWithIndex.foldLeft(lit(0L)) {
        case (acc, (p, i)) =>
          when(col("o_orderpriority") === p, (i + 1).toLong).otherwise(acc)
      }
      val o = Tables.orders(s, dir)
        .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("d"), prioIdx.as("pr"))
        .materialize()
      val dd = o.groupBy(col("d"))
        .agg((1 to k).map(i =>
          sum(when(col("pr") === i, 1L).otherwise(0L)).as(s"a$i")).head,
          (2 to k).map(i =>
            sum(when(col("pr") === i, 1L).otherwise(0L)).as(s"a$i")): _*)
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"),
        count(lit(1)).as("tot"))
      val grid = mm
        .select(explode(sequence(col("lo"), col("hi"))).as("day"),
          (col("hi") - col("lo") + 1).as("nd"),
          expr("(tot + (hi - lo)) div (hi - lo + 1)").as("cap"))
        .join(dd, col("day") === col("d"), "left")
        .select(Seq(col("day"), col("nd"), col("cap")) ++
          (1 to k).map(i => coalesce(col(s"a$i"), lit(0L)).as(s"a$i")): _*)
      val xp = grid.select(Seq(lit(0L).as("g"), col("day"), col("nd"),
        col("cap")) ++ (1 to k).map(i => col(s"a$i")): _*)
      val out = StructType(Seq(
        StructField("class_rank", LongType, nullable = false),
        StructField("served", LongType, nullable = false),
        StructField("backlog_integral", LongType, nullable = false),
        StructField("nd", LongType, nullable = false),
        StructField("cap", LongType, nullable = false)))
      // state: [b1..b5, s1..s5, ib1..ib5, nd, cap] (nd/cap carried)
      val folded = graft.operators.OrderedFold.foldGroups[Array[Long]](
        xp, Seq("g"), Seq(col("day")), out)(
        init = row => {
          val st = new Array[Long](3 * k + 2)
          st(3 * k) = row.getLong(2); st(3 * k + 1) = row.getLong(3)
          st
        },
        step = { (st, row) =>
          var rem = st(3 * k + 1)
          var i = 0
          while (i < k) {
            val b = st(i) + row.getLong(4 + i)
            val sv = math.min(b, rem)
            rem -= sv
            st(i) = b - sv
            st(k + i) += sv
            st(2 * k + i) += st(i)
            i += 1
          }
          st
        },
        emit = (_, st) => (1 to k).iterator.map(i =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](i.toLong, st(k + i - 1), st(2 * k + i - 1),
              st(3 * k), st(3 * k + 1)))))
      folded.select(col("class_rank"), col("served"),
          expr("(1000 * backlog_integral) div nd").as("avg_backlog_milli"),
          col("cap").as("daily_capacity"))
        .orderBy(col("class_rank"))
    }
  }

  /** Two-sample Cramér–von Mises test between early-half and late-half
    * daily revenue distributions — the EDF-distance sibling of the
    * shipped KS (q345) and Anderson–Darling (q424) faces, integrating
    * squared rank displacement over the whole curve. T = [6U −
    * nm(4nm−1)] / (6nmN) entirely in exact HUGEINT/DECIMAL; ranks run
    * over the calendar-bounded day dim with a deterministic tie-break. */
  def q482: Q = Q(
    "q482_cramer_von_mises",
    Some("""
      |WITH o AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
      |         CASE WHEN year(o_orderdate) <= 1997 THEN 0 ELSE 1 END AS h,
      |         CAST(o_totalprice * 100 AS HUGEINT) AS cents
      |  FROM orders),
      |rev AS (SELECT d, max(h) AS h, CAST(sum(cents) // 100 AS BIGINT) AS x
      |        FROM o GROUP BY 1),
      |rk AS (
      |  SELECT h, x,
      |         row_number() OVER (ORDER BY x, h, d) AS r,
      |         row_number() OVER (PARTITION BY h ORDER BY x, d) AS i
      |  FROM rev),
      |u AS (
      |  SELECT sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS n,
      |         sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS m,
      |         sum(CASE WHEN h = 0
      |             THEN CAST((r - i) AS HUGEINT) * (r - i) END) AS ux,
      |         sum(CASE WHEN h = 1
      |             THEN CAST((r - i) AS HUGEINT) * (r - i) END) AS uy
      |  FROM rk),
      |st AS (
      |  SELECT n, m, n + m AS nn,
      |         CAST(n AS HUGEINT) * ux + CAST(m AS HUGEINT) * uy AS u
      |  FROM u)
      |SELECT CAST(n AS BIGINT) AS n_early, CAST(m AS BIGINT) AS n_late,
      |       CAST((1000000 * (6 * u - CAST(n AS HUGEINT) * m
      |              * (4 * CAST(n AS HUGEINT) * m - 1)))
      |            // (6 * CAST(n AS HUGEINT) * m * nn) AS BIGINT)
      |         AS cvm_t_micro
      |FROM st
      |""".stripMargin)) { (s, dir) =>
    val rev = Tables.orders(s, dir)
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("d"))
      .agg(max(when(year(col("o_orderdate")) <= 1997, 0L).otherwise(1L))
        .as("h"),
        expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0)))" +
          " div 100 AS BIGINT)").as("x"))
      .materialize() // day dim
    val rk = rev
      .withColumn("r", row_number().over(
        Window.orderBy(col("x"), col("h"), col("d"))))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("x"), col("d"))))
    rk.agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("n"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("m"),
        sum(when(col("h") === 0,
          (col("r") - col("i")).cast("decimal(38,0)")
            * (col("r") - col("i")))).as("ux"),
        sum(when(col("h") === 1,
          (col("r") - col("i")).cast("decimal(38,0)")
            * (col("r") - col("i")))).as("uy"))
      .select(col("n").as("n_early"), col("m").as("n_late"),
        expr("""CAST((1000000 * (6 * (CAST(n AS DECIMAL(38,0)) * ux
            + CAST(m AS DECIMAL(38,0)) * uy)
            - CAST(n AS DECIMAL(38,0)) * m
              * (4 * CAST(n AS DECIMAL(38,0)) * m - 1)))
          div (6 * CAST(n AS DECIMAL(38,0)) * m * (n + m)) AS BIGINT)""")
          .as("cvm_t_micro"))
  }

  /** Cook's-distance influence ranking of the daily-revenue-vs-time
    * OLS: which calendar days most distort the trend line? SSE comes
    * from the closed form (den_y·den_x − kn²)/(n·den_x) on exact
    * integer moments — never a float sum of residuals — and each
    * day's D_i is one pinned double expression over those exact sums,
    * micro-quantized before the top-10 ranking (TakeOrdered). */
  def q483: Q = {
    // shared per-point formula text (valid in both SQL dialects):
    // e = y - (b0 + b1 x); h = 1/n + (x - xb)^2 / sxc;
    // D = e^2 h / (2 s2 (1 - h)^2)
    val b1 = "(CAST(kn AS DOUBLE) / CAST(dx AS DOUBLE))"
    val b0 = s"((CAST(sy AS DOUBLE) - $b1 * CAST(sx AS DOUBLE))" +
      " / CAST(n AS DOUBLE))"
    val e = s"(CAST(y AS DOUBLE) - ($b0 + $b1 * CAST(x AS DOUBLE)))"
    val xb = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val h = s"(1.0 / CAST(n AS DOUBLE) + (CAST(x AS DOUBLE) - $xb)" +
      s" * (CAST(x AS DOUBLE) - $xb) / (CAST(dx AS DOUBLE)" +
      " / CAST(n AS DOUBLE)))"
    val s2 = "(CAST(sse AS DOUBLE) / CAST(n - 2 AS DOUBLE))"
    val dFull = s"$e * $e * $h / (2.0 * $s2 * (1.0 - $h) * (1.0 - $h))"
    val dq = s"CAST(floor(CAST($dFull AS DECIMAL(28,9)) * 1000000)" +
      " AS BIGINT)"
    Q("q483_cooks_distance_days",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("y")},
        |mm AS (SELECT min(d) AS lo FROM o),
        |pt AS (SELECT d, d - mm.lo AS x, y FROM rev CROSS JOIN mm),
        |mo AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |              sum(x * y) AS sxy, sum(x * x) AS sxx,
        |              sum(CAST(y AS HUGEINT) * y) AS syy FROM pt),
        |fr AS (
        |  SELECT n, sx, sy,
        |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS kn,
        |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
        |  FROM mo),
        |ss AS (
        |  SELECT n, sx, sy, kn, dx,
        |         CAST(CAST(dy AS DOUBLE) - CAST(kn AS DOUBLE)
        |              * CAST(kn AS DOUBLE) / CAST(dx AS DOUBLE)
        |              AS DOUBLE) / CAST(n AS DOUBLE) AS sse
        |  FROM fr)
        |SELECT CAST(pt.d AS BIGINT) AS day, CAST(pt.y AS BIGINT)
        |         AS revenue_dollars,
        |       $dq AS cooks_d_micro
        |FROM pt CROSS JOIN ss
        |ORDER BY cooks_d_micro DESC, day LIMIT 10
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "y")
      val mm = o.agg(min(col("d")).as("lo"))
      val pt = rev.crossJoin(broadcast(mm))
        .select(col("d"), (col("d") - col("lo")).as("x"), col("y"))
        .materialize() // day dim: feeds moments and the per-point pass
      val mo = pt.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      val ss = mo.select(col("n"), col("sx"), col("sy"),
          expr("CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sy").as("kn"),
          expr("CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx").as("dx"),
          expr("CAST(n AS DECIMAL(38,0)) * syy" +
            " - CAST(sy AS DECIMAL(38,0)) * sy").as("dy"))
        .select(col("n"), col("sx"), col("sy"), col("kn"), col("dx"),
          expr("CAST(CAST(dy AS DOUBLE) - CAST(kn AS DOUBLE)" +
            " * CAST(kn AS DOUBLE) / CAST(dx AS DOUBLE) AS DOUBLE)" +
            " / CAST(n AS DOUBLE)").as("sse"))
      pt.crossJoin(broadcast(ss))
        .select(col("d").as("day"), col("y").as("revenue_dollars"),
          expr(dq).as("cooks_d_micro"))
        .orderBy(col("cooks_d_micro").desc, col("day"))
        .limit(10)
    }
  }

  /** Partial correlation of price and quantity controlling for the
    * discount level: r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²))
    * with each pairwise Pearson evaluated as one pinned double over
    * exact DECIMAL moments (one fact pass collects all five sums).
    * The conditional-dependence screen behind any "discount explains
    * it" claim. */
  def q484: Q = {
    def r(kn: String, da: String, db: String) =
      s"(CAST($kn AS DOUBLE) / sqrt(CAST($da AS DOUBLE)" +
        s" * CAST($db AS DOUBLE)))"
    val rxy = r("knxy", "dx", "dy")
    val rxz = r("knxz", "dx", "dz")
    val rzy = r("knzy", "dz", "dy")
    val part = s"(($rxy - $rxz * $rzy)" +
      s" / sqrt((1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy)))"
    def q(e: String, name: String) =
      s"CAST(floor(CAST($e AS DECIMAL(28,6)) * 1000) AS BIGINT) AS $name"
    Q("q484_partial_correlation",
      Some(s"""
        |WITH v AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS y,
        |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
        |  FROM lineitem),
        |mo AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx, sum(y * y) AS syy,
        |         sum(z * z) AS szz, sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * z) AS sxz, sum(y * z) AS syz
        |  FROM v),
        |fr AS (
        |  SELECT n,
        |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS knxy,
        |         CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz AS knxz,
        |         CAST(n AS HUGEINT) * syz - CAST(sz AS HUGEINT) * sy AS knzy,
        |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy,
        |         CAST(n AS HUGEINT) * szz - CAST(sz AS HUGEINT) * sz AS dz
        |  FROM mo)
        |SELECT CAST(n AS BIGINT) AS n_lines,
        |       ${q(rxy, "r_price_qty_milli")},
        |       ${q(rxz, "r_price_disc_milli")},
        |       ${q(rzy, "r_disc_qty_milli")},
        |       ${q(part, "partial_milli")}
        |FROM fr
        |""".stripMargin)) { (s, dir) =>
      val v = Tables.lineitem(s, dir)
        .select(
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("x"),
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("y"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("z"))
      val mo = v.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      mo.select(col("n"),
          expr("CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sy").as("knxy"),
          expr("CAST(n AS DECIMAL(38,0)) * sxz" +
            " - CAST(sx AS DECIMAL(38,0)) * sz").as("knxz"),
          expr("CAST(n AS DECIMAL(38,0)) * syz" +
            " - CAST(sz AS DECIMAL(38,0)) * sy").as("knzy"),
          expr("CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx").as("dx"),
          expr("CAST(n AS DECIMAL(38,0)) * syy" +
            " - CAST(sy AS DECIMAL(38,0)) * sy").as("dy"),
          expr("CAST(n AS DECIMAL(38,0)) * szz" +
            " - CAST(sz AS DECIMAL(38,0)) * sz").as("dz"))
        .select(col("n").as("n_lines"),
          expr(q(rxy, "r_price_qty_milli")),
          expr(q(rxz, "r_price_disc_milli")),
          expr(q(rzy, "r_disc_qty_milli")),
          expr(q(part, "partial_milli")))
    }
  }

  /** BCG growth-share matrix over brands: growth = late-half revenue
    * over early-half, relative share = share of late-half revenue,
    * quadrants split at the cross-brand medians (exact order
    * statistics) — stars / cash cows / question marks / dogs, the
    * portfolio classification every planner recognizes. All permille
    * integers; the brand dim is bounded. */
  def q485: Q = Q(
    "q485_bcg_brand_matrix",
    Some("""
      |WITH r AS (
      |  SELECT p.p_brand AS brand,
      |         CAST(sum(CASE WHEN year(l.l_shipdate) <= 1997
      |              THEN CAST(l.l_extendedprice * 100 AS HUGEINT)
      |              ELSE 0 END) // 100 AS BIGINT) AS h1,
      |         CAST(sum(CASE WHEN year(l.l_shipdate) >= 1998
      |              THEN CAST(l.l_extendedprice * 100 AS HUGEINT)
      |              ELSE 0 END) // 100 AS BIGINT) AS h2
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1),
      |tot AS (SELECT sum(h2) AS t2 FROM r),
      |gs AS (
      |  SELECT brand, (1000 * h2) // h1 AS growth_milli,
      |         (1000 * h2) // tot.t2 AS share_milli
      |  FROM r CROSS JOIN tot WHERE h1 > 0),
      |md AS (
      |  SELECT max(CASE WHEN rg = (500 * n + 999) // 1000 THEN g END)
      |           AS mg,
      |         max(CASE WHEN rs = (500 * n + 999) // 1000 THEN s END)
      |           AS ms
      |  FROM (SELECT growth_milli AS g, share_milli AS s,
      |               row_number() OVER (ORDER BY growth_milli, brand) AS rg,
      |               row_number() OVER (ORDER BY share_milli, brand) AS rs,
      |               count(*) OVER () AS n
      |        FROM gs) x)
      |SELECT gs.brand, CAST(gs.growth_milli AS BIGINT) AS growth_milli,
      |       CAST(gs.share_milli AS BIGINT) AS share_milli,
      |       CASE WHEN gs.growth_milli > md.mg AND gs.share_milli > md.ms
      |              THEN 'star'
      |            WHEN gs.growth_milli > md.mg THEN 'question_mark'
      |            WHEN gs.share_milli > md.ms THEN 'cash_cow'
      |            ELSE 'dog' END AS quadrant
      |FROM gs CROSS JOIN md
      |ORDER BY gs.brand
      |""".stripMargin)) { (s, dir) =>
    val r = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"))
      .agg(expr("CAST(sum(CASE WHEN year(l_shipdate) <= 1997" +
        " THEN CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
        " ELSE CAST(0 AS DECIMAL(38,0)) END) div 100 AS BIGINT)").as("h1"),
        expr("CAST(sum(CASE WHEN year(l_shipdate) >= 1998" +
          " THEN CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
          " ELSE CAST(0 AS DECIMAL(38,0)) END) div 100 AS BIGINT)").as("h2"))
      .materialize() // brand dim
    val tot = r.agg(sum(col("h2")).as("t2"))
    val gs = r.crossJoin(broadcast(tot)).where(col("h1") > 0)
      .select(col("brand"), expr("(1000 * h2) div h1").as("growth_milli"),
        expr("(1000 * h2) div t2").as("share_milli"))
      .materialize()
    val mg = graft.operators.OrderStats.quantilesDisc(
        gs.withColumn("k", lit(0L)), Seq("k"), "growth_milli", Seq(500))
      .select(col("value").as("mg"))
    val ms = graft.operators.OrderStats.quantilesDisc(
        gs.withColumn("k", lit(0L)), Seq("k"), "share_milli", Seq(500))
      .select(col("value").as("ms"))
    gs.crossJoin(broadcast(mg)).crossJoin(broadcast(ms))
      .select(col("brand"), col("growth_milli"), col("share_milli"),
        when(col("growth_milli") > col("mg")
          && col("share_milli") > col("ms"), "star")
          .when(col("growth_milli") > col("mg"), "question_mark")
          .when(col("share_milli") > col("ms"), "cash_cow")
          .otherwise("dog").as("quadrant"))
      .orderBy(col("brand"))
  }
}
