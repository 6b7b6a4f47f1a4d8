package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-7 segmentation wave: two-level binary changepoint
  * segmentation, Taylor's power law, inverse-MSE forecast combination,
  * the Hodges–Lehmann shift estimator (via the value-histogram cross
  * product — never a pair sort), and a two-component Poisson mixture
  * fitted by five fixed EM rounds on quantized responsibilities (the
  * registry's first EM, hash-replayed round by round). */
object SegmentQueries {

  val all: Seq[Q] = Seq(q536, q537, q538, q539, q540)

  /** Two-level binary segmentation of daily revenue: the best
    * changepoint by SSE reduction (gains evaluated as pinned doubles
    * over exact prefix sums, argmax on micro-quantized gains), then
    * the best changepoint within each resulting segment — up to three
    * regimes with exact integer means. Extends the single-changepoint
    * face (q395) hierarchically. Prefix sums run once over the
    * calendar-bounded day dim. */
  def q536: Q = {
    // gain(l, r, t) with prefix sums: SSE(l,r) - SSE(l,t) - SSE(t+1,r);
    // the Q terms cancel, so gain = S_lt²/n_lt + S_tr²/n_tr - S_lr²/n_lr
    def sq(s: String, n: String) =
      s"CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE)"
    // kilodollar^2 units: the gain is ONLY an argmax key, and micro
    // scaling overflowed BIGINT at sf0.1 (S^2/n ~ 7e17 dollars^2)
    def gain(slt: String, nlt: String, str_ : String, ntr: String,
        slr: String, nlr: String) =
      s"CAST(floor(CAST((${sq(slt, nlt)} + ${sq(str_, ntr)}" +
        s" - ${sq(slr, nlr)}) / 1000.0 AS DECIMAL(28,6))) AS BIGINT)"
    Q("q536_binary_segmentation",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |grid AS (
        |  SELECT g.d - mm.lo AS t, coalesce(rev.x, 0) AS x
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  CROSS JOIN mm LEFT JOIN rev ON g.d = rev.d),
        |ps AS (
        |  SELECT t, x, sum(x) OVER (ORDER BY t) AS s,
        |         count(*) OVER () AS n, sum(x) OVER () AS stot
        |  FROM grid),
        |cp1 AS (
        |  SELECT t FROM (
        |    SELECT t, ${gain("s", "t + 1", "(stot - s)", "(n - t - 1)",
                 "stot", "n")} AS g
        |    FROM ps WHERE t < n - 1) r
        |  ORDER BY g DESC, t LIMIT 1),
        |lseg AS (
        |  SELECT ps.t, ${gain("ps.s", "ps.t + 1",
                 "(c1.s1 - ps.s)", "(cp1.t - ps.t)", "c1.s1",
                 "(cp1.t + 1)")} AS g
        |  FROM ps CROSS JOIN cp1
        |  CROSS JOIN (SELECT s AS s1 FROM ps JOIN cp1 ON ps.t = cp1.t) c1
        |  WHERE ps.t < cp1.t),
        |cp2 AS (SELECT t FROM lseg ORDER BY g DESC, t LIMIT 1),
        |rseg AS (
        |  SELECT ps.t, ${gain("(ps.s - c1.s1)", "(ps.t - cp1.t)",
                 "(ps.stot - ps.s)", "(ps.n - ps.t - 1)",
                 "(ps.stot - c1.s1)", "(ps.n - cp1.t - 1)")} AS g
        |  FROM ps CROSS JOIN cp1
        |  CROSS JOIN (SELECT s AS s1 FROM ps JOIN cp1 ON ps.t = cp1.t) c1
        |  WHERE ps.t > cp1.t AND ps.t < ps.n - 1),
        |cp3 AS (SELECT t FROM rseg ORDER BY g DESC, t LIMIT 1)
        |SELECT (SELECT CAST(t AS BIGINT) FROM cp1) AS cp_main,
        |       (SELECT CAST(t AS BIGINT) FROM cp2) AS cp_left,
        |       (SELECT CAST(t AS BIGINT) FROM cp3) AS cp_right,
        |       (SELECT CAST(n AS BIGINT) FROM ps LIMIT 1) AS n_days
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"), col("lo"))
        .join(rev, col("day") === col("d"), "left")
        .select((col("day") - col("lo")).as("t"),
          coalesce(col("x"), lit(0L)).as("x"))
      val wAll = Window.orderBy(col("t")) // calendar-bounded
      val ps = grid
        .withColumn("s", sum(col("x")).over(wAll))
        .crossJoin(broadcast(grid.agg(count(lit(1)).as("n"),
          sum(col("x")).as("stot"))))
        .materialize()
      val cp1 = ps.where(col("t") < col("n") - 1)
        .select(col("t"), expr(gain("s", "t + 1", "(stot - s)",
          "(n - t - 1)", "stot", "n")).as("g"))
        .orderBy(col("g").desc, col("t")).limit(1)
        .select(col("t").as("c1"))
      val s1 = ps.join(broadcast(cp1), col("t") === col("c1"))
        .select(col("s").as("s1"), col("c1").as("cc"))
      val lseg = ps.crossJoin(broadcast(s1))
        .where(col("t") < col("cc"))
        .select(col("t"), expr(gain("s", "t + 1", "(s1 - s)",
          "(cc - t)", "s1", "(cc + 1)")).as("g"))
        .orderBy(col("g").desc, col("t")).limit(1)
        .agg(max(col("t")).as("c2"))
      val rseg = ps.crossJoin(broadcast(s1))
        .where(col("t") > col("cc") && col("t") < col("n") - 1)
        .select(col("t"), expr(gain("(s - s1)", "(t - cc)",
          "(stot - s)", "(n - t - 1)", "(stot - s1)", "(n - cc - 1)"))
          .as("g"))
        .orderBy(col("g").desc, col("t")).limit(1)
        .agg(max(col("t")).as("c3"))
      val nd = ps.agg(max(col("n")).as("n_days"))
      cp1.select(col("c1").as("cp_main"))
        .crossJoin(broadcast(lseg.select(col("c2").as("cp_left"))))
        .crossJoin(broadcast(rseg.select(col("c3").as("cp_right"))))
        .crossJoin(broadcast(nd))
        .select(col("cp_main"), col("cp_left"), col("cp_right"),
          col("n_days"))
    }
  }

  /** Taylor's power law across brands: ln(variance of daily demand)
    * regressed on ln(mean daily demand) — slope b ≈ 1 means Poisson-
    * like, b → 2 means clumped demand (the aggregation-exponent
    * diagnostic forecasting teams use to pick error models). Brand
    * daily moments are exact; the two logs per brand are milli-
    * quantized before the exact-integer OLS. */
  def q537: Q = Q(
    "q537_taylors_law",
    Some("""
      |WITH bd AS (
      |  SELECT p.p_brand AS br, epoch_us(l.l_shipdate) // 86400000000
      |           AS d,
      |         CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT))
      |              AS BIGINT) AS q
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |mo AS (
      |  SELECT br, count(*) AS n, sum(q) AS sq,
      |         sum(CAST(q AS HUGEINT) * q) AS qq
      |  FROM bd GROUP BY 1 HAVING count(*) >= 30),
      |pt AS (
      |  SELECT br,
      |         CAST(floor(CAST(ln(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
      |              AS DECIMAL(28,9)) * 1000) AS BIGINT) AS x,
      |         CAST(floor(CAST(ln(
      |             CAST(CAST(n AS HUGEINT) * qq - CAST(sq AS HUGEINT) * sq
      |                  AS DOUBLE)
      |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
      |              AS DECIMAL(28,9)) * 1000) AS BIGINT) AS y
      |  FROM mo),
      |m2 AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |              sum(x * y) AS sxy, sum(x * x) AS sxx FROM pt)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |       CAST(floor(CAST(
      |           CAST(CAST(n AS HUGEINT) * sxy
      |                - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |             / CAST(CAST(n AS HUGEINT) * sxx
      |                - CAST(sx AS HUGEINT) * sx AS DOUBLE)
      |         AS DECIMAL(28,6)) * 1000) AS BIGINT) AS taylor_b_milli
      |FROM m2
      |""".stripMargin)) { (s, dir) =>
    val bd = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("br")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("br"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
          " div 86400000000").as("d"))
      .agg(sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).as("q"))
    val mo = bd.groupBy(col("br"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("qq"))
      .where(col("n") >= 30)
    val pt = mo.select(
      expr("CAST(floor(CAST(ln(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))" +
        " AS DECIMAL(28,9)) * 1000) AS BIGINT)").as("x"),
      expr("""CAST(floor(CAST(ln(
          CAST(CAST(n AS DECIMAL(38,0)) * qq
               - CAST(sq AS DECIMAL(38,0)) * sq AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        AS DECIMAL(28,9)) * 1000) AS BIGINT)""").as("y"))
    pt.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_brands"),
        expr("""CAST(floor(CAST(
            CAST(CAST(n AS DECIMAL(38,0)) * sxy
                 - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
              / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                 - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
          AS DECIMAL(28,6)) * 1000) AS BIGINT)""").as("taylor_b_milli"))
  }

  /** Inverse-MSE forecast combination: the seasonal-naive and naive
    * forecasters (q455's pair) get weights ∝ 1/MSE learned on the
    * early half, and the combined forecast is evaluated on the late
    * half against both parents — the "combinations beat components"
    * check. Weights are exact integer reciprocals; the combined
    * forecast is dollar-quantized before its exact squared error. */
  def q538: Q = Q(
    "q538_forecast_combination",
    Some(s"""
      |WITH ${Scaffolds.sqlOrderDollars("x")},
      |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
      |grid AS (
      |  SELECT g.d AS day, coalesce(rev.x, 0) AS x,
      |         CASE WHEN g.d <= (mm.lo + mm.hi) // 2 THEN 0 ELSE 1 END
      |           AS half
      |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
      |  CROSS JOIN mm LEFT JOIN rev ON g.d = rev.d),
      |lagged AS (
      |  SELECT day, x, half,
      |         lag(x, 7) OVER (ORDER BY day) AS fa,
      |         lag(x, 1) OVER (ORDER BY day) AS fb
      |  FROM grid),
      |e AS (SELECT * FROM lagged WHERE fa IS NOT NULL),
      |tr AS (
      |  SELECT sum(CAST(x - fa AS HUGEINT) * (x - fa)) AS ma,
      |         sum(CAST(x - fb AS HUGEINT) * (x - fb)) AS mb
      |  FROM e WHERE half = 0),
      |wts AS (
      |  SELECT (1000000 * mb) // (ma + mb) AS wa,
      |         1000000 - (1000000 * mb) // (ma + mb) AS wb
      |  FROM tr),
      |ev AS (
      |  SELECT e.x, e.fa, e.fb,
      |         (wts.wa * e.fa + wts.wb * e.fb) // 1000000 AS fc
      |  FROM e CROSS JOIN wts WHERE e.half = 1),
      |sc AS (
      |  SELECT count(*) AS n,
      |         sum(CAST(x - fa AS HUGEINT) * (x - fa)) AS msa,
      |         sum(CAST(x - fb AS HUGEINT) * (x - fb)) AS msb,
      |         sum(CAST(x - fc AS HUGEINT) * (x - fc)) AS msc
      |  FROM ev)
      |SELECT CAST(n AS BIGINT) AS n_eval_days,
      |       (SELECT CAST(wa AS BIGINT) FROM wts) AS weight_seasonal_micro,
      |       CAST(msa // n AS BIGINT) AS mse_seasonal,
      |       CAST(msb // n AS BIGINT) AS mse_naive,
      |       CAST(msc // n AS BIGINT) AS mse_combined,
      |       CAST((1000 * msc) // least(msa, msb) AS BIGINT)
      |         AS combined_vs_best_milli
      |FROM sc
      |""".stripMargin)) { (s, dir) =>
    val o = Scaffolds.orderCents(s, dir).materialize()
    val rev = Scaffolds.dollarsByDay(o, "x")
    val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val grid = mm.select(explode(sequence(col("lo"), col("hi")))
        .as("day"), col("lo"), col("hi"))
      .join(rev, col("day") === col("d"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        when(col("day") <= expr("(lo + hi) div 2"), 0L).otherwise(1L)
          .as("half"))
    val w = Window.orderBy(col("day")) // calendar-bounded
    val e = grid.select(col("day"), col("x"), col("half"),
        lag(col("x"), 7).over(w).as("fa"),
        lag(col("x"), 1).over(w).as("fb"))
      .where(col("fa").isNotNull)
      .materialize()
    val tr = e.where(col("half") === 0)
      .agg(sum((col("x") - col("fa")).cast("decimal(38,0)")
        * (col("x") - col("fa"))).as("ma"),
        sum((col("x") - col("fb")).cast("decimal(38,0)")
          * (col("x") - col("fb"))).as("mb"))
    val wts = tr.select(expr("(1000000 * mb) div (ma + mb)").as("wa"),
      expr("1000000 - (1000000 * mb) div (ma + mb)").as("wb"))
    val ev = e.where(col("half") === 1).crossJoin(broadcast(wts))
      .select(col("x"), col("fa"), col("fb"),
        expr("(wa * fa + wb * fb) div 1000000").as("fc"))
    ev.agg(count(lit(1)).as("n"),
        sum((col("x") - col("fa")).cast("decimal(38,0)")
          * (col("x") - col("fa"))).as("msa"),
        sum((col("x") - col("fb")).cast("decimal(38,0)")
          * (col("x") - col("fb"))).as("msb"),
        sum((col("x") - col("fc")).cast("decimal(38,0)")
          * (col("x") - col("fc"))).as("msc"))
      .crossJoin(broadcast(wts))
      .select(col("n").as("n_eval_days"),
        col("wa").as("weight_seasonal_micro"),
        expr("CAST(msa div n AS BIGINT)").as("mse_seasonal"),
        expr("CAST(msb div n AS BIGINT)").as("mse_naive"),
        expr("CAST(msc div n AS BIGINT)").as("mse_combined"),
        expr("CAST((1000 * msc) div least(msa, msb) AS BIGINT)")
          .as("combined_vs_best_milli"))
  }

  /** Hodges–Lehmann shift estimator between urgent and other
    * fulfillment spans: the median of ALL pairwise differences,
    * computed over the value-HISTOGRAM cross product (span values are
    * calendar-bounded, so the "pairwise" table is dim², never a 20M-
    * pair sort) with an exact weighted-median rank pick. The robust
    * location shift to q523's quantile table. */
  def q539: Q = Q(
    "q539_hodges_lehmann_shift",
    Some("""
      |WITH ord AS (
      |  SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0
      |         END AS g,
      |         max(epoch_us(l.l_shipdate) // 86400000000)
      |           - epoch_us(o.o_orderdate) // 86400000000 + 1 AS t
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
      |  HAVING max(epoch_us(l.l_shipdate) // 86400000000)
      |         >= epoch_us(o.o_orderdate) // 86400000000),
      |hu AS (SELECT t, count(*) AS n FROM ord WHERE g = 1 GROUP BY 1),
      |ho AS (SELECT t, count(*) AS n FROM ord WHERE g = 0 GROUP BY 1),
      |dd AS (
      |  SELECT hu.t - ho.t AS d, sum(CAST(hu.n AS HUGEINT) * ho.n) AS w
      |  FROM hu CROSS JOIN ho GROUP BY 1),
      |cum AS (
      |  SELECT d, sum(w) OVER (ORDER BY d) AS cw,
      |         sum(w) OVER () AS tw
      |  FROM dd),
      |hl AS (
      |  SELECT min(d) AS hl FROM cum WHERE 2 * cw >= tw)
      |SELECT (SELECT CAST(sum(n) AS BIGINT) FROM hu) AS n_urgent,
      |       (SELECT CAST(sum(n) AS BIGINT) FROM ho) AS n_other,
      |       (SELECT CAST(hl AS BIGINT) FROM hl) AS hl_shift_days
      |""".stripMargin)) { (s, dir) =>
    val ord = UrgentSpans.frame(s, dir).select(col("g"), col("t"))
    val hu = ord.where(col("g") === 1).groupBy(col("t"))
      .agg(count(lit(1)).as("n")) // span-value dim
    val ho = ord.where(col("g") === 0).groupBy(col("t").as("ot"))
      .agg(count(lit(1)).as("on"))
    hlSummary(hu, ho)
  }

  /** Hodges–Lehmann one-row summary (n_urgent, n_other,
    * hl_shift_days) from the two span-value histograms. Size-gated on
    * the combined histogram row count (span values are CALENDAR-
    * bounded): under [[SizeGate.HistRows]] the histogram cross
    * product, the
    * weighted-median rank walk and both group totals fold into ONE
    * executor task — pair weights as exact BigInt products matching
    * the plan's DECIMAL(38,0), first-d-with-2·cum ≥ tw pick identical
    * to the ascending cum window + min; above the bound the
    * dim²-crossJoin plan runs unchanged (the r12 profile put q539's
    * ~4 s in the ~6M-row BroadcastNestedLoopJoin fan-out, not the
    * fact pass — guide §2.2, compute the reduction where the data
    * is). `HlShiftTwinSpec` forces both branches. */
  private[graft] def hlSummary(hu: org.apache.spark.sql.DataFrame,
      ho: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = hu.sparkSession
    import s.implicits._
    if (SizeGate.local(s, SizeGate.HistRows)(hu.count() + ho.count())) {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_urgent",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_other",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hl_shift_days",
          org.apache.spark.sql.types.LongType)))
      val rdd = hu.select(lit(0L).as("tg"), col("t"), col("n"))
        .unionAll(ho.select(lit(1L).as("tg"), col("ot"), col("on")))
        .as[(Long, Long, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray
          val hus = rows.collect { case (0L, t, n) => (t, n) }
          val hos = rows.collect { case (1L, t, n) => (t, n) }
          def tot(a: Array[(Long, Long)]): java.lang.Long =
            if (a.isEmpty) null
            else java.lang.Long.valueOf(
              a.map(_._2).reduce(Math.addExact(_, _)))
          val nu = tot(hus); val no = tot(hos)
          var hl: java.lang.Long = null
          if (hus.nonEmpty && hos.nonEmpty) {
            val w = scala.collection.mutable.HashMap.empty[Long, BigInt]
            hus.foreach { case (t1, n1) =>
              hos.foreach { case (t2, n2) =>
                val d = Math.subtractExact(t1, t2)
                w.update(d,
                  w.getOrElse(d, BigInt(0)) + BigInt(n1) * BigInt(n2))
              }
            }
            val tw = w.valuesIterator.sum
            var cum = BigInt(0)
            val it2 = w.toArray.sortBy(_._1).iterator
            while (hl == null && it2.hasNext) {
              val (d, wd) = it2.next()
              cum += wd
              if (cum * 2 >= tw) hl = java.lang.Long.valueOf(d)
            }
          }
          Iterator.single(org.apache.spark.sql.Row(nu, no, hl))
        }
      s.createDataFrame(rdd, schema)
    } else {
      val huM = hu.materialize()
      val hoM = ho.materialize()
      val dd = huM.crossJoin(broadcast(hoM))
        .groupBy((col("t") - col("ot")).as("d"))
        .agg(sum(col("n").cast("decimal(38,0)") * col("on")).as("w"))
      val wCum = Window.orderBy(col("d")) // diff-value dim
      val cum = dd.withColumn("cw", sum(col("w")).over(wCum))
        .crossJoin(broadcast(dd.agg(sum(col("w")).as("tw"))))
      val hl = cum.where(lit(2) * col("cw") >= col("tw"))
        .agg(min(col("d")).as("hl_shift_days"))
      val nu = huM.agg(sum(col("n")).as("n_urgent"))
      val no = hoM.agg(sum(col("on")).as("n_other"))
      nu.crossJoin(broadcast(no)).crossJoin(broadcast(hl))
        .select(col("n_urgent"), col("n_other"), col("hl_shift_days"))
    }
  }

  /** Two-component Poisson mixture over daily order counts, fitted by
    * five fixed EM rounds — the registry's first EM, made hash-exact
    * by running entirely on the bounded count-value dim with micro-
    * quantized responsibilities and parameters each round (every
    * intermediate state replayed by the oracle's MATERIALIZED CTE
    * chain). Recovers the low/high-activity regime split a single
    * Poisson (q317) cannot express. */
  def q540: Q = {
    val iters = 5
    // log unnormalized weight of component k at count x (state micro)
    def lw(lam: String, pi: String) =
      s"(CAST(x AS DOUBLE) * ln(CAST($lam AS DOUBLE) / 1000000.0)" +
        s" - CAST($lam AS DOUBLE) / 1000000.0" +
        s" + ln(CAST($pi AS DOUBLE) / 1000000.0))"
    val r1 = s"CAST(floor(CAST(1.0 / (1.0 + exp(${lw("l2", "p2")}" +
      s" - ${lw("l1", "p1")})) AS DECIMAL(28,9)) * 1000000) AS BIGINT)"
    val duckRounds = (1 to iters).map { k =>
      s"""e$k AS MATERIALIZED (
         |  SELECT cd.x, cd.f, $r1 AS r
         |  FROM cd CROSS JOIN st${k - 1}),
         |st$k AS MATERIALIZED (
         |  SELECT (1000000 * sum(CAST(f AS HUGEINT) * r * x))
         |           // sum(CAST(f AS HUGEINT) * r) AS l1,
         |         (1000000 * sum(CAST(f AS HUGEINT) * (1000000 - r) * x))
         |           // sum(CAST(f AS HUGEINT) * (1000000 - r)) AS l2,
         |         sum(CAST(f AS HUGEINT) * r) // sum(f) AS p1,
         |         1000000 - sum(CAST(f AS HUGEINT) * r) // sum(f) AS p2
         |  FROM e$k)""".stripMargin
    }.mkString(",\n")
    Q("q540_poisson_mixture_em",
      Some(s"""
        |WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS d FROM orders),
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |cnt AS (SELECT d, count(*) AS c FROM o GROUP BY 1),
        |grid AS (
        |  SELECT coalesce(cnt.c, 0) AS c
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  LEFT JOIN cnt ON g.d = cnt.d),
        |cd AS MATERIALIZED (
        |  SELECT c AS x, count(*) AS f FROM grid GROUP BY 1),
        |init AS (SELECT sum(CAST(f AS HUGEINT) * x) * 1000000 // sum(f)
        |           AS mu FROM cd),
        |st0 AS MATERIALIZED (
        |  SELECT mu // 2 AS l1, (3 * mu) // 2 AS l2,
        |         CAST(500000 AS HUGEINT) AS p1,
        |         CAST(500000 AS HUGEINT) AS p2
        |  FROM init),
        |$duckRounds
        |SELECT CAST((SELECT sum(f) FROM cd) AS BIGINT) AS n_days,
        |       CAST(l1 AS BIGINT) AS lambda1_micro,
        |       CAST(l2 AS BIGINT) AS lambda2_micro,
        |       CAST(p1 AS BIGINT) AS pi1_micro
        |FROM st$iters
        |""".stripMargin)) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("d"))
        .materialize()
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val cnt = o.groupBy(col("d")).agg(count(lit(1)).as("c"))
      val cd = mm.select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(cnt, col("day") === col("d"), "left")
        .select(coalesce(col("c"), lit(0L)).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("f"))
        .materialize() // count-value dim (~25 rows)
      val init = cd.agg(
        expr("sum(CAST(f AS DECIMAL(38,0)) * x) * 1000000 div sum(f)")
          .as("mu"))
      var st = init.select(expr("mu div 2").as("l1"),
        expr("(3 * mu) div 2").as("l2"),
        lit(500000L).cast("decimal(38,0)").as("p1"),
        lit(500000L).cast("decimal(38,0)").as("p2"))
        .materialize()
      for (_ <- 1 to iters) {
        val e = cd.crossJoin(broadcast(st))
          .select(col("x"), col("f"), expr(r1).as("r"))
        st = e.agg(
          expr("(1000000 * sum(CAST(f AS DECIMAL(38,0)) * r * x))" +
            " div sum(CAST(f AS DECIMAL(38,0)) * r)").as("l1"),
          expr("(1000000 * sum(CAST(f AS DECIMAL(38,0))" +
            " * (1000000 - r) * x)) div sum(CAST(f AS DECIMAL(38,0))" +
            " * (1000000 - r))").as("l2"),
          expr("sum(CAST(f AS DECIMAL(38,0)) * r) div sum(f)").as("p1"),
          expr("1000000 - sum(CAST(f AS DECIMAL(38,0)) * r) div sum(f)")
            .as("p2"))
          .materialize(truncate = true) // constant-depth per round
      }
      val nd = cd.agg(sum(col("f")).as("n_days"))
      st.crossJoin(broadcast(nd))
        .select(col("n_days"),
          expr("CAST(l1 AS BIGINT)").as("lambda1_micro"),
          expr("CAST(l2 AS BIGINT)").as("lambda2_micro"),
          expr("CAST(p1 AS BIGINT)").as("pi1_micro"))
    }
  }
}
