package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-10 exact 1-D segmentation wave (Fisher/Jenks dynamic
  * programming) on the daily-revenue series: the optimal k = 4
  * segmentation, the k = 1..5 elbow curve, per-segment statistics,
  * the equal-width baseline regret, and greedy binary segmentation
  * vs the DP optimum.
  *
  * Exactness: segment cost is the QUANTIZED within-segment SSE
  * cost(i,j) = (n·Σz² − (Σz)²) div n — a deterministic integer both
  * engines compute identically from prefix sums, so the DP (an
  * integer min-plus recurrence) and every tie-break (smallest split
  * index via the min_by key val·(T+1)+i, shift derived from the
  * series length) are bit-exact cross-engine. The DuckDB oracle runs
  * the SAME recurrence as unrolled MATERIALIZED CTEs — agreement
  * proves the transcription, the recurrence being shared is stated.
  *
  * Scale: the (i ≤ j) pair-cost frame is CALENDAR-bounded (~3.1M
  * rows at every sf — the matrix-profile argument); each DP round is
  * one broadcast join + one grouped min over it; the fact table is
  * touched once (the day aggregate). */
object SegmentDpQueries {

  val all: Seq[Q] = Seq(q971, q972, q973, q974, q975)

  // ------------------------------------------------------------------
  // shared SQL fragments
  // ------------------------------------------------------------------

  /** Day series + prefix sums + pair costs: sq(t, z), gl(tm),
    * c(i, j, cost). */
  private def sqlCost: String = s"""${DaySeries.sql},
    |gl AS (SELECT max(t) AS tm FROM sq),
    |pf AS (SELECT t, sum(z) OVER (ORDER BY t) AS cs,
    |              sum(CAST(z AS HUGEINT) * z) OVER (ORDER BY t) AS cq
    |       FROM sq),
    |c AS MATERIALIZED (
    |  SELECT a.t AS i, b.t AS j,
    |         (CAST(b.t - a.t + 1 AS HUGEINT)
    |            * (b.cq - coalesce(p.cq, 0))
    |          - CAST(b.cs - coalesce(p.cs, 0) AS HUGEINT)
    |            * (b.cs - coalesce(p.cs, 0)))
    |         // (b.t - a.t + 1) AS cost
    |  FROM pf a JOIN pf b ON b.t >= a.t
    |  LEFT JOIN pf p ON p.t = a.t - 1)""".stripMargin

  /** Unrolled DP stages d1..d`k` (MATERIALIZED): d_m(j) = best cost
    * of splitting days 1..j into m segments, arg = start of the last
    * segment (smallest on ties). */
  private def sqlDp(k: Int): String = {
    val d1 = """d1 AS MATERIALIZED (
      |  SELECT j, cost AS dp, CAST(1 AS BIGINT) AS arg
      |  FROM c WHERE i = 1)""".stripMargin
    val steps = (2 to k).map { m =>
      s"""d$m AS MATERIALIZED (
         |  SELECT c.j, min(p.dp + c.cost) AS dp,
         |         min_by(c.i, (p.dp + c.cost) * (gl.tm + 1) + c.i)
         |           AS arg
         |  FROM c JOIN d${m - 1} p ON p.j = c.i - 1 CROSS JOIN gl
         |  GROUP BY 1)""".stripMargin
    }
    (d1 +: steps).mkString(",\n")
  }

  /** Backtracked segment bounds for the k = 4 optimum:
    * bp(b2, b3, b4) — starts of segments 2..4. */
  private def sqlBp: String = """
    |e4 AS (SELECT d4.arg AS b4 FROM d4 CROSS JOIN gl WHERE d4.j = gl.tm),
    |e3 AS (SELECT d3.arg AS b3 FROM d3 JOIN e4 ON d3.j = e4.b4 - 1),
    |e2 AS (SELECT d2.arg AS b2 FROM d2 JOIN e3 ON d2.j = e3.b3 - 1),
    |bp AS (SELECT b2, b3, b4 FROM e2 CROSS JOIN e3 CROSS JOIN e4)""".stripMargin

  // ------------------------------------------------------------------
  // shared Spark builders
  // ------------------------------------------------------------------

  /** (day series sq, T). The 3.1M-row pair-cost frame is NOT built
    * here any more (round 12): the only remaining consumer of the
    * full (i ≤ j) fan-out is the ABOVE-cap distributed DP branch in
    * [[stageSpine]] — every query-side cost lookup now evaluates the
    * identical decimal expressions at just the requested segment
    * bounds via [[withCost]] (guide §2.2: compute/shuffle only the
    * rows the answer needs). */
  private def series(s: SparkSession, dir: String): (DataFrame, Int) = {
    val sq = DaySeries.revenue(s, dir)
    (sq, sq.count().toInt)
  }

  /** Pair-cost SPINE TABLE c(i, j, cost) for the above-cap DP branch
    * (see [[costFrameOf]]); kept fingerprint-keyed so the distributed
    * 5-round loop still shares one build. */
  private def costFrame(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Int) = {
    val (sq, tMax) = series(s, dir)
    val c = graft.sources.SpineCache.table(s, dir, "seg_pair_cost",
      Seq("lineitem"), version = 2)(costFrameOf(sq, tMax))
    (c, sq, tMax)
  }

  /** Attach cost(lo, hi) to a tiny segment frame directly from the
    * day-dim prefix sums — the SAME decimal expressions as
    * [[costFrameOf]] (window prefix sums, n·Σz² − (Σz)² and the exact
    * (x − x % n) / n floor division), evaluated only at the requested
    * (lo, hi) rows instead of over the 3.1M-row pair fan-out. The
    * series is calendar-bounded, so the single-partition prefix window
    * is the established whitelisted shape at every scale. */
  private def withCost(segs: DataFrame, sq: DataFrame): DataFrame = {
    val w = Window.orderBy(col("t"))
    val pf = sq.select(col("t"), sum(col("z")).over(w).as("cs"),
      sum(expr("CAST(z AS DECIMAL(38,0)) * z")).over(w).as("cq"))
    val pj = pf.select(col("t").as("hi"), col("cs").as("sj"),
      col("cq").as("qj"))
    val pi = pf.select((col("t") + 1).as("lo"), col("cs").as("si"),
      col("cq").as("qi"))
    segs.join(broadcast(pj), Seq("hi"))
      .join(broadcast(pi), Seq("lo"), "left_outer")
      .withColumn("nseg", expr("CAST(hi - lo + 1 AS DECIMAL(38,0))"))
      .withColumn("num",
        expr("""(CAST(hi - lo + 1 AS DECIMAL(38,0))
          |   * (qj - coalesce(qi, CAST(0 AS DECIMAL(38,0))))
          | - CAST(sj - coalesce(si, 0L) AS DECIMAL(38,0))
          |   * (sj - coalesce(si, 0L)))""".stripMargin))
      .withColumn("cost",
        expr("""CAST((num - num % nseg) / nseg AS DECIMAL(38,0))"""))
      .drop("nseg", "num", "sj", "qj", "si", "qi")
  }

  /** The from-scratch pair-cost build behind the spine (and the
    * distributed-branch fixture of `SegmentDpTwinSpec`). */
  private[graft] def costFrameOf(sq: DataFrame, tMax: Int): DataFrame = {
    val w = Window.orderBy(col("t"))
    val pf = sq.select(col("t"), sum(col("z")).over(w).as("cs"),
      sum(expr("CAST(z AS DECIMAL(38,0)) * z")).over(w).as("cq"))
      .materialize()
    val pj = pf.select(col("t").as("j"), col("cs").as("sj"),
      col("cq").as("qj"))
    val pi = pf.select((col("t") + 1).as("i"), col("cs").as("si"),
      col("cq").as("qi"))
    pf.select(col("t").as("i"),
        explode(sequence(col("t"), lit(tMax))).as("j"))
      .repartition(col("j"))
      .join(broadcast(pj), "j")
      .join(broadcast(pi), Seq("i"), "left_outer")
      .select(col("i"), col("j"),
        expr("CAST(j - i + 1 AS DECIMAL(38,0))").as("nseg"),
        expr("""(CAST(j - i + 1 AS DECIMAL(38,0))
          |   * (qj - coalesce(qi, CAST(0 AS DECIMAL(38,0))))
          | - CAST(sj - coalesce(si, 0L) AS DECIMAL(38,0))
          |   * (sj - coalesce(si, 0L)))""".stripMargin).as("num"))
      .select(col("i"), col("j"),
        // exact decimal floor division via the established
        // (x − x % n) / n idiom: Spark's `div` returns LONG and
        // silently truncates a quotient past 2⁶³ to its low 64 bits —
        // n·Σz² − (Σz)² reaches ~10²⁴ at sf0.1, so the `div` this
        // frame shipped with wrapped at the BENCHED sf (the oracle
        // only checks the small sfs, where everything fits a Long and
        // both forms agree — r12 latent-bug fix, DuckDB's HUGEINT //
        // was always exact)
        expr("""CAST((num - num % nseg) / nseg AS DECIMAL(38,0))""")
          .as("cost"))
  }

  /** All five DP stages as ONE spine table (k, j, dp, arg): d_m(j) =
    * best cost of splitting days 1..j into m segments, computed once —
    * q972's k = 5 run strictly subsumes the k = 4 stages the other
    * four queries need, so the whole wave shares one build. Round 12:
    * the build is size-gated on the day count ([[SizeGate.PairRows]])
    * — under the bound the whole 5-stage min-plus recurrence folds into ONE
    * executor task over the prefix arrays with exact 128-bit integer
    * arithmetic (values reach ~5·10²⁴ at sf0.1 — past Long, inside
    * the distributed plan's DECIMAL(38,0)); above the bound the
    * 5-round broadcast-join loop over the pair-cost spine runs
    * unchanged. `SegmentDpTwinSpec` forces both branches. */
  private def stageSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "seg_dp_stages",
      Seq("lineitem"), version = 2) {
      val sq = DaySeries.revenue(s, dir)
      val tMax = sq.count().toInt
      if (SizeGate.local(s, SizeGate.PairRows)(tMax)) stagesLocal(sq, tMax)
      else stagesDistributed(costFrame(s, dir)._1, tMax)
    }

  /** Distributed 5-stage DP over a pair-cost frame c(i, j, cost) —
    * the above-cap branch, unchanged from round 11. */
  private[graft] def stagesDistributed(c: DataFrame, tMax: Int)
      : DataFrame = {
    val d1 = c.where(col("i") === 1)
      .select(col("j"), col("cost").as("dp"), lit(1L).as("arg"))
      .materialize()
    val ds = (2 to 5).foldLeft(Vector(d1)) { (acc, _) =>
      val prev = broadcast(acc.last
        .select(col("j").as("pj"), col("dp").as("pdp")))
      val next = c.join(prev, col("pj") === col("i") - 1)
        .groupBy(col("j"))
        .agg(min(col("pdp") + col("cost")).as("dp"),
          min_by(col("i"),
            (col("pdp") + col("cost")) * (tMax + 1L) + col("i"))
            .cast("long").as("arg"))
        .materialize()
      acc :+ next
    }
    ds.zipWithIndex.map { case (d, ix) =>
      d.select(lit(ix + 1).as("k"), col("j"),
        col("dp").cast("decimal(38,0)").as("dp"), col("arg"))
    }.reduce(_ unionAll _)
  }

  /** Single-task 5-stage DP twin over the day series: cost(i, j) =
    * (n·Σz² − (Σz)²) div n evaluated on the fly from prefix arrays.
    * All quantities are NONNEGATIVE and bounded by n·Σz² < 2¹²⁶, so
    * they live in an unsigned 128-bit (hi, lo) pair: identical floor
    * division and min/argmin lexicography ((dp, i) — exactly the
    * min_by key (dp)·(tMax+1)+i) as the decimal plan. Σz itself must
    * fit a Long — the same bound the distributed plan's LONG window
    * sum enforces (ANSI overflow throws there; addExact here). */
  private[graft] def stagesLocal(sq: DataFrame, tMax: Int): DataFrame = {
    val s = sq.sparkSession
    import s.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("dp",
        org.apache.spark.sql.types.DecimalType(38, 0)),
      org.apache.spark.sql.types.StructField("arg",
        org.apache.spark.sql.types.LongType)))
    val rdd = sq.select(col("t").cast("int"), col("z").cast("long"))
      .as[(Int, Long)].rdd.repartition(1)
      .mapPartitions { it =>
        val z = new Array[Long](tMax + 1)
        it.foreach { case (t, v) => z(t) = v }
        // unsigned-128 helpers on (hi, lo) pairs held in two arrays
        def umulHi(a: Long, b: Long): Long =
          Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)
        // prefix sums: cs (long, exact like the LONG window sum) and
        // cq = Σ z² as 128-bit
        val cs = new Array[Long](tMax + 1)
        val qHi = new Array[Long](tMax + 1)
        val qLo = new Array[Long](tMax + 1)
        var t = 1
        while (t <= tMax) {
          cs(t) = Math.addExact(cs(t - 1), z(t))
          val sqLo = z(t) * z(t)
          val sqHi = umulHi(z(t), z(t))
          val lo = qLo(t - 1) + sqLo
          qLo(t) = lo
          qHi(t) = qHi(t - 1) + sqHi +
            (if (java.lang.Long.compareUnsigned(lo, qLo(t - 1)) < 0) 1L
             else 0L)
          t += 1
        }
        // cost(i, j) into (costHi, costLo); scratch vars via closure
        var costHi = 0L; var costLo = 0L
        def cost(i: Int, j: Int): Unit = {
          val n = (j - i + 1).toLong
          // sqd = cq(j) − cq(i−1)
          var sHi = qHi(j) - qHi(i - 1)
          var sLo = qLo(j) - qLo(i - 1)
          if (java.lang.Long.compareUnsigned(qLo(j), qLo(i - 1)) < 0)
            sHi -= 1L
          // n·sqd
          val mLo = sLo * n
          val mHi = umulHi(sLo, n) + sHi * n
          sHi = mHi; sLo = mLo
          // − sd²
          val sd = cs(j) - cs(i - 1)
          val dLo = sd * sd
          val dHi = umulHi(sd, sd)
          var vLo = sLo - dLo
          var vHi = sHi - dHi
          if (java.lang.Long.compareUnsigned(sLo, dLo) < 0) vHi -= 1L
          // div n (n ≤ tMax ≤ cap < 2³¹; quotient limbs proven < 2³²)
          val qh = vHi / n
          val rem = vHi % n
          val t1 = (rem << 32) | (vLo >>> 32)
          val q1 = t1 / n
          val r1 = t1 % n
          val t0 = (r1 << 32) | (vLo & 0xffffffffL)
          val q0 = t0 / n
          costHi = qh
          costLo = (q1 << 32) | q0
        }
        // DP arrays per stage: value (hi, lo) + arg; ABSENT = hi = -1
        def fresh() = (Array.fill(tMax + 1)(-1L), new Array[Long](tMax + 1),
          new Array[Long](tMax + 1))
        var stages = Vector.empty[(Array[Long], Array[Long], Array[Long])]
        val d1 = fresh()
        var j = 1
        while (j <= tMax) {
          cost(1, j)
          d1._1(j) = costHi; d1._2(j) = costLo; d1._3(j) = 1L
          j += 1
        }
        stages = stages :+ d1
        var m = 2
        while (m <= 5) {
          val prev = stages.last
          val next = fresh()
          j = 1
          while (j <= tMax) {
            var bHi = -1L; var bLo = 0L; var bArg = 0L
            var i = 2
            while (i <= j) {
              if (prev._1(i - 1) >= 0L) {
                cost(i, j)
                var cHi = prev._1(i - 1) + costHi
                val cLo = prev._2(i - 1) + costLo
                if (java.lang.Long.compareUnsigned(cLo,
                  prev._2(i - 1)) < 0) cHi += 1L
                // strictly-less keeps the smallest i on value ties —
                // the (dp)·(tMax+1)+i lexicography
                if (bHi < 0L || cHi < bHi ||
                  (cHi == bHi &&
                    java.lang.Long.compareUnsigned(cLo, bLo) < 0)) {
                  bHi = cHi; bLo = cLo; bArg = i.toLong
                }
              }
              i += 1
            }
            if (bHi >= 0L) {
              next._1(j) = bHi; next._2(j) = bLo; next._3(j) = bArg
            }
            j += 1
          }
          stages = stages :+ next
          m += 1
        }
        def dec(hi: Long, lo: Long): java.math.BigDecimal = {
          val b = java.nio.ByteBuffer.allocate(16)
          b.putLong(hi).putLong(lo)
          new java.math.BigDecimal(new java.math.BigInteger(1, b.array()))
        }
        stages.iterator.zipWithIndex.flatMap { case ((hi, lo, arg), ix) =>
          (1 to tMax).iterator.filter(hi(_) >= 0L).map(jj =>
            org.apache.spark.sql.Row(ix + 1, jj, dec(hi(jj), lo(jj)),
              arg(jj)))
        }
      }
    s.createDataFrame(rdd, schema)
  }

  /** DP stages 1..k read from the spine: Vector of (j, dp, arg)
    * day-dim frames (k-pruned parquet reads, nothing recomputed). */
  private def dpStages(s: SparkSession, dir: String, k: Int)
      : Vector[DataFrame] = {
    val st = stageSpine(s, dir)
    (1 to k).toVector.map(m =>
      st.where(col("k") === m).select(col("j"), col("dp"), col("arg")))
  }

  /** Backtracked starts (b2, b3, b4) of the k = 4 optimum — three
    * 1-row joins. */
  private def breakpoints(ds: Vector[DataFrame], tMax: Int): DataFrame = {
    val e4 = ds(3).where(col("j") === tMax).select(col("arg").as("b4"))
    val e3 = ds(2).join(broadcast(e4), col("j") === col("b4") - 1)
      .select(col("arg").as("b3"), col("b4"))
    e3.join(broadcast(ds(1).select(col("j").as("j2"), col("arg").as("b2"))),
        col("j2") === col("b3") - 1)
      .select(col("b2"), col("b3"), col("b4"))
  }

  /** Optimal k = 4 segments with bounds and quantized costs. */
  def q971: Q = Q(
    "q971_dp_segmentation",
    Some(s"""
      |WITH ${sqlCost},
      |${sqlDp(4)},
      |${sqlBp},
      |segs AS (
      |  SELECT 1 AS seg, CAST(1 AS BIGINT) AS lo, b2 - 1 AS hi FROM bp
      |  UNION ALL SELECT 2, b2, b3 - 1 FROM bp
      |  UNION ALL SELECT 3, b3, b4 - 1 FROM bp
      |  UNION ALL SELECT 4, b4, gl.tm FROM bp CROSS JOIN gl)
      |SELECT CAST(seg AS BIGINT) AS seg,
      |       CAST(lo AS BIGINT) AS t_start,
      |       CAST(hi AS BIGINT) AS t_end,
      |       CAST(hi - lo + 1 AS BIGINT) AS n_days,
      |       CAST(c.cost // 1000000 AS BIGINT) AS cost_e6
      |FROM segs JOIN c ON c.i = segs.lo AND c.j = segs.hi
      |ORDER BY seg
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = series(s, dir)
    val ds = dpStages(s, dir, 4)
    val bp = breakpoints(ds, tMax)
    val segs = bp.select(lit(1L).as("seg"), lit(1L).as("lo"),
        (col("b2") - 1).as("hi"))
      .unionAll(bp.select(lit(2L), col("b2"), (col("b3") - 1)))
      .unionAll(bp.select(lit(3L), col("b3"), (col("b4") - 1)))
      .unionAll(bp.select(lit(4L), col("b4"), lit(tMax.toLong)))
    withCost(segs, sq)
      .select(col("seg"), col("lo").as("t_start"), col("hi").as("t_end"),
        (col("hi") - col("lo") + 1).as("n_days"),
        expr("CAST(cost div 1000000 AS BIGINT)").as("cost_e6"))
      .orderBy(col("seg"))
  }

  /** Elbow curve: optimal total quantized SSE for k = 1..5 and the
    * marginal gain of each extra segment. */
  def q972: Q = Q(
    "q972_dp_elbow",
    Some(s"""
      |WITH ${sqlCost},
      |${sqlDp(5)},
      |tot AS (${(1 to 5).map(m =>
        s"SELECT $m AS k, d$m.dp AS cost FROM d$m CROSS JOIN gl WHERE d$m.j = gl.tm")
        .mkString(" UNION ALL ")})
      |SELECT CAST(k AS BIGINT) AS k,
      |       CAST(cost // 1000000 AS BIGINT) AS cost_e6,
      |       CAST((lag(cost) OVER (ORDER BY k) - cost) // 1000000
      |            AS BIGINT) AS gain_e6
      |FROM tot ORDER BY k
      |""".stripMargin)) { (s, dir) =>
    val (_, tMax) = series(s, dir)
    val ds = dpStages(s, dir, 5)
    val tot = ds.zipWithIndex.map { case (d, ix) =>
      d.where(col("j") === tMax)
        .select(lit(ix + 1L).as("k"), col("dp").as("cost"))
    }.reduce(_ unionAll _)
    tot.withColumn("gain",
        lag(col("cost"), 1).over(Window.orderBy(col("k"))) - col("cost"))
      .select(col("k"),
        expr("CAST(cost div 1000000 AS BIGINT)").as("cost_e6"),
        expr("CAST(gain div 1000000 AS BIGINT)").as("gain_e6"))
      .orderBy(col("k"))
  }

  /** Per-segment statistics of the k = 4 optimum: totals, truncated
    * mean, extremes of the daily series inside each segment. */
  def q973: Q = Q(
    "q973_segment_profiles",
    Some(s"""
      |WITH ${sqlCost},
      |${sqlDp(4)},
      |${sqlBp}
      |SELECT CAST(CASE WHEN t >= b4 THEN 4 WHEN t >= b3 THEN 3
      |            WHEN t >= b2 THEN 2 ELSE 1 END AS BIGINT) AS seg,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(z) AS BIGINT) AS total_cents,
      |       CAST(sum(z) // count(*) AS BIGINT) AS mean_cents,
      |       CAST(min(z) AS BIGINT) AS min_cents,
      |       CAST(max(z) AS BIGINT) AS max_cents
      |FROM sq CROSS JOIN bp GROUP BY 1 ORDER BY seg
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = series(s, dir)
    val bp = breakpoints(dpStages(s, dir, 4), tMax)
    sq.crossJoin(broadcast(bp))
      .select(when(col("t") >= col("b4"), 4L)
        .when(col("t") >= col("b3"), 3L)
        .when(col("t") >= col("b2"), 2L).otherwise(1L).as("seg"),
        col("z"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_days"), sum(col("z")).as("total_cents"),
        min(col("z")).as("min_cents"), max(col("z")).as("max_cents"))
      .select(col("seg"), col("n_days"), col("total_cents"),
        expr("CAST(total_cents div n_days AS BIGINT)").as("mean_cents"),
        col("min_cents"), col("max_cents"))
      .orderBy(col("seg"))
  }

  /** Equal-width baseline regret: 4 equal segments vs the DP optimum
    * (ratio in milli — how much structure the optimizer buys). */
  def q974: Q = Q(
    "q974_equal_width_regret",
    Some(s"""
      |WITH ${sqlCost},
      |${sqlDp(4)},
      |wq AS (SELECT tm // 4 AS wd, tm FROM gl),
      |eq AS (
      |  SELECT sum(c.cost) AS eq_cost FROM wq JOIN c ON
      |    (c.i = 1 AND c.j = wd) OR
      |    (c.i = wd + 1 AND c.j = 2 * wd) OR
      |    (c.i = 2 * wd + 1 AND c.j = 3 * wd) OR
      |    (c.i = 3 * wd + 1 AND c.j = tm)),
      |op AS (SELECT d4.dp AS opt_cost FROM d4 CROSS JOIN gl
      |       WHERE d4.j = gl.tm)
      |SELECT CAST(eq_cost // 1000000 AS BIGINT) AS equal_width_e6,
      |       CAST(opt_cost // 1000000 AS BIGINT) AS optimal_e6,
      |       CAST(CASE WHEN opt_cost = 0 THEN NULL
      |            ELSE (1000 * eq_cost) // opt_cost END AS BIGINT)
      |         AS regret_milli
      |FROM eq CROSS JOIN op
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = series(s, dir)
    val ds = dpStages(s, dir, 4)
    val wd = tMax / 4
    import s.implicits._
    // .distinct matches the original OR-filter semantics: a pair-cost
    // row matching several branches still summed once (only possible
    // at wd = 0, where the degenerate (1, 0) bounds match nothing)
    val segs = Seq((1, wd), (wd + 1, 2 * wd), (2 * wd + 1, 3 * wd),
        (3 * wd + 1, tMax)).distinct.toDF("lo", "hi")
    val eq = withCost(segs, sq).agg(sum(col("cost")).as("eq_cost"))
    val op = ds(3).where(col("j") === tMax)
      .select(col("dp").as("opt_cost"))
    eq.crossJoin(broadcast(op))
      .select(expr("CAST(eq_cost div 1000000 AS BIGINT)")
          .as("equal_width_e6"),
        expr("CAST(opt_cost div 1000000 AS BIGINT)").as("optimal_e6"),
        expr("CAST(CASE WHEN opt_cost = 0 THEN NULL" +
          " ELSE (1000 * eq_cost) div opt_cost END AS BIGINT)")
          .as("regret_milli"))
  }

  /** Greedy binary segmentation (3 successive best single splits,
    * each round picking the segment+split with the largest cost
    * reduction; ties → smaller segment start, then smaller split)
    * vs the DP optimum — the classic heuristic's regret. */
  def q975: Q = {
    // oracle: three unrolled greedy rounds over segment-set CTEs
    def round(k: Int): String =
      s"""cand$k AS (
         |  SELECT g.lo, g.hi, g.cost, c2.i AS sp,
         |         c1.cost + c2.cost AS two
         |  FROM segs$k g
         |  JOIN c c1 ON c1.i = g.lo AND c1.j BETWEEN g.lo AND g.hi - 1
         |  JOIN c c2 ON c2.i = c1.j + 1 AND c2.j = g.hi),
         |pick$k AS (
         |  SELECT lo, hi, sp FROM (
         |    SELECT lo, hi, cost, two,
         |           min_by(sp, two * (gl.tm + 1) + sp) AS sp
         |    FROM cand$k CROSS JOIN gl GROUP BY 1, 2, 3, 4)
         |  ORDER BY cost - two DESC, lo, sp LIMIT 1),
         |segs${k + 1} AS MATERIALIZED (
         |  SELECT g.lo, g.hi, g.cost FROM segs$k g
         |  WHERE NOT EXISTS (SELECT 1 FROM pick$k p
         |                    WHERE p.lo = g.lo AND p.hi = g.hi)
         |  UNION ALL
         |  SELECT p.lo, p.sp - 1, c.cost FROM pick$k p
         |    JOIN c ON c.i = p.lo AND c.j = p.sp - 1
         |  UNION ALL
         |  SELECT p.sp, p.hi, c.cost FROM pick$k p
         |    JOIN c ON c.i = p.sp AND c.j = p.hi)""".stripMargin
    Q("q975_binary_seg_regret",
      Some(s"""
        |WITH ${sqlCost},
        |${sqlDp(4)},
        |segs1 AS MATERIALIZED (
        |  SELECT CAST(1 AS BIGINT) AS lo, gl.tm AS hi, c.cost
        |  FROM gl JOIN c ON c.i = 1 AND c.j = gl.tm),
        |${round(1)},
        |${round(2)},
        |${round(3)},
        |gr AS (SELECT sum(cost) AS greedy_cost FROM segs4),
        |op AS (SELECT d4.dp AS opt_cost FROM d4 CROSS JOIN gl
        |       WHERE d4.j = gl.tm)
        |SELECT CAST(greedy_cost // 1000000 AS BIGINT) AS greedy_e6,
        |       CAST(opt_cost // 1000000 AS BIGINT) AS optimal_e6,
        |       CAST(CASE WHEN opt_cost = 0 THEN NULL
        |            ELSE (1000 * greedy_cost) // opt_cost END AS BIGINT)
        |         AS regret_milli
        |FROM gr CROSS JOIN op
        |""".stripMargin)) { (s, dir) =>
      val (sq, tMax) = series(s, dir)
      val ds = dpStages(s, dir, 4)
      // greedy rounds run DRIVER-side over the day-dim prefix sums
      // (one bounded collect — the series is CALENDAR-bounded, the
      // same legitimacy class as the ≤2^20-edge driver DSU): exact
      // BigInt replicas of the quantized-SSE cost, zero extra jobs
      val z = sq.orderBy(col("t")).select(col("z")).collect()
        .map(r => BigInt(r.getLong(0)))
      val cs = z.scanLeft(BigInt(0))(_ + _) // cs(k) = Σ z_1..z_k
      val cq = z.scanLeft(BigInt(0))((a, v) => a + v * v)
      def costQ(i: Int, j: Int): BigInt = {
        val n = BigInt(j - i + 1)
        val sS = cs(j) - cs(i - 1)
        (n * (cq(j) - cq(i - 1)) - sS * sS) / n
      }
      var segs = Vector((1, tMax, costQ(1, tMax)))
      for (_ <- 1 to 3) {
        // best (segment, split): max gain, tie → smaller lo, then sp
        val picks = segs.flatMap { case (lo, hi, segCost) =>
          if (hi > lo) {
            val (two, sp) = (lo + 1 to hi)
              .map(sp => (costQ(lo, sp - 1) + costQ(sp, hi), sp)).min
            Some((segCost - two, lo, sp, hi))
          } else None
        }
        val (_, lo, sp, hi) = picks.maxBy(p => (p._1, -p._2, -p._3))
        segs = segs.filterNot(g => g._1 == lo && g._2 == hi) ++
          Vector((lo, sp - 1, costQ(lo, sp - 1)),
            (sp, hi, costQ(sp, hi)))
      }
      val greedy = segs.map(_._3).sum
      val op = ds(3).where(col("j") === tMax)
        .select(col("dp").as("opt_cost"))
      op.select(lit((greedy / 1000000).bigInteger.toString)
          .cast("decimal(38,0)").cast("long").as("greedy_e6"),
        expr("CAST(opt_cost div 1000000 AS BIGINT)").as("optimal_e6"),
        expr("CAST(CASE WHEN opt_cost = 0 THEN NULL ELSE" +
          s" (1000 * CAST('$greedy' AS DECIMAL(38,0)))" +
          " div opt_cost END AS BIGINT)").as("regret_milli"))
    }
  }
}
