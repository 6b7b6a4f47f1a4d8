package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-11 Passing–Bablok method-comparison wave: daily GROSS
  * revenue (method X) vs daily NET CHARGE (method Y, after discount
  * and tax) as two measurements of the same day — the PB robust
  * slope, its intercept, Kendall concordance, the residual balance
  * audit, and the bias / reduced-major-axis panel.
  *
  * Exactness: both measures are micro-dollar integers quantized
  * identically in both engines (decimal-cast rounding — the source
  * columns are doubles); pair slopes are ONE IEEE division of exact integers
  * (identical doubles both engines) ranked with integer tie-breaks;
  * the PB exclusions (x_j = x_i, S = −1) and the K offset (S < −1)
  * are stated on the INTEGER differences, never on the division
  * result. Medians use the shared odd/even-avg rule; everything else
  * is integer rationals plus one-double-step formulas.
  *
  * Scale: the day series is CALENDAR-bounded, so the (i < j) pair
  * frame is ~3.1M rows at EVERY sf (the matrix-profile argument); the
  * slope median rides the bucket-parallel `globalRankCum` spine — no
  * single-partition sort. One fact pass builds the day frame (a
  * SpineCache spine); the pair fan-out regenerates from it. */
object MethodCompQueries {

  val all: Seq[Q] = Seq(q1071, q1072, q1073, q1074, q1075)

  /** Oracle day frame: sq(t, x, y) in micro-dollars. */
  private def sqlSq: String = """
    |dxy AS (SELECT CAST(l_shipdate AS DATE) AS dd,
    |          sum(CAST(l_extendedprice * 1000000 AS BIGINT)) AS x,
    |          sum(CAST(l_extendedprice * (1 - l_discount)
    |              * (1 + l_tax) * 1000000 AS BIGINT)) AS y
    |        FROM lineitem GROUP BY 1),
    |sq AS (SELECT row_number() OVER (ORDER BY dd) AS t, x, y
    |       FROM dxy)""".stripMargin

  /** Spark twin: the daily (x, y) spine (t, x, y). */
  private def dailyXy(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "daily_xy",
      Seq("lineitem"), version = 2) {
      Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast("date").as("dd"),
          // decimal-cast idiom: the source columns are DOUBLEs, and
          // Spark's double->LONG cast truncates where DuckDB's
          // double->BIGINT rounds; the intermediate DECIMAL cast
          // rounds like the oracle
          expr("CAST(CAST(l_extendedprice * 1000000 AS DECIMAL(38,0))" +
            " AS LONG)").as("xe"),
          expr("CAST(CAST(l_extendedprice * (1 - l_discount)" +
            " * (1 + l_tax) * 1000000 AS DECIMAL(38,0)) AS LONG)")
            .as("ye"))
        .groupBy(col("dd"))
        .agg(sum(col("xe")).as("x"), sum(col("ye")).as("y"))
        .select(row_number().over(Window.orderBy(col("dd"))).as("t"),
          col("x"), col("y"))
    }

  /** Oracle PB slope CTEs over sq: sl(pid, xd, yd, s, kf), counts
    * nk(n, k), ranked rs(pid, s, rn), and the 1-row pb(b). */
  private def sqlPb: String = """
    |pr AS (SELECT a.t AS i, b.t AS j,
    |              b.x - a.x AS xd, b.y - a.y AS yd
    |       FROM sq a JOIN sq b ON b.t > a.t),
    |sl AS (SELECT i * 10000 + j AS pid, xd, yd,
    |              CAST(yd AS DOUBLE) / xd AS s,
    |              CASE WHEN xd > 0 THEN (CASE WHEN yd < -xd THEN 1
    |                   ELSE 0 END)
    |                   ELSE (CASE WHEN yd > -xd THEN 1 ELSE 0 END)
    |              END AS kf
    |       FROM pr WHERE xd <> 0 AND yd <> -xd),
    |nk AS (SELECT count(*) AS n, sum(kf) AS k FROM sl),
    |rs AS (SELECT pid, s, row_number() OVER (ORDER BY s, pid) AS rn
    |       FROM sl),
    |pb AS (
    |  SELECT avg(s) AS b FROM rs CROSS JOIN nk
    |  WHERE (n % 2 = 1 AND rn = least((n + 1) // 2 + k, n))
    |     OR (n % 2 = 0 AND (rn = least(n // 2 + k, n)
    |                     OR rn = least(n // 2 + 1 + k, n))))""".stripMargin

  /** The 1-row PB fit (n, k, b) as a SpineCache SPINE TABLE: three of
    * the five wave queries need the slope, and each previously re-ran
    * the 3.1M-pair fan-out + bucket-parallel rank (~3 s each at
    * sf0.1). Doubles round-trip parquet exactly, so the cached b is
    * bit-identical to the from-scratch one (the oracle recomputes the
    * whole pipeline inline — the gate proves it). */
  private def pbFit(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "pb_fit",
      Seq("lineitem"), version = 2)(pbFitOf(dailyXy(s, dir)))

  /** The 1-row (n, k, b) PB fit, size-gated on the day count (the
    * siegelFrame discipline): the slope table is day²-bounded
    * (~3.1M pairs at every sf), so under [[SizeGate.PairRows]] days
    * the pair fan-out,
    * the kf bookkeeping and the ranked-slope selection fold inside
    * ONE executor task — xd/yd are long differences of long daily
    * micro-dollars (no overflow: both operands are positive longs),
    * each slope is the IDENTICAL one IEEE divide, and the rank
    * positions select the same s values as the (s, pid) row_number
    * (ties permute only equal s). Above the bound the distributed
    * fan-out + bucket-parallel rank runs unchanged. */
  private[graft] def pbFitOf(sq: DataFrame): DataFrame = {
    val s = sq.sparkSession
    lazy val nDays = sq.count()
    // the local branch's Int-indexed n(n-1)/2 slope array stays far
    // from Int overflow under the fixed PairRows bound (the qnFrame one)
    if (SizeGate.local(s, SizeGate.PairRows)(nDays) && nDays >= 2) {
      import s.implicits._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.DoubleType)))
      val rdd = sq.select(col("t").cast("int"), col("x").cast("long"),
          col("y").cast("long"))
        .as[(Int, Long, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray.sortBy(_._1)
          val n0 = rows.length
          val slopes = new Array[Double](n0 * (n0 - 1) / 2)
          var cnt = 0
          var k = 0L
          var i = 0
          while (i < n0) {
            var j = i + 1
            while (j < n0) {
              val xd = rows(j)._2 - rows(i)._2
              val yd = rows(j)._3 - rows(i)._3
              if (xd != 0L && yd != -xd) {
                slopes(cnt) = yd.toDouble / xd.toDouble
                if (if (xd > 0) yd < -xd else yd > -xd) k += 1L
                cnt += 1
              }
              j += 1
            }
            i += 1
          }
          java.util.Arrays.sort(slopes, 0, cnt)
          val n = cnt.toLong
          if (n == 0)
            // the distributed agg over an empty slope frame yields
            // (0, null, null) — replicate it
            Iterator.single(org.apache.spark.sql.Row(0L, null, null))
          else {
            val b =
              if (n % 2 == 1) slopes((math.min((n + 1) / 2 + k, n) - 1).toInt)
              else {
                val r1 = math.min(n / 2 + k, n)
                val r2 = math.min(n / 2 + 1 + k, n)
                if (r1 == r2) slopes((r1 - 1).toInt)
                else (slopes((r1 - 1).toInt) + slopes((r2 - 1).toInt)) / 2.0
              }
            Iterator.single(org.apache.spark.sql.Row(n, k, b))
          }
        }
      s.createDataFrame(rdd, schema)
    } else {
      val (_, nk, pb) = pbSlopeBuild(sq)
      nk.crossJoin(broadcast(pb))
    }
  }

  /** Spark twin: (slope frame sl, 1-row nk(n, k), 1-row pb(b)). */
  private def pbSlopeBuild(sq: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val a = sq.select(col("t").as("i"), col("x").as("xa"),
      col("y").as("ya"))
    val b = sq.select(col("t").as("j"), col("x").as("xb"),
      col("y").as("yb"))
    val sl = a.join(b, col("j") > col("i"))
      .select((col("i") * 10000 + col("j")).as("pid"),
        (col("xb") - col("xa")).as("xd"),
        (col("yb") - col("ya")).as("yd"))
      .where(col("xd") =!= 0 && col("yd") =!= -col("xd"))
      .select(col("pid"), col("xd"), col("yd"),
        expr("CAST(yd AS DOUBLE) / xd").as("s"),
        expr("CASE WHEN xd > 0 THEN (CASE WHEN yd < -xd THEN 1" +
          " ELSE 0 END) ELSE (CASE WHEN yd > -xd THEN 1 ELSE 0 END)" +
          " END").as("kf"))
      .materialize()
    val nk = sl.agg(count(lit(1)).as("n"), sum(col("kf")).as("k"))
    val ranked = graft.dedup.SortedNeighborhood.globalRankCum(
      sl.select(col("pid"), col("s"))
        .withColumn("bk", expr("CAST(floor(s * 1000) AS BIGINT)")),
      "pid", "bk", Seq("s"))
    val pb = ranked.crossJoin(broadcast(nk))
      .where((col("n") % 2 === 1 &&
        col("__rank") === least(expr("(n + 1) div 2 + k"), col("n"))) ||
        (col("n") % 2 === 0 &&
          (col("__rank") === least(expr("n div 2 + k"), col("n")) ||
            col("__rank") === least(expr("n div 2 + 1 + k"), col("n")))))
      .agg(avg(col("s")).as("b"))
    (sl, nk, pb)
  }

  /** The PB slope itself with its exclusion bookkeeping. */
  def q1071: Q = Q(
    "q1071_passing_bablok_slope",
    Some(s"""
      |WITH ${sqlSq},
      |${sqlPb}
      |SELECT CAST(nk.n AS BIGINT) AS n_slopes,
      |       CAST(nk.k AS BIGINT) AS k_offset,
      |       CAST(floor(1000000.0 * pb.b) AS BIGINT) AS slope_micro
      |FROM nk CROSS JOIN pb
      |""".stripMargin)) { (s, dir) =>
    pbFit(s, dir)
      .select(col("n").cast("long").as("n_slopes"),
        col("k").cast("long").as("k_offset"),
        expr("CAST(floor(1000000.0 * b) AS BIGINT)").as("slope_micro"))
  }

  /** PB intercept: the day-median of y − b·x (odd/even-avg rule),
    * reported in dollars. */
  def q1072: Q = Q(
    "q1072_passing_bablok_intercept",
    Some(s"""
      |WITH ${sqlSq},
      |${sqlPb},
      |res AS (SELECT t, y - pb.b * x AS r FROM sq CROSS JOIN pb),
      |nr AS (SELECT count(*) AS d FROM res),
      |rr AS (SELECT r, row_number() OVER (ORDER BY r, t) AS rn
      |       FROM res),
      |ic AS (SELECT avg(r) AS a FROM rr CROSS JOIN nr
      |       WHERE (d % 2 = 1 AND rn = (d + 1) // 2)
      |          OR (d % 2 = 0 AND (rn = d // 2 OR rn = d // 2 + 1)))
      |SELECT CAST((SELECT d FROM nr) AS BIGINT) AS n_days,
      |       CAST(floor(1000000.0 * pb.b) AS BIGINT) AS slope_micro,
      |       CAST(floor(ic.a / 1000000.0) AS BIGINT)
      |         AS intercept_dollars
      |FROM pb CROSS JOIN ic
      |""".stripMargin)) { (s, dir) =>
    val pb = pbFit(s, dir).select(col("b"))
    val sq = dailyXy(s, dir)
    val res = sq.crossJoin(broadcast(pb))
      .select(col("t"), (col("y") - col("b") * col("x")).as("r"),
        col("b"))
    val nr = res.agg(count(lit(1)).as("d"))
    val rr = res.select(col("r"), col("b"),
      row_number().over(Window.orderBy(col("r"), col("t"))).as("rn"))
    rr.crossJoin(broadcast(nr))
      .where((col("d") % 2 === 1 && col("rn") === expr("(d + 1) div 2")) ||
        (col("d") % 2 === 0 && (col("rn") === expr("d div 2") ||
          col("rn") === expr("d div 2 + 1"))))
      .agg(first(col("d")).cast("long").as("n_days"),
        expr("CAST(floor(1000000.0 * first(b)) AS BIGINT)")
          .as("slope_micro"),
        expr("CAST(floor(avg(r) / 1000000.0) AS BIGINT)")
          .as("intercept_dollars"))
  }

  /** Kendall tau-a between the two daily measures (sign logic on
    * integer differences — no products, no overflow). */
  def q1073: Q = Q(
    "q1073_kendall_concordance",
    Some(s"""
      |WITH ${sqlSq},
      |pr AS (SELECT b.x - a.x AS xd, b.y - a.y AS yd
      |       FROM sq a JOIN sq b ON b.t > a.t),
      |ag AS (SELECT count(*) AS np,
      |  sum(CASE WHEN (xd > 0 AND yd > 0) OR (xd < 0 AND yd < 0)
      |      THEN 1 ELSE 0 END) AS nc,
      |  sum(CASE WHEN (xd > 0 AND yd < 0) OR (xd < 0 AND yd > 0)
      |      THEN 1 ELSE 0 END) AS nd,
      |  sum(CASE WHEN xd = 0 OR yd = 0 THEN 1 ELSE 0 END) AS nt
      |  FROM pr)
      |SELECT CAST(np AS BIGINT) AS n_pairs,
      |       CAST(nc AS BIGINT) AS concordant,
      |       CAST(nd AS BIGINT) AS discordant,
      |       CAST(nt AS BIGINT) AS ties,
      |       CAST((1000 * (nc - nd)) // np AS BIGINT) AS tau_a_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    tauAgg(dailyXy(s, dir))
      .select(col("np").cast("long").as("n_pairs"),
        col("nc").cast("long").as("concordant"),
        col("nd").cast("long").as("discordant"),
        col("nt").cast("long").as("ties"),
        expr("CAST((1000 * (nc - nd)) div np AS BIGINT)")
          .as("tau_a_milli"))
  }

  /** q1073's concordance counts (np, nc, nd, nt), size-gated like
    * [[pbFitOf]] — sign bookkeeping over the day² pair frame in one
    * task under the bound, the distributed pair join above it. */
  private[graft] def tauAgg(sq: DataFrame): DataFrame = {
    val s = sq.sparkSession
    lazy val nDays = sq.count()
    if (SizeGate.local(s, SizeGate.PairRows)(nDays) && nDays >= 2) {
      import s.implicits._
      sq.select(col("t").cast("int"), col("x").cast("long"),
          col("y").cast("long"))
        .as[(Int, Long, Long)].repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray.sortBy(_._1)
          val n0 = rows.length
          var np = 0L; var nc = 0L; var nd = 0L; var nt = 0L
          var i = 0
          while (i < n0) {
            var j = i + 1
            while (j < n0) {
              val xd = rows(j)._2 - rows(i)._2
              val yd = rows(j)._3 - rows(i)._3
              np += 1L
              if ((xd > 0 && yd > 0) || (xd < 0 && yd < 0)) nc += 1L
              else if ((xd > 0 && yd < 0) || (xd < 0 && yd > 0)) nd += 1L
              if (xd == 0 || yd == 0) nt += 1L
              j += 1
            }
            i += 1
          }
          Iterator.single((np, nc, nd, nt))
        }
        .toDF("np", "nc", "nd", "nt")
    } else {
      val a = sq.select(col("t").as("i"), col("x").as("xa"),
        col("y").as("ya"))
      val b = sq.select(col("t").as("j"), col("x").as("xb"),
        col("y").as("yb"))
      a.join(b, col("j") > col("i"))
        .select((col("xb") - col("xa")).as("xd"),
          (col("yb") - col("ya")).as("yd"))
        .agg(count(lit(1)).as("np"),
          sum(when((col("xd") > 0 && col("yd") > 0) ||
            (col("xd") < 0 && col("yd") < 0), 1L).otherwise(0L)).as("nc"),
          sum(when((col("xd") > 0 && col("yd") < 0) ||
            (col("xd") < 0 && col("yd") > 0), 1L).otherwise(0L)).as("nd"),
          sum(when(col("xd") === 0 || col("yd") === 0, 1L)
            .otherwise(0L)).as("nt"))
    }
  }

  /** Residual balance around the PB line: a valid fit leaves the
    * days split evenly above/below. */
  def q1074: Q = Q(
    "q1074_pb_residual_balance",
    Some(s"""
      |WITH ${sqlSq},
      |${sqlPb},
      |res AS (SELECT t, y - pb.b * x AS r FROM sq CROSS JOIN pb),
      |nr AS (SELECT count(*) AS d FROM res),
      |rr AS (SELECT r, row_number() OVER (ORDER BY r, t) AS rn
      |       FROM res),
      |ic AS (SELECT avg(r) AS a FROM rr CROSS JOIN nr
      |       WHERE (d % 2 = 1 AND rn = (d + 1) // 2)
      |          OR (d % 2 = 0 AND (rn = d // 2 OR rn = d // 2 + 1)))
      |SELECT CAST(sum(CASE WHEN r > ic.a THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_above,
      |       CAST(sum(CASE WHEN r < ic.a THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_below,
      |       CAST(count(*) AS BIGINT) AS n_days
      |FROM res CROSS JOIN ic
      |""".stripMargin)) { (s, dir) =>
    val pb = pbFit(s, dir).select(col("b"))
    val sq = dailyXy(s, dir)
    val res = sq.crossJoin(broadcast(pb))
      .select(col("t"), (col("y") - col("b") * col("x")).as("r"))
    val nr = res.agg(count(lit(1)).as("d"))
    val rr = res.select(col("r"),
      row_number().over(Window.orderBy(col("r"), col("t"))).as("rn"))
    val ic = rr.crossJoin(broadcast(nr))
      .where((col("d") % 2 === 1 && col("rn") === expr("(d + 1) div 2")) ||
        (col("d") % 2 === 0 && (col("rn") === expr("d div 2") ||
          col("rn") === expr("d div 2 + 1"))))
      .agg(avg(col("r")).as("a"))
    res.crossJoin(broadcast(ic))
      .agg(sum(when(col("r") > col("a"), 1L).otherwise(0L))
        .as("n_above"),
        sum(when(col("r") < col("a"), 1L).otherwise(0L)).as("n_below"),
        count(lit(1)).as("n_days"))
      .select(col("n_above").cast("long").as("n_above"),
        col("n_below").cast("long").as("n_below"),
        col("n_days").cast("long").as("n_days"))
  }

  /** Bias panel: mean gross-to-net difference, relative bias, and the
    * reduced-major-axis slope (sign from the covariance). */
  def q1075: Q = Q(
    "q1075_method_bias_panel",
    Some(s"""
      |WITH ${sqlSq},
      |mo AS (SELECT count(*) AS d, sum(x) AS sx, sum(y) AS sy,
      |              sum(CAST(x AS HUGEINT) * x) AS sxx,
      |              sum(CAST(y AS HUGEINT) * y) AS syy,
      |              sum(CAST(x AS HUGEINT) * y) AS sxy
      |       FROM sq)
      |SELECT CAST(d AS BIGINT) AS n_days,
      |       CAST((sy - sx) // (CAST(d AS HUGEINT) * 1000000)
      |            AS BIGINT) AS mean_diff_dollars,
      |       CAST((1000000 * (sy - sx)) // sx AS BIGINT)
      |         AS rel_bias_ppm,
      |       CAST(floor(1000000.0
      |            * (CASE WHEN d * sxy - CAST(sx AS HUGEINT) * sy < 0
      |               THEN -1 ELSE 1 END)
      |            * sqrt(CAST(d * syy - CAST(sy AS HUGEINT) * sy
      |                   AS DOUBLE)
      |                 / CAST(d * sxx - CAST(sx AS HUGEINT) * sx
      |                   AS DOUBLE))) AS BIGINT) AS rma_slope_micro
      |FROM mo
      |""".stripMargin)) { (s, dir) =>
    dailyXy(s, dir)
      .agg(count(lit(1)).as("d"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .select(col("d").cast("long").as("n_days"),
        expr("CAST((sy - sx) div (CAST(d AS DECIMAL(38,0)) * 1000000)" +
          " AS BIGINT)").as("mean_diff_dollars"),
        expr("CAST((1000000 * CAST(sy - sx AS DECIMAL(38,0)))" +
          " div sx AS BIGINT)").as("rel_bias_ppm"),
        expr("CAST(floor(1000000.0" +
          " * (CASE WHEN d * sxy - CAST(sx AS DECIMAL(38,0)) * sy < 0" +
          " THEN -1 ELSE 1 END)" +
          " * sqrt(CAST(d * syy - CAST(sy AS DECIMAL(38,0)) * sy" +
          " AS DOUBLE)" +
          " / CAST(d * sxx - CAST(sx AS DECIMAL(38,0)) * sx" +
          " AS DOUBLE))) AS BIGINT)").as("rma_slope_micro"))
  }
}
