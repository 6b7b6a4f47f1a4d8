package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-9 robust-scale wave on daily shipped revenue: the Rousseeuw-
  * Croux Sn (lomed-of-himed of pairwise gaps) and Qn (first-quartile
  * pairwise gap) estimators, the Hodges-Lehmann pseudomedian, the 10%
  * winsorized mean/sd, and Tukey-fence outlier counts.
  *
  * Scale: the day series is CALENDAR-bounded (~2.5k rows at every sf),
  * so the O(days²) pairwise frames here are CONSTANT-size (≈3M pairs)
  * regardless of data volume — the one place all-pairs is the right
  * plan. Order-statistic selections use sort+limit top-k (never a
  * full materialized sort output); every reported value is an exact
  * integer (raw estimators, no asymptotic consistency constants —
  * documented in column names). */
object RobustScaleQueries {

  val all: Seq[Q] = Seq(q846, q847, q848, q849, q850)

  private def sqlDay: String = """
    |day AS (SELECT CAST(l_shipdate AS DATE) AS d,
    |               sum(CAST(l_extendedprice * 100 AS BIGINT)) AS x
    |        FROM lineitem GROUP BY 1),
    |gl AS (SELECT count(*) AS n FROM day)""".stripMargin

  private def dayBase(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "daily_gross_day_cents",
      "lineitem") {
      Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast("date").as("d"),
          expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
            " AS LONG)").as("v"))
        .groupBy(col("d"))
        .agg(sum(col("v")).as("x"))
    }

  // The single-task day² twins below (Sn, Qn, HL; the Siegel slope in
  // RobustTrendQueries) gate on SizeGate.PairRows: a day series under
  // it runs its pairwise order-statistic selection inside ONE executor
  // task — the calendar bounds the series at ~2.5k rows at EVERY sf,
  // so the relational all-pairs plan only ever re-sorted a constant
  // ~3M-row frame through full shuffles; above it the relational plan
  // runs unchanged.

  /** Sn: per day i the himed (rank (n−1) div 2 + 1) of |xᵢ − xⱼ|,
    * j ≠ i, then the lomed (rank (n+1) div 2) over the n per-day
    * values — both exact order statistics on longs, so the single-
    * task twin is bit-identical to the relational plan (the window
    * tie-break by j only reorders EQUAL gap values; the value at the
    * rank is unchanged). */
  private[graft] def snFrame(day: DataFrame): DataFrame = {
    val s = day.sparkSession
    import s.implicits._
    lazy val c = day.count()
    // the degenerate n < 2 series has no pairs — only the relational
    // plan states its (empty) contract; the twin handles n >= 2
    if (SizeGate.local(s, SizeGate.PairRows)(c) && c >= 2) {
      day.select(col("x")).as[Long]
        .repartition(1)
        .mapPartitions { it =>
          val xs = it.toArray
          val n = xs.length
          val rk = (n - 1) / 2 + 1
          val his = new Array[Long](n)
          val gaps = new Array[Long](n - 1)
          var i = 0
          while (i < n) {
            var k = 0
            var j = 0
            while (j < n) {
              if (j != i) { gaps(k) = math.abs(xs(i) - xs(j)); k += 1 }
              j += 1
            }
            java.util.Arrays.sort(gaps)
            his(i) = gaps(rk - 1)
            i += 1
          }
          java.util.Arrays.sort(his)
          Iterator.single((n.toLong, his((n + 1) / 2 - 1)))
        }
        .toDF("n_days", "sn_raw_cents")
    } else {
      val gl = day.agg(count(lit(1)).as("n"))
      val b = day.select(col("d").as("j"), col("x").as("xb"))
      val pr = day.join(b, col("j") =!= col("d"))
        .select(col("d").as("i"), abs(col("x") - col("xb")).as("dd"),
          col("j"))
      val di = pr.select(col("i"), col("dd"),
        row_number().over(Window.partitionBy(col("i"))
          .orderBy(col("dd"), col("j"))).as("r"))
      val hm = di.crossJoin(broadcast(gl))
        .where(col("r") === expr("(n - 1) div 2 + 1"))
        .select(col("i"), col("dd").as("hi"))
      val fin = hm.select(col("hi"),
        row_number().over(Window.orderBy(col("hi"), col("i"))).as("r2"))
      fin.crossJoin(broadcast(gl))
        .where(col("r2") === expr("(n + 1) div 2"))
        .select(col("n").cast("long").as("n_days"),
          col("hi").cast("long").as("sn_raw_cents"))
    }
  }

  /** Qn: the k-th smallest of the n(n−1)/2 pairwise gaps,
    * k = (n div 2 + 1)·(n div 2) div 2 — one exact selection. */
  private[graft] def qnFrame(day: DataFrame): DataFrame = {
    val s = day.sparkSession
    import s.implicits._
    lazy val c = day.count()
    // the local branch's Int-indexed n(n-1)/2 gap array stays far
    // from Int overflow under the fixed PairRows bound
    if (SizeGate.local(s, SizeGate.PairRows)(c) && c >= 2) {
      day.select(col("x")).as[Long]
        .repartition(1)
        .mapPartitions { it =>
          val xs = it.toArray
          val n = xs.length
          val k = (n / 2 + 1).toLong * (n / 2).toLong / 2L
          val gaps = new Array[Long](n * (n - 1) / 2)
          var p = 0
          var i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) {
              gaps(p) = math.abs(xs(i) - xs(j)); p += 1; j += 1
            }
            i += 1
          }
          java.util.Arrays.sort(gaps)
          Iterator.single((k, gaps((k - 1).toInt)))
        }
        .toDF("k_order", "qn_raw_cents")
    } else {
      val k = day.agg(count(lit(1)).as("n"))
        .select(expr("(n div 2 + 1) * (n div 2) div 2").as("k"))
        .head().getLong(0)
      val b = day.select(col("d").as("j"), col("x").as("xb"))
      val pq = day.join(b, col("j") > col("d"))
        .select(abs(col("x") - col("xb")).as("dd"))
      val sel = pq.orderBy(col("dd")).limit(k.toInt)
        .agg(max(col("dd")).as("q"))
      sel.select(lit(k).as("k_order"),
        col("q").cast("long").as("qn_raw_cents"))
    }
  }

  /** Hodges-Lehmann pseudomedian: the (m+1) div 2-th smallest of the
    * m = n(n+1)/2 Walsh sums xᵢ + xⱼ (i ≤ j), halved by floor
    * division. */
  private[graft] def hlFrame(day: DataFrame): DataFrame = {
    val s = day.sparkSession
    import s.implicits._
    lazy val c = day.count()
    // same Int-indexed Walsh-sum array bound as qnFrame
    if (SizeGate.local(s, SizeGate.PairRows)(c) && c >= 1) {
      day.select(col("x")).as[Long]
        .repartition(1)
        .mapPartitions { it =>
          val xs = it.toArray
          val n = xs.length
          val m = n.toLong * (n + 1).toLong / 2L
          val sums = new Array[Long](m.toInt)
          var p = 0
          var i = 0
          while (i < n) {
            var j = i
            while (j < n) { sums(p) = xs(i) + xs(j); p += 1; j += 1 }
            i += 1
          }
          java.util.Arrays.sort(sums)
          val sel = sums(((m + 1) / 2 - 1).toInt)
          Iterator.single((m, sel / 2L))
        }
        .toDF("n_pairs", "hl_pseudomedian_cents")
    } else {
      val b = day.select(col("d").as("j"), col("x").as("xb"))
      val pm = day.join(b, col("j") >= col("d"))
        .select((col("x") + col("xb")).as("s2")).materialize()
      val m = pm.count()
      val kSel = ((m + 1) / 2).toInt
      pm.orderBy(col("s2")).limit(kSel)
        .agg(max(col("s2")).as("sel"))
        .select(lit(m).as("n_pairs"),
          expr("CAST(sel div 2 AS BIGINT)").as("hl_pseudomedian_cents"))
    }
  }

  /** Rousseeuw-Croux Sn (raw, no consistency constant): low median
    * over days of the high median of |xᵢ − xⱼ|, j ≠ i. */
  def q846: Q = Q(
    "q846_sn_estimator",
    Some(s"""
      |WITH ${sqlDay},
      |pr AS (SELECT a.d AS i, abs(a.x - b.x) AS dd, b.d AS j
      |       FROM day a JOIN day b ON b.d != a.d),
      |di AS (SELECT i, dd, row_number() OVER (PARTITION BY i
      |         ORDER BY dd, j) AS r FROM pr),
      |hm AS (SELECT i, dd AS hi FROM di CROSS JOIN gl
      |       WHERE r = (gl.n - 1) // 2 + 1),
      |fin AS (SELECT hi, row_number() OVER (ORDER BY hi, i) AS r2
      |        FROM hm)
      |SELECT CAST((SELECT n FROM gl) AS BIGINT) AS n_days,
      |       CAST((SELECT hi FROM fin CROSS JOIN gl
      |             WHERE r2 = (gl.n + 1) // 2) AS BIGINT)
      |         AS sn_raw_cents
      |""".stripMargin)) { (s, dir) =>
    snFrame(dayBase(s, dir).materialize())
  }

  /** Rousseeuw-Croux Qn (raw): the C(h,2)-th smallest pairwise gap,
    * h = n/2 + 1 — selected via sort+limit, never a full sort. */
  def q847: Q = Q(
    "q847_qn_estimator",
    Some(s"""
      |WITH ${sqlDay},
      |pq AS (SELECT abs(a.x - b.x) AS dd
      |       FROM day a JOIN day b ON b.d > a.d),
      |kk AS (SELECT (n // 2 + 1) * (n // 2) // 2 AS k FROM gl)
      |SELECT CAST((SELECT k FROM kk) AS BIGINT) AS k_order,
      |       CAST((SELECT dd FROM pq ORDER BY dd
      |             LIMIT 1 OFFSET (SELECT k - 1 FROM kk)) AS BIGINT)
      |         AS qn_raw_cents
      |""".stripMargin)) { (s, dir) =>
    qnFrame(dayBase(s, dir).materialize())
  }

  /** Hodges-Lehmann pseudomedian: the low median of all pairwise
    * Walsh averages (i ≤ j), exact in cents via the ×2 trick. */
  def q848: Q = Q(
    "q848_hodges_lehmann",
    Some(s"""
      |WITH ${sqlDay},
      |pm AS (SELECT a.x + b.x AS s2 FROM day a JOIN day b ON b.d >= a.d),
      |nm AS (SELECT count(*) AS m FROM pm)
      |SELECT CAST((SELECT m FROM nm) AS BIGINT) AS n_pairs,
      |       CAST((SELECT s2 // 2 FROM pm ORDER BY s2
      |             LIMIT 1 OFFSET (SELECT (m + 1) // 2 - 1 FROM nm))
      |            AS BIGINT) AS hl_pseudomedian_cents
      |""".stripMargin)) { (s, dir) =>
    hlFrame(dayBase(s, dir).materialize())
  }

  /** 10% winsorized mean and sd: values clamped to the exact ECDF
    * p10/p90 cuts, exact integer moments, one pinned sqrt. */
  def q849: Q = Q(
    "q849_winsorized_scale",
    Some(s"""
      |WITH ${sqlDay},
      |vc AS (SELECT x AS val, sum(cnt) OVER (ORDER BY x) AS cum FROM
      |  (SELECT x, count(*) AS cnt FROM day GROUP BY 1)),
      |lo AS (SELECT min(val) AS q FROM vc CROSS JOIN gl
      |       WHERE 10 * cum >= gl.n),
      |hi AS (SELECT min(val) AS q FROM vc CROSS JOIN gl
      |       WHERE 10 * cum >= 9 * gl.n),
      |wn AS (SELECT greatest(lo.q, least(hi.q, day.x)) AS w
      |       FROM day CROSS JOIN lo CROSS JOIN hi),
      |mo AS (SELECT count(*) AS n, sum(CAST(w AS HUGEINT)) AS sw,
      |              sum(CAST(w AS HUGEINT) * w) AS qw FROM wn)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(sw // n AS BIGINT) AS win_mean_cents,
      |       CAST(floor(sqrt(CAST(n * qw - sw * sw AS DOUBLE)
      |            / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)
      |         AS win_sd_cents
      |FROM mo
      |""".stripMargin)) { (s, dir) =>
    val day = dayBase(s, dir).materialize()
    val gl = day.agg(count(lit(1)).as("n"))
    val vc = day.groupBy(col("x").as("val")).agg(count(lit(1)).as("cnt"))
      .select(col("val"),
        sum(col("cnt")).over(Window.orderBy(col("val"))).as("cum"))
      .crossJoin(broadcast(gl)).materialize()
    val lo = vc.where(col("cum") * 10 >= col("n"))
      .agg(min(col("val")).as("lo"))
    val hi = vc.where(col("cum") * 10 >= col("n") * 9)
      .agg(min(col("val")).as("hi"))
    day.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(greatest(col("lo"), least(col("hi"), col("x")))
        .cast("decimal(38,0)").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
        sum(col("w") * col("w")).as("qw"))
      .select(col("n").cast("long").as("n_days"),
        expr("CAST((sw - sw % n) / n AS DECIMAL(38,0))").cast("long")
          .as("win_mean_cents"),
        expr("""CAST(floor(sqrt(CAST(n * qw - sw * sw AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"""
          .stripMargin).as("win_sd_cents"))
  }

  /** Tukey-fence outlier audit: exact ECDF quartiles, 1.5·IQR fences,
    * low/high outlier day counts. */
  def q850: Q = Q(
    "q850_tukey_fences",
    Some(s"""
      |WITH ${sqlDay},
      |vc AS (SELECT x AS val, sum(cnt) OVER (ORDER BY x) AS cum FROM
      |  (SELECT x, count(*) AS cnt FROM day GROUP BY 1)),
      |q1 AS (SELECT min(val) AS q FROM vc CROSS JOIN gl
      |       WHERE 4 * cum >= gl.n),
      |q3 AS (SELECT min(val) AS q FROM vc CROSS JOIN gl
      |       WHERE 4 * cum >= 3 * gl.n),
      |fn AS (SELECT q1.q AS lo0, q3.q AS hi0,
      |              q1.q - (3 * (q3.q - q1.q)) // 2 AS lof,
      |              q3.q + (3 * (q3.q - q1.q)) // 2 AS hif
      |       FROM q1 CROSS JOIN q3)
      |SELECT CAST(fn.lo0 AS BIGINT) AS q1_cents,
      |       CAST(fn.hi0 AS BIGINT) AS q3_cents,
      |       CAST(sum(CASE WHEN day.x < fn.lof THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_low_outliers,
      |       CAST(sum(CASE WHEN day.x > fn.hif THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_high_outliers
      |FROM day CROSS JOIN fn GROUP BY fn.lo0, fn.hi0
      |""".stripMargin)) { (s, dir) =>
    val day = dayBase(s, dir).materialize()
    val gl = day.agg(count(lit(1)).as("n"))
    val vc = day.groupBy(col("x").as("val")).agg(count(lit(1)).as("cnt"))
      .select(col("val"),
        sum(col("cnt")).over(Window.orderBy(col("val"))).as("cum"))
      .crossJoin(broadcast(gl)).materialize()
    val q1 = vc.where(col("cum") * 4 >= col("n"))
      .agg(min(col("val")).as("lo0"))
    val q3 = vc.where(col("cum") * 4 >= col("n") * 3)
      .agg(min(col("val")).as("hi0"))
    val fn = q1.crossJoin(broadcast(q3))
      .select(col("lo0"), col("hi0"),
        expr("lo0 - (3 * (hi0 - lo0)) div 2").as("lof"),
        expr("hi0 + (3 * (hi0 - lo0)) div 2").as("hif"))
    day.crossJoin(broadcast(fn))
      .groupBy(col("lo0"), col("hi0"))
      .agg(sum(when(col("x") < col("lof"), 1).otherwise(0)).as("nl"),
        sum(when(col("x") > col("hif"), 1).otherwise(0)).as("nh"))
      .select(col("lo0").cast("long").as("q1_cents"),
        col("hi0").cast("long").as("q3_cents"),
        col("nl").cast("long").as("n_low_outliers"),
        col("nh").cast("long").as("n_high_outliers"))
  }
}
