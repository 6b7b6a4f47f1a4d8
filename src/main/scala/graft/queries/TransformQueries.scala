package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 transformation-selection wave on the daily-revenue
  * values: the Box–Cox λ profile (skew/kurtosis per λ on the
  * scale-free z/max series — Box–Cox is linear under scaling, so
  * skewness is invariant, stated), a log-normality audit
  * (Jarque–Bera on raw vs ln), the Tukey-lambda PPCC profile, the
  * Pearson moment-ratio classification, and the Yeo–Johnson profile
  * on the signed day-over-day diffs.
  *
  * Exactness: every transformed value is milli-floored from ONE
  * shared-text double (pow/ln match bit-for-bit — NOTES #4) BEFORE
  * the order-free moment sums; cubes of the milli values ride
  * HUGEINT (oracle) ≡ chained DECIMAL(13,0) products capped at
  * (38,0) (Spark) — both exact below 1e38; skew/kurtosis/PPCC
  * finish in one shared double step per grid row.
  *
  * Scale: all work is the CALENDAR-bounded day dim
  * ([[DaySeries.revenue]] spine) crossed with broadcast λ grids. */
object TransformQueries {

  val all: Seq[Q] = Seq(q1146, q1147, q1148, q1149, q1150)

  // def, NOT val: `all` builds oracle strings at object init
  private def bcLambdas = Seq(-2000, -1000, -500, 0, 500, 1000, 2000)
  private def yjLambdas = Seq(-1000, -500, 500, 1000, 1500)

  /** Shared skew/kurt-from-milli-value moment texts (columns n, s1,
    * s2, s3, s4 — w is the milli-quantized transformed value). */
  private def m2 = "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)" +
    " * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
  private def m3 = "((CAST(s3 AS DOUBLE) - 3.0 * CAST(s1 AS DOUBLE)" +
    " * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) + 2.0 * CAST(s1 AS DOUBLE)" +
    " * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)" +
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
  private def m4 = "((CAST(s4 AS DOUBLE) - 4.0 * CAST(s1 AS DOUBLE)" +
    " * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) + 6.0 * CAST(s1 AS DOUBLE)" +
    " * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
    " / CAST(n AS DOUBLE) - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)" +
    " * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)" +
    " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
  private def skew = s"($m3 / sqrt($m2 * $m2 * $m2))"
  private def kurt = s"($m4 / ($m2 * $m2))"

  /** Oracle moment aggregation over a frame f(key, w). */
  private def sqlMom(key: String): String = s"""
    |mom AS (SELECT $key, count(*) AS n, sum(w) AS s1,
    |          sum(CAST(w AS HUGEINT) * w) AS s2,
    |          sum(CAST(w AS HUGEINT) * w * w) AS s3,
    |          sum(CAST(w AS HUGEINT) * w * w * w) AS s4
    |        FROM f GROUP BY 1)""".stripMargin

  /** Spark moment aggregation over a frame with (key, w). */
  private def mom(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("s1"),
        expr("sum(CAST(w AS DECIMAL(13,0)) * CAST(w AS DECIMAL(13,0)))")
          .as("s2"),
        expr("sum(CAST(w AS DECIMAL(13,0)) * CAST(w AS DECIMAL(13,0))" +
          " * CAST(w AS DECIMAL(13,0)))").as("s3"),
        expr("sum(CAST(w AS DECIMAL(13,0)) * CAST(w AS DECIMAL(13,0))" +
          " * CAST(w AS DECIMAL(13,0)) * CAST(w AS DECIMAL(13,0)))")
          .as("s4"))

  /** Box–Cox transform text of u = z/mx at milli λ (λ = 0 → ln u). */
  private def bcW: String =
    "CAST(floor(1000.0 * (CASE WHEN lm = 0" +
      " THEN ln(CAST(z AS DOUBLE) / CAST(mx AS DOUBLE))" +
      " ELSE (pow(CAST(z AS DOUBLE) / CAST(mx AS DOUBLE)," +
      " CAST(lm AS DOUBLE) / 1000.0) - 1.0)" +
      " / (CAST(lm AS DOUBLE) / 1000.0) END)) AS BIGINT)"

  /** Box–Cox λ profile: skew and kurtosis of the transformed series
    * per λ (milli grid). */
  def q1146: Q = Q(
    "q1146_box_cox_profile",
    Some(s"""
      |WITH ${DaySeries.sql},
      |mxx AS (SELECT max(z) AS mx FROM sq),
      |lg AS (SELECT * FROM (VALUES ${bcLambdas.map(l => s"($l)").mkString(",")}) v(lm)),
      |f AS (SELECT lg.lm AS lam, ${bcW} AS w
      |      FROM lg CROSS JOIN sq CROSS JOIN mxx),
      |${sqlMom("lam")}
      |SELECT CAST(lam AS BIGINT) AS lambda_milli,
      |       CAST(n AS BIGINT) AS n_days,
      |       CAST(floor(1000.0 * $skew) AS BIGINT) AS skew_milli,
      |       CAST(floor(1000.0 * $kurt) AS BIGINT) AS kurt_milli
      |FROM mom ORDER BY lambda_milli
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val sq = DaySeries.revenue(s, dir)
    val mxx = sq.agg(max(col("z")).as("mx"))
    val lg = broadcast(bcLambdas.toDF("lm"))
    val f = sq.crossJoin(broadcast(mxx)).crossJoin(lg)
      .select(col("lm").as("lam"), expr(bcW).as("w"))
    mom(f, "lam")
      .select(col("lam").cast("long").as("lambda_milli"),
        col("n").cast("long").as("n_days"),
        expr(s"CAST(floor(1000.0 * $skew) AS BIGINT)").as("skew_milli"),
        expr(s"CAST(floor(1000.0 * $kurt) AS BIGINT)").as("kurt_milli"))
      .orderBy(col("lambda_milli"))
  }

  /** Log-normality audit: Jarque–Bera on the raw (z/max) and ln
    * scales — two rows keyed by scale name. */
  def q1147: Q = {
    val jb = s"(CAST(n AS DOUBLE) * ($skew * $skew / 6.0" +
      s" + ($kurt - 3.0) * ($kurt - 3.0) / 24.0))"
    Q("q1147_lognormality_audit",
      Some(s"""
        |WITH ${DaySeries.sql},
        |mxx AS (SELECT max(z) AS mx FROM sq),
        |f AS (SELECT 'raw' AS scale, CAST(floor(1000.0
        |          * CAST(z AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS w
        |      FROM sq CROSS JOIN mxx
        |      UNION ALL
        |      SELECT 'log' AS scale, CAST(floor(1000.0
        |          * ln(CAST(z AS DOUBLE) / CAST(mx AS DOUBLE))) AS BIGINT)
        |      FROM sq CROSS JOIN mxx),
        |${sqlMom("scale")}
        |SELECT scale, CAST(n AS BIGINT) AS n_days,
        |       CAST(floor(1000.0 * $skew) AS BIGINT) AS skew_milli,
        |       CAST(floor(1000.0 * $kurt) AS BIGINT) AS kurt_milli,
        |       CAST(floor(1000.0 * $jb) AS BIGINT) AS jarque_bera_milli
        |FROM mom ORDER BY scale
        |""".stripMargin)) { (s, dir) =>
      val sq = DaySeries.revenue(s, dir)
      val mxx = sq.agg(max(col("z")).as("mx"))
      val base = sq.crossJoin(broadcast(mxx))
      val f = base.select(lit("raw").as("scale"),
        expr("CAST(floor(1000.0 * CAST(z AS DOUBLE)" +
          " / CAST(mx AS DOUBLE)) AS BIGINT)").as("w"))
        .unionAll(base.select(lit("log").as("scale"),
          expr("CAST(floor(1000.0 * ln(CAST(z AS DOUBLE)" +
            " / CAST(mx AS DOUBLE))) AS BIGINT)").as("w")))
      mom(f, "scale")
        .select(col("scale"), col("n").cast("long").as("n_days"),
          expr(s"CAST(floor(1000.0 * $skew) AS BIGINT)").as("skew_milli"),
          expr(s"CAST(floor(1000.0 * $kurt) AS BIGINT)").as("kurt_milli"),
          expr(s"CAST(floor(1000.0 * $jb) AS BIGINT)")
            .as("jarque_bera_milli"))
        .orderBy(col("scale"))
    }
  }

  /** Tukey-lambda PPCC profile: correlation of the order statistics
    * with Q_λ((i−½)/n) = (p^λ − (1−p)^λ)/λ per λ — both sides
    * milli-floored before exact correlation moments. */
  def q1148: Q = {
    val qlam = "CAST(floor(1000.0 * (pow((CAST(rn AS DOUBLE) - 0.5)" +
      " / CAST(n AS DOUBLE), CAST(lm AS DOUBLE) / 1000.0)" +
      " - pow(1.0 - (CAST(rn AS DOUBLE) - 0.5) / CAST(n AS DOUBLE)," +
      " CAST(lm AS DOUBLE) / 1000.0))" +
      " / (CAST(lm AS DOUBLE) / 1000.0)) AS BIGINT)"
    val r = "((CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / sqrt((CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " * (CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE)" +
      " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
    Q("q1148_tukey_lambda_ppcc",
      Some(s"""
        |WITH ${DaySeries.sql},
        |ag AS (SELECT count(*) AS n FROM sq),
        |rk AS (SELECT z, row_number() OVER (ORDER BY z, t) AS rn FROM sq),
        |lg AS (SELECT * FROM (VALUES ${yjLambdas.map(l => s"($l)").mkString(",")}) v(lm)),
        |pq AS (SELECT lg.lm AS lam, rk.z AS x, ${qlam} AS y
        |       FROM lg CROSS JOIN rk CROSS JOIN ag),
        |mo AS (SELECT lam, count(*) AS n2, sum(x) AS sx, sum(y) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |       FROM pq GROUP BY 1)
        |SELECT CAST(lam AS BIGINT) AS lambda_milli,
        |       CAST(floor(1000000.0 * $r) AS BIGINT) AS ppcc_micro
        |FROM mo ORDER BY lambda_milli
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"))
      val rk = sq.select(col("z"),
        row_number().over(Window.orderBy(col("z"), col("t"))).as("rn"))
      val lg = broadcast(yjLambdas.toDF("lm"))
      val pq = rk.crossJoin(broadcast(ag)).crossJoin(lg)
        .select(col("lm").as("lam"), col("z").as("x"),
          expr(qlam).as("y"))
      pq.groupBy(col("lam"))
        .agg(count(lit(1)).as("n2"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))")
            .as("sxx"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("sxy"),
          expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("syy"))
        .select(col("lam").cast("long").as("lambda_milli"),
          expr(s"CAST(floor(1000000.0 * $r) AS BIGINT)")
            .as("ppcc_micro"))
        .orderBy(col("lambda_milli"))
    }
  }

  /** Pearson moment-ratio classification: β₁ = skew², β₂ = kurtosis,
    * the κ criterion, and the implied Pearson type label. */
  def q1149: Q = {
    val b1 = s"($skew * $skew)"
    val b2 = kurt
    val kap = s"($b1 * ($b2 + 3.0) * ($b2 + 3.0)" +
      s" / (4.0 * (4.0 * $b2 - 3.0 * $b1)" +
      s" * (2.0 * $b2 - 3.0 * $b1 - 6.0)))"
    val typ = s"(CASE WHEN abs($b1) < 0.001 AND abs($b2 - 3.0) < 0.001" +
      " THEN 'normal'" +
      s" WHEN $kap < 0.0 THEN 'I'" +
      s" WHEN abs($kap) < 0.001 THEN 'II-III'" +
      s" WHEN $kap > 0.0 AND $kap < 1.0 THEN 'IV'" +
      s" WHEN abs($kap - 1.0) < 0.001 THEN 'V'" +
      " ELSE 'VI' END)"
    Q("q1149_pearson_classification",
      Some(s"""
        |WITH ${DaySeries.sql},
        |mxx AS (SELECT max(z) AS mx FROM sq),
        |f AS (SELECT 1 AS one, CAST(floor(1000.0 * CAST(z AS DOUBLE)
        |          / CAST(mx AS DOUBLE)) AS BIGINT) AS w
        |      FROM sq CROSS JOIN mxx),
        |${sqlMom("one")}
        |SELECT CAST(n AS BIGINT) AS n_days,
        |       CAST(floor(1000.0 * $b1) AS BIGINT) AS beta1_milli,
        |       CAST(floor(1000.0 * $b2) AS BIGINT) AS beta2_milli,
        |       CAST(floor(1000.0 * $kap) AS BIGINT) AS kappa_milli,
        |       $typ AS pearson_type
        |FROM mom
        |""".stripMargin)) { (s, dir) =>
      val sq = DaySeries.revenue(s, dir)
      val mxx = sq.agg(max(col("z")).as("mx"))
      val f = sq.crossJoin(broadcast(mxx))
        .select(lit(1).as("one"),
          expr("CAST(floor(1000.0 * CAST(z AS DOUBLE)" +
            " / CAST(mx AS DOUBLE)) AS BIGINT)").as("w"))
      mom(f, "one")
        .select(col("n").cast("long").as("n_days"),
          expr(s"CAST(floor(1000.0 * $b1) AS BIGINT)").as("beta1_milli"),
          expr(s"CAST(floor(1000.0 * $b2) AS BIGINT)").as("beta2_milli"),
          expr(s"CAST(floor(1000.0 * $kap) AS BIGINT)").as("kappa_milli"),
          expr(typ).as("pearson_type"))
    }
  }

  /** Yeo–Johnson λ profile on day-over-day diffs (signed): skew per
    * λ on the diff/max-|diff| scale-free series. */
  def q1150: Q = {
    val yj = "CAST(floor(1000.0 * (CASE WHEN u >= 0.0" +
      " THEN (pow(u + 1.0, l2) - 1.0) / l2" +
      " ELSE -(pow(1.0 - u, 2.0 - l2) - 1.0) / (2.0 - l2) END))" +
      " AS BIGINT)"
    Q("q1150_yeo_johnson_profile",
      Some(s"""
        |WITH ${DaySeries.sql},
        |df AS (SELECT t, z - lag(z, 1) OVER (ORDER BY t) AS d FROM sq
        |       QUALIFY d IS NOT NULL),
        |mxx AS (SELECT max(abs(d)) AS mx FROM df),
        |lg AS (SELECT * FROM (VALUES ${yjLambdas.map(l => s"($l)").mkString(",")}) v(lm)),
        |uu AS (SELECT lg.lm AS lam,
        |         CAST(d AS DOUBLE) / CAST(mx AS DOUBLE) AS u,
        |         CAST(lg.lm AS DOUBLE) / 1000.0 AS l2
        |       FROM lg CROSS JOIN df CROSS JOIN mxx),
        |f AS (SELECT lam, ${yj} AS w FROM uu),
        |${sqlMom("lam")}
        |SELECT CAST(lam AS BIGINT) AS lambda_milli,
        |       CAST(n AS BIGINT) AS n_diffs,
        |       CAST(floor(1000.0 * $skew) AS BIGINT) AS skew_milli
        |FROM mom ORDER BY lambda_milli
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val wt = Window.orderBy(col("t"))
      val df = DaySeries.revenue(s, dir)
        .select(col("t"), (col("z") - lag(col("z"), 1).over(wt)).as("d"))
        .where(col("d").isNotNull)
      val mxx = df.agg(max(abs(col("d"))).as("mx"))
      val lg = broadcast(yjLambdas.toDF("lm"))
      val f = df.crossJoin(broadcast(mxx)).crossJoin(lg)
        .select(col("lm").as("lam"),
          expr("CAST(d AS DOUBLE) / CAST(mx AS DOUBLE)").as("u"),
          expr("CAST(lm AS DOUBLE) / 1000.0").as("l2"))
        .select(col("lam"), expr(yj).as("w"))
      mom(f, "lam")
        .select(col("lam").cast("long").as("lambda_milli"),
          col("n").cast("long").as("n_diffs"),
          expr(s"CAST(floor(1000.0 * $skew) AS BIGINT)").as("skew_milli"))
        .orderBy(col("lambda_milli"))
    }
  }
}
