package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

/** Round-9 residual-diagnostics wave on the daily-net-vs-time OLS:
  * Breusch–Pagan, White, Breusch–Godfrey AR(1), Glejser and Ramsey
  * RESET — the heteroscedasticity / serial-correlation / functional-
  * form batteries next to the shipped Goldfeld–Quandt (q614), Durbin–
  * Watson (q503) and Cook's-distance (q613) faces. The regression
  * line (â, b̂) is a pinned double computed by the IDENTICAL op
  * sequence from exact integer moments on both engines; per-day
  * residual transforms (e², |e|, lagged e) are floor-quantized to
  * integers PER ROW before any cross-row sum, so every aux-regression
  * moment is exact and the final LM/F statistics are pinned doubles.
  * Day dim only (~2.5k rows) — one fact pass, O(1) downstream. */
object ResidualDiagQueries {

  val all: Seq[Q] = Seq(q731, q732, q733, q734, q735)

  /** Oracle CTEs: `res(t, y, e)` — t the 1-based day index, y the
    * day's net in whole dollars (exact), e the pinned-double OLS
    * residual. */
  private def sqlRes: String = DailyNet.sql + """,
    |o AS (
    |  SELECT row_number() OVER (ORDER BY day) AS t,
    |         CAST(net // 100 AS BIGINT) AS y
    |  FROM d),
    |mo AS (
    |  SELECT count(*) AS n, sum(t) AS sx, sum(y) AS sy,
    |         sum(CAST(t AS HUGEINT) * t) AS sxx,
    |         sum(CAST(t AS HUGEINT) * y) AS sxy
    |  FROM o),
    |ab0 AS (
    |  SELECT n, sx, sy,
    |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
    |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
    |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
    |  FROM mo),
    |ab AS (
    |  SELECT n, b,
    |         (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
    |           / CAST(n AS DOUBLE) AS a
    |  FROM ab0),
    |res AS (
    |  SELECT o.t, o.y,
    |         CAST(o.y AS DOUBLE) - ab.a - ab.b * o.t AS e
    |  FROM o CROSS JOIN ab)""".stripMargin

  private def res(s: SparkSession, dir: String): DataFrame = {
    val o = DailyNet.frame(s, dir)
      .select(col("day"), expr("CAST(net div 100 AS BIGINT)").as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("day"))))
      .select(col("t"), col("y"))
    val mo = o.agg(count(lit(1)).as("n"), sum(col("t")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("t").cast("decimal(38,0)") * col("t")).as("sxx"),
      sum(col("t").cast("decimal(38,0)") * col("y")).as("sxy"))
    val ab = mo.select(col("n"), col("sx"), col("sy"),
        expr("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))").as("b"))
      .select(col("n"), col("b"),
        expr("(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))" +
          " / CAST(n AS DOUBLE)").as("a"))
    o.crossJoin(broadcast(ab))
      .select(col("t"), col("y"),
        expr("CAST(y AS DOUBLE) - a - b * t").as("e"))
  }

  /** Shared r²-of-g-on-t SQL tail: given `gq(t, g)` with integer g,
    * emits one row (n, r2) where r2 is the aux-regression R². */
  private def sqlR2OnT(stat: String): String = s"""
    |mg AS (
    |  SELECT count(*) AS n, sum(t) AS st, sum(g) AS sg,
    |         sum(CAST(t AS HUGEINT) * t) AS stt,
    |         sum(CAST(g AS HUGEINT) * g) AS sgg,
    |         sum(CAST(t AS HUGEINT) * g) AS sgt
    |  FROM gq),
    |r2 AS (
    |  SELECT n,
    |         (CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)
    |          - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))
    |         * (CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)
    |            - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))
    |         / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
    |             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
    |            * (CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)
    |               - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))) AS r2,
    |         sign(CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)
    |              - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE)) AS sgn
    |  FROM mg)
    |SELECT CAST(n AS BIGINT) AS n_days,
    |       CAST(floor(r2 * 1000000.0) AS BIGINT) AS r2_micro,
    |       ${stat}
    |FROM r2
    |""".stripMargin

  /** Spark mirror of sqlR2OnT's mg+r2 stages over (t, g). */
  private def r2OnT(gq: DataFrame): DataFrame =
    gq.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("g")).as("sg"),
        sum(col("t").cast("decimal(38,0)") * col("t")).as("stt"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("sgg"),
        sum(col("t").cast("decimal(38,0)") * col("g")).as("sgt"))
      .select(col("n"),
        expr("(CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))" +
          " / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)" +
          " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))").as("r2"),
        expr("sign(CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))").as("sgn"))

  /** Breusch–Pagan (Koenker): LM = n·R² of e² on t — is residual
    * variance drifting with time? e² floor-quantized per day. */
  def q731: Q = Q(
    "q731_breusch_pagan",
    Some(s"""
      |WITH ${sqlRes},
      |gq AS (SELECT t, CAST(floor(e * e) AS BIGINT) AS g FROM res),
      |${sqlR2OnT(
        "CAST(floor(CAST(n AS DOUBLE) * r2 * 1000.0) AS BIGINT)" +
          " AS lm_milli")}""".stripMargin)) { (s, dir) =>
    r2OnT(res(s, dir)
        .select(col("t"), floor(col("e") * col("e")).cast("long")
          .as("g")))
      .select(col("n").cast("long").as("n_days"),
        expr("CAST(floor(r2 * 1000000.0) AS BIGINT)").as("r2_micro"),
        expr("CAST(floor(CAST(n AS DOUBLE) * r2 * 1000.0) AS BIGINT)")
          .as("lm_milli"))
  }

  /** Oracle CTEs `mg`/`cr` over gq(t, t2, g): exact moments of g on
    * {t, t²}, then r1 = r(g, t), r2c = r(g, t²) and r12 = r(t, t²) as
    * pinned doubles — the two-regressor R² inputs. */
  private def sqlTwoRegCorr: String =
    """mg AS (
      |  SELECT count(*) AS n, sum(t) AS st, sum(t2) AS st2,
      |         sum(g) AS sg,
      |         sum(CAST(t AS HUGEINT) * t) AS stt,
      |         sum(CAST(t2 AS HUGEINT) * t2) AS st2t2,
      |         sum(CAST(t AS HUGEINT) * t2) AS stt2,
      |         sum(CAST(g AS HUGEINT) * g) AS sgg,
      |         sum(CAST(t AS HUGEINT) * g) AS sgt,
      |         sum(CAST(t2 AS HUGEINT) * g) AS sgt2
      |  FROM gq),
      |cr AS (
      |  SELECT n,
      |         (CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)
      |          - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))
      |         / sqrt((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
      |                * (CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)
      |                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
      |           AS r1,
      |         (CAST(n AS DOUBLE) * CAST(sgt2 AS DOUBLE)
      |          - CAST(st2 AS DOUBLE) * CAST(sg AS DOUBLE))
      |         / sqrt((CAST(n AS DOUBLE) * CAST(st2t2 AS DOUBLE)
      |                 - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE))
      |                * (CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)
      |                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
      |           AS r2c,
      |         (CAST(n AS DOUBLE) * CAST(stt2 AS DOUBLE)
      |          - CAST(st AS DOUBLE) * CAST(st2 AS DOUBLE))
      |         / sqrt((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
      |                * (CAST(n AS DOUBLE) * CAST(st2t2 AS DOUBLE)
      |                   - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE)))
      |           AS r12
      |  FROM mg)""".stripMargin

  /** Spark side of [[sqlTwoRegCorr]]: (n, r1, r2c, r12) from gq rows. */
  private def twoRegCorr(gq: DataFrame): DataFrame =
    gq.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("t2")).as("st2"), sum(col("g")).as("sg"),
        sum(col("t").cast("decimal(38,0)") * col("t")).as("stt"),
        sum(col("t2") * col("t2")).as("st2t2"),
        sum(col("t").cast("decimal(38,0)") * col("t2")).as("stt2"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("sgg"),
        sum(col("t").cast("decimal(38,0)") * col("g")).as("sgt"),
        sum(col("t2") * col("g")).as("sgt2"))
      .select(col("n"),
        expr("(CAST(n AS DOUBLE) * CAST(sgt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(sg AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)" +
          " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))").as("r1"),
        expr("(CAST(n AS DOUBLE) * CAST(sgt2 AS DOUBLE)" +
          " - CAST(st2 AS DOUBLE) * CAST(sg AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(st2t2 AS DOUBLE)" +
          " - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)" +
          " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))").as("r2c"),
        expr("(CAST(n AS DOUBLE) * CAST(stt2 AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(st2 AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)" +
          " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(st2t2 AS DOUBLE)" +
          " - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE)))").as("r12"))

  /** White test: LM = n·R² of e² on {t, t²} via the two-regressor
    * correlation identity R² = (r₁²+r₂²−2r₁r₂r₁₂)/(1−r₁₂²) — all
    * three correlations pinned doubles from exact moments. */
  def q732: Q = Q(
    "q732_white_test",
    Some(s"""
      |WITH ${sqlRes},
      |gq AS (SELECT t, CAST(t AS HUGEINT) * t AS t2,
      |              CAST(floor(e * e) AS BIGINT) AS g FROM res),
      |${sqlTwoRegCorr}
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(floor((r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)
      |            / (1.0 - r12 * r12) * 1000000.0) AS BIGINT)
      |         AS r2_micro,
      |       CAST(floor(CAST(n AS DOUBLE)
      |            * (r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)
      |            / (1.0 - r12 * r12) * 1000.0) AS BIGINT) AS lm_milli
      |FROM cr
      |""".stripMargin)) { (s, dir) =>
    twoRegCorr(res(s, dir)
      .select(col("t"),
        (col("t").cast("decimal(38,0)") * col("t")).as("t2"),
        floor(col("e") * col("e")).cast("long").as("g")))
      .select(col("n").cast("long").as("n_days"),
        expr("CAST(floor((r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)" +
          " / (1.0 - r12 * r12) * 1000000.0) AS BIGINT)").as("r2_micro"),
        expr("CAST(floor(CAST(n AS DOUBLE)" +
          " * (r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)" +
          " / (1.0 - r12 * r12) * 1000.0) AS BIGINT)").as("lm_milli"))
  }

  /** Breusch–Godfrey AR(1): LM = (n−1)·r² where r is the Pearson
    * correlation of (e_t, e_{t−1}) — residuals floor-quantized to
    * whole dollars per day, lag pairs on the day dim. */
  def q733: Q = Q(
    "q733_breusch_godfrey",
    Some(s"""
      |WITH ${sqlRes},
      |qr AS (SELECT t, CAST(floor(e) AS BIGINT) AS q FROM res),
      |gq AS (
      |  SELECT tl AS t, g FROM (
      |    SELECT q AS g, lag(q) OVER (ORDER BY t) AS tl FROM qr) z
      |  WHERE tl IS NOT NULL),
      |${sqlR2OnT(
        "CAST(floor(CAST(n AS DOUBLE) * r2 * 1000.0) AS BIGINT)" +
          " AS lm_milli, CAST(sgn * floor(sqrt(r2) * 1000000.0)" +
          " AS BIGINT) AS rho_micro")}""".stripMargin)) { (s, dir) =>
    val qr = res(s, dir)
      .select(col("t"), floor(col("e")).cast("long").as("q"))
    val lp = qr
      .withColumn("tl", lag(col("q"), 1).over(Window.orderBy(col("t"))))
      .where(col("tl").isNotNull)
      .select(col("q").as("g"), col("tl").as("t"))
    r2OnT(lp)
      .select(col("n").cast("long").as("n_days"),
        expr("CAST(floor(r2 * 1000000.0) AS BIGINT)").as("r2_micro"),
        expr("CAST(floor(CAST(n AS DOUBLE) * r2 * 1000.0) AS BIGINT)")
          .as("lm_milli"),
        expr("CAST(sgn * floor(sqrt(r2) * 1000000.0) AS BIGINT)")
          .as("rho_micro"))
  }

  /** Glejser test: regress |e| (floor-quantized) on t; the signed
    * t-statistic via t² = (n−2)r²/(1−r²) — does residual MAGNITUDE
    * trend with time. */
  def q734: Q = Q(
    "q734_glejser",
    Some(s"""
      |WITH ${sqlRes},
      |gq AS (SELECT t, CAST(floor(abs(e)) AS BIGINT) AS g FROM res),
      |${sqlR2OnT(
        "CAST(sgn * floor(sqrt((CAST(n AS DOUBLE) - 2.0) * r2" +
          " / (1.0 - r2)) * 1000.0) AS BIGINT) AS t_stat_milli")}"""
      .stripMargin)) { (s, dir) =>
    r2OnT(res(s, dir)
        .select(col("t"), floor(abs(col("e"))).cast("long").as("g")))
      .select(col("n").cast("long").as("n_days"),
        expr("CAST(floor(r2 * 1000000.0) AS BIGINT)").as("r2_micro"),
        expr("CAST(sgn * floor(sqrt((CAST(n AS DOUBLE) - 2.0) * r2" +
          " / (1.0 - r2)) * 1000.0) AS BIGINT)").as("t_stat_milli"))
  }

  /** Ramsey RESET(2): on the simple y~t regression, adding ŷ² is
    * adding t² — F = (R²₂−R²₁)(n−3)/(1−R²₂) where R²₂ uses the
    * two-regressor identity on exact y/t/t² moments. A significant F
    * says the revenue trend is not linear in time. */
  def q735: Q = Q(
    "q735_ramsey_reset",
    Some(s"""
      |WITH ${sqlRes},
      |gq AS (SELECT t, CAST(t AS HUGEINT) * t AS t2, y AS g FROM res),
      |${sqlTwoRegCorr}
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(floor(r1 * r1 * 1000000.0) AS BIGINT) AS r2_1_micro,
      |       CAST(floor((r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)
      |            / (1.0 - r12 * r12) * 1000000.0) AS BIGINT)
      |         AS r2_2_micro,
      |       CAST(floor(((r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)
      |              / (1.0 - r12 * r12) - r1 * r1)
      |            * (CAST(n AS DOUBLE) - 3.0)
      |            / (1.0 - (r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)
      |               / (1.0 - r12 * r12)) * 1000.0) AS BIGINT)
      |         AS f_milli
      |FROM cr
      |""".stripMargin)) { (s, dir) =>
    twoRegCorr(res(s, dir)
      .select(col("t"),
        (col("t").cast("decimal(38,0)") * col("t")).as("t2"),
        col("y").as("g")))
      .select(col("n").cast("long").as("n_days"),
        expr("CAST(floor(r1 * r1 * 1000000.0) AS BIGINT)")
          .as("r2_1_micro"),
        expr("CAST(floor((r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)" +
          " / (1.0 - r12 * r12) * 1000000.0) AS BIGINT)")
          .as("r2_2_micro"),
        expr("CAST(floor(((r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)" +
          " / (1.0 - r12 * r12) - r1 * r1)" +
          " * (CAST(n AS DOUBLE) - 3.0)" +
          " / (1.0 - (r1 * r1 + r2c * r2c - 2.0 * r1 * r2c * r12)" +
          " / (1.0 - r12 * r12)) * 1000.0) AS BIGINT)").as("f_milli"))
  }
}
