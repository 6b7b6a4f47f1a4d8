package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 unit-root / lead-lag econometrics wave: Dickey–Fuller τ
  * without and with drift on the daily-revenue series, the AR(1)
  * mean-reversion half-life, the cross-correlation lead-lag panel
  * between two brand day-series, and an Engle–Granger cointegration
  * check (residual Dickey–Fuller) on the same pair.
  *
  * Exactness: every regression moment is an exact BIGINT /
  * DECIMAL(19,0)²-in-DECIMAL(38,0) sum over revenue cents; τ, φ, ρ,
  * half-life and correlations finish in ONE shared-text double
  * formula over those sums. The Engle–Granger residual is the one
  * per-day double — both engines compute it from identical exact
  * integers with identical op order, and it is cent-floored BEFORE
  * the second-stage moments, so the residual-DF stage is integer
  * again. Missing (brand, day) cells are zero by stated LEFT JOIN +
  * coalesce.
  *
  * Scale: q1116-q1118 ride the [[DaySeries.revenue]] spine; the
  * brand pair rides [[BrandPortfolioQueries.brandDay]] (ONE lineitem
  * ×part pass, SpineCache-backed). Lag pairs are day-dim self-joins
  * against a broadcast 21-row lag dim. */
object UnitRootQueries {

  val all: Seq[Q] = Seq(q1116, q1117, q1118, q1119, q1120)

  // def, NOT val: `all` builds oracle strings at object init
  private def brA = "Brand#11"
  private def brB = "Brand#22"
  private def ccfLags = (-10 to 10).toSeq

  /** Oracle lag frame xy(x, y) with x = z_{t−1}, y = Δz. */
  private def sqlXy: String = s"""
    |${DaySeries.sql},
    |xy AS (SELECT lag(z, 1) OVER (ORDER BY t) AS x,
    |              z - lag(z, 1) OVER (ORDER BY t) AS y
    |       FROM sq QUALIFY x IS NOT NULL)""".stripMargin

  /** Oracle regression moments mo(n, sx, sy, sxx, sxy, syy) over xy. */
  private def sqlMo: String = """
    |mo AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
    |              sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
    |                AS sxx,
    |              sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
    |                AS sxy,
    |              sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
    |                AS syy
    |       FROM xy)""".stripMargin

  /** Spark twin of [[sqlXy]] + [[sqlMo]]. */
  private def mo(s: SparkSession, dir: String,
      diff: Boolean): DataFrame = {
    val wt = Window.orderBy(col("t"))
    DaySeries.revenue(s, dir)
      .select(lag(col("z"), 1).over(wt).as("x"),
        (if (diff) col("z") - lag(col("z"), 1).over(wt)
        else col("z")).as("y"))
      .where(col("x").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))")
          .as("sxx"),
        expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("sxy"),
        expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("syy"))
  }

  /** Dickey–Fuller τ, no constant: Δz_t = φ·z_{t−1} + ε. */
  def q1116: Q = {
    val b = "(CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE))"
    val tau = s"($b / sqrt((CAST(syy AS DOUBLE) - $b * $b" +
      " * CAST(sxx AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)" +
      " / CAST(sxx AS DOUBLE)))"
    Q("q1116_dickey_fuller",
      Some(s"""
        |WITH ${sqlXy},
        |${sqlMo}
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |       CAST(floor(1000000.0 * $b) AS BIGINT) AS phi_micro,
        |       CAST(floor(1000.0 * $tau) AS BIGINT) AS tau_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      mo(s, dir, diff = true)
        .select(col("n").cast("long").as("n_obs"),
          expr(s"CAST(floor(1000000.0 * $b) AS BIGINT)").as("phi_micro"),
          expr(s"CAST(floor(1000.0 * $tau) AS BIGINT)").as("tau_milli"))
    }
  }

  /** Dickey–Fuller τ with drift: Δz_t = α + φ·z_{t−1} + ε. */
  def q1117: Q = {
    val sxxc = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val sxyc = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val syyc = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val b = s"($sxyc / $sxxc)"
    val a = s"((CAST(sy AS DOUBLE) - $b * CAST(sx AS DOUBLE))" +
      " / CAST(n AS DOUBLE))"
    val tau = s"($b / sqrt(($syyc - $b * $b * $sxxc)" +
      s" / (CAST(n AS DOUBLE) - 2.0) / $sxxc))"
    Q("q1117_dickey_fuller_drift",
      Some(s"""
        |WITH ${sqlXy},
        |${sqlMo}
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |       CAST(floor(1000000.0 * $b) AS BIGINT) AS phi_micro,
        |       CAST(floor($a) AS BIGINT) AS drift_cents,
        |       CAST(floor(1000.0 * $tau) AS BIGINT) AS tau_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      mo(s, dir, diff = true)
        .select(col("n").cast("long").as("n_obs"),
          expr(s"CAST(floor(1000000.0 * $b) AS BIGINT)").as("phi_micro"),
          expr(s"CAST(floor($a) AS BIGINT)").as("drift_cents"),
          expr(s"CAST(floor(1000.0 * $tau) AS BIGINT)").as("tau_milli"))
    }
  }

  /** AR(1) mean reversion: ρ of z_t on z_{t−1} (with intercept),
    * half-life −ln2/ln ρ (NULL outside 0<ρ<1, stated CASE), and the
    * reversion speed 1−ρ. */
  def q1118: Q = {
    val rho = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))" +
      " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    val hl = s"(CASE WHEN $rho > 0.0 AND $rho < 1.0 THEN" +
      s" CAST(floor(-1000.0 * ln(2.0) / ln($rho)) AS BIGINT)" +
      " ELSE NULL END)"
    Q("q1118_ar1_half_life",
      Some(s"""
        |WITH ${DaySeries.sql},
        |xy AS (SELECT lag(z, 1) OVER (ORDER BY t) AS x, z AS y
        |       FROM sq QUALIFY x IS NOT NULL),
        |${sqlMo}
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |       CAST(floor(1000000.0 * $rho) AS BIGINT) AS rho_micro,
        |       $hl AS half_life_millidays,
        |       CAST(floor(1000000.0 * (1.0 - $rho)) AS BIGINT)
        |         AS reversion_micro
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      mo(s, dir, diff = false)
        .select(col("n").cast("long").as("n_obs"),
          expr(s"CAST(floor(1000000.0 * $rho) AS BIGINT)")
            .as("rho_micro"),
          expr(hl).as("half_life_millidays"),
          expr(s"CAST(floor(1000000.0 * (1.0 - $rho)) AS BIGINT)")
            .as("reversion_micro"))
    }
  }

  /** Oracle dense brand-pair series pr2(t, a, b) over the full
    * calendar (missing cells zero). */
  private def sqlPair: String = s"""
    |bd AS (SELECT p.p_brand AS br, CAST(l.l_shipdate AS DATE) AS dd,
    |              sum(CAST(l.l_extendedprice * 100 AS BIGINT)) AS z
    |       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    |       WHERE p.p_brand IN ('${brA}', '${brB}') GROUP BY 1, 2),
    |cal AS (SELECT CAST(l_shipdate AS DATE) AS dd FROM lineitem
    |        GROUP BY 1),
    |pr2 AS (SELECT row_number() OVER (ORDER BY c.dd) AS t,
    |               coalesce(a.z, 0) AS a, coalesce(b.z, 0) AS b
    |        FROM cal c
    |        LEFT JOIN bd a ON a.dd = c.dd AND a.br = '${brA}'
    |        LEFT JOIN bd b ON b.dd = c.dd AND b.br = '${brB}')""".stripMargin

  /** Spark twin of [[sqlPair]], riding the brand_day_revenue spine. */
  private def pair(s: SparkSession, dir: String): DataFrame = {
    val bd = BrandPortfolioQueries.brandDay(s, dir)
    val cal = bd.select(col("dd")).distinct()
      .select(col("dd"), row_number().over(Window.orderBy(col("dd")))
        .as("t"))
    val a = bd.where(col("br") === brA)
      .select(col("dd").as("dda"), col("z").as("za"))
    val b = bd.where(col("br") === brB)
      .select(col("dd").as("ddb"), col("z").as("zb"))
    cal.join(a, col("dd") === col("dda"), "left_outer")
      .join(b, col("dd") === col("ddb"), "left_outer")
      .select(col("t"), coalesce(col("za"), lit(0L)).as("a"),
        coalesce(col("zb"), lit(0L)).as("b"))
  }

  /** Cross-correlation lead-lag panel r(h), h = −10..10, between the
    * two brand series: full-series centering via n·x − Σx scaling,
    * overlap products in DECIMAL, one shared double step per lag. */
  def q1119: Q = {
    val r = "(CAST(sab AS DOUBLE)" +
      " / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)))"
    Q("q1119_brand_ccf_leadlag",
      Some(s"""
        |WITH ${sqlPair},
        |ag AS (SELECT count(*) AS n, sum(a) AS sa, sum(b) AS sb
        |       FROM pr2),
        |ctr AS (SELECT t, n * a - sa AS ca, n * b - sb AS cb
        |        FROM pr2 CROSS JOIN ag),
        |vv AS (SELECT sum(CAST(ca AS DECIMAL(19,0)) * CAST(ca AS DECIMAL(19,0)))
        |           AS saa,
        |         sum(CAST(cb AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)))
        |           AS sbb
        |       FROM ctr),
        |lg AS (SELECT * FROM (VALUES ${ccfLags.map(h => s"($h)").mkString(",")}) v(h)),
        |cc AS (SELECT lg.h, count(*) AS np,
        |         sum(CAST(x.ca AS DECIMAL(19,0)) * CAST(y.cb AS DECIMAL(19,0)))
        |           AS sab
        |       FROM lg CROSS JOIN ctr x JOIN ctr y ON y.t = x.t + lg.h
        |       GROUP BY 1)
        |SELECT CAST(h AS BIGINT) AS lag_h, CAST(np AS BIGINT) AS n_pairs,
        |       CAST(floor(1000.0 * $r) AS BIGINT) AS ccf_milli
        |FROM cc CROSS JOIN vv ORDER BY lag_h
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val p = pair(s, dir)
      val ag = p.agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"))
      val ctr = p.crossJoin(broadcast(ag))
        .select(col("t"), (col("n") * col("a") - col("sa")).as("ca"),
          (col("n") * col("b") - col("sb")).as("cb"))
      val vv = ctr.agg(
        expr("sum(CAST(ca AS DECIMAL(19,0)) * CAST(ca AS DECIMAL(19,0)))")
          .as("saa"),
        expr("sum(CAST(cb AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)))")
          .as("sbb"))
      val lg = broadcast(ccfLags.toDF("h"))
      val x = ctr.select(col("t").as("tx"), col("ca"))
      val y = ctr.select(col("t").as("ty"), col("cb"))
      x.crossJoin(lg)
        .join(y, col("ty") === col("tx") + col("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("np"),
          expr("sum(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)))")
            .as("sab"))
        .crossJoin(broadcast(vv))
        .select(col("h").cast("long").as("lag_h"),
          col("np").cast("long").as("n_pairs"),
          expr(s"CAST(floor(1000.0 * $r) AS BIGINT)").as("ccf_milli"))
        .orderBy(col("lag_h"))
    }
  }

  /** Engle–Granger cointegration: OLS b = B on A (levels, intercept),
    * R², then Dickey–Fuller τ (no constant) on the cent-floored
    * residual series. */
  def q1120: Q = {
    val sxxc = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val sxyc = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val syyc = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val b = s"($sxyc / $sxxc)"
    val a = s"((CAST(sy AS DOUBLE) - $b * CAST(sx AS DOUBLE))" +
      " / CAST(n AS DOUBLE))"
    val r2 = s"($sxyc * $sxyc / ($sxxc * $syyc))"
    val resid = s"CAST(floor(CAST(b AS DOUBLE) - $a - $b" +
      " * CAST(a AS DOUBLE)) AS BIGINT)"
    val phi = "(CAST(uxy AS DOUBLE) / CAST(uxx AS DOUBLE))"
    val tau = s"($phi / sqrt((CAST(uyy AS DOUBLE) - $phi * $phi" +
      " * CAST(uxx AS DOUBLE)) / (CAST(un AS DOUBLE) - 1.0)" +
      " / CAST(uxx AS DOUBLE)))"
    Q("q1120_engle_granger",
      Some(s"""
        |WITH ${sqlPair},
        |mo AS (SELECT count(*) AS n, sum(a) AS sx, sum(b) AS sy,
        |         sum(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0)))
        |           AS sxx,
        |         sum(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0)))
        |           AS sxy,
        |         sum(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0)))
        |           AS syy
        |       FROM pr2),
        |res AS (SELECT t, $resid AS u FROM pr2 CROSS JOIN mo),
        |uxy AS (SELECT lag(u, 1) OVER (ORDER BY t) AS x,
        |               u - lag(u, 1) OVER (ORDER BY t) AS y
        |        FROM res QUALIFY x IS NOT NULL),
        |um AS (SELECT count(*) AS un,
        |         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |           AS uxx,
        |         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |           AS uxy,
        |         sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |           AS uyy
        |       FROM uxy)
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |       CAST(floor(1000000.0 * $b) AS BIGINT) AS beta_micro,
        |       CAST(floor(1000.0 * $r2) AS BIGINT) AS r2_milli,
        |       CAST(floor(1000.0 * $tau) AS BIGINT) AS resid_tau_milli
        |FROM mo CROSS JOIN um
        |""".stripMargin)) { (s, dir) =>
      val wt = Window.orderBy(col("t"))
      val p = pair(s, dir)
      val mo = p.agg(count(lit(1)).as("n"), sum(col("a")).as("sx"),
        sum(col("b")).as("sy"),
        expr("sum(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0)))")
          .as("sxx"),
        expr("sum(CAST(a AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0)))")
          .as("sxy"),
        expr("sum(CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0)))")
          .as("syy"))
      val res = p.crossJoin(broadcast(mo))
        .select(col("t"), expr(resid).as("u"))
      val um = res
        .select(lag(col("u"), 1).over(wt).as("x"),
          (col("u") - lag(col("u"), 1).over(wt)).as("y"))
        .where(col("x").isNotNull)
        .agg(count(lit(1)).as("un"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))")
            .as("uxx"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("uxy"),
          expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("uyy"))
      mo.crossJoin(broadcast(um))
        .select(col("n").cast("long").as("n_obs"),
          expr(s"CAST(floor(1000000.0 * $b) AS BIGINT)")
            .as("beta_micro"),
          expr(s"CAST(floor(1000.0 * $r2) AS BIGINT)").as("r2_milli"),
          expr(s"CAST(floor(1000.0 * $tau) AS BIGINT)")
            .as("resid_tau_milli"))
    }
  }
}
