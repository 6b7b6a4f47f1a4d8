package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

/** Round-9 forecast-method wave on monthly revenue with a fixed-origin
  * 12-month holdout: the drift method, a Theta(0,2)-style SES+half-
  * trend forecast, the tracking signal of the naive forecaster, the
  * equal-weight combination vs its members, and the lag-1
  * autocorrelation of naive one-step errors.
  *
  * Scale: the month series is calendar-bounded; SES levels replay the
  * q810 integer fold (RECURSIVE CTE ⇔ aggregate HOF); drift/trend
  * terms are exact integer rationals; every MAE is an exact integer
  * mean; the only pinned doubles close the autocorrelation. */
object ForecastMethodQueries {

  val all: Seq[Q] = Seq(q946, q947, q948, q949, q950)

  private def sqlSq: String = s"""
    |${MonthSeries.sql},
    |gl AS (SELECT count(*) AS n FROM sq),
    |tr AS (SELECT sq.t, sq.z FROM sq CROSS JOIN gl
    |       WHERE sq.t <= gl.n - 12),
    |ho AS (SELECT sq.t, sq.z, sq.t - (gl.n - 12) AS h
    |       FROM sq CROSS JOIN gl WHERE sq.t > gl.n - 12),
    |tb AS (SELECT count(*) AS nt,
    |              max_by(z, t) AS zl, min_by(z, t) AS zf FROM tr)"""
    .stripMargin

  /** (sq, gl, tr, ho, tb) Spark frames mirroring the oracle CTEs. */
  private def frames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sq = MonthSeries.frame(s, dir).materialize()
    val gl = sq.agg(count(lit(1)).as("n"))
    val tr = sq.crossJoin(broadcast(gl)).where(col("t") <= col("n") - 12)
      .select(col("t"), col("z")).materialize()
    val ho = sq.crossJoin(broadcast(gl)).where(col("t") > col("n") - 12)
      .select(col("t"), col("z"), (col("t") - (col("n") - 12)).as("h"))
    val tb = tr.agg(count(lit(1)).as("nt"),
      max_by(col("z"), col("t")).as("zl"),
      min_by(col("z"), col("t")).as("zf"))
    (sq, tr, ho, tb)
  }

  /** Drift method: ẑ_{o+h} = z_o + h·(z_o − z_1)/(nt−1); holdout MAE
    * vs the naive MAE. */
  def q946: Q = Q(
    "q946_drift_forecast",
    Some(s"""
      |WITH ${sqlSq},
      |ev AS (
      |  SELECT abs(ho.z - (tb.zl + (ho.h * (tb.zl - tb.zf))
      |                              // (tb.nt - 1))) AS ed,
      |         abs(ho.z - tb.zl) AS en
      |  FROM ho CROSS JOIN tb)
      |SELECT CAST(count(*) AS BIGINT) AS n_holdout,
      |       CAST(sum(CAST(ed AS HUGEINT)) // count(*) AS BIGINT)
      |         AS drift_mae_cents,
      |       CAST(sum(CAST(en AS HUGEINT)) // count(*) AS BIGINT)
      |         AS naive_mae_cents
      |FROM ev
      |""".stripMargin)) { (s, dir) =>
    val (_, _, ho, tb) = frames(s, dir)
    ho.crossJoin(broadcast(tb))
      .select(abs(col("z") - (col("zl")
        + expr("(h * (zl - zf)) div (nt - 1)"))).cast("decimal(38,0)")
        .as("ed"),
        abs(col("z") - col("zl")).cast("decimal(38,0)").as("en"))
      .agg(count(lit(1)).as("n"), sum(col("ed")).as("sd"),
        sum(col("en")).as("sn"))
      .select(col("n").cast("long").as("n_holdout"),
        expr("CAST((sd - sd % n) / n AS DECIMAL(38,0))").cast("long")
          .as("drift_mae_cents"),
        expr("CAST((sn - sn % n) / n AS DECIMAL(38,0))").cast("long")
          .as("naive_mae_cents"))
  }

  /** Oracle CTEs `hw`/`lv`/`ols`/`bb` over tr(t, z): the SES level
    * l (α = 1/5 integer fold, needs WITH RECURSIVE) and the OLS trend
    * slope b — the two parts of the theta forecast. */
  private def sqlTheta: String =
    """hw AS (
      |  SELECT t, CAST(z AS HUGEINT) AS l FROM tr WHERE t = 1
      |  UNION ALL
      |  SELECT s.t, (CAST(s.z AS HUGEINT) + 4 * w.l) // 5
      |  FROM hw w JOIN tr s ON s.t = w.t + 1),
      |lv AS (SELECT max_by(l, t) AS l FROM hw),
      |ols AS (SELECT count(*) AS n, sum(CAST(t AS HUGEINT)) AS sx,
      |               sum(CAST(z AS HUGEINT)) AS sy,
      |               sum(CAST(t AS HUGEINT) * z) AS sxy,
      |               sum(CAST(t AS HUGEINT) * t) AS sxx FROM tr),
      |bb AS (SELECT (n * sxy - sx * sy) // (n * sxx - sx * sx) AS b
      |       FROM ols)""".stripMargin

  /** Spark side of [[sqlTheta]]: one-row frames (lv(l), bb(b)). */
  private def theta(tr: DataFrame): (DataFrame, DataFrame) = {
    val lv = tr.agg(sort_array(collect_list(struct(col("t"), col("z"))))
      .as("xs"))
      .select(expr(
        """aggregate(xs, CAST(-1 AS DECIMAL(38,0)),
          |  (acc, e) -> IF(acc < 0, CAST(e.z AS DECIMAL(38,0)),
          |    CAST((CAST(e.z AS DECIMAL(38,0)) + 4 * acc) div 5
          |         AS DECIMAL(38,0))))""".stripMargin).as("l"))
    val bb = tr.select(col("t").cast("decimal(38,0)").as("x"),
        col("z").cast("decimal(38,0)").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(expr("CAST((n * sxy - sx * sy" +
        " - (n * sxy - sx * sy) % (n * sxx - sx * sx))" +
        " / (n * sxx - sx * sx) AS DECIMAL(38,0))").as("b"))
    (lv, bb)
  }

  /** Theta(0,2)-style forecast: SES level (α=1/5 integer fold over
    * the train window) plus half the OLS trend times the horizon. */
  def q947: Q = Q(
    "q947_theta_forecast",
    Some(s"""
      |WITH RECURSIVE ${sqlSq},
      |${sqlTheta},
      |ev AS (
      |  SELECT abs(ho.z - (lv.l + (ho.h * bb.b) // 2)) AS e
      |  FROM ho CROSS JOIN lv CROSS JOIN bb)
      |SELECT CAST(count(*) AS BIGINT) AS n_holdout,
      |       CAST(sum(CAST(e AS HUGEINT)) // count(*) AS BIGINT)
      |         AS theta_mae_cents
      |FROM ev
      |""".stripMargin)) { (s, dir) =>
    val (_, tr, ho, _) = frames(s, dir)
    val (lv, bb) = theta(tr)
    ho.crossJoin(broadcast(lv)).crossJoin(broadcast(bb))
      .select(abs(col("z") - (col("l") + expr("(h * b) div 2")))
        .cast("decimal(38,0)").as("e"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("se"))
      .select(col("n").cast("long").as("n_holdout"),
        expr("CAST((se - se % n) / n AS DECIMAL(38,0))").cast("long")
          .as("theta_mae_cents"))
  }

  /** Tracking signal of the one-step naive forecaster over the full
    * series: Σe / MAD — |TS| > 4 flags persistent bias. */
  def q948: Q = Q(
    "q948_tracking_signal",
    Some(s"""
      |WITH ${sqlSq},
      |er AS (SELECT b.z - a.z AS e
      |       FROM sq a JOIN sq b ON b.t = a.t + 1),
      |mo2 AS (SELECT count(*) AS n, sum(CAST(e AS HUGEINT)) AS se,
      |               sum(abs(CAST(e AS HUGEINT))) AS sa FROM er)
      |SELECT CAST(n AS BIGINT) AS n_errors,
      |       CAST(se AS BIGINT) AS cum_error_cents,
      |       CAST(floor(1000.0 * CAST(se AS DOUBLE)
      |            / (CAST(sa AS DOUBLE) / n)) AS BIGINT)
      |         AS tracking_signal_milli
      |FROM mo2
      |""".stripMargin)) { (s, dir) =>
    val sq = MonthSeries.frame(s, dir).materialize()
    val b = sq.select((col("t") - 1).as("tb"), col("z").as("zb"))
    sq.join(b, col("t") === col("tb"))
      .select((col("zb") - col("z")).cast("decimal(38,0)").as("e"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("se"),
        sum(abs(col("e"))).as("sa"))
      .select(col("n").cast("long").as("n_errors"),
        col("se").cast("long").as("cum_error_cents"),
        expr("""CAST(floor(1000.0 * CAST(se AS DOUBLE)
          |  / (CAST(sa AS DOUBLE) / n)) AS BIGINT)""".stripMargin)
          .as("tracking_signal_milli"))
  }

  /** Equal-weight combination (naive + drift + theta) vs members:
    * holdout MAE per method, 4 rows. */
  def q949: Q = Q(
    "q949_forecast_combination",
    Some(s"""
      |WITH RECURSIVE ${sqlSq},
      |${sqlTheta},
      |fc AS (
      |  SELECT ho.z,
      |         CAST(tb.zl AS HUGEINT) AS f_naive,
      |         tb.zl + (ho.h * (tb.zl - tb.zf)) // (tb.nt - 1)
      |           AS f_drift,
      |         lv.l + (ho.h * bb.b) // 2 AS f_theta
      |  FROM ho CROSS JOIN tb CROSS JOIN lv CROSS JOIN bb),
      |mm AS (
      |  SELECT 'a_naive' AS method,
      |         sum(abs(CAST(z - f_naive AS HUGEINT))) AS sae,
      |         count(*) AS n FROM fc
      |  UNION ALL
      |  SELECT 'b_drift', sum(abs(CAST(z - f_drift AS HUGEINT))),
      |         count(*) FROM fc
      |  UNION ALL
      |  SELECT 'c_theta', sum(abs(CAST(z - f_theta AS HUGEINT))),
      |         count(*) FROM fc
      |  UNION ALL
      |  SELECT 'd_combo',
      |         sum(abs(CAST(z - (f_naive + f_drift + f_theta) // 3
      |                      AS HUGEINT))), count(*) FROM fc)
      |SELECT method, CAST(sae // n AS BIGINT) AS mae_cents
      |FROM mm ORDER BY method
      |""".stripMargin)) { (s, dir) =>
    val (_, tr, ho, tb) = frames(s, dir)
    val (lv, bb) = theta(tr)
    val fc = ho.crossJoin(broadcast(tb)).crossJoin(broadcast(lv))
      .crossJoin(broadcast(bb))
      .select(col("z").cast("decimal(38,0)").as("zv"),
        col("zl").cast("decimal(38,0)").as("f_naive"),
        (col("zl") + expr("(h * (zl - zf)) div (nt - 1)"))
          .cast("decimal(38,0)").as("f_drift"),
        (col("l") + expr("(h * b) div 2")).cast("decimal(38,0)")
          .as("f_theta"))
      .materialize()
    def mae(nm: String, fcol: org.apache.spark.sql.Column): DataFrame =
      fc.select(abs(col("zv") - fcol).as("e"))
        .agg(sum(col("e")).as("sae"), count(lit(1)).as("n"))
        .select(lit(nm).as("method"),
          expr("CAST((sae - sae % n) / n AS DECIMAL(38,0))")
            .cast("long").as("mae_cents"))
    mae("a_naive", col("f_naive"))
      .unionAll(mae("b_drift", col("f_drift")))
      .unionAll(mae("c_theta", col("f_theta")))
      .unionAll(mae("d_combo", expr("CAST((f_naive + f_drift + f_theta"
        + " - (f_naive + f_drift + f_theta) % 3) / 3"
        + " AS DECIMAL(38,0))")))
      .orderBy(col("method"))
  }

  /** Lag-1 autocorrelation of naive one-step errors: structure left
    * on the table by the naive forecaster. */
  def q950: Q = Q(
    "q950_error_autocorr",
    Some(s"""
      |WITH ${sqlSq},
      |er AS (SELECT a.t, CAST(b.z - a.z AS HUGEINT) AS e
      |       FROM sq a JOIN sq b ON b.t = a.t + 1),
      |pr AS (SELECT a.e AS x, b.e AS y
      |       FROM er a JOIN er b ON b.t = a.t + 1),
      |mo2 AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |               sum(x * y) AS sxy, sum(x * x) AS sxx,
      |               sum(y * y) AS syy FROM pr)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |       CAST(floor(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
      |            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
      |            AS BIGINT) AS lag1_autocorr_milli
      |FROM mo2
      |""".stripMargin)) { (s, dir) =>
    val sq = MonthSeries.frame(s, dir).materialize()
    val b = sq.select((col("t") - 1).as("tb"), col("z").as("zb"))
    val er = sq.join(b, col("t") === col("tb"))
      .select(col("t"), (col("zb") - col("z")).cast("decimal(38,0)")
        .as("e")).materialize()
    val er2 = er.select((col("t") - 1).as("t2"), col("e").as("y"))
    er.join(er2, col("t") === col("t2"))
      .select(col("e").as("x"), col("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_pairs"),
        expr("""CAST(floor(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
          |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)"""
          .stripMargin).as("lag1_autocorr_milli"))
  }
}
