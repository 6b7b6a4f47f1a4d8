package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

/** Round-9 state-space wave: a 1-D random-walk Kalman filter over the
  * ~83-month revenue series, run ENTIRELY in scaled-integer
  * arithmetic (gain in micro, covariance in cents², truncating
  * updates) so both engines replay the identical recurrence — Spark
  * folds the sorted month array with the `aggregate` HOF, DuckDB
  * walks a RECURSIVE CTE. Measurement noise R is the exact sample
  * variance of the series; process noise Q = R/10 (R/100 and R in the
  * sweep).
  *
  * Queries: the filtered terminal state, innovation diagnostics, the
  * analytic Riccati steady-state gain vs the converged empirical
  * gain, a Q/R sweep of the converged gain, and Kalman-vs-Holt level
  * agreement. Scale: one fact pass to the month dim; the fold is
  * calendar-bounded (~83 steps) at every sf. */
object KalmanQueries {

  val all: Seq[Q] = Seq(q866, q867, q868, q869, q870)

  private def sqlWalk(qcDiv: String = "10"): String = s"""
    |${MonthSeries.sql},
    |rc AS (SELECT count(*) AS n, sum(CAST(z AS HUGEINT)) AS s,
    |              sum(CAST(z AS HUGEINT) * z) AS q FROM sq),
    |pr AS (SELECT (n * q - s * s) // (n * (n - 1)) AS r,
    |              ((n * q - s * s) // (n * (n - 1))) // ${qcDiv} AS qc
    |       FROM rc),
    |walk AS (
    |  SELECT 1 AS t, CAST(z AS HUGEINT) AS x, (SELECT r FROM pr) AS p,
    |         CAST(0 AS HUGEINT) AS k, CAST(0 AS HUGEINT) AS sai,
    |         CAST(0 AS HUGEINT) AS sqq
    |  FROM sq WHERE t = 1
    |  UNION ALL
    |  SELECT s.t,
    |    w.x + (((1000000 * (w.p + pr.qc)) // (w.p + pr.qc + pr.r))
    |           * (s.z - w.x)) // 1000000,
    |    ((1000000 - (1000000 * (w.p + pr.qc)) // (w.p + pr.qc + pr.r))
    |     * (w.p + pr.qc)) // 1000000,
    |    (1000000 * (w.p + pr.qc)) // (w.p + pr.qc + pr.r),
    |    w.sai + abs(s.z - w.x),
    |    w.sqq + CAST(s.z - w.x AS HUGEINT) * (s.z - w.x)
    |  FROM walk w JOIN sq s ON s.t = w.t + 1 CROSS JOIN pr),
    |fin AS (SELECT max(t) AS n, max_by(x, t) AS x, max_by(k, t) AS k,
    |               max_by(sai, t) AS sai, max_by(sqq, t) AS sqq
    |        FROM walk)""".stripMargin

  /** Spark single-row frame (n, xs array, r, qc) for the fold. */
  private def foldInput(s: SparkSession, dir: String, qcDiv: Int)
      : DataFrame = {
    val sq = MonthSeries.frame(s, dir).materialize()
    val pr = sq.select(col("z").cast("decimal(38,0)").as("zd"))
      .agg(count(lit(1)).as("n"), sum(col("zd")).as("s"),
        sum(col("zd") * col("zd")).as("q"))
      .select(expr("CAST((n * q - s * s - (n * q - s * s) % (n * (n - 1)))" +
        " / (n * (n - 1)) AS DECIMAL(38,0))").as("r"))
      .select(col("r"), expr(s"CAST(r div $qcDiv AS DECIMAL(38,0))").as("qc"))
    sq.agg(sort_array(collect_list(struct(col("t"), col("z")))).as("xs"))
      .crossJoin(broadcast(pr))
  }

  /** The scaled-integer Kalman fold: returns acc struct
    * (n, x, p, k, sai, sqq). */
  private def foldExpr: String =
    """aggregate(
      |  xs,
      |  named_struct('n', CAST(0 AS INT),
      |    'x', CAST(0 AS DECIMAL(38,0)), 'p', CAST(0 AS DECIMAL(38,0)),
      |    'k', CAST(0 AS DECIMAL(38,0)), 'sai', CAST(0 AS DECIMAL(38,0)),
      |    'sqq', CAST(0 AS DECIMAL(38,0))),
      |  (acc, e) -> IF(acc.n = 0,
      |    named_struct('n', 1, 'x', CAST(e.z AS DECIMAL(38,0)), 'p', r,
      |      'k', CAST(0 AS DECIMAL(38,0)),
      |      'sai', CAST(0 AS DECIMAL(38,0)),
      |      'sqq', CAST(0 AS DECIMAL(38,0))),
      |    named_struct('n', acc.n + 1,
      |      'x', CAST(acc.x + (((1000000 * (acc.p + qc))
      |             div (acc.p + qc + r)) * (e.z - acc.x)) div 1000000
      |             AS DECIMAL(38,0)),
      |      'p', CAST(((1000000 - (1000000 * (acc.p + qc))
      |             div (acc.p + qc + r)) * (acc.p + qc)) div 1000000
      |             AS DECIMAL(38,0)),
      |      'k', CAST((1000000 * (acc.p + qc)) div (acc.p + qc + r)
      |             AS DECIMAL(38,0)),
      |      'sai', CAST(acc.sai + abs(e.z - acc.x) AS DECIMAL(38,0)),
      |      'sqq', CAST(acc.sqq + CAST(e.z - acc.x AS DECIMAL(38,0))
      |             * (e.z - acc.x) AS DECIMAL(38,0)))))""".stripMargin

  /** Filtered terminal state: months, level, covariance-implied gain. */
  def q866: Q = Q(
    "q866_kalman_filter",
    Some(s"""
      |WITH RECURSIVE ${sqlWalk()}
      |SELECT CAST(n AS BIGINT) AS n_months,
      |       CAST(x AS BIGINT) AS level_cents,
      |       CAST(k AS BIGINT) AS gain_micro
      |FROM fin
      |""".stripMargin)) { (s, dir) =>
    foldInput(s, dir, 10).select(expr(foldExpr).as("a"))
      .select(col("a.n").cast("long").as("n_months"),
        col("a.x").cast("long").as("level_cents"),
        col("a.k").cast("long").as("gain_micro"))
  }

  /** Innovation diagnostics: mean |one-step error| and its RMS. */
  def q867: Q = Q(
    "q867_kalman_innovations",
    Some(s"""
      |WITH RECURSIVE ${sqlWalk()}
      |SELECT CAST(n - 1 AS BIGINT) AS n_innovations,
      |       CAST(sai // (n - 1) AS BIGINT) AS mean_abs_innov_cents,
      |       CAST(floor(sqrt(CAST(sqq AS DOUBLE) / (n - 1))) AS BIGINT)
      |         AS rms_innov_cents
      |FROM fin
      |""".stripMargin)) { (s, dir) =>
    foldInput(s, dir, 10).select(expr(foldExpr).as("a"))
      .select((col("a.n") - 1).cast("long").as("n_innovations"),
        expr("CAST((a.sai - a.sai % (a.n - 1)) / (a.n - 1)" +
          " AS DECIMAL(38,0))").cast("long").as("mean_abs_innov_cents"),
        expr("CAST(floor(sqrt(CAST(a.sqq AS DOUBLE) / (a.n - 1)))" +
          " AS BIGINT)").as("rms_innov_cents"))
  }

  /** Analytic Riccati steady-state gain K* = (−q̃ + √(q̃² + 4q̃))/2,
    * q̃ = Q/R, vs the converged empirical gain. */
  def q868: Q = Q(
    "q868_riccati_steady_state",
    Some(s"""
      |WITH RECURSIVE ${sqlWalk()}
      |SELECT CAST(fin.k AS BIGINT) AS gain_micro,
      |       CAST(floor(500000.0 * (-(CAST(pr.qc AS DOUBLE) / pr.r)
      |            + sqrt((CAST(pr.qc AS DOUBLE) / pr.r)
      |                   * (CAST(pr.qc AS DOUBLE) / pr.r)
      |                   + 4.0 * CAST(pr.qc AS DOUBLE) / pr.r)))
      |            AS BIGINT) AS analytic_gain_micro
      |FROM fin CROSS JOIN pr
      |""".stripMargin)) { (s, dir) =>
    foldInput(s, dir, 10)
      .select(expr(foldExpr).as("a"), col("r"), col("qc"))
      .select(col("a.k").cast("long").as("gain_micro"),
        expr("""CAST(floor(500000.0 * (-(CAST(qc AS DOUBLE) / r)
          |  + sqrt((CAST(qc AS DOUBLE) / r) * (CAST(qc AS DOUBLE) / r)
          |         + 4.0 * CAST(qc AS DOUBLE) / r))) AS BIGINT)"""
          .stripMargin).as("analytic_gain_micro"))
  }

  /** Q/R sweep: converged gain and terminal level for
    * Q = R/100, R/10, R — one parameterized walk per ratio. */
  def q869: Q = Q(
    "q869_kalman_qr_sweep",
    Some(s"""
      |WITH RECURSIVE ${MonthSeries.sql},
      |rc AS (SELECT count(*) AS n, sum(CAST(z AS HUGEINT)) AS s,
      |              sum(CAST(z AS HUGEINT) * z) AS q FROM sq),
      |dvs AS (SELECT * FROM (VALUES (100),(10),(1)) AS t(dv)),
      |pr AS (SELECT dvs.dv, (n * q - s * s) // (n * (n - 1)) AS r,
      |              ((n * q - s * s) // (n * (n - 1))) // dvs.dv AS qc
      |       FROM rc CROSS JOIN dvs),
      |walk AS (
      |  SELECT pr.dv, 1 AS t, CAST(z AS HUGEINT) AS x, pr.r AS p,
      |         CAST(0 AS HUGEINT) AS k
      |  FROM sq CROSS JOIN pr WHERE t = 1
      |  UNION ALL
      |  SELECT w.dv, s.t,
      |    w.x + (((1000000 * (w.p + pr.qc)) // (w.p + pr.qc + pr.r))
      |           * (s.z - w.x)) // 1000000,
      |    ((1000000 - (1000000 * (w.p + pr.qc))
      |      // (w.p + pr.qc + pr.r)) * (w.p + pr.qc)) // 1000000,
      |    (1000000 * (w.p + pr.qc)) // (w.p + pr.qc + pr.r)
      |  FROM walk w JOIN sq s ON s.t = w.t + 1 JOIN pr ON pr.dv = w.dv),
      |fin AS (SELECT dv, max_by(x, t) AS x, max_by(k, t) AS k
      |        FROM walk GROUP BY 1)
      |SELECT CAST(dv AS BIGINT) AS qr_div,
      |       CAST(k AS BIGINT) AS gain_micro,
      |       CAST(x AS BIGINT) AS level_cents
      |FROM fin ORDER BY qr_div DESC
      |""".stripMargin)) { (s, dir) =>
    val sq = MonthSeries.frame(s, dir).materialize()
    val dvs = s.createDataFrame(Seq(100, 10, 1).map(Tuple1(_))).toDF("dv")
    val pr = sq.select(col("z").cast("decimal(38,0)").as("zd"))
      .agg(count(lit(1)).as("n"), sum(col("zd")).as("s"),
        sum(col("zd") * col("zd")).as("q"))
      .select(expr("CAST((n * q - s * s - (n * q - s * s) % (n * (n - 1)))" +
        " / (n * (n - 1)) AS DECIMAL(38,0))").as("r"))
      .crossJoin(broadcast(dvs))
      .select(col("dv"), col("r"),
        expr("CAST(r div dv AS DECIMAL(38,0))").as("qc"))
    sq.agg(sort_array(collect_list(struct(col("t"), col("z")))).as("xs"))
      .crossJoin(broadcast(pr))
      .select(col("dv"), expr(foldExpr).as("a"))
      .select(col("dv").cast("long").as("qr_div"),
        col("a.k").cast("long").as("gain_micro"),
        col("a.x").cast("long").as("level_cents"))
      .orderBy(col("qr_div").desc)
  }

  /** Kalman vs Holt (α=1/5) terminal-level agreement on the same
    * series. */
  def q870: Q = Q(
    "q870_kalman_vs_holt",
    Some(s"""
      |WITH RECURSIVE ${sqlWalk()},
      |hw AS (
      |  SELECT 1 AS t, CAST(z AS HUGEINT) AS l FROM sq WHERE t = 1
      |  UNION ALL
      |  SELECT s.t, (CAST(s.z AS HUGEINT) + 4 * w.l) // 5
      |  FROM hw w JOIN sq s ON s.t = w.t + 1),
      |hf AS (SELECT max_by(l, t) AS l FROM hw)
      |SELECT CAST(fin.x AS BIGINT) AS kalman_level_cents,
      |       CAST(hf.l AS BIGINT) AS ses_level_cents,
      |       CAST(abs(fin.x - hf.l) AS BIGINT) AS abs_gap_cents
      |FROM fin CROSS JOIN hf
      |""".stripMargin)) { (s, dir) =>
    val in = foldInput(s, dir, 10).materialize()
    val kal = in.select(expr(foldExpr).as("a"))
      .select(col("a.x").as("kx"))
    val ses = in.select(expr(
      """aggregate(xs, CAST(-1 AS DECIMAL(38,0)),
        |  (acc, e) -> IF(acc < 0, CAST(e.z AS DECIMAL(38,0)),
        |    CAST((CAST(e.z AS DECIMAL(38,0)) + 4 * acc) div 5
        |         AS DECIMAL(38,0))))""".stripMargin).as("l"))
    kal.crossJoin(broadcast(ses))
      .select(col("kx").cast("long").as("kalman_level_cents"),
        col("l").cast("long").as("ses_level_cents"),
        abs(col("kx") - col("l")).cast("long").as("abs_gap_cents"))
  }
}
