package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-10 technical-indicator wave on the daily revenue series:
  * Bollinger-band exceedance, a simple (window-sum) RSI regime audit,
  * MACD crossovers via a scaled-integer EMA fold, the exact-rational
  * Kelly fraction, and a band-signal follow-through backtest.
  *
  * Exactness: band tests cross-multiply away every division —
  * z > m + 2σ over a trailing-20 window is (20z − S) > 0 ∧
  * (20z − S)² > 4(20Q − S²) in exact integers; RSI thresholds are
  * 3G ≥ 7L integer comparisons; Kelly reduces to the exact rational
  * w·(SW − SL)/(n·SW); the MACD EMAs are truncating integer
  * recurrences folded with the q866 Kalman discipline (Spark: SQL
  * `aggregate` over the collected day array — stays on the executor;
  * oracle: the same recurrence as a RECURSIVE CTE walk).
  *
  * Scale: one fact scan to the calendar-bounded day dim; all windows
  * partition-free ONLY over that aggregated dim (lint-safe by the
  * aggregate-below rule); the sequential fold is calendar-bounded. */
object IndicatorQueries {

  val all: Seq[Q] = Seq(q1001, q1002, q1003, q1004, q1005)

  private def sq(s: SparkSession, dir: String): DataFrame =
    DaySeries.revenue(s, dir)

  /** Bollinger-band (trailing 20, ±2σ) exceedance audit. */
  def q1001: Q = Q(
    "q1001_bollinger_exceedance",
    Some(s"""
      |WITH ${DaySeries.sql},
      |bb AS (
      |  SELECT t, z,
      |         sum(z) OVER w AS sw,
      |         sum(CAST(z AS HUGEINT) * z) OVER w AS qw,
      |         count(*) OVER w AS cn
      |  FROM sq WINDOW w AS (ORDER BY t ROWS BETWEEN 19 PRECEDING
      |                       AND CURRENT ROW)),
      |ev AS (
      |  SELECT t, z, 20 * z - sw AS dev,
      |         CAST(20 * z - sw AS HUGEINT) * (20 * z - sw) AS dev2,
      |         4 * (20 * qw - CAST(sw AS HUGEINT) * sw) AS band2
      |  FROM bb WHERE cn = 20)
      |SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
      |       CAST(sum(CASE WHEN dev > 0 AND dev2 > band2
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |       CAST(sum(CASE WHEN dev < 0 AND dev2 > band2
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |       CAST(min(CASE WHEN dev2 > band2 THEN t END)
      |            AS BIGINT) AS first_breakout_t,
      |       CAST(max(band2 // 1000000) AS BIGINT) AS max_band2_e6
      |FROM ev
      |""".stripMargin)) { (s, dir) =>
    val w = Window.orderBy(col("t")).rowsBetween(-19, 0)
    val ev = sq(s, dir)
      .select(col("t"), col("z"),
        sum(col("z")).over(w).as("sw"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * z")).over(w).as("qw"),
        count(lit(1)).over(w).as("cn"))
      .where(col("cn") === 20)
      .select(col("t"),
        (col("z") * 20 - col("sw")).as("dev"),
        expr("CAST(20 * z - sw AS DECIMAL(38,0)) * (20 * z - sw)")
          .as("dev2"),
        expr("4 * (20 * qw - CAST(sw AS DECIMAL(38,0)) * sw)")
          .as("band2"))
    ev.agg(count(lit(1)).as("n_days_eval"),
        sum(when(col("dev") > 0 && col("dev2") > col("band2"), 1L)
          .otherwise(0L)).as("n_above"),
        sum(when(col("dev") < 0 && col("dev2") > col("band2"), 1L)
          .otherwise(0L)).as("n_below"),
        min(when(col("dev2") > col("band2"), col("t")))
          .as("first_breakout_t"),
        max(expr("band2 div 1000000")).as("max_band2_e6"))
      .select(col("n_days_eval"), col("n_above"), col("n_below"),
        col("first_breakout_t").cast("long").as("first_breakout_t"),
        col("max_band2_e6"))
  }

  /** Simple RSI-14 regime audit (window gains/losses, thresholds as
    * exact 3G ≥ 7L comparisons; flat windows skipped). */
  def q1002: Q = Q(
    "q1002_rsi_regimes",
    Some(s"""
      |WITH ${DaySeries.sql},
      |dl AS (SELECT t, z - lag(z) OVER (ORDER BY t) AS d FROM sq),
      |gs AS (
      |  SELECT t,
      |         sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER w AS g,
      |         sum(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER w AS l,
      |         count(d) OVER w AS cn
      |  FROM dl WINDOW w AS (ORDER BY t ROWS BETWEEN 13 PRECEDING
      |                       AND CURRENT ROW)),
      |ev AS (SELECT * FROM gs WHERE cn = 14 AND g + l > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
      |       CAST(sum(CASE WHEN 3 * g >= 7 * l THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_overbought,
      |       CAST(sum(CASE WHEN 3 * l >= 7 * g THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_oversold,
      |       CAST(sum((100000 * g) // (g + l)) // count(*) AS BIGINT)
      |         AS mean_rsi_milli
      |FROM ev
      |""".stripMargin)) { (s, dir) =>
    val wl = Window.orderBy(col("t"))
    val w = Window.orderBy(col("t")).rowsBetween(-13, 0)
    val ev = sq(s, dir)
      .select(col("t"), (col("z") - lag(col("z"), 1).over(wl)).as("d"))
      .select(col("t"),
        sum(when(col("d") > 0, col("d")).otherwise(0L)).over(w).as("g"),
        sum(when(col("d") < 0, -col("d")).otherwise(0L)).over(w)
          .as("l"),
        count(col("d")).over(w).as("cn"))
      .where(col("cn") === 14 && col("g") + col("l") > 0)
    ev.agg(count(lit(1)).as("n_days_eval"),
        sum(when(col("g") * 3 >= col("l") * 7, 1L).otherwise(0L))
          .as("n_overbought"),
        sum(when(col("l") * 3 >= col("g") * 7, 1L).otherwise(0L))
          .as("n_oversold"),
        sum(expr("(100000 * g) div (g + l)")).as("srsi"))
      .select(col("n_days_eval"), col("n_overbought"), col("n_oversold"),
        expr("CAST(srsi div n_days_eval AS BIGINT)")
          .as("mean_rsi_milli"))
  }

  /** MACD (12/26 truncating-integer EMAs, milli-cents) crossovers —
    * the sequential fold rides SQL `aggregate` over the day array
    * (Spark) against the same recurrence as a RECURSIVE CTE (oracle). */
  def q1003: Q = Q(
    "q1003_macd_crossovers",
    Some(s"""
      |WITH RECURSIVE ${DaySeries.sql},
      |walk AS (
      |  SELECT 1 AS t, 1000 * z AS e12, 1000 * z AS e26,
      |         CAST(0 AS BIGINT) AS sg, CAST(0 AS BIGINT) AS cx,
      |         CAST(0 AS BIGINT) AS mx
      |  FROM sq WHERE t = 1
      |  UNION ALL
      |  SELECT s.t,
      |    w.e12 + (2 * (1000 * s.z - w.e12)) // 13,
      |    w.e26 + (2 * (1000 * s.z - w.e26)) // 27,
      |    CASE WHEN (w.e12 + (2 * (1000 * s.z - w.e12)) // 13)
      |            - (w.e26 + (2 * (1000 * s.z - w.e26)) // 27) > 0 THEN 1
      |         WHEN (w.e12 + (2 * (1000 * s.z - w.e12)) // 13)
      |            - (w.e26 + (2 * (1000 * s.z - w.e26)) // 27) < 0 THEN -1
      |         ELSE w.sg END,
      |    w.cx + CASE WHEN w.sg *
      |      (CASE WHEN (w.e12 + (2 * (1000 * s.z - w.e12)) // 13)
      |              - (w.e26 + (2 * (1000 * s.z - w.e26)) // 27) > 0 THEN 1
      |            WHEN (w.e12 + (2 * (1000 * s.z - w.e12)) // 13)
      |              - (w.e26 + (2 * (1000 * s.z - w.e26)) // 27) < 0 THEN -1
      |            ELSE 0 END) < 0 THEN 1 ELSE 0 END,
      |    greatest(w.mx, abs((w.e12 + (2 * (1000 * s.z - w.e12)) // 13)
      |      - (w.e26 + (2 * (1000 * s.z - w.e26)) // 27)))
      |  FROM walk w JOIN sq s ON s.t = w.t + 1),
      |fin AS (SELECT max(t) AS n, max_by(e12 - e26, t) AS macd,
      |               max_by(cx, t) AS cx, max_by(mx, t) AS mx
      |        FROM walk)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(macd AS BIGINT) AS final_macd_millicents,
      |       CAST(cx AS BIGINT) AS n_crossovers,
      |       CAST(mx AS BIGINT) AS max_abs_macd_millicents
      |FROM fin
      |""".stripMargin)) { (s, dir) =>
    val xs = sq(s, dir)
      .agg(sort_array(collect_list(struct(col("t"), col("z"))))
        .as("xs"))
    // acc = (n, e12, e26, sg, cx, mx); truncating div matches // on
    // negatives (trunc-toward-zero both engines, NOTES rule)
    val fold = """aggregate(
      | slice(xs, 2, size(xs) - 1),
      | named_struct('n', 1L, 'e12', 1000L * xs[0].z,
      |              'e26', 1000L * xs[0].z, 'sg', 0L, 'cx', 0L,
      |              'mx', 0L),
      | (a, x) -> named_struct(
      |   'n', a.n + 1L,
      |   'e12', a.e12 + (2L * (1000L * x.z - a.e12)) div 13L,
      |   'e26', a.e26 + (2L * (1000L * x.z - a.e26)) div 27L,
      |   'sg', CASE WHEN (a.e12 + (2L * (1000L * x.z - a.e12)) div 13L)
      |              - (a.e26 + (2L * (1000L * x.z - a.e26)) div 27L) > 0L
      |              THEN 1L
      |            WHEN (a.e12 + (2L * (1000L * x.z - a.e12)) div 13L)
      |              - (a.e26 + (2L * (1000L * x.z - a.e26)) div 27L) < 0L
      |              THEN -1L
      |            ELSE a.sg END,
      |   'cx', a.cx + CASE WHEN a.sg *
      |       (CASE WHEN (a.e12 + (2L * (1000L * x.z - a.e12)) div 13L)
      |               - (a.e26 + (2L * (1000L * x.z - a.e26)) div 27L) > 0L
      |               THEN 1L
      |             WHEN (a.e12 + (2L * (1000L * x.z - a.e12)) div 13L)
      |               - (a.e26 + (2L * (1000L * x.z - a.e26)) div 27L) < 0L
      |               THEN -1L
      |             ELSE 0L END) < 0L THEN 1L ELSE 0L END,
      |   'mx', greatest(a.mx,
      |     abs((a.e12 + (2L * (1000L * x.z - a.e12)) div 13L)
      |       - (a.e26 + (2L * (1000L * x.z - a.e26)) div 27L)))),
      | a -> a)""".stripMargin
    xs.select(expr(fold).as("a"))
      .select(col("a.n").cast("long").as("n_days"),
        (col("a.e12") - col("a.e26")).cast("long")
          .as("final_macd_millicents"),
        col("a.cx").cast("long").as("n_crossovers"),
        col("a.mx").cast("long").as("max_abs_macd_millicents"))
  }

  /** Kelly fraction from daily up/down moves — the exact rational
    * f = w·(SW − SL) / (n·SW), in milli (trunc toward zero). */
  def q1004: Q = Q(
    "q1004_kelly_fraction",
    Some(s"""
      |WITH ${DaySeries.sql},
      |dl AS (SELECT z - lag(z) OVER (ORDER BY t) AS d FROM sq),
      |mo AS (SELECT count(d) AS n,
      |              sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS w,
      |              sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS sw,
      |              sum(CASE WHEN d < 0 THEN -d ELSE 0 END) AS sl
      |       FROM dl WHERE d IS NOT NULL AND d <> 0)
      |SELECT CAST(n AS BIGINT) AS n_moves,
      |       CAST(w AS BIGINT) AS n_wins,
      |       CAST((1000 * w) // n AS BIGINT) AS win_rate_milli,
      |       CAST(CASE WHEN sw = 0 THEN NULL
      |            ELSE (1000 * w * (sw - sl)) // (n * sw) END AS BIGINT)
      |         AS kelly_milli
      |FROM mo
      |""".stripMargin)) { (s, dir) =>
    val wl = Window.orderBy(col("t"))
    sq(s, dir)
      .select((col("z") - lag(col("z"), 1).over(wl)).as("d"))
      .where(col("d").isNotNull && col("d") =!= 0)
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("w"),
        sum(when(col("d") > 0, col("d")).otherwise(0L))
          .cast("decimal(38,0)").as("sw"),
        sum(when(col("d") < 0, -col("d")).otherwise(0L))
          .cast("decimal(38,0)").as("sl"))
      .select(col("n").cast("long").as("n_moves"),
        col("w").cast("long").as("n_wins"),
        expr("CAST((1000 * w) div n AS BIGINT)").as("win_rate_milli"),
        expr("CAST(CASE WHEN sw = 0 THEN NULL" +
          " ELSE (1000 * w * (sw - sl)) div (n * sw) END AS BIGINT)")
          .as("kelly_milli"))
  }

  /** Band-signal follow-through: next-day move after a close below
    * the lower Bollinger band vs the unconditional next-day move. */
  def q1005: Q = Q(
    "q1005_band_followthrough",
    Some(s"""
      |WITH ${DaySeries.sql},
      |bb AS (
      |  SELECT t, z,
      |         sum(z) OVER w AS sw,
      |         sum(CAST(z AS HUGEINT) * z) OVER w AS qw,
      |         count(*) OVER w AS cn,
      |         lead(z) OVER (ORDER BY t) - z AS nxt
      |  FROM sq WINDOW w AS (ORDER BY t ROWS BETWEEN 19 PRECEDING
      |                       AND CURRENT ROW)),
      |ev AS (
      |  SELECT nxt,
      |         CASE WHEN 20 * z - sw < 0
      |               AND CAST(20 * z - sw AS HUGEINT) * (20 * z - sw)
      |                 > 4 * (20 * qw - CAST(sw AS HUGEINT) * sw)
      |              THEN 1 ELSE 0 END AS sig
      |  FROM bb WHERE cn = 20 AND nxt IS NOT NULL)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(sig) AS BIGINT) AS n_signal,
      |       CAST(CASE WHEN sum(sig) = 0 THEN NULL
      |            ELSE sum(CASE WHEN sig = 1 THEN nxt ELSE 0 END)
      |                 // sum(sig) END AS BIGINT) AS mean_next_signal,
      |       CAST(sum(nxt) // count(*) AS BIGINT) AS mean_next_all
      |FROM ev
      |""".stripMargin)) { (s, dir) =>
    val wl = Window.orderBy(col("t"))
    val w = Window.orderBy(col("t")).rowsBetween(-19, 0)
    val ev = sq(s, dir)
      .select(col("t"), col("z"),
        sum(col("z")).over(w).as("sw"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * z")).over(w).as("qw"),
        count(lit(1)).over(w).as("cn"),
        (lead(col("z"), 1).over(wl) - col("z")).as("nxt"))
      .where(col("cn") === 20 && col("nxt").isNotNull)
      .select(col("nxt"),
        when(col("z") * 20 - col("sw") < 0 &&
          expr("CAST(20 * z - sw AS DECIMAL(38,0)) * (20 * z - sw)") >
            expr("4 * (20 * qw - CAST(sw AS DECIMAL(38,0)) * sw)"),
          1L).otherwise(0L).as("sig"))
    ev.agg(count(lit(1)).as("n_days"), sum(col("sig")).as("n_signal"),
        sum(when(col("sig") === 1, col("nxt")).otherwise(0L)).as("sn"),
        sum(col("nxt")).as("sa"))
      .select(col("n_days"), col("n_signal"),
        expr("CAST(CASE WHEN n_signal = 0 THEN NULL" +
          " ELSE sn div n_signal END AS BIGINT)").as("mean_next_signal"),
        expr("CAST(sa div n_days AS BIGINT)").as("mean_next_all"))
  }
}
