package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 technical-indicator channel wave on the daily-revenue
  * series — the classic trading-desk channels the suite lacked beside
  * Bollinger/RSI/MACD: Donchian channel, Aroon, Williams %R, the
  * stochastic oscillator %K/%D, and the Chande momentum oscillator.
  * All use the N = 14 trailing (causal) window, full windows only
  * (t ≥ 14 on the dense 1-based day index), summarized per 250-day
  * epoch ((t−1) div 250).
  *
  * Exactness: PURE INTEGER arithmetic end to end — channel extremes
  * are max/min of exact revenue cents, every per-day indicator is an
  * integer floor-ratio (`div` ≡ `//`, both truncate toward zero on
  * non-negatives), epoch means are integer sums over integer days.
  * Argmax-in-window rides the z·10⁴+t integer encoding (t ≤ 9999 —
  * ties break to the LATEST day, stated in both engines).
  *
  * Scale: the series is CALENDAR-bounded; the one fact-scaled pass is
  * the day aggregate served by the [[DaySeries.revenue]] spine (the
  * oracle inlines the same frame's text, [[DaySeries.sql]], so the
  * gate proves spine ≡ scratch). Windows
  * run over the ~2.5k-row day dim, never the fact. */
object TechIndicatorQueries {

  val all: Seq[Q] = Seq(q1101, q1102, q1103, q1104, q1105)

  /** Oracle channel CTE ch(t, z, hh, ll, epoch) — full windows only. */
  private def sqlCh: String = s"""
    |${DaySeries.sql},
    |ch0 AS (SELECT t, z,
    |          max(z) OVER (ORDER BY t
    |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh,
    |          min(z) OVER (ORDER BY t
    |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll
    |        FROM sq),
    |ch AS (SELECT t, z, hh, ll, (t - 1) // 250 AS epoch
    |       FROM ch0 WHERE t >= 14)""".stripMargin

  /** Spark twin of [[sqlCh]]. */
  private def ch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("t")).rowsBetween(-13, 0)
    DaySeries.revenue(s, dir)
      .select(col("t"), col("z"), max(col("z")).over(w).as("hh"),
        min(col("z")).over(w).as("ll"))
      .where(col("t") >= 14)
      .withColumn("epoch", expr("CAST((t - 1) div 250 AS BIGINT)"))
  }

  /** Donchian channel per epoch: band touches, relative width, and
    * the mean in-channel position (days with hh = ll excluded —
    * stated WHERE, identical both engines). */
  def q1101: Q = Q(
    "q1101_donchian_channel",
    Some(s"""
      |WITH ${sqlCh},
      |d AS (SELECT epoch,
      |        CASE WHEN z = hh THEN 1 ELSE 0 END AS uptouch,
      |        CASE WHEN z = ll THEN 1 ELSE 0 END AS lotouch,
      |        (1000 * (z - ll)) // (hh - ll) AS pos,
      |        (1000 * (hh - ll)) // ((hh + ll) // 2) AS wrel
      |      FROM ch WHERE hh > ll)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(uptouch) AS BIGINT) AS upper_touches,
      |       CAST(sum(lotouch) AS BIGINT) AS lower_touches,
      |       CAST(sum(pos) // count(*) AS BIGINT) AS mean_pos_milli,
      |       CAST(sum(wrel) // count(*) AS BIGINT) AS mean_width_milli
      |FROM d GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    ch(s, dir).where(col("hh") > col("ll"))
      .select(col("epoch"),
        when(col("z") === col("hh"), 1L).otherwise(0L).as("uptouch"),
        when(col("z") === col("ll"), 1L).otherwise(0L).as("lotouch"),
        expr("(1000 * (z - ll)) div (hh - ll)").as("pos"),
        expr("(1000 * (hh - ll)) div ((hh + ll) div 2)").as("wrel"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"), sum(col("uptouch")).as("ut"),
        sum(col("lotouch")).as("lt"), sum(col("pos")).as("sp"),
        sum(col("wrel")).as("swr"))
      .select(col("epoch"), col("n_days"),
        col("ut").as("upper_touches"), col("lt").as("lower_touches"),
        expr("CAST(sp div n_days AS BIGINT)").as("mean_pos_milli"),
        expr("CAST(swr div n_days AS BIGINT)").as("mean_width_milli"))
      .orderBy(col("epoch"))
  }

  /** Aroon up/down/oscillator per epoch, days-since-extreme via the
    * z·10⁴+t argmax encoding (ties → latest day). */
  def q1102: Q = Q(
    "q1102_aroon",
    Some(s"""
      |WITH ${DaySeries.sql},
      |ar0 AS (SELECT t,
      |          max(z * 10000 + t) OVER (ORDER BY t
      |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ench,
      |          min(z * 10000 + (9999 - t)) OVER (ORDER BY t
      |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS encl
      |        FROM sq),
      |ar AS (SELECT (t - 1) // 250 AS epoch,
      |         (1000 * (13 - (t - ench % 10000))) // 13 AS up,
      |         (1000 * (13 - (t - (9999 - encl % 10000)))) // 13 AS down
      |       FROM ar0 WHERE t >= 14)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(up) // count(*) AS BIGINT) AS mean_up_milli,
      |       CAST(sum(down) // count(*) AS BIGINT) AS mean_down_milli,
      |       CAST(sum(up - down) // count(*) AS BIGINT) AS mean_osc_milli
      |FROM ar GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    val w = Window.orderBy(col("t")).rowsBetween(-13, 0)
    DaySeries.revenue(s, dir)
      .select(col("t"),
        max(col("z") * 10000L + col("t")).over(w).as("ench"),
        min(col("z") * 10000L + (lit(9999) - col("t"))).over(w)
          .as("encl"))
      .where(col("t") >= 14)
      .select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
        expr("(1000 * (13 - (t - ench % 10000))) div 13").as("up"),
        expr("(1000 * (13 - (t - (9999 - encl % 10000)))) div 13")
          .as("down"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"), sum(col("up")).as("su"),
        sum(col("down")).as("sd"),
        sum(col("up") - col("down")).as("so"))
      .select(col("epoch"), col("n_days"),
        expr("CAST(su div n_days AS BIGINT)").as("mean_up_milli"),
        expr("CAST(sd div n_days AS BIGINT)").as("mean_down_milli"),
        expr("CAST(so div n_days AS BIGINT)").as("mean_osc_milli"))
      .orderBy(col("epoch"))
  }

  /** Williams %R per epoch (milli, 0 = at channel high): mean, plus
    * overbought (< 200) and oversold (> 800) day counts. */
  def q1103: Q = Q(
    "q1103_williams_r",
    Some(s"""
      |WITH ${sqlCh},
      |d AS (SELECT epoch, (1000 * (hh - z)) // (hh - ll) AS wr
      |      FROM ch WHERE hh > ll)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(wr) // count(*) AS BIGINT) AS mean_wr_milli,
      |       CAST(sum(CASE WHEN wr < 200 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS overbought_days,
      |       CAST(sum(CASE WHEN wr > 800 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS oversold_days
      |FROM d GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    ch(s, dir).where(col("hh") > col("ll"))
      .select(col("epoch"),
        expr("(1000 * (hh - z)) div (hh - ll)").as("wr"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"), sum(col("wr")).as("sw"),
        sum(when(col("wr") < 200, 1L).otherwise(0L)).as("ob"),
        sum(when(col("wr") > 800, 1L).otherwise(0L)).as("os"))
      .select(col("epoch"), col("n_days"),
        expr("CAST(sw div n_days AS BIGINT)").as("mean_wr_milli"),
        col("ob").as("overbought_days"), col("os").as("oversold_days"))
      .orderBy(col("epoch"))
  }

  /** Stochastic oscillator per epoch: %K (channel position), %D
    * (3-day trailing integer mean of %K over the FILTERED k frame —
    * both engines window the same t ≥ 14 rows), %K-above-%D days and
    * strict sign-flip crossings. */
  def q1104: Q = Q(
    "q1104_stochastic_kd",
    Some(s"""
      |WITH ${sqlCh},
      |k AS (SELECT t, epoch, (1000 * (z - ll)) // (hh - ll) AS k
      |      FROM ch WHERE hh > ll),
      |kd AS (SELECT t, epoch, k,
      |         (k + lag(k, 1) OVER (ORDER BY t)
      |            + lag(k, 2) OVER (ORDER BY t)) // 3 AS d
      |       FROM k),
      |kx AS (SELECT t, epoch, k, d,
      |         lag(k - d, 1) OVER (ORDER BY t) AS pdiff
      |       FROM kd WHERE d IS NOT NULL)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(k) // count(*) AS BIGINT) AS mean_k_milli,
      |       CAST(sum(d) // count(*) AS BIGINT) AS mean_d_milli,
      |       CAST(sum(CASE WHEN k > d THEN 1 ELSE 0 END) AS BIGINT)
      |         AS k_above_days,
      |       CAST(sum(CASE WHEN pdiff IS NOT NULL
      |                  AND (k - d) * pdiff < 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS crossings
      |FROM kx GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    val wt = Window.orderBy(col("t"))
    val k = ch(s, dir).where(col("hh") > col("ll"))
      .select(col("t"), col("epoch"),
        expr("(1000 * (z - ll)) div (hh - ll)").as("k"))
    val kd2 = k
      .withColumn("plag1", lag(col("k"), 1).over(wt))
      .withColumn("plag2", lag(col("k"), 2).over(wt))
      .select(col("t"), col("epoch"), col("k"),
        expr("CAST((k + plag1 + plag2) div 3 AS BIGINT)").as("d"))
      .where(col("d").isNotNull)
      .withColumn("pdiff", lag(col("k") - col("d"), 1).over(wt))
    kd2.groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"), sum(col("k")).as("sk"),
        sum(col("d")).as("sdd"),
        sum(when(col("k") > col("d"), 1L).otherwise(0L)).as("ka"),
        sum(when(col("pdiff").isNotNull &&
          (col("k") - col("d")) * col("pdiff") < 0, 1L).otherwise(0L))
          .as("cx"))
      .select(col("epoch"), col("n_days"),
        expr("CAST(sk div n_days AS BIGINT)").as("mean_k_milli"),
        expr("CAST(sdd div n_days AS BIGINT)").as("mean_d_milli"),
        col("ka").as("k_above_days"), col("cx").as("crossings"))
      .orderBy(col("epoch"))
  }

  /** Chande momentum oscillator per epoch over 14 day-over-day moves
    * (defined for t ≥ 15; windows of up/down move sums are full). */
  def q1105: Q = Q(
    "q1105_chande_momentum",
    Some(s"""
      |WITH ${DaySeries.sql},
      |df AS (SELECT t, z - lag(z, 1) OVER (ORDER BY t) AS d1 FROM sq),
      |mv AS (SELECT t,
      |         sum(CASE WHEN d1 > 0 THEN d1 ELSE 0 END) OVER (ORDER BY t
      |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS su,
      |         sum(CASE WHEN d1 < 0 THEN -d1 ELSE 0 END) OVER (ORDER BY t
      |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sd
      |       FROM df WHERE d1 IS NOT NULL),
      |cm AS (SELECT (t - 1) // 250 AS epoch,
      |         (1000 * (su - sd)) // (su + sd) AS cmo
      |       FROM mv WHERE t >= 15 AND su + sd > 0)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(cmo) // count(*) AS BIGINT) AS mean_cmo_milli,
      |       CAST(sum(CASE WHEN cmo > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS positive_days,
      |       CAST(sum(CASE WHEN abs(cmo) > 500 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS extreme_days
      |FROM cm GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    val wt = Window.orderBy(col("t"))
    val w14 = Window.orderBy(col("t")).rowsBetween(-13, 0)
    DaySeries.revenue(s, dir)
      .select(col("t"), (col("z") - lag(col("z"), 1).over(wt)).as("d1"))
      .where(col("d1").isNotNull)
      .select(col("t"),
        sum(when(col("d1") > 0, col("d1")).otherwise(0L)).over(w14)
          .as("su"),
        sum(when(col("d1") < 0, -col("d1")).otherwise(0L)).over(w14)
          .as("sd"))
      .where(col("t") >= 15 && col("su") + col("sd") > 0)
      .select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
        expr("(1000 * (su - sd)) div (su + sd)").as("cmo"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"), sum(col("cmo")).as("sc"),
        sum(when(col("cmo") > 0, 1L).otherwise(0L)).as("pd"),
        sum(when(abs(col("cmo")) > 500, 1L).otherwise(0L)).as("xd"))
      .select(col("epoch"), col("n_days"),
        expr("CAST(sc div n_days AS BIGINT)").as("mean_cmo_milli"),
        col("pd").as("positive_days"), col("xd").as("extreme_days"))
      .orderBy(col("epoch"))
  }
}
