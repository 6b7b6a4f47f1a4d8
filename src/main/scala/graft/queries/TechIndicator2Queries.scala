package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-11 technical-indicator wave II on the daily series — the
  * volume-aware and multi-window indicators q1101-q1105 left out:
  * the Commodity Channel Index, the Ultimate Oscillator, the
  * Ichimoku cloud position, On-Balance Volume (daily quantity as
  * volume), and the Money Flow Index. Full causal windows only,
  * summarized per 250-day epoch.
  *
  * Exactness: deviations are scaled integers (N·z − Σz — no rational
  * SMA ever materializes); CCI is a pure integer floor-ratio; UO and
  * MFI finish in ONE shared-text double step over exact BIGINT /
  * DECIMAL window sums; Ichimoku midlines are integer half-sums
  * (floor, stated); OBV is an exact prefix sum. Money flow rides
  * DECIMAL(19,0)×DECIMAL(19,0) products (BIGINT would overflow past
  * sf1).
  *
  * Scale: the one fact-scaled pass is the day aggregate (revenue
  * spine; the volume queries aggregate quantity once inline). The
  * CCI mean-deviation pass is a day-dim range self-join (~2.5k×20
  * rows). Everything else is windows over the day dim. */
object TechIndicator2Queries {

  val all: Seq[Q] = Seq(q1106, q1107, q1108, q1109, q1110)

  /** Oracle day series with quantity volume: sq(t, z, q). */
  private def sqlSqv: String = """
    |day AS (SELECT CAST(l_shipdate AS DATE) AS dd,
    |               sum(CAST(l_extendedprice * 100 AS BIGINT)) AS z,
    |               sum(CAST(l_quantity AS BIGINT)) AS q
    |        FROM lineitem GROUP BY 1),
    |sq AS (SELECT row_number() OVER (ORDER BY dd) AS t, z, q FROM day)""".stripMargin

  /** Spark twin of [[sqlSqv]]. */
  private def sqv(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_shipdate").cast("date").as("dd"),
        expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
          .as("v"),
        col("l_quantity").cast("long").as("qv"))
      .groupBy(col("dd"))
      .agg(sum(col("v")).as("z"), sum(col("qv")).as("q"))
      .select(row_number().over(Window.orderBy(col("dd"))).as("t"),
        col("z"), col("q"))

  /** CCI (N = 20) per epoch: cci = (z − SMA)/(0.015·MD) as the exact
    * integer ratio 10⁶·N·(N·z − Σz) / (15·Σ|N·z_j − Σz|) — the mean
    * deviation runs over the SAME window as the SMA via a day-dim
    * range self-join. */
  def q1106: Q = Q(
    "q1106_cci",
    Some(s"""
      |WITH ${DaySeries.sql},
      |sm AS (SELECT t, z, sum(z) OVER (ORDER BY t
      |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s
      |       FROM sq),
      |dv AS (SELECT a.t, a.z, a.s,
      |              sum(abs(20 * b.z - a.s)) AS sdev
      |       FROM sm a JOIN sq b ON b.t BETWEEN a.t - 19 AND a.t
      |       WHERE a.t >= 20 GROUP BY 1, 2, 3),
      |cc AS (SELECT (t - 1) // 250 AS epoch,
      |         (1000000 * 20 * (20 * z - s)) // (15 * sdev) AS cci
      |       FROM dv WHERE sdev > 0)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(cci) // count(*) AS BIGINT) AS mean_cci_milli,
      |       CAST(sum(CASE WHEN cci > 100000 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS above_100_days,
      |       CAST(sum(CASE WHEN cci < -100000 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS below_100_days
      |FROM cc GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    val sq = DaySeries.revenue(s, dir)
    val sm = sq.select(col("t"), col("z"),
      sum(col("z")).over(Window.orderBy(col("t")).rowsBetween(-19, 0))
        .as("s"))
    val b = sq.select(col("t").as("tb"), col("z").as("zb"))
    val dv = sm.where(col("t") >= 20)
      .join(b, col("tb").between(col("t") - 19, col("t")))
      .groupBy(col("t"), col("z"), col("s"))
      .agg(sum(abs(lit(20) * col("zb") - col("s"))).as("sdev"))
    dv.where(col("sdev") > 0)
      .select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
        expr("(1000000 * 20 * (20 * z - s)) div (15 * sdev)").as("cci"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"), sum(col("cci")).as("sc"),
        sum(when(col("cci") > 100000, 1L).otherwise(0L)).as("ab"),
        sum(when(col("cci") < -100000, 1L).otherwise(0L)).as("be"))
      .select(col("epoch"), col("n_days"),
        expr("CAST(sc div n_days AS BIGINT)").as("mean_cci_milli"),
        col("ab").as("above_100_days"), col("be").as("below_100_days"))
      .orderBy(col("epoch"))
  }

  /** Ultimate Oscillator (7/14/28) per epoch: buying pressure
    * BP = z − min(z, z_prev), true range TR = |Δz|; UO finishes in
    * one shared double step over the six exact window sums. */
  def q1107: Q = {
    val uo = "((4.0 * CAST(b7 AS DOUBLE) / CAST(t7 AS DOUBLE)" +
      " + 2.0 * CAST(b14 AS DOUBLE) / CAST(t14 AS DOUBLE)" +
      " + CAST(b28 AS DOUBLE) / CAST(t28 AS DOUBLE)) / 7.0)"
    Q("q1107_ultimate_oscillator",
      Some(s"""
        |WITH ${DaySeries.sql},
        |bt AS (SELECT t,
        |         z - least(z, lag(z, 1) OVER (ORDER BY t)) AS bp,
        |         abs(z - lag(z, 1) OVER (ORDER BY t)) AS tr
        |       FROM sq),
        |wins AS (SELECT t,
        |    sum(bp) OVER (ORDER BY t ROWS BETWEEN 6 PRECEDING
        |      AND CURRENT ROW) AS b7,
        |    sum(tr) OVER (ORDER BY t ROWS BETWEEN 6 PRECEDING
        |      AND CURRENT ROW) AS t7,
        |    sum(bp) OVER (ORDER BY t ROWS BETWEEN 13 PRECEDING
        |      AND CURRENT ROW) AS b14,
        |    sum(tr) OVER (ORDER BY t ROWS BETWEEN 13 PRECEDING
        |      AND CURRENT ROW) AS t14,
        |    sum(bp) OVER (ORDER BY t ROWS BETWEEN 27 PRECEDING
        |      AND CURRENT ROW) AS b28,
        |    sum(tr) OVER (ORDER BY t ROWS BETWEEN 27 PRECEDING
        |      AND CURRENT ROW) AS t28
        |  FROM bt WHERE bp IS NOT NULL),
        |u AS (SELECT (t - 1) // 250 AS epoch,
        |        CAST(floor(1000.0 * $uo) AS BIGINT) AS uo
        |      FROM wins
        |      WHERE t >= 29 AND t7 > 0 AND t14 > 0 AND t28 > 0)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(uo) // count(*) AS BIGINT) AS mean_uo_milli,
        |       CAST(sum(CASE WHEN uo > 700 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS overbought_days,
        |       CAST(sum(CASE WHEN uo < 300 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS oversold_days
        |FROM u GROUP BY 1 ORDER BY epoch
        |""".stripMargin)) { (s, dir) =>
      val wt = Window.orderBy(col("t"))
      def win(n: Int) = Window.orderBy(col("t")).rowsBetween(-(n - 1), 0)
      val bt = DaySeries.revenue(s, dir)
        .select(col("t"),
          (col("z") - least(col("z"), lag(col("z"), 1).over(wt)))
            .as("bp"),
          abs(col("z") - lag(col("z"), 1).over(wt)).as("tr"))
        .where(col("bp").isNotNull)
      bt.select(col("t"),
        sum(col("bp")).over(win(7)).as("b7"),
        sum(col("tr")).over(win(7)).as("t7"),
        sum(col("bp")).over(win(14)).as("b14"),
        sum(col("tr")).over(win(14)).as("t14"),
        sum(col("bp")).over(win(28)).as("b28"),
        sum(col("tr")).over(win(28)).as("t28"))
        .where(col("t") >= 29 && col("t7") > 0 && col("t14") > 0 &&
          col("t28") > 0)
        .select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
          expr(s"CAST(floor(1000.0 * $uo) AS BIGINT)").as("uo"))
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_days"), sum(col("uo")).as("su"),
          sum(when(col("uo") > 700, 1L).otherwise(0L)).as("ob"),
          sum(when(col("uo") < 300, 1L).otherwise(0L)).as("os"))
        .select(col("epoch"), col("n_days"),
          expr("CAST(su div n_days AS BIGINT)").as("mean_uo_milli"),
          col("ob").as("overbought_days"), col("os").as("oversold_days"))
        .orderBy(col("epoch"))
    }
  }

  /** Ichimoku cloud position per epoch: Tenkan (9), Kijun (26),
    * Senkou A/B (projected 26 days — realized via lag 26), price
    * above / inside / below cloud day counts and Tenkan-Kijun
    * crossings. Midlines are floor half-sums (stated). */
  def q1108: Q = Q(
    "q1108_ichimoku_cloud",
    Some(s"""
      |WITH ${DaySeries.sql},
      |ln0 AS (SELECT t, z,
      |    (max(z) OVER (ORDER BY t ROWS BETWEEN 8 PRECEDING
      |       AND CURRENT ROW)
      |     + min(z) OVER (ORDER BY t ROWS BETWEEN 8 PRECEDING
      |       AND CURRENT ROW)) // 2 AS tenkan,
      |    (max(z) OVER (ORDER BY t ROWS BETWEEN 25 PRECEDING
      |       AND CURRENT ROW)
      |     + min(z) OVER (ORDER BY t ROWS BETWEEN 25 PRECEDING
      |       AND CURRENT ROW)) // 2 AS kijun,
      |    (max(z) OVER (ORDER BY t ROWS BETWEEN 51 PRECEDING
      |       AND CURRENT ROW)
      |     + min(z) OVER (ORDER BY t ROWS BETWEEN 51 PRECEDING
      |       AND CURRENT ROW)) // 2 AS span52
      |  FROM sq),
      |cl AS (SELECT t, z, tenkan, kijun,
      |         lag((tenkan + kijun) // 2, 26) OVER (ORDER BY t) AS sa,
      |         lag(span52, 26) OVER (ORDER BY t) AS sb,
      |         lag(tenkan - kijun, 1) OVER (ORDER BY t) AS pdiff
      |       FROM ln0),
      |ic AS (SELECT (t - 1) // 250 AS epoch, z, tenkan, kijun, pdiff,
      |         greatest(sa, sb) AS ctop, least(sa, sb) AS cbot
      |       FROM cl WHERE t >= 78)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(CASE WHEN z > ctop THEN 1 ELSE 0 END) AS BIGINT)
      |         AS above_cloud_days,
      |       CAST(sum(CASE WHEN z < cbot THEN 1 ELSE 0 END) AS BIGINT)
      |         AS below_cloud_days,
      |       CAST(sum(CASE WHEN z <= ctop AND z >= cbot THEN 1 ELSE 0
      |            END) AS BIGINT) AS in_cloud_days,
      |       CAST(sum(CASE WHEN pdiff IS NOT NULL
      |            AND (tenkan - kijun) * pdiff < 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS tk_crossings
      |FROM ic GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    val wt = Window.orderBy(col("t"))
    def win(n: Int) = Window.orderBy(col("t")).rowsBetween(-(n - 1), 0)
    val base = DaySeries.revenue(s, dir)
      .select(col("t"), col("z"),
        max(col("z")).over(win(9)).as("mx9"),
        min(col("z")).over(win(9)).as("mn9"),
        max(col("z")).over(win(26)).as("mx26"),
        min(col("z")).over(win(26)).as("mn26"),
        max(col("z")).over(win(52)).as("mx52"),
        min(col("z")).over(win(52)).as("mn52"))
      .select(col("t"), col("z"),
        expr("CAST((mx9 + mn9) div 2 AS BIGINT)").as("tenkan"),
        expr("CAST((mx26 + mn26) div 2 AS BIGINT)").as("kijun"),
        expr("CAST((mx52 + mn52) div 2 AS BIGINT)").as("span52"))
    val cl = base
      .withColumn("sa",
        lag(expr("CAST((tenkan + kijun) div 2 AS BIGINT)"), 26).over(wt))
      .withColumn("sb", lag(col("span52"), 26).over(wt))
      .withColumn("pdiff", lag(col("tenkan") - col("kijun"), 1).over(wt))
      .where(col("t") >= 78)
      .select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
        col("z"), col("tenkan"), col("kijun"), col("pdiff"),
        greatest(col("sa"), col("sb")).as("ctop"),
        least(col("sa"), col("sb")).as("cbot"))
    cl.groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("z") > col("ctop"), 1L).otherwise(0L)).as("ac"),
        sum(when(col("z") < col("cbot"), 1L).otherwise(0L)).as("bc"),
        sum(when(col("z") <= col("ctop") && col("z") >= col("cbot"), 1L)
          .otherwise(0L)).as("ic"),
        sum(when(col("pdiff").isNotNull &&
          (col("tenkan") - col("kijun")) * col("pdiff") < 0, 1L)
          .otherwise(0L)).as("cx"))
      .select(col("epoch"), col("n_days"),
        col("ac").as("above_cloud_days"),
        col("bc").as("below_cloud_days"),
        col("ic").as("in_cloud_days"), col("cx").as("tk_crossings"))
      .orderBy(col("epoch"))
  }

  /** On-Balance Volume (daily quantity as volume) per epoch: end /
    * min / max OBV (exact prefix sum) and 14-day OBV-price
    * divergence day counts. */
  def q1109: Q = Q(
    "q1109_on_balance_volume",
    Some(s"""
      |WITH ${sqlSqv},
      |sg AS (SELECT t, z, q,
      |         CASE WHEN z > lag(z, 1) OVER (ORDER BY t) THEN q
      |              WHEN z < lag(z, 1) OVER (ORDER BY t) THEN -q
      |              ELSE 0 END AS sv
      |       FROM sq),
      |ob AS (SELECT t, z,
      |         sum(CASE WHEN sv IS NULL THEN 0 ELSE sv END)
      |           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
      |             AND CURRENT ROW) AS obv
      |       FROM sg),
      |dv AS (SELECT (t - 1) // 250 AS epoch, t, obv,
      |         obv - lag(obv, 14) OVER (ORDER BY t) AS dobv,
      |         z - lag(z, 14) OVER (ORDER BY t) AS dz
      |       FROM ob)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(max_by(obv, t) AS BIGINT) AS obv_end,
      |       CAST(min(obv) AS BIGINT) AS obv_min,
      |       CAST(max(obv) AS BIGINT) AS obv_max,
      |       CAST(sum(CASE WHEN dobv IS NOT NULL AND dobv * dz < 0
      |            THEN 1 ELSE 0 END) AS BIGINT) AS divergence_days
      |FROM dv GROUP BY 1 ORDER BY epoch
      |""".stripMargin)) { (s, dir) =>
    val wt = Window.orderBy(col("t"))
    val sg = sqv(s, dir)
      .select(col("t"), col("z"), col("q"),
        when(col("z") > lag(col("z"), 1).over(wt), col("q"))
          .when(col("z") < lag(col("z"), 1).over(wt), -col("q"))
          .otherwise(0L).as("sv"))
    val ob = sg.select(col("t"), col("z"),
      sum(coalesce(col("sv"), lit(0L)))
        .over(wt.rowsBetween(Window.unboundedPreceding, 0)).as("obv"))
    ob.select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
      col("t"), col("obv"),
      (col("obv") - lag(col("obv"), 14).over(wt)).as("dobv"),
      (col("z") - lag(col("z"), 14).over(wt)).as("dz"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_days"),
        max_by(col("obv"), col("t")).cast("long").as("obv_end"),
        min(col("obv")).as("obv_min"), max(col("obv")).as("obv_max"),
        sum(when(col("dobv").isNotNull &&
          col("dobv") * col("dz") < 0, 1L).otherwise(0L))
          .as("divergence_days"))
      .select(col("epoch"), col("n_days"), col("obv_end"),
        col("obv_min"), col("obv_max"), col("divergence_days"))
      .orderBy(col("epoch"))
  }

  /** Money Flow Index (N = 14) per epoch: money flow = z·q in
    * DECIMAL(38,0), split by Δz sign; MFI = 1000·PF/(PF+NF) in one
    * shared double step. */
  def q1110: Q = {
    val mfi = "(1000.0 * CAST(pf AS DOUBLE)" +
      " / (CAST(pf AS DOUBLE) + CAST(nf AS DOUBLE)))"
    Q("q1110_money_flow_index",
      Some(s"""
        |WITH ${sqlSqv},
        |fl AS (SELECT t,
        |         CASE WHEN z > lag(z, 1) OVER (ORDER BY t)
        |              THEN CAST(z AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))
        |              ELSE CAST(0 AS DECIMAL(38,0)) END AS pflow,
        |         CASE WHEN z < lag(z, 1) OVER (ORDER BY t)
        |              THEN CAST(z AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))
        |              ELSE CAST(0 AS DECIMAL(38,0)) END AS nflow
        |       FROM sq),
        |wn AS (SELECT t,
        |         sum(pflow) OVER (ORDER BY t ROWS BETWEEN 13 PRECEDING
        |           AND CURRENT ROW) AS pf,
        |         sum(nflow) OVER (ORDER BY t ROWS BETWEEN 13 PRECEDING
        |           AND CURRENT ROW) AS nf
        |       FROM fl WHERE t >= 2),
        |mf AS (SELECT (t - 1) // 250 AS epoch,
        |         CAST(floor($mfi) AS BIGINT) AS mfi
        |       FROM wn WHERE t >= 15 AND pf + nf > 0)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(mfi) // count(*) AS BIGINT) AS mean_mfi_milli,
        |       CAST(sum(CASE WHEN mfi > 800 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS overbought_days,
        |       CAST(sum(CASE WHEN mfi < 200 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS oversold_days
        |FROM mf GROUP BY 1 ORDER BY epoch
        |""".stripMargin)) { (s, dir) =>
      val wt = Window.orderBy(col("t"))
      val w14 = Window.orderBy(col("t")).rowsBetween(-13, 0)
      val fl = sqv(s, dir)
        .select(col("t"),
          when(col("z") > lag(col("z"), 1).over(wt),
            expr("CAST(z AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))")).as("pflow"),
          when(col("z") < lag(col("z"), 1).over(wt),
            expr("CAST(z AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))")).as("nflow"))
      fl.where(col("t") >= 2)
        .select(col("t"), sum(col("pflow")).over(w14).as("pf"),
          sum(col("nflow")).over(w14).as("nf"))
        .where(col("t") >= 15 && col("pf") + col("nf") > 0)
        .select(expr("CAST((t - 1) div 250 AS BIGINT)").as("epoch"),
          expr(s"CAST(floor($mfi) AS BIGINT)").as("mfi"))
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_days"), sum(col("mfi")).as("sm"),
          sum(when(col("mfi") > 800, 1L).otherwise(0L)).as("ob"),
          sum(when(col("mfi") < 200, 1L).otherwise(0L)).as("os"))
        .select(col("epoch"), col("n_days"),
          expr("CAST(sm div n_days AS BIGINT)").as("mean_mfi_milli"),
          col("ob").as("overbought_days"), col("os").as("oversold_days"))
        .orderBy(col("epoch"))
    }
  }
}
