package graft.marchmania

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Massey ordinal-ranking consensus. ≙ reference `src/features/massey.py:23-71`
  * (W2+A2): keep each system's most recent ranking per (Season, TeamID,
  * SystemName), then aggregate mean / median / count across systems.
  *
  * The reference uses `percentile_approx(·, 0.5)`; we use the exact
  * `percentile` (identical result at these cardinalities, and exactly
  * reproducible — the approx sketch's answer depends on merge order).
  * Two shuffles: one for the latest-per-system pick
  * (`Relational.latestPerKey`), one for the group-by.
  */
object Massey {
  def consensus(
      ordinals: DataFrame,
      tieBreak: Seq[String] = Seq.empty,
      approxMedian: Boolean = false): DataFrame = {
    val latest = Relational.latestPerKey(
      ordinals,
      keys = Seq("Season", "TeamID", "SystemName"),
      orderDesc = "RankingDayNum" +: tieBreak)
    val median =
      if (approxMedian) // the reference's actual choice (accuracy 10000)
        percentile_approx(col("OrdinalRank"), lit(0.5), lit(10000))
      else expr("percentile(OrdinalRank, 0.5)")
    latest
      .groupBy(col("Season"), col("TeamID"))
      .agg(
        (sum(col("OrdinalRank")) / count(lit(1))).as("MasseyMeanRank"),
        median.as("MasseyMedianRank"),
        count(lit(1)).as("Systems"))
  }
}
