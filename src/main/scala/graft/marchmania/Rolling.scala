package graft.marchmania

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Causal rolling momentum features. ≙ reference `src/features/rolling.py:58-93`
  * (W1): trailing `rowsBetween(-n, -1)` averages per (Season, TeamID) in
  * chronological order, EXCLUDING the current game (anti-leakage); null on
  * the first game of a season (empty frame). Plus the end-of-season
  * snapshot ≙ `jobs/06_build_silver_rolling.py:51-57` (W3).
  *
  * Ordering is made total with (DayNum, GameId) — the reference orders by
  * DayNum only and inherits file order on ties (SURVEY §7.4 risk 1); we pin
  * the tie-break for determinism.
  */
object Rolling {
  def features(longGames: DataFrame, n: Int = 10): DataFrame =
    Relational.trailingAvg(
      longGames,
      keys = Seq("Season", "TeamID"),
      order = Seq(col("DayNum"), col("GameId")),
      n = n,
      values = Seq(
        "RollWinRate" -> col("Win"),
        "RollAvgPointDiff" -> col("PointDiff"),
        "RollAvgPointsFor" -> col("PointsFor"),
        "RollAvgPointsAgainst" -> col("PointsAgainst")))

  /** Latest rolling row per (Season, TeamID) with game-level cols dropped. */
  def lastPerSeason(rollingFeatures: DataFrame): DataFrame =
    Relational.latestPerKey(
      rollingFeatures,
      keys = Seq("Season", "TeamID"),
      orderDesc = Seq("DayNum", "GameId"))
      .drop("OpponentID", "PointsFor", "PointsAgainst", "Win", "PointDiff", "GameId")
}
