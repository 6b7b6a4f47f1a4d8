package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.marchmania._
import graft.sources.Lakehouse

/** Domain operators exercised on the reference's REAL shipped Kaggle data
  * (read-only fixtures) — structural invariants that must hold on
  * real-world inputs, not just synthetic ones. Skips if the checkout is
  * absent.
  */
class RealDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val src = "/root/reference/scripts/csv_source"

  private def csv(name: String) = {
    assume(Files.exists(Paths.get(s"$src/$name")), s"$name not available")
    Lakehouse.readCsvTrimmed(spark, s"$src/$name")
  }

  test("tourney games: long/stats/elo invariants hold on 2,585 real games") {
    val games = csv("MNCAATourneyCompactResults.csv")
      .withColumn("GameId",
        abs(xxhash64(col("Season"), col("DayNum"), col("WTeamID"), col("LTeamID"))))
    val n = games.count()
    assert(n > 2000)
    assert(LongGames.build(games).count() === 2 * n)
    val stats = TeamSeasonStats.build(games)
    assert(stats.filter(col("Wins") + col("Losses") =!= col("Games")).count() === 0)
    assert(stats.filter(col("WinRate") < 0 || col("WinRate") > 1).count() === 0)
    // every season's ELO is zero-sum
    val badSeasons = Elo.perSeason(games)
      .groupBy(col("Season"))
      .agg(sum(col("Elo")).as("t"), count(lit(1)).as("k"))
      .filter(abs(col("t") - col("k") * 1500.0) > 1e-6)
      .count()
    assert(badSeasons === 0)
  }

  test("every real tournament seed parses (region A-Z, number 1-16)") {
    val parsed = Seeds.parse(csv("MNCAATourneySeeds.csv"))
    assert(parsed.filter(col("SeedRegion") === "" || col("SeedNum").isNull).count() === 0)
    assert(parsed.filter(col("SeedNum") < 1 || col("SeedNum") > 16).count() === 0)
  }

  test("detailed box scores: rates bounded, possessions positive on real data") {
    val prof = DetailedStats.build(csv("MNCAATourneyDetailedResults.csv"))
    assert(prof.count() > 500)
    assert(prof.filter(col("FgPct") < 0.1 || col("FgPct") > 0.9).count() === 0)
    assert(prof.filter(col("FtPct") > 1.0).count() === 0)
    assert(prof.filter(col("PossessionsEst") <= 0).count() === 0)
  }

  test("full pipeline on real W data: bronze -> gold -> backtest -> submission") {
    val raw = csv("WRegularSeasonCompactResults.csv")
      .filter(col("Season").between(2019, 2021))
    val in = TestSpark.tempDir("graft_real_in")
    // stage the subset through our own single-file CSV exporter
    Lakehouse.exportSingleCsv(raw, in.resolve("WRegularSeasonCompactResults.csv").toString)
    val lake = TestSpark.tempDir("graft_real_lake")
    val sub = TestSpark.tempDir("graft_real_out").resolve("submission.csv")
    val result = graft.jobs.PipelineRunner.run(
      spark, in.toString, lake.toString, graft.jobs.PipelineConfig(league = "W"),
      exportCsv = Some(sub.toString))
    assert(result.seasonsBuilt === 3)
    assert(result.goldRows > 10000) // ~5k games/season × 2 perspectives
    // win-rate/elo diffs are genuinely predictive on real basketball data
    result.backtest.foreach(m => assert(m.auc > 0.65, s"season ${m.season} auc ${m.auc}"))
    assert(Files.readAllLines(sub).size.toLong === result.goldRows + 1)
  }

  test("140k-row W regular season: rolling windows + elo run at full size") {
    val games = csv("WRegularSeasonCompactResults.csv")
      .withColumn("GameId",
        abs(xxhash64(col("Season"), col("DayNum"), col("WTeamID"), col("LTeamID"),
          col("WScore"), col("LScore"))))
    val roll = Rolling.features(LongGames.build(games), n = 10)
    // trailing windows: null exactly on each team-season's first game
    val firstGames = roll.filter(col("RollWinRate").isNull).count()
    val teamSeasons = games.select(
      explode(array(col("WTeamID"), col("LTeamID"))).as("t"), col("Season"))
      .distinct().count()
    assert(firstGames === teamSeasons)
    val elo = Elo.perSeason(games)
    assert(elo.count() === teamSeasons)
  }
}
