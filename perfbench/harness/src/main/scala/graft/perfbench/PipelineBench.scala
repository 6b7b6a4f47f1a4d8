package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.{PipelineConfig, PipelineRunner}
import graft.marchmania._
import graft.ml.{Backtest, Modeling}
import graft.sources.{LakePaths, Lakehouse}

/** The `pipeline` workload: the reference job chain, Kaggle CSVs in, lake
  * and submission CSV out.
  *
  * @param expected seasons, gold rows and backtest folds the generated
  *                 inputs must produce
  */
final class PipelineBench(spark: SparkSession, inputDir: String, workDir: String,
    config: PipelineConfig, expected: Map[String, Int]) {

  val lakeRoot: String = s"$workDir/lake"
  val exportPath: String = s"$workDir/export/submission.csv"
  private val featureCols = Seq("WinRateDiff", "AvgPointDiffDiff", "EloDiff")

  /** One untraced run, exactly as a user calls it. */
  def run(): PipelineRunner.Result =
    PipelineRunner.run(spark, inputDir, lakeRoot, config, Some(exportPath), None)

  /** The same run, stage by stage through the public stage functions in
    * PipelineRunner's order, with a span around each stage. */
  def traced(t: Tracer): PipelineRunner.Result = t.span("pipeline.run") {
    val prev = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", config.shufflePartitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", config.adaptiveEnabled.toString)
    try {
      val league = config.league
      val lake = LakePaths(lakeRoot)
      t.span("sources.ingest")(Lakehouse.ingestBronze(spark, inputDir, lake))
      val games = spark.read.parquet(lake.bronze(s"$league/regular_compact"))
      val gamesKeyed = games.select(
        col("Season").cast("int").as("Season"),
        col("DayNum").cast("int").as("DayNum"),
        abs(xxhash64(col("Season"), col("DayNum"), col("WTeamID"), col("LTeamID"),
          col("WScore"), col("LScore"))).as("GameId"),
        col("WTeamID"), col("LTeamID"), col("WScore"), col("LScore"))
      def writeRead(df: DataFrame, path: String): DataFrame = {
        df.write.mode(SaveMode.Overwrite).partitionBy("Season").parquet(path)
        spark.read.parquet(path)
      }
      def silver(df: DataFrame, name: String) = writeRead(df, lake.silver(league, name))
      val stats = t.span("marchmania.stats")(
        silver(TeamSeasonStats.build(gamesKeyed), "team_season_stats"))
      val elo = t.span("marchmania.elo")(silver(
        Elo.perSeason(gamesKeyed, config.eloKFactor, config.eloInitialRating), "elo_ratings"))
      val rolling = t.span("marchmania.rolling")(silver(
        Rolling.lastPerSeason(Rolling.features(LongGames.build(gamesKeyed), config.rollingN)),
        "rolling_last_per_season"))
      val goldRead = t.span("marchmania.gold") {
        val features = stats.select("Season", "TeamID", "WinRate", "AvgPointDiff")
          .join(elo, Seq("Season", "TeamID"), "left")
          .join(rolling.select(col("Season"), col("TeamID"), col("RollWinRate")),
            Seq("Season", "TeamID"), "left")
        val gold = Matchups.dropIncomplete(
          Matchups.attachFeatures(Matchups.buildLabeled(gamesKeyed), features,
            diffCols = Seq("WinRate", "AvgPointDiff", "Elo")),
          essential = featureCols)
        writeRead(gold, lake.gold(league, "training_matchups"))
      }
      val folds = t.span("ml.backtest")(Backtest.rollingSeasons(
        Modeling.fillMissing(goldRead, featureCols), featureCols, maxIter = 15,
        minTrainSeason = config.minTrainSeason, maxValSeason = config.maxValSeason))
      val full = Modeling.fillMissing(goldRead, featureCols).cache()
      val model = t.span("ml.fit")(Modeling.lrPipeline(featureCols, maxIter = 15).fit(full))
      val scored = model.transform(full).select(
        concat_ws("_", col("Season"), col("Team1"), col("Team2")).as("ID"),
        Modeling.probOf().as("Pred"))
      val written = t.span("sources.export")(Lakehouse.exportSingleCsv(scored, exportPath))
      full.unpersist()
      PipelineRunner.Result(stats.select("Season").distinct().count(), goldRead.count(),
        folds, Some(written.toString))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Everything wrong with one run's result and outputs (empty: correct). */
  def check(r: PipelineRunner.Result): Seq[String] = {
    val lines = Files.readAllLines(Paths.get(exportPath)).asScala.toSeq
    val preds = lines.drop(1).map(l => l.substring(l.lastIndexOf(',') + 1).toDouble)
    Seq(
      (r.seasonsBuilt == expected("seasons")) -> s"seasonsBuilt ${r.seasonsBuilt}",
      (r.goldRows == expected("gold_rows")) -> s"goldRows ${r.goldRows}",
      (lines.size == r.goldRows + 1) -> s"submission has ${lines.size} lines",
      preds.forall(p => p >= 0.0 && p <= 1.0) -> "prediction outside [0,1]",
      (r.backtest.size == expected("folds")) -> s"${r.backtest.size} backtest folds",
      r.backtest.forall(f => !f.auc.isNaN) -> "NaN backtest AUC",
      r.submissionPath.contains(exportPath) -> s"submission at ${r.submissionPath}"
    ).collect { case (false, msg) => msg }
  }

  /** Order-insensitive digests of the gold table and the submission. The
    * submission's predictions enter at 1e-9: MLlib adds the partial
    * gradients of a fit in task-completion order, so the last bits of a
    * prediction differ between any two runs. */
  def digests(): (String, String) = {
    val gold = spark.read.parquet(LakePaths(lakeRoot).gold(config.league, "training_matchups"))
    val goldRows = gold.select(gold.columns.sorted.map(col): _*).collect().map(_.mkString("|"))
    val sub = Files.readAllLines(Paths.get(exportPath)).asScala.toSeq.tail.map { l =>
      val i = l.lastIndexOf(',')
      l.take(i) + "," + "%.9f".formatLocal(java.util.Locale.ROOT, l.drop(i + 1).toDouble)
    }
    (sha(goldRows.sorted), sha(sub.sorted))
  }

  private def sha(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Bytes and files under the lake root plus the exported submission. */
  def written(): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(lakeRoot)) :+ new File(exportPath)
    (files.map(_.length).sum, files.size.toLong)
  }

  def inputBytes(): Long =
    Option(new File(inputDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".csv")).map(_.length).sum
}
