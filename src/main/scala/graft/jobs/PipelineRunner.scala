package graft.jobs

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SizeGate
import graft.marchmania._
import graft.ml.{Backtest, HpoParams, Modeling, Tuning}
import graft.sources.{LakePaths, Lakehouse, ManifestCommit, ParquetRead}

/** In-process pipeline ≙ reference `jobs/01…12` + `run_pipeline.py`:
  * one SparkSession, sequential fail-fast stages, Bronze → Silver → Gold
  * → backtest → submission export. Unlike the reference (a spark-submit
  * subprocess per job), stages share the session so nothing re-pays JVM
  * startup, and silver/gold land partitioned by Season for downstream
  * partition pruning on season-split reads.
  *
  * A run starts only the jobs its outputs need: every table it writes
  * is read back with the schema the write stated, one per-season count
  * gives the folds' sizes and the gold row count, and the backtest, the
  * final fit and the export share one cached feature table. Each
  * stage's jobs carry the job description `graft:pipeline/<stage>`
  * (`ingest`, `stats`, `elo`, `rolling`, `gold`, `backtest`, `fit`,
  * `export`).
  */
object PipelineRunner {

  final case class Result(
      seasonsBuilt: Long,
      goldRows: Long,
      backtest: Seq[Backtest.FoldMetrics],
      submissionPath: Option[String])

  /** Iteration cap of the backtest's per-fold LR fits and of the plain
    * (no HPO file) LR export. `PipelineConfig`'s `modeling.logreg.*`
    * settings do not reach these fits (see its scaladoc). */
  val LrMaxIter = 15

  /** Runs the job chain ≙ the reference reading `conf/pipeline.yml` in
    * every job: league, ELO constants, rolling N, blend α, model settings
    * and backtest bounds all come from [[PipelineConfig]] (load one with
    * `PipelineConfig.load(path)`).
    *
    * @param inputDir      directory of Kaggle-schema CSVs (compact results,
    *                      seeds, …) routed by the dataset registry
    * @param lakeRoot      lake root directory
    * @param exportCsv     submission CSV to write, if any
    * @param hpoParamsPath `hpo_best_params.json` to reload for the LR+GBT
    *                      ensemble export (absent file → config settings)
    */
  def run(
      spark: SparkSession,
      inputDir: String,
      lakeRoot: String,
      config: PipelineConfig = PipelineConfig(),
      exportCsv: Option[String] = None,
      hpoParamsPath: Option[String] = None): Result = {
    // Apply the config's execution settings for the DURATION of the run
    // only — run() must not leave a hidden session-conf mutation behind
    // for callers whose own queries follow (restored in the finally,
    // with the caller's job description).
    val prevConf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    val prevDescription = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.conf.set("spark.sql.shuffle.partitions", config.shufflePartitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", config.adaptiveEnabled.toString)
    // object-store lake roots self-configure from the reference's env
    // contract (MINIO_* → fs.s3a.*) — hadoop keys must land on the
    // shared hadoopConfiguration at this point, a runtime conf.set
    // would never reach FileSystem init (see ObjectStore scaladoc).
    // Two paths CANNOT honor an s3a URI and must fail loudly at entry
    // (isObjectStorePath's stated purpose) instead of mangling it
    // through java.nio: bronze ingest lists inputDir via Files.list,
    // and the manifest commit protocol hard-links manifests on a local
    // filesystem (the object-store port is a conditional-put, not
    // written here).
    require(!graft.sources.ObjectStore.isObjectStorePath(inputDir),
      s"inputDir '$inputDir': bronze ingest lists the CSV drop directory " +
        "via java.nio and needs a local path; stage object-store inputs " +
        "locally (or extend ingestBronze to a Hadoop FS listing) first")
    require(!(graft.sources.ObjectStore.isObjectStorePath(lakeRoot) &&
        config.commitProtocol == "manifest"),
      s"lakeRoot '$lakeRoot' with commitProtocol=manifest: ManifestCommit " +
        "publishes via local hard links; use the default overwrite " +
        "protocol for object-store roots (plain spark.write handles s3a)")
    if (graft.sources.ObjectStore.isObjectStorePath(lakeRoot))
      graft.sources.ObjectStore.applyToSession(spark,
        graft.sources.ObjectStore.s3aConfsFromEnv())
    try runStages(spark, inputDir, lakeRoot, config, exportCsv, hpoParamsPath)
    finally {
      prevConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sparkContext.setJobDescription(prevDescription)
    }
  }

  private def runStages(
      spark: SparkSession,
      inputDir: String,
      lakeRoot: String,
      config: PipelineConfig,
      exportCsv: Option[String],
      hpoParamsPath: Option[String]): Result = {
    val lake = LakePaths(lakeRoot)
    def stage[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"graft:pipeline/$name")
      f
    }

    // 01: bronze ingest (csv -> trimmed -> parquet)
    stage("ingest")(Lakehouse.ingestBronze(spark, inputDir, lake))

    // games with a stable GameId for deterministic fold/window tie-breaks
    val games = ParquetRead(spark, lake.bronze(s"${config.league}/regular_compact"))
    val gamesKeyed = games.select(
      col("Season").cast("int").as("Season"),
      col("DayNum").cast("int").as("DayNum"),
      // content-derived id: deterministic ACROSS runs, unlike mono_id
      abs(xxhash64(col("Season"), col("DayNum"), col("WTeamID"), col("LTeamID"),
        col("WScore"), col("LScore"))).as("GameId"),
      col("WTeamID"), col("LTeamID"), col("WScore"), col("LScore"))

    // dataset hand-off under the configured commit protocol: reference
    // parity is plain overwrite; "manifest" routes through ManifestCommit
    // (crash-safe generations, object-store-safe publish) with the same
    // Season partitioning either way. Both read back with the schema the
    // write committed, without a footer-inference job.
    val manifest = config.commitProtocol == "manifest"
    def writeRead(df: DataFrame, path: String): DataFrame =
      if (manifest) {
        ManifestCommit.writeVersioned(df, path, partitionBy = Seq("Season"))
        ManifestCommit.read(spark, path)
      } else ParquetRead.write(df, path, Seq("Season"))
    def writeSilver(df: DataFrame, name: String): DataFrame =
      writeRead(df, lake.silver(config.league, name))

    // 02: team-season stats  05: elo  06: rolling snapshot
    val stats = stage("stats")(
      writeSilver(TeamSeasonStats.build(gamesKeyed), "team_season_stats"))
    val elo = stage("elo")(writeSilver(
      Elo.perSeason(gamesKeyed, config.eloKFactor, config.eloInitialRating),
      "elo_ratings"))
    val rolling = stage("rolling")(writeSilver(
      Rolling.lastPerSeason(Rolling.features(LongGames.build(gamesKeyed), config.rollingN)),
      "rolling_last_per_season"))

    // 03: gold training matchups (two-sided attach + diffs + dropna)
    val goldRead = stage("gold") {
      val features = stats.select("Season", "TeamID", "WinRate", "AvgPointDiff")
        .join(elo, Seq("Season", "TeamID"), "left")
        .join(rolling.select(col("Season"), col("TeamID"), col("RollWinRate")),
          Seq("Season", "TeamID"), "left")
      val gold = Matchups.dropIncomplete(
        Matchups.attachFeatures(
          Matchups.buildLabeled(gamesKeyed), features,
          diffCols = Seq("WinRate", "AvgPointDiff", "Elo")),
        essential = Seq("WinRateDiff", "AvgPointDiffDiff", "EloDiff"))
      writeRead(gold, lake.gold(config.league, "training_matchups"))
    }

    // the gold rows per season give the folds' sizes and the gold row
    // count. Under the size gate the feature table is ONE partition in a
    // fixed row order: a fit of a few thousand rows is bound by per-task
    // cost, and one task per MLlib pass sums its gradients in the same
    // order on every run, so predictions and metrics are reproducible.
    val featureCols = Seq("WinRateDiff", "AvgPointDiffDiff", "EloDiff")
    val seasonRows = stage("backtest")(Backtest.seasonRows(goldRead))
    val goldRows = seasonRows.map(_._2).sum
    val filled = Modeling.fillMissing(goldRead, featureCols)
    val full = (if (SizeGate.local(spark, SizeGate.EdgeRows)(goldRows))
      filled.repartition(1).sortWithinPartitions("Season", "GameId", "Team1")
    else filled).cache()
    try {
      // 07: rolling backtest (season bounds from config)
      val metrics = stage("backtest")(Backtest.folds(full, seasonRows, featureCols,
        minTrainSeasons = 1, maxIter = LrMaxIter,
        minTrainSeason = config.minTrainSeason, maxValSeason = config.maxValSeason))

      // 04/12: final fit + submission export. With an HPO params file
      // (S7, ≙ jobs/12:58-89) the export is the LR+GBT ensemble fit with
      // the reloaded tuned params; absent file or param → the config's
      // `modeling.*` settings;
      // no path requested → the plain LR export.
      val path = exportCsv.map { out =>
        def matchupId = concat_ws("_", col("Season"), col("Team1"), col("Team2")).as("ID")
        val scored = stage("fit")(hpoParamsPath match {
          case Some(p) =>
            val hpo = HpoParams.read(p)
            val lrParams = hpo.map(_.logreg.params).getOrElse(Map.empty)
            val gbtParams = hpo.map(_.gbt.params).getOrElse(Map.empty)
            val lrModel = HpoParams.lrFrom(lrParams, featureCols, config).fit(full)
            val gbtModel = HpoParams.gbtFrom(gbtParams, featureCols, config).fit(full)
            // blend by chaining transforms over ONE frame — gold matchup IDs
            // are not unique (rematches), so the reference's join-on-ID blend
            // (Modeling.blend, kept for unique-ID submission frames) would
            // fan out here; chaining also skips the join entirely
            val withLr = lrModel.transform(full)
              .withColumn("pred_lr", Modeling.probOf())
              .drop("features", "rawPrediction", "probability", "prediction")
            gbtModel.transform(withLr)
              .withColumn("pred_gbt", Modeling.probOf())
              .select(matchupId,
                (lit(config.blendAlphaGbt) * col("pred_gbt") +
                  lit(1.0 - config.blendAlphaGbt) * col("pred_lr")).as("Pred"))
          case None =>
            Modeling.lrPipeline(featureCols, maxIter = LrMaxIter).fit(full).transform(full)
              .select(matchupId, Modeling.probOf().as("Pred"))
        })
        stage("export")(Lakehouse.exportSingleCsv(scored, out).toString)
      }

      // every Season= directory of the written stats table is one season
      // built (a null season included), read off the file listing
      val seasonsBuilt = stats.inputFiles
        .flatMap(_.split('/').find(_.startsWith("Season="))).distinct.length
      Result(seasonsBuilt, goldRows, metrics, path)
    } finally full.unpersist()
  }

  /** HPO stage ≙ reference `jobs/11_hpo_backtest.py:30-58`: split the gold
    * table on its latest season, tune LR and GBT grids on the earlier
    * seasons, evaluate both winners on the holdout, export everything as
    * `hpo_best_params.json` for [[run]]'s ensemble stage to reload.
    * Grid arguments default to the reference's; tests pass singletons.
    */
  def hpoBacktest(
      gold: DataFrame,
      featureCols: Seq[String],
      league: String,
      outPath: String,
      lrRegParams: Seq[Double] = Seq(0.0, 0.02, 0.05, 0.1),
      lrElasticNets: Seq[Double] = Seq(0.0, 0.5),
      lrMaxIter: Int = 60,
      gbtMaxDepths: Seq[Int] = Seq(3, 5),
      gbtMaxIters: Seq[Int] = Seq(80, 120),
      gbtSubsampling: Seq[Double] = Seq(0.7, 0.9)): HpoParams.HpoResult = {
    val full = Modeling.fillMissing(gold, featureCols).cache()
    val valSeason = full.agg(max(col("Season"))).head().getInt(0)
    val train = full.filter(col("Season") < valSeason)
    val holdout = full.filter(col("Season") === valSeason)
    val lrTvs = Tuning.tuneLr(train, featureCols, lrRegParams, lrElasticNets, lrMaxIter)
    val gbtTvs = Tuning.tuneGbt(train, featureCols, gbtMaxDepths, gbtMaxIters, gbtSubsampling)
    def reportOf(tvs: org.apache.spark.ml.tuning.TrainValidationSplitModel) = {
      val (auc, ll) = Modeling.evaluate(tvs.bestModel.asInstanceOf[PipelineModel], holdout)
      HpoParams.ModelReport(HpoParams.bestParams(tvs), auc, ll)
    }
    val result = HpoParams.HpoResult(
      league, valSeason, featureCols, reportOf(lrTvs), reportOf(gbtTvs))
    full.unpersist()
    HpoParams.write(result, outPath)
    result
  }
}
