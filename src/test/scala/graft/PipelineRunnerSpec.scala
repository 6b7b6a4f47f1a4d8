package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.jobs.PipelineRunner

class PipelineRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("end-to-end: csv -> bronze -> silver -> gold -> backtest -> submission") {
    val in = Files.createTempDirectory("graft_pipe_in")
    val rnd = new scala.util.Random(11)
    val rows = for (season <- 2021 to 2023; day <- 1 to 40) yield {
      val a = 1101 + rnd.nextInt(6); val b = 1110 + rnd.nextInt(6)
      val (ws, ls) = (60 + rnd.nextInt(30), 40 + rnd.nextInt(19))
      s"$season,$day,$a,$ws,$b,$ls,H,0"
    }
    Files.writeString(in.resolve("MRegularSeasonCompactResults.csv"),
      "Season,DayNum,WTeamID,WScore,LTeamID,LScore,WLoc,NumOT\n" + rows.mkString("\n") + "\n")
    val lake = Files.createTempDirectory("graft_pipe_lake")
    val sub = Files.createTempDirectory("graft_pipe_out").resolve("submission.csv")

    val result = PipelineRunner.run(
      spark, in.toString, lake.toString, exportCsv = Some(sub.toString))

    assert(result.seasonsBuilt === 3)
    assert(result.goldRows > 0)
    assert(result.backtest.map(_.season) === Seq(2022, 2023))
    result.backtest.foreach(m => assert(!m.auc.isNaN))
    val lines = Files.readAllLines(sub)
    assert(lines.get(0) === "ID,Pred")
    assert(lines.size.toLong === result.goldRows + 1)
    // silver landed partitioned by Season (partition pruning layout)
    assert(Files.exists(lake.resolve("silver/M/team_season_stats/Season=2021")))
    assert(Files.exists(lake.resolve("gold/M/training_matchups/Season=2023")))

    // S7: HPO tune -> JSON export -> reload -> ensemble export (jobs 11+12)
    val gold = spark.read.parquet(lake.resolve("gold/M/training_matchups").toString)
    val hpoPath = lake.resolve("artifacts/hpo_best_params.json").toString
    val featureCols = Seq("WinRateDiff", "AvgPointDiffDiff", "EloDiff")
    val tuned = PipelineRunner.hpoBacktest(
      gold, featureCols, "M", hpoPath,
      lrRegParams = Seq(0.01, 0.1), lrElasticNets = Seq(0.0), lrMaxIter = 10,
      gbtMaxDepths = Seq(2), gbtMaxIters = Seq(5), gbtSubsampling = Seq(0.9))
    assert(Files.exists(java.nio.file.Paths.get(hpoPath)))
    assert(!tuned.logreg.auc.isNaN && !tuned.gbt.auc.isNaN)
    assert(Seq(0.01, 0.1).contains(tuned.logreg.params("regParam")))

    // round-trip: the reloaded file parses back to the written values
    val reloaded = graft.ml.HpoParams.read(hpoPath).get
    assert(reloaded.valSeason === tuned.valSeason)
    assert(reloaded.featureCols === featureCols)
    assert(reloaded.logreg.params === tuned.logreg.params)
    assert(reloaded.gbt.params === tuned.gbt.params)
    assert(reloaded.gbt.auc === tuned.gbt.auc)

    // ensemble export fits with the loaded params and blends LR+GBT
    val sub2 = Files.createTempDirectory("graft_pipe_out2").resolve("ensemble.csv")
    val result2 = PipelineRunner.run(
      spark, in.toString, lake.toString,
      exportCsv = Some(sub2.toString), hpoParamsPath = Some(hpoPath))
    val lines2 = Files.readAllLines(sub2)
    assert(lines2.get(0) === "ID,Pred")
    assert(lines2.size.toLong === result2.goldRows + 1)
    val preds = (1 until lines2.size).map(i => lines2.get(i).split(",")(1).toDouble)
    assert(preds.forall(p => p >= 0.0 && p <= 1.0))
  }

  test("typed pipeline config parses the reference yml shape and drives a run") {
    val yml = """
      |# Pipeline configuration (edit for experiments)
      |competition:
      |  league: "w"  # lowercased on purpose
      |  name: "march-machine-learning-mania-2026"
      |spark:
      |  shuffle_partitions: 8
      |  adaptive_enabled: true
      |elo:
      |  initial_rating: 1400.0
      |  k_factor: 32.0
      |rolling:
      |  window_last_n_games: 4
      |modeling:
      |  blend_alpha_gbt: 0.5
      |  gbt:
      |    max_iter: 200
      |    max_depth: 5
      |  logreg:
      |    max_iter: 80
      |    reg_param: 0.05
      |backtest:
      |  min_train_season: 2021
      |  max_val_season: 2022
      |""".stripMargin
    val cfg = graft.jobs.PipelineConfig.fromText(yml)
    assert(cfg.league === "W")
    assert(cfg.shufflePartitions === 8)
    assert(cfg.eloInitialRating === 1400.0)
    assert(cfg.eloKFactor === 32.0)
    assert(cfg.rollingN === 4)
    assert(cfg.blendAlphaGbt === 0.5)
    assert(cfg.gbtMaxIter === 200)
    assert(cfg.minTrainSeason === 2021)
    assert(cfg.maxValSeason === 2022)
    // unspecified keys keep defaults
    assert(cfg.gbtSubsamplingRate === 0.8)
    assert(cfg.lrElasticNet === 0.0)

    // config-driven run: W league fixture, backtest bounded to 2022 only
    val in = Files.createTempDirectory("graft_cfg_in")
    val rnd = new scala.util.Random(29)
    val rows = for (season <- 2021 to 2023; day <- 1 to 25) yield {
      val a = 3101 + rnd.nextInt(5); val b = 3110 + rnd.nextInt(5)
      s"$season,$day,$a,${60 + rnd.nextInt(20)},$b,${40 + rnd.nextInt(19)},H,0"
    }
    Files.writeString(in.resolve("WRegularSeasonCompactResults.csv"),
      "Season,DayNum,WTeamID,WScore,LTeamID,LScore,WLoc,NumOT\n" + rows.mkString("\n") + "\n")
    val lake = Files.createTempDirectory("graft_cfg_lake")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val result = graft.jobs.PipelineRunner.run(
        spark, in.toString, lake.toString, cfg, exportCsv = None, hpoParamsPath = None)
      assert(result.seasonsBuilt === 3)
      // max_val_season=2022 excludes the 2023 fold
      assert(result.backtest.map(_.season) === Seq(2022))
      assert(Files.exists(lake.resolve("silver/W/elo_ratings/Season=2021")))
      // the config's execution settings apply only for the run's duration:
      // the caller's session conf is restored afterwards
      assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("manifest commit protocol: pipeline lands silver/gold as committed generations") {
    val in = Files.createTempDirectory("graft_mc_in")
    val rnd = new scala.util.Random(31)
    val rows = for (season <- 2022 to 2023; day <- 1 to 30) yield {
      val a = 1101 + rnd.nextInt(5); val b = 1110 + rnd.nextInt(5)
      s"$season,$day,$a,${60 + rnd.nextInt(20)},$b,${40 + rnd.nextInt(19)},H,0"
    }
    Files.writeString(in.resolve("MRegularSeasonCompactResults.csv"),
      "Season,DayNum,WTeamID,WScore,LTeamID,LScore,WLoc,NumOT\n" + rows.mkString("\n") + "\n")
    val lake = Files.createTempDirectory("graft_mc_lake")
    val cfg = graft.jobs.PipelineConfig(commitProtocol = "manifest")
    val result = PipelineRunner.run(
      spark, in.toString, lake.toString, cfg, exportCsv = None, hpoParamsPath = None)
    assert(result.goldRows > 0)
    // silver/gold are manifest datasets: a committed generation exists and
    // reads back Season-partitioned through the manifest
    val gold = lake.resolve("gold/M/training_matchups")
    assert(Files.list(gold).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_manifest-")))
    val read = graft.sources.ManifestCommit.read(spark, gold.toString)
    assert(read.count() === result.goldRows)
    assert(read.columns.contains("Season"))
  }

  test("missing HPO params file falls back to reference defaults") {
    assert(graft.ml.HpoParams.read("/nonexistent/hpo.json").isEmpty)
    val lr = graft.ml.HpoParams.lrFrom(Map.empty, Seq("f1"))
    val lrStage = lr.getStages(1).asInstanceOf[org.apache.spark.ml.classification.LogisticRegression]
    assert(lrStage.getMaxIter === 80)
    assert(lrStage.getRegParam === 0.05)
    val gbt = graft.ml.HpoParams.gbtFrom(Map.empty, Seq("f1"))
    val gbtStage = gbt.getStages(1).asInstanceOf[org.apache.spark.ml.classification.GBTClassifier]
    assert(gbtStage.getMaxIter === 120)
    assert(gbtStage.getSubsamplingRate === 0.8)
  }

  test("config model settings are the fallback when the HPO file or a param is absent") {
    val cfg = graft.jobs.PipelineConfig.fromText(
      """modeling:
        |  logreg:
        |    max_iter: 7
        |  gbt:
        |    max_depth: 3
        |""".stripMargin)
    assert(graft.ml.HpoParams.read("/nonexistent/hpo.json").isEmpty)
    val lrStage = graft.ml.HpoParams.lrFrom(Map.empty, Seq("f1"), cfg).getStages(1)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegression]
    assert(lrStage.getMaxIter === 7)
    assert(lrStage.getRegParam === 0.05)
    // a param the file does carry wins over the config
    val gbtStage = graft.ml.HpoParams.gbtFrom(Map("maxIter" -> 9.0), Seq("f1"), cfg).getStages(1)
      .asInstanceOf[org.apache.spark.ml.classification.GBTClassifier]
    assert(gbtStage.getMaxIter === 9)
    assert(gbtStage.getMaxDepth === 3)
    assert(gbtStage.getSubsamplingRate === 0.8)
  }

  test("malformed config values are rejected naming the key") {
    def rejected(yml: String): String =
      intercept[IllegalArgumentException](graft.jobs.PipelineConfig.fromText(yml)).getMessage
    assert(rejected("spark:\n  shuffle_partitions: eight\n").contains("spark.shuffle_partitions"))
    assert(rejected("modeling:\n  gbt:\n    max_iter: 2.5\n").contains("modeling.gbt.max_iter"))
    assert(rejected("elo:\n  k_factor: high\n").contains("elo.k_factor"))
    assert(rejected("spark:\n  adaptive_enabled: maybe\n").contains("spark.adaptive_enabled"))
    assert(rejected("lake:\n  commit_protocol: delta\n").contains("unknown commit_protocol"))
    assert(rejected("spark:\n  shuffle_partitions: [8\n").contains("malformed pipeline config"))
    assert(rejected("eight\n").contains("YAML mapping"))
  }

  test("hpo params files written by the earlier hand-rolled writer, or edited by hand, read back") {
    import graft.ml.HpoParams.{HpoResult, ModelReport}
    val expected = HpoResult("M", 2023, Seq("WinRateDiff", "AvgPointDiffDiff", "EloDiff"),
      ModelReport(Map("elasticNetParam" -> 0.0, "maxIter" -> 60.0, "regParam" -> 0.01),
        Double.NaN, 0.6931471805599453),
      ModelReport(Map("maxDepth" -> 2.0, "maxIter" -> 5.0, "stepSize" -> 0.1, "subsamplingRate" -> 0.9),
        0.7125, 0.5843))
    // byte-for-byte the earlier writer's output for `expected`
    val written =
      """{
        |  "league": "M",
        |  "val_season": 2023,
        |  "feature_cols": ["WinRateDiff", "AvgPointDiffDiff", "EloDiff"],
        |  "logreg": {"params": {"elasticNetParam": 0, "maxIter": 60, "regParam": 0.01}, "metrics": {"auc": null, "logloss": 0.6931471805599453}},
        |  "gbt": {"params": {"maxDepth": 2, "maxIter": 5, "stepSize": 0.1, "subsamplingRate": 0.9}, "metrics": {"auc": 0.7125, "logloss": 0.5843}}
        |}
        |""".stripMargin
    // reordered keys, one unknown key, params as integers or decimals
    val edited =
      """{"gbt": {"metrics": {"logloss": 0.5843, "auc": 0.7125},
        |         "params": {"subsamplingRate": 0.9, "stepSize": 0.1, "maxIter": 5.0, "maxDepth": 2}},
        | "note": "tuned by hand",
        | "logreg": {"metrics": {"logloss": 0.6931471805599453, "auc": null},
        |            "params": {"maxIter": 60, "regParam": 0.01, "elasticNetParam": 0}},
        | "feature_cols": ["WinRateDiff", "AvgPointDiffDiff", "EloDiff"],
        | "val_season": 2023, "league": "M"}""".stripMargin
    val dir = Files.createTempDirectory("graft_hpo_compat")
    // NaN != NaN, so compare with the NaN metric mapped to a sentinel
    def comparable(r: HpoResult) =
      r.copy(logreg = r.logreg.copy(auc = if (r.logreg.auc.isNaN) -1.0 else r.logreg.auc))
    Seq("written" -> written, "edited" -> edited).foreach { case (name, text) =>
      val path = dir.resolve(s"$name.json")
      Files.writeString(path, text)
      val back = graft.ml.HpoParams.read(path.toString).get
      assert(back.logreg.auc.isNaN, name)
      assert(comparable(back) === comparable(expected), name)
    }

    // write -> read keeps a NaN AUC, in the same key layout
    val out = dir.resolve("roundtrip.json").toString
    graft.ml.HpoParams.write(expected, out)
    val back = graft.ml.HpoParams.read(out).get
    assert(back.logreg.auc.isNaN)
    assert(comparable(back) === comparable(expected))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(out))
    assert(tree.fieldNames().asScala.toSeq === Seq("league", "val_season", "feature_cols", "logreg", "gbt"))
    assert(tree.at("/logreg/metrics/auc").isNull)
    assert(tree.at("/gbt/metrics").fieldNames().asScala.toSeq === Seq("auc", "logloss"))
  }
}
