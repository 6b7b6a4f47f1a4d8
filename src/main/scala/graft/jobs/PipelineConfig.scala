package graft.jobs

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.dataformat.yaml.YAMLMapper
import java.nio.file.{Files, Paths}

/** Typed pipeline configuration ≙ reference `conf/pipeline.yml:1-34`
  * (league, shuffle partitions, ELO constants, rolling N, blend α, model
  * hyper-parameters, backtest season bounds). The one way to configure a
  * [[PipelineRunner.run]].
  *
  * [[fromText]] reads the YAML with the Jackson YAML module that ships in
  * Spark's jars and looks each field up by its key path; an absent key
  * keeps the field's default, a present one of the wrong type is rejected
  * by name.
  *
  * The `modeling.logreg.*` and `modeling.gbt.*` settings (`lrMaxIter`,
  * `lrRegParam`, `lrElasticNet`, `gbtMaxIter`, `gbtMaxDepth`,
  * `gbtSubsamplingRate`) feed ONE path only: the LR+GBT ensemble export
  * of a run given an HPO params file, as the fallback for a param that
  * file does not carry (`HpoParams.lrFrom`/`gbtFrom`). The backtest and
  * the plain LR export (no params file) ignore them: both fit
  * `Modeling.lrPipeline` with `PipelineRunner.LrMaxIter` iterations and
  * its default regularization, so `lrMaxIter = 80` here changes neither.
  */
final case class PipelineConfig(
    league: String = "M",
    shufflePartitions: Int = 32,
    adaptiveEnabled: Boolean = true,
    eloInitialRating: Double = 1500.0,
    eloKFactor: Double = 20.0,
    rollingN: Int = 10,
    blendAlphaGbt: Double = 0.65,
    lrMaxIter: Int = 80,
    lrRegParam: Double = 0.05,
    lrElasticNet: Double = 0.0,
    gbtMaxIter: Int = 120,
    gbtMaxDepth: Int = 5,
    gbtSubsamplingRate: Double = 0.8,
    minTrainSeason: Int = Int.MinValue,
    maxValSeason: Int = Int.MaxValue,
    /** "overwrite" (reference parity: delete-then-write per dataset) or
      * "manifest" (ManifestCommit: crash-safe, object-store-safe
      * generations). Beyond the reference's config surface. */
    commitProtocol: String = "overwrite")

object PipelineConfig {

  def fromText(text: String): PipelineConfig = {
    val root =
      try new YAMLMapper().readTree(text)
      catch { case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"malformed pipeline config: ${e.getOriginalMessage}", e)
      }
    require(root.isObject || root.isMissingNode, "pipeline config must be a YAML mapping")
    // a present key must hold a scalar its field can take; the error names
    // the key path, where Jackson's asInt/asDouble would coerce to 0
    def leaf[A](default: A, key: String, kind: String)(parse: String => Option[A]): A = {
      val n = root.at("/" + key.replace('.', '/'))
      if (n.isMissingNode) default
      else Option.when(n.isValueNode)(n.asText).flatMap(parse).getOrElse(
        throw new IllegalArgumentException(s"pipeline config $key: expected $kind, got $n"))
    }
    def str(d: String, key: String) = leaf(d, key, "a string")(Some(_))
    def int(d: Int, key: String) = leaf(d, key, "an integer")(_.toIntOption)
    def dbl(d: Double, key: String) = leaf(d, key, "a number")(_.toDoubleOption)
    def bool(d: Boolean, key: String) = leaf(d, key, "true or false")(_.toBooleanOption)
    val defaults = PipelineConfig()
    PipelineConfig(
      league = str(defaults.league, "competition.league").toUpperCase,
      shufflePartitions = int(defaults.shufflePartitions, "spark.shuffle_partitions"),
      adaptiveEnabled = bool(defaults.adaptiveEnabled, "spark.adaptive_enabled"),
      eloInitialRating = dbl(defaults.eloInitialRating, "elo.initial_rating"),
      eloKFactor = dbl(defaults.eloKFactor, "elo.k_factor"),
      rollingN = int(defaults.rollingN, "rolling.window_last_n_games"),
      blendAlphaGbt = dbl(defaults.blendAlphaGbt, "modeling.blend_alpha_gbt"),
      lrMaxIter = int(defaults.lrMaxIter, "modeling.logreg.max_iter"),
      lrRegParam = dbl(defaults.lrRegParam, "modeling.logreg.reg_param"),
      lrElasticNet = dbl(defaults.lrElasticNet, "modeling.logreg.elastic_net_param"),
      gbtMaxIter = int(defaults.gbtMaxIter, "modeling.gbt.max_iter"),
      gbtMaxDepth = int(defaults.gbtMaxDepth, "modeling.gbt.max_depth"),
      gbtSubsamplingRate = dbl(defaults.gbtSubsamplingRate, "modeling.gbt.subsampling_rate"),
      minTrainSeason = int(defaults.minTrainSeason, "backtest.min_train_season"),
      maxValSeason = int(defaults.maxValSeason, "backtest.max_val_season"),
      commitProtocol = {
        val p = str(defaults.commitProtocol, "lake.commit_protocol").toLowerCase
        require(p == "overwrite" || p == "manifest", s"unknown commit_protocol: $p")
        p
      })
  }

  def load(path: String): PipelineConfig =
    fromText(Files.readString(Paths.get(path)))
}
