package graft.ml

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.tuning.TrainValidationSplitModel
import scala.jdk.CollectionConverters._
import graft.jobs.PipelineConfig

/** S7 — the HPO best-params hand-off ≙ reference
  * `jobs/11_hpo_backtest.py:48-58` (tune → `hpo_best_params.json`) and
  * `jobs/12_train_ensemble_export.py:58-89` (reload → ensemble fit,
  * falling back to the run's [[PipelineConfig]] model settings when the
  * file or a param is absent).
  *
  * The file is read and written as a Jackson tree (the `jackson-databind`
  * that ships in Spark's jars): `league`, `val_season`, `feature_cols`,
  * and `logreg`/`gbt` → `{params, metrics: {auc, logloss}}`. A NaN or
  * infinite metric is written as `null` and `null` reads back as NaN.
  * Key order and integer-valued params do not matter on read, and keys
  * the reader does not know are ignored, so hand-edited files load.
  */
object HpoParams {

  final case class ModelReport(params: Map[String, Double], auc: Double, logLoss: Double)

  final case class HpoResult(
      league: String,
      valSeason: Int,
      featureCols: Seq[String],
      logreg: ModelReport,
      gbt: ModelReport)

  /** Numeric hyper-params worth exporting even when NOT grid-swept: the
    * reference's job 11 builds best_params from the FITTED model, so fixed
    * estimator settings (the LR maxIter=60 used during tuning) travel to
    * job 12's refit instead of silently reverting to reload defaults. */
  private val ExportedFixedParams =
    Seq("maxIter", "regParam", "elasticNetParam", "maxDepth",
      "subsamplingRate", "stepSize")

  /** Tuned params of the winning grid point plus the fixed numeric params
    * read off the fitted best model (grid values win on overlap), as
    * name → value. Reads the estimator param maps at the best validation
    * metric instead of casting fitted models, so it works for any
    * estimator in the grid. "Best" honors the evaluator's direction
    * (isLargerBetter), exactly as TrainValidationSplit itself picks
    * bestModel — with a loss metric, maxBy would export the WORST grid
    * point. */
  def bestParams(model: TrainValidationSplitModel): Map[String, Double] = {
    val metrics = model.validationMetrics.zipWithIndex
    val bestIdx =
      if (model.getEvaluator.isLargerBetter) metrics.maxBy(_._1)._2
      else metrics.minBy(_._1)._2
    def numeric(name: String, value: Any): Option[(String, Double)] = value match {
      case d: Double => Some(name -> d)
      case i: Int => Some(name -> i.toDouble)
      case l: Long => Some(name -> l.toDouble)
      case f: Float => Some(name -> f.toDouble)
      case _ => None
    }
    val tuned = model.getEstimatorParamMaps(bestIdx).toSeq.map { pp =>
      numeric(pp.param.name, pp.value).getOrElse(throw new IllegalArgumentException(
        s"non-numeric tuned param ${pp.param.name}: ${pp.value}"))
    }.toMap
    // Fixed params from the fitted winner ≙ reference jobs/11:48-56
    // (best_params dict read off the model, not the grid).
    val fixed = model.bestModel match {
      case pm: org.apache.spark.ml.PipelineModel =>
        pm.stages.toSeq.flatMap { stage =>
          ExportedFixedParams.flatMap { name =>
            stage.params.find(_.name == name).toSeq.flatMap { p =>
              val pa = p.asInstanceOf[org.apache.spark.ml.param.Param[Any]]
              stage.get(pa).orElse(stage.getDefault(pa))
                .flatMap(v => numeric(name, v))
            }
          }
        }.toMap
      case _ => Map.empty[String, Double]
    }
    fixed ++ tuned
  }

  private val mapper = new ObjectMapper()

  // ---- write ----

  def write(result: HpoResult, path: String): Path = {
    val root = mapper.createObjectNode()
      .put("league", result.league)
      .put("val_season", result.valSeason)
    val cols = root.putArray("feature_cols")
    result.featureCols.foreach(c => cols.add(c))
    Seq("logreg" -> result.logreg, "gbt" -> result.gbt).foreach { case (key, r) =>
      val report = root.putObject(key)
      val params = report.putObject("params")
      r.params.toSeq.sortBy(_._1).foreach { case (k, v) => params.put(k, v) }
      val metrics = report.putObject("metrics")
      // JSON has no NaN/Infinity tokens (Jackson would write the string
      // "NaN"): a non-finite metric is null, which reads back as NaN
      Seq("auc" -> r.auc, "logloss" -> r.logLoss).foreach { case (k, v) =>
        if (v.isNaN || v.isInfinite) metrics.putNull(k) else metrics.put(k, v)
      }
    }
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
    p
  }

  // ---- read ----

  def read(path: String): Option[HpoResult] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return None
    val root = mapper.readTree(Files.readString(p))
    def number(n: JsonNode, what: String): Double = {
      require(n.isNumber, s"$path: $what must be a number, got $n")
      n.doubleValue
    }
    def report(key: String): ModelReport = {
      val o = root.required(key)
      val params = o.required("params").properties().asScala
        .map(e => e.getKey -> number(e.getValue, s"$key.params.${e.getKey}")).toMap
      val metrics = o.required("metrics")
      def metric(name: String): Double = {
        val n = metrics.required(name)
        if (n.isNull) Double.NaN else number(n, s"$key.metrics.$name")
      }
      ModelReport(params, metric("auc"), metric("logloss"))
    }
    Some(HpoResult(
      league = root.required("league").asText,
      valSeason = number(root.required("val_season"), "val_season").toInt,
      featureCols = root.required("feature_cols").asScala.map(_.asText).toSeq,
      logreg = report("logreg"),
      gbt = report("gbt")))
  }

  // ---- reload into pipelines ≙ jobs/12:67-89: a param the file does not
  // carry (or no file at all) falls back to the run's config ----

  def lrFrom(
      params: Map[String, Double],
      featureCols: Seq[String],
      config: PipelineConfig = PipelineConfig()): Pipeline =
    Modeling.lrPipeline(
      featureCols,
      maxIter = params.get("maxIter").fold(config.lrMaxIter)(_.toInt),
      regParam = params.getOrElse("regParam", config.lrRegParam),
      elasticNet = params.getOrElse("elasticNetParam", config.lrElasticNet))

  def gbtFrom(
      params: Map[String, Double],
      featureCols: Seq[String],
      config: PipelineConfig = PipelineConfig()): Pipeline =
    Modeling.gbtPipeline(
      featureCols,
      maxIter = params.get("maxIter").fold(config.gbtMaxIter)(_.toInt),
      maxDepth = params.get("maxDepth").fold(config.gbtMaxDepth)(_.toInt),
      subsamplingRate = params.getOrElse("subsamplingRate", config.gbtSubsamplingRate))
}
