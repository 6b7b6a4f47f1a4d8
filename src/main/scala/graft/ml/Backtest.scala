package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rolling season backtest ≙ reference `jobs/07_backtest_and_export_blend.py:73-104`:
  * for each validation season S in range, fit on seasons < S, evaluate
  * (AUC, LogLoss) on season S. The feature table is cached once and the
  * season list is the only thing collected to the driver.
  */
object Backtest {
  final case class FoldMetrics(season: Int, trainRows: Long, valRows: Long,
      auc: Double, logLoss: Double)

  /** @param minTrainSeason  first season allowed to validate (inclusive,
    *                         matching the reference's `min_train <= s <=
    *                         max_val` in `jobs/07_backtest_and_export_blend
    *                         .py:92`); earlier seasons only train
    *                         ≙ conf `backtest.min_train_season`
    * @param maxValSeason    last season allowed to validate
    *                         ≙ conf `backtest.max_val_season` */
  def rollingSeasons(
      features: DataFrame,
      featureCols: Seq[String],
      minTrainSeasons: Int = 1,
      maxIter: Int = 20,
      minTrainSeason: Int = Int.MinValue,
      maxValSeason: Int = Int.MaxValue): Seq[FoldMetrics] = {
    val cached = features.cache()
    try {
      val seasons = cached.select(col("Season")).distinct()
        .collect().map(_.getInt(0)).sorted
      seasons.drop(minTrainSeasons)
        .filter(s => s >= minTrainSeason && s <= maxValSeason)
        .map { s =>
        val train = cached.filter(col("Season") < s)
        val validate = cached.filter(col("Season") === s)
        val (trainN, valN) = (train.count(), validate.count())
        if (trainN == 0 || valN == 0) FoldMetrics(s, trainN, valN, Double.NaN, Double.NaN)
        else {
          val model = Modeling.lrPipeline(featureCols, maxIter = maxIter).fit(train)
          val (auc, ll) = Modeling.evaluate(model, validate)
          FoldMetrics(s, trainN, valN, auc, ll)
        }
      }
    } finally cached.unpersist()
  }

  /** S6: driver-side CSV of fold metrics ≙ the reference's plain
    * csv.writer in `jobs/07_backtest_and_export_blend.py:101-104` —
    * driver-local artifact, deliberately not a Spark job. */
  def writeMetricsCsv(path: java.nio.file.Path, metrics: Seq[FoldMetrics]): Unit = {
    val pw = new java.io.PrintWriter(path.toFile)
    try {
      pw.println("season,train_rows,val_rows,auc,log_loss")
      metrics.foreach(m =>
        pw.println(s"${m.season},${m.trainRows},${m.valRows},${m.auc},${m.logLoss}"))
    } finally pw.close()
  }
}
