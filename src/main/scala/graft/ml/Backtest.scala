package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rolling season backtest ≙ reference `jobs/07_backtest_and_export_blend.py:73-104`:
  * for each validation season S in range, fit on seasons < S, evaluate
  * (AUC, LogLoss) on season S. The feature table is cached once, and
  * one aggregate, the rows per season ([[seasonRows]]), is all the
  * backtest collects: it gives the season list and every fold's row
  * counts.
  */
object Backtest {
  final case class FoldMetrics(season: Int, trainRows: Long, valRows: Long,
      auc: Double, logLoss: Double)

  /** The rows of `features` per season, ascending by season, from one
    * `groupBy(Season).count()`; rows whose season is null are counted
    * under `None`, last. Their sum is the table's row count. */
  def seasonRows(features: DataFrame): Seq[(Option[Int], Long)] =
    features.groupBy(col("Season")).count().collect().toSeq
      .map(r => Option.when(!r.isNullAt(0))(r.getInt(0)) -> r.getLong(1))
      .sortBy { case (s, _) => (s.isEmpty, s) }

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
    try folds(cached, seasonRows(cached), featureCols, minTrainSeasons, maxIter,
      minTrainSeason, maxValSeason)
    finally cached.unpersist()
  }

  /** [[rollingSeasons]] over a `features` table the caller has cached
    * and whose [[seasonRows]] are `rows`: starts no counting job. */
  private[graft] def folds(
      features: DataFrame,
      rows: Seq[(Option[Int], Long)],
      featureCols: Seq[String],
      minTrainSeasons: Int,
      maxIter: Int,
      minTrainSeason: Int,
      maxValSeason: Int): Seq[FoldMetrics] = {
    val bySeason = rows.collect { case (Some(s), n) => s -> n }
    bySeason.drop(minTrainSeasons)
      .filter { case (s, _) => s >= minTrainSeason && s <= maxValSeason }
      .map { case (s, valN) =>
        val trainN = bySeason.takeWhile(_._1 < s).map(_._2).sum
        if (trainN == 0) FoldMetrics(s, trainN, valN, Double.NaN, Double.NaN)
        else {
          val model = Modeling.lrPipeline(featureCols, maxIter = maxIter)
            .fit(features.filter(col("Season") < s))
          val (auc, ll) = Modeling.evaluate(model, features.filter(col("Season") === s))
          FoldMetrics(s, trainN, valN, auc, ll)
        }
      }
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
