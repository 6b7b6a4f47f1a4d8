package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SmallSort

/** A global sort whose input Spark estimates under `SizeGate.SortBytes`
  * runs on one partition under `auto`, and keeps the range shuffle under
  * `distributed` and over an `explode`. */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** The rows of `df()` and the partitionings of its final plan's
    * shuffles, run under `mode`. */
  private def run(mode: String)(df: => DataFrame): (Seq[String], Seq[String]) =
    SizeGateModes.under(mode) {
      SmallSort.register(spark)
      val d = df
      val rows = d.collect().map(_.toSeq.mkString("|")).toSeq
      (rows, exchanges(d))
    }

  private def exchanges(d: DataFrame): Seq[String] =
    collect(d.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.getClass.getSimpleName.stripSuffix("$")
    }

  test("a small orderBy sorts on one partition under auto and keeps the " +
    "range shuffle under distributed, with equal rows") {
    def df = spark.range(200).selectExpr("id % 7 AS k", "id").repartition(4)
      .orderBy("k", "id")
    val (auto, autoX) = run("auto")(df)
    val (dist, distX) = run("distributed")(df)
    assert(auto === dist)
    assert(auto.head === "0|0" && auto.last === "6|195")
    assert(!autoX.contains("RangePartitioning"), autoX)
    assert(autoX.contains("SinglePartition"), autoX)
    assert(distX.contains("RangePartitioning"), distX)
  }

  test("a sort over an explode or a typed flatMap keeps range partitioning") {
    import spark.implicits._
    val (rows, x) = run("auto")(spark.range(20)
      .selectExpr("explode(sequence(0, id)) AS v").orderBy("v"))
    assert(rows.size === 210)
    assert(x.contains("RangePartitioning"), x)
    val (fmRows, fmX) = run("auto")(spark.range(20).as[Long]
      .flatMap(i => Seq.fill(i.toInt)(i)).toDF("v").orderBy("v"))
    assert(fmRows.size === 190)
    assert(fmX.contains("RangePartitioning"), fmX)
  }

  test("count() over a registry query plans no added exchange") {
    // the flagship registry query (q01) over the driver's sf0.001 tables
    assume(scala.util.Try(SparkEntry.entry(spark)).isSuccess)
    def counted = SparkEntry.entry(spark).groupBy().count()
    val (autoN, autoX) = run("auto")(counted)
    val (distN, distX) = run("distributed")(counted)
    assert(autoN === distN)
    assert(autoX === distX)
    assert(!SizeGateModes.under("auto")(counted).queryExecution.optimizedPlan
      .exists { case s: Sort => s.global; case _ => false })
  }
}
