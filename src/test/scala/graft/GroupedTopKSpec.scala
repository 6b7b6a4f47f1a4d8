package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GroupedTopK, GroupedTopKExec}

class GroupedTopKSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native grouped top-k equals the window formulation on random data") {
    val rnd = new scala.util.Random(17)
    val df = (1 to 5000).map(_ =>
      (rnd.nextInt(40), rnd.nextInt(100000), rnd.nextDouble()))
      .toDF("k", "id", "v")
      .distinct()
      .repartition(7)
    val native = GroupedTopK.topKPerKey(
      df, Seq("k"), Seq("v" -> false, "id" -> true), k = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"v".desc, $"id")
    val window = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(native === window)
    assert(native.size === 40 * 3)
  }

  test("overflow to the spilling sorter keeps results identical at high key cardinality") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 20000).map(i => (rnd.nextInt(5000), i, rnd.nextDouble()))
      .toDF("k", "id", "v")
      .repartition(4)
    // auto keeps every partition on the heap map; distributed sends
    // every partition through the sorter path
    val ((expected, autoSorted), (spilled, distSorted)) = SizeGateModes.both {
      val out = GroupedTopK.topKPerKey(
        df, Seq("k"), Seq("v" -> false, "id" -> true), k = 2)
      (out.collect().map(r => (r.getInt(0), r.getInt(1))).toSet, sorterMetrics(out))
    }
    assert(spilled === expected)
    assert(spilled.nonEmpty)
    // (partitions, rows) handed to the sorter: none under auto, every
    // row of every partition under distributed
    assert(autoSorted === ((0L, 0L)))
    assert(distSorted._1 >= 1L)
    assert(distSorted._2 === 20000L)
  }

  /** The sorter-path metrics of the one GroupedTopKExec in `out`'s
    * executed plan, after `out` ran. */
  private def sorterMetrics(out: DataFrame): (Long, Long) = {
    val Seq(exec) = collect(out.queryExecution.executedPlan) {
      case e: GroupedTopKExec => e
    }
    (exec.metrics("sorterPartitions").value, exec.metrics("sorterRows").value)
  }

  test("a partition past the heap bound hands its buffered heaps to the sorter") {
    // one partition holding more distinct keys than SizeGate.TopKKeys,
    // each key twice: under auto the heap map fills mid-partition, and
    // the buffered heap rows, the overflow row and the rest of the
    // input go to the sorter together
    val nKeys = SizeGate.TopKKeys + 1000
    val df = spark.range(2 * nKeys)
      .select(($"id" % nKeys).as("k"), $"id",
        ($"id" * 7919L % 1000003L).as("v"))
      .repartition(1, $"k")
    val native = SizeGateModes.under("auto")(GroupedTopK.topKPerKey(
        df, Seq("k"), Seq("v" -> false, "id" -> true), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"v".desc, $"id")
    val window = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a few differing rows at most: printing 2^18-row sets floods the log
    assert((window -- native).take(5) === Set.empty)
    assert((native -- window).take(5) === Set.empty)
    assert(native.size === nKeys)
  }

  test("k < 1 is rejected up front") {
    val df = Seq((1, 10)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      GroupedTopK.topKPerKey(df, Seq("k"), Seq("v" -> false), k = 0)
    }
  }

  test("grouped top-k handles fewer-than-k groups and plans a single shuffle") {
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("k", "v")
    val out = GroupedTopK.topKPerKey(df, Seq("k"), Seq("v" -> false), k = 5)
    assert(out.count() === 3) // groups smaller than k emit everything
    val plan = out.queryExecution.executedPlan
    assert(plan.toString.contains("GroupedTopKExec") ||
      plan.collectFirst { case e: GroupedTopKExec => e }.isDefined ||
      plan.toString.contains("GroupedTopK"), plan.toString)
  }
}
