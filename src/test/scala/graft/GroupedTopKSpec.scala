package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}
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
    val w = Window
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
    val w = Window
      .partitionBy($"k").orderBy($"v".desc, $"id")
    val window = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a few differing rows at most: printing 2^18-row sets floods the log
    assert((window -- native).take(5) === Set.empty)
    assert((native -- window).take(5) === Set.empty)
    assert(native.size === nKeys)
  }

  test("the rank column equals row_number() on both paths, nulls and ties included") {
    val rnd = new scala.util.Random(31)
    // few distinct v values (ties broken by the unique id), a null v
    // every 97 rows and a null key every 101: groups of about 100 rows
    val df = (1 to 3000).map { i =>
      (if (i % 101 == 0) None else Some(rnd.nextInt(30)), i,
        if (i % 97 == 0) None else Some(rnd.nextInt(5)))
    }.toDF("g", "id", "v").repartition(5)
    def rows(out: DataFrame): Set[(Any, Int, Int)] =
      out.select($"g", $"id", $"rn").collect()
        .map(r => (r.get(0), r.getInt(1), r.getInt(2))).toSet
    for (asc <- Seq(false, true); k <- Seq(1, 3, 1000)) {
      val w = Window.partitionBy($"g")
        .orderBy(if (asc) $"v".asc else $"v".desc, $"id")
      val expected = rows(df.withColumn("rn", row_number().over(w)).filter($"rn" <= k))
      val (auto, distributed) = SizeGateModes.both {
        val out = GroupedTopK.topKPerKey(df, Seq("g"),
          Seq("v" -> asc, "id" -> true), k, rankCol = Some("rn"))
        assert(out.schema.last === StructField("rn", IntegerType, nullable = false))
        rows(out)
      }
      assert(auto === expected, s"heap path, asc=$asc k=$k")
      assert(distributed === expected, s"sorter path, asc=$asc k=$k")
    }
  }

  test("no exchange is added when the child is already clustered on the keys") {
    import graft.marchmania.{LongGames, Rolling}
    val games = (1 to 40).map(i =>
      (2020 + i % 2, i, i.toLong, 100 + i % 5, 70 + i % 7, 200 + i % 3, 60))
      .toDF("Season", "DayNum", "GameId", "WTeamID", "WScore", "LTeamID", "LScore")
    // the rolling window's exchange on (Season, TeamID) already clusters
    // the input of lastPerSeason's top-1
    val rolling = Rolling.features(LongGames.build(games), n = 3)
    val last = Rolling.lastPerSeason(rolling)
    def exchanges(df: DataFrame): Int = {
      df.collect() // the adaptive plan is final once it ran
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
    }
    assert(exchanges(last) === exchanges(rolling))
    assert(collect(last.queryExecution.executedPlan) {
      case e: GroupedTopKExec => e }.size === 1)
  }

  test("a filter on the keys runs below the operator, other filters above it") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 2000).map(i => (rnd.nextInt(50), i, rnd.nextInt(100)))
      .toDF("g", "id", "v")
    val top = GroupedTopK.topKPerKey(df, Seq("g"),
      Seq("v" -> false, "id" -> true), k = 2, rankCol = Some("rn"))
    val out = top.where($"g" < 5 && $"rn" === 1)
    val plan = out.queryExecution.optimizedPlan
    val Seq(node) = plan.collect { case t: graft.plans.GroupedTopK => t }
    assert(node.child.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]))
    assert(plan.exists {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(_, _: graft.plans.GroupedTopK) => true
      case _ => false
    }, plan.toString)
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
    val expected = df.withColumn("rn", row_number().over(w)).where($"g" < 5 && $"rn" === 1)
    assert(out.collect().toSet === expected.collect().toSet)
    assert(out.count() === 5)
  }

  test("a ranked result joins with itself") {
    val df = Seq((1, 10), (1, 20), (1, 30), (2, 5)).toDF("g", "v")
    val top = GroupedTopK.topKPerKey(df, Seq("g"), Seq("v" -> false), k = 2,
      rankCol = Some("r"))
    val pairs = top.where($"r" === 1).select($"g", $"v".as("first"))
      .join(top.where($"r" === 2).select($"g", $"v".as("second")), "g")
    assert(pairs.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet ===
      Set((1, 30, 20)))
  }

  test("a rank column that names an input column is rejected") {
    val df = Seq((1, 10)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      GroupedTopK.topKPerKey(df, Seq("k"), Seq("v" -> false), k = 1, rankCol = Some("v"))
    }
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
