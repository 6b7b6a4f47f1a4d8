package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CountMin

/** CMS invariants: estimates never under-count, a collision-free width
  * recovers exact counts, absent items estimate zero, and the sketch
  * never exceeds depth × width rows.
  */
class CountMinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Zipf-ish fixture: item k appears ~60/k times
  private lazy val items = (1 to 12).flatMap(k =>
    Seq.fill(60 / k)(s"item$k")).toDF("x")

  private lazy val exact = items.groupBy("x")
    .agg(count(lit(1)).as("exact")).collect()
    .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("estimates never under-count; tight width stays within the bound") {
    val sketch = CountMin.build(items, "x", depth = 4, width = 16)
    assert(sketch.count() <= 4 * 16)
    val est = CountMin.estimate(sketch, items.distinct(), "x",
      depth = 4, width = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, v) =>
      assert(est(k) >= v, s"$k under-counted: ${est(k)} < $v")
    }
  }

  test("collision-free width recovers exact counts") {
    val sketch = CountMin.build(items, "x", depth = 4, width = 65536)
    val est = CountMin.estimate(sketch, items.distinct(), "x",
      depth = 4, width = 65536)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === exact)
  }

  test("merge of split-corpus sketches equals the whole-corpus sketch") {
    val (a, b) = (items.filter(col("x") <= "item4"),
      items.filter(col("x") > "item4"))
    val whole = CountMin.build(items, "x", depth = 4, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = CountMin.merge(
        CountMin.build(a, "x", depth = 4, width = 16),
        CountMin.build(b, "x", depth = 4, width = 16))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === whole)
  }

  test("estimate preserves query-row multiplicity and stays shuffle-free") {
    // checkpoint the sketch so the estimate plan is only the estimate
    // (the build's own aggregation exchange is not under test here)
    val sketch = CountMin.build(items, "x", depth = 4, width = 65536)
      .localCheckpoint(true)
    // duplicate query rows must each come back with their own estimate —
    // an aggregating implementation would collapse them
    val dupQueries = Seq("item1", "item1", "item2", "item1").toDF("x")
    val est = CountMin.estimate(sketch, dupQueries, "x",
      depth = 4, width = 65536)
    assert(est.count() === 4L)
    val got = est.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.count(_ == ("item1", exact("item1"))) === 3)
    assert(got.count(_ == ("item2", exact("item2"))) === 1)
    // the query side never moves: broadcasts only, no shuffle exchange
    val plan = est.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"estimate shuffled:\n$plan")
  }

  test("joinSizeEstimate never under-estimates and is exact sans collisions") {
    val a = items // item1..item12, zipf counts
    val b = (6 to 18).flatMap(k => Seq.fill(k)(s"item$k")).toDF("x")
    val exactJoin = {
      val ca = a.groupBy("x").agg(count(lit(1)).as("ca"))
      val cb = b.groupBy("x").agg(count(lit(1)).as("cb"))
      ca.join(cb, "x").agg(sum($"ca" * $"cb")).as[Long].collect().head
    }
    def est(width: Int) = CountMin.joinSizeEstimate(
      CountMin.build(a, "x", 4, width), CountMin.build(b, "x", 4, width), 4)
      .select($"join_size_est".cast("long")).as[Long].collect().head
    assert(est(16) >= exactJoin, "inner product under-estimated")
    // ample width: no collisions in any row => estimate is exact
    assert(est(65536) === exactJoin)
  }

  test("buildWeighted on pre-aggregated counts equals build on the multiset") {
    val counts = items.groupBy("x").agg(count(lit(1)).as("w"))
    val viaWeights = CountMin.buildWeighted(counts, "x", "w", 4, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaRows = CountMin.build(items, "x", 4, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaWeights === viaRows)
  }

  test("joinSizeEstimate is 0 for disjoint keys at ample width") {
    val a = Seq("a1", "a2", "a3").toDF("x")
    val b = Seq("b1", "b2").toDF("x")
    // wide sketches: no accidental bucket collisions, every hash row's
    // inner product is 0 — including rows with NO shared bucket, which
    // must count as 0 rather than vanish from the min
    val e = CountMin.joinSizeEstimate(
      CountMin.build(a, "x", 4, 65536), CountMin.build(b, "x", 4, 65536), 4)
      .select($"join_size_est".cast("long")).as[Long].collect().head
    assert(e === 0L)
  }

  test("streaming build over micro-batches equals the batch sketch") {
    // the sketch build is a plain grouped count, so it is ALSO a valid
    // incremental streaming aggregate (linearity made operational):
    // stream the items in two files/micro-batches, complete mode, and
    // the final sketch must equal the one-shot batch build
    val expected = CountMin.build(items, "x", depth = 4, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dir = TestSpark.tempDir("graft_cms_src")
    val rows = items.collect().map(_.getString(0))
    rows.grouped((rows.length + 1) / 2).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_cms_stage")
      chunk.toSeq.toDF("x").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p, dir.resolve(s"part$i.parquet"))
          moved = true
        }
      }
      assert(moved)
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val q = CountMin.build(stream, "x", depth = 4, width = 16)
      .writeStream.format("memory").queryName("cms_stream_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("cms_stream_test")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    q.stop()
    assert(got === expected)
  }

  test("absent items estimate zero at ample width") {
    val sketch = CountMin.build(items, "x", depth = 4, width = 65536)
    val est = CountMin.estimate(sketch,
      Seq("never_seen_a", "never_seen_b").toDF("x"), "x",
      depth = 4, width = 65536)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.values.forall(_ === 0L))
  }
}
