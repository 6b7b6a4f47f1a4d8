package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scd2

/** Round-5 wave 11: SCD2 version history — run collapse, interval
  * close, and the batch-apply ≡ full-rebuild equivalence.
  */
class Scd2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (key, state, ts, id): k1 runs A A B B A; k2 constant; k3 has a
  // null-state run in the middle
  private lazy val log = Seq(
    (1L, Some("A"), 10L, 100L), (1L, Some("A"), 20L, 101L),
    (1L, Some("B"), 30L, 102L), (1L, Some("B"), 40L, 103L),
    (1L, Some("A"), 50L, 104L),
    (2L, Some("X"), 15L, 105L), (2L, Some("X"), 45L, 106L),
    (3L, Some("C"), 10L, 107L), (3L, None, 20L, 108L),
    (3L, None, 30L, 109L), (3L, Some("C"), 40L, 110L))
    .toDF("k", "state", "ts", "id")

  private def canon(df: DataFrame) =
    df.select("k", "state", "valid_from", "valid_to")
      .as[(Long, Option[String], Long, Option[Long])]
      .collect().sortBy(r => (r._1, r._3)).toSeq

  test("fromChangeLog collapses runs and closes each version at the next") {
    val got = canon(Scd2.fromChangeLog(log, "k", "state", "ts", "id"))
    assert(got == Seq(
      (1L, Some("A"), 10L, Some(30L)), (1L, Some("B"), 30L, Some(50L)),
      (1L, Some("A"), 50L, None),
      (2L, Some("X"), 15L, None),
      // the null run is one version, not three — null-safe collapse
      (3L, Some("C"), 10L, Some(20L)), (3L, None, 20L, Some(40L)),
      (3L, Some("C"), 40L, None)))
  }

  test("same-timestamp changes order by the tie column, deterministically") {
    val ties = Seq((1L, "A", 10L, 2L), (1L, "B", 10L, 1L))
      .toDF("k", "state", "ts", "id")
    val got = canon(Scd2.fromChangeLog(ties, "k", "state", "ts", "id"))
    // id=1 (B) precedes id=2 (A): B closes at 10, A stays open
    assert(got == Seq((1L, Some("B"), 10L, Some(10L)),
      (1L, Some("A"), 10L, None)))
  }

  test("applyBatch equals the full rebuild for every cut of the log") {
    val whole = canon(Scd2.fromChangeLog(log, "k", "state", "ts", "id"))
    for (cut <- Seq(15L, 35L, 45L, 55L)) {
      // cut=15: k3 unseen by dim (new-key path); cut=55: empty batch
      val dim = Scd2.fromChangeLog(
        log.where($"ts" < cut), "k", "state", "ts", "id")
      val got = canon(Scd2.applyBatch(
        dim, log.where($"ts" >= cut), "k", "state", "ts", "id"))
      assert(got == whole, s"cut=$cut")
    }
  }

  test("an equal-attr update collapses away: the open version keeps its valid_from") {
    val dim = Scd2.fromChangeLog(log.where($"ts" <= 30), "k",
      "state", "ts", "id")
    val noop = Seq((1L, "B", 35L, 200L)).toDF("k", "state", "ts", "id")
    val got = canon(Scd2.applyBatch(dim, noop, "k", "state", "ts", "id"))
      .filter(_._1 == 1L)
    assert(got == Seq(
      (1L, Some("A"), 10L, Some(30L)), (1L, Some("B"), 30L, None)))
  }

  test("streaming CDC maintenance via foreachBatch equals the batch rebuild") {
    // the dimension lives across micro-batches as driver-held state
    // (re-checkpointed per batch — exactly how a production foreachBatch
    // maintains a stored table); time-ordered files so each batch is
    // at-or-after the open versions, applyBatch's documented contract
    val whole = canon(Scd2.fromChangeLog(log, "k", "state", "ts", "id"))
    val dir = TestSpark.tempDir("graft_scd2_src")
    val parts = Seq(log.where($"ts" < 25), log.where($"ts" >= 25 && $"ts" < 45),
      log.where($"ts" >= 45))
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = TestSpark.tempDir("graft_scd2_stage")
      p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val it = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (it.hasNext && !moved) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(f, dir.resolve(s"part$i.parquet"))
          moved = true
        }
      }
      assert(moved)
    }
    var dim = Seq.empty[(Long, Option[String], Long, Option[Long])]
      .toDF("k", "state", "valid_from", "valid_to")
    val q = spark.readStream.schema(log.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          _: Long) =>
        dim = Scd2.applyBatch(dim, batch, "k", "state", "ts", "id")
          .localCheckpoint(true)
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(canon(dim) == whole)
  }

  test("batch-apply shuffles the batch by key but leaves closed history alone") {
    // literal dim: the plan under audit is applyBatch's own, not the
    // lineage that happened to build the dimension
    val dim = Seq((1L, Some("A"), 10L, Some(30L)),
      (1L, Some("B"), 30L, None), (2L, Some("X"), 15L, None))
      .toDF("k", "state", "valid_from", "valid_to")
    val batch = Seq((1L, "Z", 60L, 300L)).toDF("k", "state", "ts", "id")
    val plan = Scd2.applyBatch(dim, batch, "k", "state", "ts", "id")
      .queryExecution.executedPlan.toString
    // the union's history branch must not re-window: exactly the two
    // windowed passes of the merge branch appear (collapse + close on
    // one exchange), none on the pass-through branch
    assert(plan.split("Window ").length - 1 <= 4,
      s"history branch re-windowed:\n$plan")
  }
}
