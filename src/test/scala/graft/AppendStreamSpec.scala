package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ManifestCommit

/** Round-6: exactly-once streaming append into ManifestCommit —
  * idempotent (appId, batchId) commits, marker carry-forward, vacuum
  * survival, and the foreachBatch restart story. */
class AppendStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() =
    TestSpark.tempDir("graft_append").toString

  test("batches append as generations; reads see the union") {
    val path = tmp()
    val g1 = ManifestCommit.appendBatch(
      Seq((1L, "a")).toDF("id", "v"), path, "app", 0L)
    val g2 = ManifestCommit.appendBatch(
      Seq((2L, "b")).toDF("id", "v"), path, "app", 1L)
    assert(g1.contains(1L) && g2.contains(2L))
    val got = ManifestCommit.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b"))
    // time travel still sees only batch 0
    assert(ManifestCommit.readAt(spark, path, 1L).count() == 1L)
  }

  test("a replayed batchId is skipped — no duplicate rows") {
    val path = tmp()
    assert(ManifestCommit.appendBatch(
      Seq((1L, "a")).toDF("id", "v"), path, "app", 0L).isDefined)
    assert(ManifestCommit.appendBatch(
      Seq((1L, "a")).toDF("id", "v"), path, "app", 0L).isEmpty)
    assert(ManifestCommit.read(spark, path).count() == 1L)
  }

  test("markers carry forward: an OLD batchId replays as a no-op") {
    val path = tmp()
    (0L to 2L).foreach(b => ManifestCommit.appendBatch(
      Seq((b, s"v$b")).toDF("id", "v"), path, "app", b))
    assert(ManifestCommit.committedTxns(path) ==
      Set("app:0", "app:1", "app:2"))
    assert(ManifestCommit.appendBatch(
      Seq((0L, "v0")).toDF("id", "v"), path, "app", 0L).isEmpty)
    assert(ManifestCommit.read(spark, path).count() == 3L)
  }

  test("replay protection survives vacuum") {
    val path = tmp()
    (0L to 1L).foreach(b => ManifestCommit.appendBatch(
      Seq((b, s"v$b")).toDF("id", "v"), path, "app", b))
    ManifestCommit.vacuum(path)
    assert(ManifestCommit.committedTxns(path) == Set("app:0", "app:1"))
    assert(ManifestCommit.appendBatch(
      Seq((0L, "v0")).toDF("id", "v"), path, "app", 0L).isEmpty)
    assert(ManifestCommit.read(spark, path).count() == 2L)
  }

  test("an empty partitioned micro-batch still commits its marker") {
    val path = tmp()
    ManifestCommit.appendBatch(Seq((1L, "a")).toDF("id", "p"), path,
      "app", 0L, partitionBy = Seq("p"))
    // all rows filtered out -> dynamic-partition write creates NO part
    // files; the commit must still land (marker-only generation) or the
    // streaming query would crash and replay forever
    val g = ManifestCommit.appendBatch(
      Seq((1L, "a")).toDF("id", "p").where(col("id") < 0), path,
      "app", 1L, partitionBy = Seq("p"))
    assert(g.isDefined)
    assert(ManifestCommit.committedTxns(path) == Set("app:0", "app:1"))
    assert(ManifestCommit.read(spark, path).count() == 1L)
    // and the replayed empty batch is a no-op
    assert(ManifestCommit.appendBatch(
      Seq((9L, "z")).toDF("id", "p"), path, "app", 1L,
      partitionBy = Seq("p")).isEmpty)
  }

  test("deleteWhere and full rewrites preserve the txn ledger") {
    val path = tmp()
    (0L to 1L).foreach(b => ManifestCommit.appendBatch(
      Seq((b, s"v$b")).toDF("id", "v"), path, "app", b))
    ManifestCommit.deleteWhere(spark, path, col("id") === 0L)
    assert(ManifestCommit.committedTxns(path) == Set("app:0", "app:1"))
    // a maintenance rewrite (compact path goes through writeVersioned)
    ManifestCommit.writeVersioned(
      ManifestCommit.read(spark, path), path)
    assert(ManifestCommit.committedTxns(path) == Set("app:0", "app:1"))
    // replay after maintenance is still a no-op
    assert(ManifestCommit.appendBatch(
      Seq((0L, "v0")).toDF("id", "v"), path, "app", 0L).isEmpty)
  }

  test("different appIds do not collide") {
    val path = tmp()
    assert(ManifestCommit.appendBatch(
      Seq((1L, "a")).toDF("id", "v"), path, "appA", 0L).isDefined)
    assert(ManifestCommit.appendBatch(
      Seq((2L, "b")).toDF("id", "v"), path, "appB", 0L).isDefined)
    assert(ManifestCommit.read(spark, path).count() == 2L)
  }

  test("compactIfNeeded self-heals small-file buildup and keeps the ledger") {
    val path = tmp()
    (0L to 3L).foreach(b => ManifestCommit.appendBatch(
      Seq((b, s"v$b")).toDF("id", "v"), path, "app", b))
    val before = ManifestCommit.latest(path).get._2.size
    assert(before == 4)
    // within budget -> no-op
    assert(ManifestCommit.compactIfNeeded(spark, path,
      targetBytes = 1L << 20, maxFiles = 10).isEmpty)
    // over budget -> compacts, rows and replay protection intact
    val g = ManifestCommit.compactIfNeeded(spark, path,
      targetBytes = 1L << 20, maxFiles = 2)
    assert(g.isDefined)
    assert(ManifestCommit.latest(path).get._2.size < before)
    assert(ManifestCommit.read(spark, path).count() == 4L)
    assert(ManifestCommit.committedTxns(path) ==
      Set("app:0", "app:1", "app:2", "app:3"))
    assert(ManifestCommit.appendBatch(
      Seq((0L, "v0")).toDF("id", "v"), path, "app", 0L).isEmpty)
  }

  test("foreachBatch restart without checkpoint re-delivers — table unchanged") {
    // deterministic micro-batching: one file per trigger, lexicographic
    // file order -> restarting the query re-plays the same (appId,
    // batchId) sequence, and every commit is skipped
    val src = TestSpark.tempDir("graft_append_src")
    (0 until 3).foreach { i =>
      val stage = TestSpark.tempDir("graft_append_stage")
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val it = java.nio.file.Files.list(stage).iterator()
      var moved = false
      while (it.hasNext && !moved) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(f, src.resolve(f"part$i%03d.parquet"))
          moved = true
        }
      }
    }
    val path = tmp()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          ManifestCommit.appendBatch(batch, path, "stream", id); ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val after1 = ManifestCommit.read(spark, path).count()
    runOnce() // no checkpoint -> full redelivery of batches 0..2
    val after2 = ManifestCommit.read(spark, path).count()
    assert(after1 == 3L && after2 == 3L)
  }
}
