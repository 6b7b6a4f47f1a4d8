package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Checksum

/** Round-5 wave 14: order-independent table checksums and the
  * bucket-level diff locator.
  */
class ChecksumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val t = (1L to 500L).map(i => (i, s"name$i", i % 7 == 0))
    .toDF("id", "name", "flag")

  test("checksums are invariant under partitioning and row order") {
    val a = Checksum.bucketChecksums(t, Seq("id", "name", "flag"), 16)
    val b = Checksum.bucketChecksums(
      t.orderBy(rand(42)).repartition(11), Seq("id", "name", "flag"), 16)
    assert(Checksum.diffBuckets(a, b).count() == 0L)
  }

  test("a single changed row flags only its buckets") {
    val changed = t.withColumn("name",
      when($"id" === 250L, lit("tampered")).otherwise($"name"))
    val cols = Seq("id", "name", "flag")
    val diff = Checksum.diffBuckets(
      Checksum.bucketChecksums(t, cols, 16),
      Checksum.bucketChecksums(changed, cols, 16))
    val n = diff.count()
    // old row leaves one bucket, new row enters one: 1 bucket if they
    // collide, else 2 — never 0, never more
    assert(n == 1L || n == 2L, s"flagged $n buckets")
  }

  test("a duplicated row changes the checksum (multiset semantics)") {
    val dup = t.unionByName(t.where($"id" === 1L))
    val diff = Checksum.diffBuckets(
      Checksum.bucketChecksums(t, Seq("id", "name", "flag"), 16),
      Checksum.bucketChecksums(dup, Seq("id", "name", "flag"), 16))
    assert(diff.count() == 1L)
  }

  test("null and empty string hash differently; missing bucket reads as zero") {
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("id", "name")
    val withEmpty = Seq((1L, Some("")), (2L, Some("x")))
      .toDF("id", "name")
    val diff = Checksum.diffBuckets(
      Checksum.bucketChecksums(withNull, Seq("id", "name"), 4),
      Checksum.bucketChecksums(withEmpty, Seq("id", "name"), 4))
    assert(diff.count() >= 1L)
    // one-sided table: every populated bucket flags against zero-fill
    val empty = withNull.where(lit(false))
    val d2 = Checksum.diffBuckets(
      Checksum.bucketChecksums(withNull, Seq("id", "name"), 4),
      Checksum.bucketChecksums(empty, Seq("id", "name"), 4))
    assert(d2.where($"n_rows_b" =!= 0L).count() == 0L)
    assert(d2.count() >= 1L)
  }

  test("streaming checksums over micro-batches equal the batch summary") {
    // bucketChecksums is a pure grouped (count, decimal-sum) — a valid
    // incremental complete-mode aggregate, so a replica can maintain
    // its anti-entropy summary AS data arrives instead of rescanning
    val expected = Checksum.bucketChecksums(t, Seq("id", "name", "flag"), 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    val dir = TestSpark.tempDir("graft_cksum_src")
    val rows = t.as[(Long, String, Boolean)].collect()
    rows.grouped((rows.length + 1) / 2).zipWithIndex.foreach { case (c, i) =>
      val tmp = TestSpark.tempDir("graft_cksum_stage")
      c.toSeq.toDF("id", "name", "flag").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
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
    val stream = spark.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = Checksum.bucketChecksums(stream, Seq("id", "name", "flag"), 8)
      .writeStream.format("memory").queryName("cksum_stream_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("cksum_stream_test")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    q.stop()
    assert(got == expected)
  }

  test("the summary plans as one scan + one aggregate, no extra exchange") {
    val plan = Checksum.bucketChecksums(t, Seq("id", "name"), 16)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, s"plan:\n$plan")
  }
}
