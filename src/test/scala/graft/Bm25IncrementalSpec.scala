package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.Bm25
import graft.sources.ManifestCommit

/** Round-6: incremental BM25 index maintenance — appended postings
  * rebuild the exact flat index; replay is a no-op. */
class Bm25IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpusA = Seq(
    (1L, "spark shuffles data across the cluster"),
    (2L, "columnar scans prune data early"),
    (3L, "the optimizer prunes columns"))
  private val corpusB = Seq(
    (4L, "broadcast joins avoid shuffles"),
    (5L, "data skipping avoids scans"))
  private val queries = Seq((100L, "data shuffles"), (101L, "prune scans"))

  private def scored(index: org.apache.spark.sql.DataFrame) =
    Bm25.topKFromIndex(index, queries.toDF("id", "text"), "id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  test("append-maintained postings score identically to a full rebuild") {
    val path = TestSpark.tempDir("graft_bm25inc").toString
    // initial build = batch 0; ingest B = batch 1
    Bm25.appendPostings(corpusA.toDF("id", "text"), "id", "text",
      path, "idx", 0L, nFiles = 2)
    Bm25.appendPostings(corpusB.toDF("id", "text"), "id", "text",
      path, "idx", 1L, nFiles = 2)
    val incremental = scored(
      Bm25.indexFromPostings(ManifestCommit.read(spark, path)))
    val full = scored(
      Bm25.buildIndexTable((corpusA ++ corpusB).toDF("id", "text"),
        "id", "text"))
    assert(incremental == full)
  }

  test("a replayed ingest batch changes nothing") {
    val path = TestSpark.tempDir("graft_bm25rep").toString
    Bm25.appendPostings(corpusA.toDF("id", "text"), "id", "text",
      path, "idx", 0L, nFiles = 2)
    Bm25.appendPostings(corpusB.toDF("id", "text"), "id", "text",
      path, "idx", 1L, nFiles = 2)
    val before = scored(
      Bm25.indexFromPostings(ManifestCommit.read(spark, path)))
    // at-least-once redelivery of batch 1
    assert(Bm25.appendPostings(corpusB.toDF("id", "text"), "id", "text",
      path, "idx", 1L, nFiles = 2).isEmpty)
    val after = scored(
      Bm25.indexFromPostings(ManifestCommit.read(spark, path)))
    assert(before == after)
  }

  test("postings stay term-bucketed across multiple files") {
    val path = TestSpark.tempDir("graft_bm25lay").toString
    Bm25.appendPostings(corpusA.toDF("id", "text"), "id", "text",
      path, "idx", 0L, nFiles = 2)
    val files = ManifestCommit.latest(path).get._2
    assert(files.size == 2)
  }
}
