package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sim.ProductQuantize
import graft.sources.ManifestCommit

/** Round-6: incremental IVF-PQ ingest — appended codes score exactly
  * like a full build against the same frozen model; replay no-op. */
class AnnIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet")))
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
  }

  private def scores(codes: org.apache.spark.sql.DataFrame,
      model: ProductQuantize.PqModel) =
    ProductQuantize.ivfAdcFromIndex(codes,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        model, k = 3, cellBits = 6, radius = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  test("append-maintained codes score identically to a full build") {
    val path = TestSpark.tempDir("graft_annincr").toString
    val model = ProductQuantize.fit(emb, "vec_id", "embedding",
      dims = 64, subspaces = 8, codebookSize = 16)
    // seed the model + first half via the standard writer, then ingest
    // the second half incrementally against the STORED model
    ProductQuantize.writeIvfPqIndex(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      model, cellBits = 6, path, nFiles = 2)
    ProductQuantize.appendIvfPqCodes(
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      path, "ann", 1L, cellBits = 6, nFiles = 2)
    val incremental = scores(
      ManifestCommit.read(spark, s"$path/codes"), model)
    val full = scores(
      ProductQuantize.buildIvfPqIndex(emb, "vec_id", "embedding",
        model, cellBits = 6), model)
    assert(incremental == full)
  }

  test("a replayed ingest batch changes nothing") {
    val path = TestSpark.tempDir("graft_annrep").toString
    val model = ProductQuantize.fit(emb, "vec_id", "embedding",
      dims = 64, subspaces = 8, codebookSize = 16)
    ProductQuantize.writeIvfPqIndex(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      model, cellBits = 6, path, nFiles = 2)
    ProductQuantize.appendIvfPqCodes(
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      path, "ann", 1L, cellBits = 6, nFiles = 2)
    val n1 = ManifestCommit.read(spark, s"$path/codes").count()
    assert(ProductQuantize.appendIvfPqCodes(
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      path, "ann", 1L, cellBits = 6, nFiles = 2).isEmpty)
    assert(ManifestCommit.read(spark, s"$path/codes").count() == n1)
  }
}
