package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Expectations
import graft.sources.ManifestCommit

/** Round-6: write-audit-publish — bad data never becomes readable;
  * the audit rides the write itself. */
class WapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() =
    TestSpark.tempDir("graft_wap").toString

  test("a passing audit publishes; reads see the new generation") {
    val path = tmp()
    val g = ManifestCommit.writeVersionedChecked(
      Seq((1L, 5L), (2L, 7L)).toDF("id", "v"), path,
      Seq(Expectations.Check("v_positive", col("v") > 0)))
    assert(g == 1L)
    assert(ManifestCommit.read(spark, path).count() == 2L)
  }

  test("a failing audit aborts WITHOUT publishing — previous state intact") {
    val path = tmp()
    ManifestCommit.writeVersioned(Seq((1L, 5L)).toDF("id", "v"), path)
    val ex = intercept[IllegalStateException] {
      ManifestCommit.writeVersionedChecked(
        Seq((2L, -1L), (3L, 4L)).toDF("id", "v"), path,
        Seq(Expectations.Check("v_positive", col("v") > 0),
          Expectations.Check("id_known", col("id") < 100)))
    }
    assert(ex.getMessage.contains("v_positive=1"))
    // the published state is still generation 1 with the old row
    val (gen, _) = ManifestCommit.latest(path).get
    assert(gen == 1L)
    assert(ManifestCommit.read(spark, path)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the staged orphan is reclaimable
    assert(ManifestCommit.vacuum(path).nonEmpty)
  }

  test("the aborted write's orphan never leaks into later generations") {
    val path = tmp()
    intercept[IllegalStateException] {
      ManifestCommit.writeVersionedChecked(
        Seq((9L, -9L)).toDF("id", "v"), path,
        Seq(Expectations.Check("v_positive", col("v") > 0)))
    }
    // table still unborn; a later good write starts at generation 1
    assert(ManifestCommit.latest(path).isEmpty)
    ManifestCommit.writeVersionedChecked(
      Seq((1L, 1L)).toDF("id", "v"), path,
      Seq(Expectations.Check("v_positive", col("v") > 0)))
    assert(ManifestCommit.read(spark, path).count() == 1L)
  }

  test("WAP preserves the streaming txn ledger") {
    val path = tmp()
    ManifestCommit.appendBatch(Seq((1L, 1L)).toDF("id", "v"), path, "app", 0L)
    ManifestCommit.writeVersionedChecked(
      ManifestCommit.read(spark, path), path,
      Seq(Expectations.Check("id_positive", col("id") > 0)))
    assert(ManifestCommit.committedTxns(path) == Set("app:0"))
  }
}
