package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestCommit

/** Round-5 wave 20: per-file bloom index sidecar — point-lookup file
  * skipping on arbitrary layouts.
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("point lookups skip files a bloom rules out, exactly") {
    val dir = TestSpark.tempDir("bloomidx").toString
    // range layout on id: each of 16 files owns a contiguous id range,
    // but the PROBE column is `other`, uncorrelated with the layout —
    // zone maps on `other` would be useless; blooms are not
    val rows = (1L to 16000L).map(i => (i, i * 31 % 16001))
      .toDF("id", "other")
    ManifestCommit.writeVersioned(
      rows.repartitionByRange(16, $"id"), dir)
    ManifestCommit.writeBloomIndex(spark, dir, "other", fpp = 0.001)
    val probe = 4242L * 31 % 16001 // present exactly once
    val (kept, skipped) = ManifestCommit.prunePoint(dir, "other", probe)
    assert(kept.size + skipped.size == 16)
    assert(kept.size <= 3, s"bloom kept ${kept.size} of 16 files")
    val got = ManifestCommit.readPoint(spark, dir, "other", probe)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(4242L))
    // absent value: no false negatives means a miss is PROVEN absent
    assert(ManifestCommit.readPoint(spark, dir, "other", 16001L)
      .count() == 0L)
  }

  test("no sidecar, wrong column, or vacuumed state degrade to no skipping") {
    val dir = TestSpark.tempDir("bloomidx2").toString
    val rows = (1L to 500L).map(i => (i, i + 7)).toDF("id", "other")
    val g1 = ManifestCommit.writeVersioned(rows.repartition(4), dir)
    // no sidecar at all: everything kept
    assert(ManifestCommit.prunePoint(dir, "other", 50L)._1.size == 4)
    ManifestCommit.writeBloomIndex(spark, dir, "other")
    // sidecar exists but covers a different column: everything kept
    assert(ManifestCommit.prunePoint(dir, "id", 50L)._1.size == 4)
    // a new generation supersedes the sidecar's: prunePoint reads the
    // LATEST manifest, whose files the old sidecar does not cover
    val g2 = ManifestCommit.writeVersioned(rows.repartition(2), dir)
    assert(g2 > g1)
    assert(ManifestCommit.prunePoint(dir, "other", 50L)._1.size == 2)
    // vacuum drops the stale sidecar alongside the stale generation
    val removed = ManifestCommit.vacuum(dir)
    assert(removed.exists(_.startsWith("_bloom-")), removed.mkString(","))
    assert(ManifestCommit.read(spark, dir).count() == 500L)
  }
}
