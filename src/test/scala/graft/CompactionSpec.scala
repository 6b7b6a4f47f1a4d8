package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Checksum
import graft.sources.ManifestCommit

/** Round-5 wave 15: manifest compaction — bin-packing small files
  * under the commit protocol without changing a single row.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir = TestSpark.tempDir("compact").toString

  private lazy val rows = (1L to 5000L).map(i => (i, s"v$i", i % 97))
    .toDF("id", "v", "g")

  test("compaction shrinks the file count and changes no row") {
    val dir = freshDir
    val g1 = ManifestCommit.writeVersioned(rows.repartition(16), dir)
    val before = ManifestCommit.latest(dir).get._2
    assert(before.size == 16)
    val g2 = ManifestCommit.compact(spark, dir, targetBytes = 1L << 40)
    assert(g2 > g1)
    val after = ManifestCommit.latest(dir).get._2
    assert(after.size == 1, s"expected 1 packed file, got ${after.size}")
    // multiset equality via the anti-entropy checksums
    val cols = Seq("id", "v", "g")
    assert(Checksum.diffBuckets(
      Checksum.bucketChecksums(rows, cols, 16),
      Checksum.bucketChecksums(ManifestCommit.read(spark, dir), cols, 16))
      .count() == 0L)
    // pre-compaction generation still time-travels until vacuum
    assert(ManifestCommit.readAt(spark, dir, g1).count() == 5000L)
    // vacuum reclaims the 16 small files, the compacted gen survives
    val removed = ManifestCommit.vacuum(dir)
    // the superseded generation's whole data dir goes
    assert(removed.exists(_.startsWith("data-")))
    assert(ManifestCommit.read(spark, dir).count() == 5000L)
  }

  test("an already-compact dataset is a no-op (same generation back)") {
    val dir = freshDir
    val g1 = ManifestCommit.writeVersioned(rows.repartition(2), dir)
    assert(ManifestCommit.compact(spark, dir, targetBytes = 10L) == g1)
    assert(ManifestCommit.latest(dir).get._1 == g1)
  }

  test("compaction can re-cluster: a z-order layout pass tightens stats") {
    import graft.operators.ZOrder
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(21)
    val pts = Seq.fill(4000)((rnd.nextInt(1024).toLong,
      rnd.nextInt(1024).toLong)).toDF("a", "b")
    val dir = freshDir
    ManifestCommit.writeVersionedWithStats(
      pts.repartition(16), dir, Seq("a", "b"))
    // compaction is the natural re-clustering moment: pack 16 files
    // into 4, laying out by the Morton code of (a, b)
    ManifestCommit.compact(spark, dir, targetBytes = 20_000L,
      statsCols = Seq("a", "b"),
      layout = (df, n) => ZOrder.layoutBy(
        df.withColumn("za", ZOrder.rangeBucket(col("a"), 0L, 1023L, 5))
          .withColumn("zb", ZOrder.rangeBucket(col("b"), 0L, 1023L, 5)),
        Seq("za", "zb"), 5, n).drop("za", "zb"))
    val files = ManifestCommit.latest(dir).get._2
    assert(files.size < 16, s"still ${files.size} files")
    // zone maps must now prune on b, which the random layout cannot
    val (kept, skipped) = ManifestCommit.pruneBetween(dir, "b", 0L, 120L)
    assert(skipped.nonEmpty,
      s"z-ordered compaction should skip files on b (kept ${kept.size})")
    // and rows are untouched
    assert(ManifestCommit.read(spark, dir).count() == 4000L)
  }

  test("compaction regenerates zone-map stats for the new generation") {
    val dir = freshDir
    ManifestCommit.writeVersionedWithStats(
      rows.repartition(8), dir, Seq("id"))
    val g2 = ManifestCommit.compact(spark, dir, targetBytes = 1L << 40,
      statsCols = Seq("id"))
    val zs = ManifestCommit.stats(dir, g2)
    assert(zs.nonEmpty && zs.get.nonEmpty, "compacted gen must carry stats")
    // the packed file's min/max cover the whole id range
    val s = zs.get.filter(_.column == "id")
    assert(s.flatMap(_.min).map(_.toLong).min == 1L)
    assert(s.flatMap(_.max).map(_.toLong).max == 5000L)
  }
}
