package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ZOrder
import graft.sources.ManifestCommit

/** Round-5 wave 15: Morton (z-order) layout — bit-interleave
  * correctness, range-bucket normalization, and the payoff it exists
  * for: zone-map pruning on the SECOND dimension.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mortonRef(xs: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (b <- 0 until bits; i <- xs.indices)
      z |= ((xs(i) >> b) & 1L) << (b * xs.size + i)
    z
  }

  test("zValue matches the reference Morton interleave") {
    val pts = for (x <- 0L to 15L; y <- 0L to 15L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select($"x", $"y", ZOrder.zValue(Seq($"x", $"y"), 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == mortonRef(Seq(x, y), 4), s"($x,$y)")
    }
    // three dimensions too
    val g3 = Seq((5L, 3L, 6L)).toDF("a", "b", "c")
      .select(ZOrder.zValue(Seq($"a", $"b", $"c"), 3)).as[Long].head()
    assert(g3 == mortonRef(Seq(5L, 3L, 6L), 3))
  }

  test("out-of-range and null coordinates fail loudly") {
    intercept[Exception] {
      Seq(16L).toDF("x").select(ZOrder.zValue(Seq($"x"), 4)).collect()
    }
    intercept[Exception] {
      Seq(Option.empty[Long]).toDF("x")
        .select(ZOrder.zValue(Seq($"x"), 4)).collect()
    }
  }

  test("values outside [lo, hi] fail through zValue, never clamp silently") {
    intercept[Exception] {
      Seq(1001L).toDF("v")
        .select(ZOrder.zValue(
          Seq(ZOrder.rangeBucket($"v", 0L, 1000L, 4)), 4)).collect()
    }
    intercept[Exception] {
      Seq(-1L).toDF("v")
        .select(ZOrder.zValue(
          Seq(ZOrder.rangeBucket($"v", 0L, 1000L, 4)), 4)).collect()
    }
  }

  test("rangeBucket is a monotone onto-[0,2^bits) normalization") {
    val vs = Seq(0L, 1L, 499L, 500L, 999L, 1000L).toDF("v")
      .select(ZOrder.rangeBucket($"v", 0L, 1000L, 4).as("b"))
      .as[Long].collect().toSeq
    assert(vs.head == 0L && vs.last == 15L)
    assert(vs == vs.sorted, "bucketing must be monotone")
    assert(vs.forall(b => b >= 0 && b < 16))
  }

  test("z-layout prunes on the second dimension where a linear sort cannot") {
    val n = 4096
    val rnd = new scala.util.Random(11)
    val data = Seq.fill(n)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("a", "b")
    val zb = 5 // 32x32 grid
    def commit(df: org.apache.spark.sql.DataFrame): String = {
      val dir = TestSpark.tempDir("zorder").toString
      ManifestCommit.writeVersionedWithStats(df, dir, Seq("a", "b"))
      dir
    }
    // linear: range-sorted by a only, 16 files
    val linear = commit(data.repartitionByRange(16, $"a")
      .sortWithinPartitions($"a"))
    // z-order: same file count, Morton of (a, b) buckets
    val zdf = data
      .withColumn("za", ZOrder.rangeBucket($"a", 0L, 1023L, zb))
      .withColumn("zb", ZOrder.rangeBucket($"b", 0L, 1023L, zb))
    val zed = commit(ZOrder.layoutBy(zdf, Seq("za", "zb"), zb, 16)
      .drop("za", "zb"))
    def keptOn(dir: String, c: String): Int =
      ManifestCommit.pruneBetween(dir, c, 100L, 163L)._1.size
    // narrow range on b: linear keeps everything, z-order skips most
    assert(keptOn(linear, "b") == 16, "linear layout cannot prune on b")
    assert(keptOn(zed, "b") <= 8, s"z kept ${keptOn(zed, "b")} of 16 on b")
    // and z still prunes on a as well
    assert(keptOn(zed, "a") <= 8, s"z kept ${keptOn(zed, "a")} of 16 on a")
    // pruned reads stay exact
    val exact = data.where($"b".between(100L, 163L)).count()
    assert(ManifestCommit.readBetween(spark, zed, "b", 100L, 163L)
      .count() == exact)
  }
}
