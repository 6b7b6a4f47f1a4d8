package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LocalFs, SpineCache}

object SpineCacheSpec {
  /** This process's SpineCache root(s), found the way an outside
    * observer (the benchmark's spine counter) finds them. */
  def roots(): Seq[Path] = LocalFs.list(Paths.get(sys.props("java.io.tmpdir")))
    .filter(_.getFileName.toString
      .startsWith(s"graft_spines_${ProcessHandle.current().pid()}_"))

  def nonDotEntries(): Seq[String] = roots().flatMap(LocalFs.list)
    .map(_.getFileName.toString).filterNot(_.startsWith(".")).sorted

  /** Non-dot entries seen from inside a running spine build. */
  @volatile var seenDuringBuild: Seq[String] = Seq.empty
}

class SpineCacheSpec extends AnyFunSuite {
  import SpineCacheSpec._
  private lazy val spark = TestSpark.spark

  private def fixture(): String = {
    val dir = Files.createTempDirectory("spine_src").toString
    spark.range(10).write.parquet(s"$dir/t.parquet")
    dir
  }

  test("a spine builds once per (sources, version); touching a source or the version rebuilds") {
    val dir = fixture()
    var builds = 0
    def spine(version: Int) =
      SpineCache.table(spark, dir, "spec_spine", Seq("t"), version) {
        builds += 1
        spark.range(5).toDF("x")
      }
    assert(spine(1).count() == 5L)
    assert(spine(1).count() == 5L)
    assert(builds == 1)
    spine(2)
    assert(builds == 2)
    spine(1)
    assert(builds == 2)
    val src = Paths.get(dir, "t.parquet")
    Files.setLastModifiedTime(src,
      FileTime.fromMillis(Files.getLastModifiedTime(src).toMillis + 60000L))
    assert(spine(1).count() == 5L)
    assert(builds == 3)
  }

  test("clear() forces a rebuild") {
    val dir = fixture()
    var builds = 0
    def spine() = SpineCache.table(spark, dir, "spec_clear", "t") {
      builds += 1
      spark.range(3).toDF("x")
    }
    spine()
    spine()
    assert(builds == 1)
    SpineCache.clear()
    assert(spine().count() == 3L)
    assert(builds == 2)
  }

  test("published spines are the only non-dot entries under the cache root") {
    val dir = fixture()
    SpineCache.clear()
    assert(nonDotEntries().isEmpty)
    val probe = udf { (x: Long) => seenDuringBuild = nonDotEntries(); x }
    def spine(name: String) = SpineCache.table(spark, dir, name, "t") {
      spark.range(4).toDF("x").select(probe(col("x")).as("x"))
    }
    spine("spec_a").count()
    // mid-build, the staged spine was invisible to the counter
    assert(seenDuringBuild.isEmpty, seenDuringBuild)
    spine("spec_b").count()
    assert(seenDuringBuild.size == 1, seenDuringBuild)
    spine("spec_a").count()
    val published = nonDotEntries()
    assert(published.size == 2, published)
    assert(published.exists(_.startsWith("spec_a_")) &&
      published.exists(_.startsWith("spec_b_")), published)
    assert(roots().flatMap(LocalFs.list)
      .forall(p => Files.exists(p.resolve("_SUCCESS"))))
    // a failed build publishes nothing and leaves no staging dir
    assertThrows[IllegalStateException](
      SpineCache.table(spark, dir, "spec_fail", "t") {
        throw new IllegalStateException("build failed")
      })
    assert(roots().flatMap(LocalFs.list).size == 2)
  }
}
