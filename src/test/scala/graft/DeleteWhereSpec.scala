package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestCommit

/** Round-5 wave 20: copy-on-write DELETE — only affected files
  * rewrite, untouched files are shared across generations.
  */
class DeleteWhereSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("delete rewrites only the files holding matching rows") {
    val dir = TestSpark.tempDir("delw").toString
    val rows = (1L to 8000L).map(i => (i, s"u${i % 97}")).toDF("id", "user")
    // range layout: ids cluster, so a narrow id delete touches 1 file
    val g1 = ManifestCommit.writeVersioned(
      rows.repartitionByRange(8, $"id"), dir)
    val before = ManifestCommit.latest(dir).get._2.toSet
    val g2 = ManifestCommit.deleteWhere(spark, dir,
      col("id").between(100L, 120L))
    assert(g2 > g1)
    val after = ManifestCommit.latest(dir).get._2.toSet
    val shared = before.intersect(after)
    assert(shared.size == 7, s"expected 7 shared files, ${shared.size}")
    val got = ManifestCommit.read(spark, dir)
    assert(got.count() == 8000L - 21L)
    assert(got.where($"id".between(100L, 120L)).count() == 0L)
    // time travel still sees the pre-delete rows until vacuum
    assert(ManifestCommit.readAt(spark, dir, g1).count() == 8000L)
    // vacuum keeps the shared files (latest references them)
    ManifestCommit.vacuum(dir)
    assert(ManifestCommit.read(spark, dir).count() == 8000L - 21L)
  }

  test("upsertByKey rewrites only the files holding matched keys") {
    val dir = TestSpark.tempDir("cowup").toString
    val rows = (1L to 8000L).map(i => (i, i * 10)).toDF("id", "v")
    val g1 = ManifestCommit.writeVersioned(
      rows.repartitionByRange(8, $"id"), dir)
    val before = ManifestCommit.latest(dir).get._2.toSet
    // update 3 clustered keys + insert 2 new ones
    val incoming = Seq((100L, -1L), (101L, -2L), (102L, -3L),
      (9001L, -4L), (9002L, -5L)).toDF("id", "v")
    val g2 = ManifestCommit.upsert(spark, incoming, Seq("id"), dir)
    assert(g2 > g1)
    val after = ManifestCommit.latest(dir).get._2.toSet
    assert(before.intersect(after).size == 7,
      s"expected 7 shared files, got ${before.intersect(after).size}")
    val got = ManifestCommit.read(spark, dir)
    assert(got.count() == 8002L)
    assert(got.where($"id" === 100L).select("v").as[Long].head() == -1L)
    assert(got.where($"id" === 9002L).select("v").as[Long].head() == -5L)
    assert(got.where($"id" === 200L).select("v").as[Long].head() == 2000L)
    // first write into an empty dataset degrades to writeVersioned
    val dir2 = TestSpark.tempDir("cowup2").toString
    ManifestCommit.upsert(spark, incoming, Seq("id"), dir2)
    assert(ManifestCommit.read(spark, dir2).count() == 5L)
  }

  test("upsert on a composite key into a partitioned table rewrites only matched files") {
    val dir = TestSpark.tempDir("cowup3").toString
    val rows = (for (season <- 2021 to 2024; team <- 1 to 200)
      yield (season, team, s"v$season-$team")).toDF("season", "team", "v")
    // range layout on (season, team): two files per season partition
    ManifestCommit.writeVersioned(
      rows.repartitionByRange(8, $"season", $"team"), dir,
      partitionBy = Seq("season"))
    val before = ManifestCommit.latest(dir).get._2.toSet
    assert(before.size == 8)
    // update two 2022 keys (one file) and insert a key in a new season;
    // team 5 also exists in other seasons, which must not match
    val incoming = Seq((2022, 5, "new5"), (2022, 6, "new6"), (2025, 1, "ins"))
      .toDF("season", "team", "v")
    ManifestCommit.upsert(spark, incoming, Seq("season", "team"), dir,
      partitionBy = Seq("season"))
    val after = ManifestCommit.latest(dir).get._2.toSet
    assert(before.intersect(after).size == 7,
      s"expected 7 shared files, got ${before.intersect(after).size}")
    val got = ManifestCommit.read(spark, dir)
    assert(got.count() == 801L)
    def v(season: Int, team: Int): String =
      got.where($"season" === season && $"team" === team)
        .select("v").as[String].collect().toSeq.mkString(",")
    assert(v(2022, 5) == "new5")
    assert(v(2022, 6) == "new6")
    assert(v(2021, 5) == "v2021-5")
    assert(v(2022, 7) == "v2022-7")
    assert(v(2025, 1) == "ins")
    // Hive partition pruning still reaches the scan of the result
    val q = ManifestCommit.read(spark, dir).where($"season" === 2025)
    assert(q.collect().map(_.getAs[String]("v")).toSeq == Seq("ins"))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan"))
    assert(scan.partitionFilters.nonEmpty, "no partition filter on the scan")
    assert(scan.metrics("numFiles").value == 1,
      s"partition pruning failed: ${scan.metrics("numFiles").value} files")
  }

  test("partitioned appends and deletes spanning data dirs read as one pruned scan") {
    val dir = TestSpark.tempDir("delw_part").toString
    ManifestCommit.appendVersioned(
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), dir, partitionBy = Seq("p"))
    ManifestCommit.appendVersioned(
      Seq((3L, "a"), (4L, "c")).toDF("id", "p"), dir, partitionBy = Seq("p"))
    ManifestCommit.deleteWhere(spark, dir, col("id") === 1L,
      partitionBy = Seq("p"))
    val got = ManifestCommit.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "p"))
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))
    val q = ManifestCommit.read(spark, dir).where($"p" === "a")
    assert(q.collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan"))
    assert(scan.metrics("numFiles").value == 1)
  }

  test("null-condition rows survive (SQL DELETE semantics); no-op returns gen") {
    val dir = TestSpark.tempDir("delw2").toString
    val rows = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v")
    val g1 = ManifestCommit.writeVersioned(rows.repartition(1), dir)
    // v > 10 is NULL for id=2 -> not deleted
    ManifestCommit.deleteWhere(spark, dir, col("v") > 10L)
    val left = ManifestCommit.read(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(left == Seq(1L, 2L))
    // nothing matches -> same generation back, no rewrite
    val g3 = ManifestCommit.latest(dir).get._1
    assert(ManifestCommit.deleteWhere(spark, dir, col("v") > 999L) == g3)
  }

  test("deleting every row of an affected file drops it from the manifest") {
    val dir = TestSpark.tempDir("delw3").toString
    val rows = (1L to 1000L).map(i => (i, i % 5)).toDF("id", "g")
    ManifestCommit.writeVersioned(rows.repartitionByRange(4, $"id"), dir)
    // wipe the whole first quartile: its file vanishes, none rewritten
    ManifestCommit.deleteWhere(spark, dir, col("id") <= 250L)
    val got = ManifestCommit.read(spark, dir)
    assert(got.count() == 750L)
    assert(got.agg(min($"id")).as[Long].head() == 251L)
  }
}
