package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.{DatasetRegistry, LakePaths, Lakehouse, ManifestCommit}

class LakehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry routes known files and falls through to misc") {
    assert(DatasetRegistry.route("MTeams.csv").lakeSubpath === "M/teams")
    assert(DatasetRegistry.route("Mystery.csv").lakeSubpath === "misc/Mystery")
  }

  test("bronze ingest: csv -> trimmed strings -> parquet round-trip") {
    val in = TestSpark.tempDir("graft_in")
    Files.writeString(in.resolve("MTeams.csv"),
      "TeamID,TeamName\n1101,  Duke  \n1102,Kansas\n")
    Files.writeString(in.resolve("Mystery.csv"), "a,b\n1,x\n")
    val lakeDir = TestSpark.tempDir("graft_lake")
    val landed = Lakehouse.ingestBronze(spark, in.toString, LakePaths(lakeDir.toString))
    assert(landed.size === 2)
    val teams = spark.read.parquet(s"$lakeDir/bronze/M/teams")
    assert(teams.filter(col("TeamID") === 1101).head.getAs[String]("TeamName") === "Duke")
    assert(spark.read.parquet(s"$lakeDir/bronze/misc/Mystery").count() === 1)
  }

  test("orc round-trip preserves schema and values; filters push to the scan") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5, java.sql.Date.valueOf("2024-01-02")),
      (2L, "b", -0.25, java.sql.Date.valueOf("2024-02-03")))
      .toDF("id", "s", "v", "d")
    val dir = TestSpark.tempDir("graft_orc").resolve("t").toString
    Lakehouse.writeOrc(df, dir)
    val back = Lakehouse.readOrc(spark, dir)
    // files read back nullable (same as parquet): compare names + types
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // predicate pushdown reaches the ORC reader like it does parquet
    val plan = back.filter(col("id") === 2L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"), plan)
  }

  test("manifest commit: upsert round-trip, crash invisibility, gen race, vacuum") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft_manifest").resolve("t").toString
    // gen 1: initial write via upsert
    val g1 = ManifestCommit.upsert(spark,
      Seq((2024, 1, "a"), (2024, 2, "b")).toDF("Season", "TeamID", "v"),
      Seq("Season", "TeamID"), root)
    assert(g1 === 1L)
    // simulate a writer that CRASHED between data write and manifest
    // publish: a stray data directory with a valid parquet file, a
    // NESTED _temporary tree (what a killed Spark job leaves), and a
    // staged-but-never-moved manifest tmp
    Seq((2024, 9, "GHOST")).toDF("Season", "TeamID", "v")
      .write.parquet(s"$root/data-99-deadbeef")
    Files.createDirectories(
      java.nio.file.Paths.get(root, "data-99-deadbeef", "_temporary", "0"))
    Files.writeString(
      java.nio.file.Paths.get(root, "data-99-deadbeef", "_temporary", "0", "task"),
      "partial")
    Files.writeString(java.nio.file.Paths.get(root, ".manifest-tmp-crashed"), "orphan")
    val afterCrash = ManifestCommit.read(spark, root).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(afterCrash === Map(1 -> "a", 2 -> "b")) // ghost invisible
    // gen 2 upsert: replaces key 2, appends key 3, still no ghost
    val g2 = ManifestCommit.upsert(spark,
      Seq((2024, 2, "B2"), (2024, 3, "c")).toDF("Season", "TeamID", "v"),
      Seq("Season", "TeamID"), root)
    assert(g2 === 2L)
    val out = ManifestCommit.read(spark, root).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(out === Map(1 -> "a", 2 -> "B2", 3 -> "c"))
    // generation race: another writer claims gen 3 first; our commit
    // must land at gen 4, not clobber gen 3
    val manifest3 = java.nio.file.Paths.get(root).resolve(f"_manifest-${3L}%010d")
    Files.writeString(manifest3, Files.readString(
      java.nio.file.Paths.get(root).resolve(f"_manifest-${2L}%010d")))
    val g4 = ManifestCommit.writeVersioned(
      Seq((2024, 4, "d")).toDF("Season", "TeamID", "v"), root)
    assert(g4 === 4L)
    assert(ManifestCommit.read(spark, root).count() === 1)
    // vacuum drops the ghost dir, superseded gens, and stale manifests;
    // the latest generation still reads
    val removed = ManifestCommit.vacuum(root)
    assert(removed.exists(_.startsWith("data-99-deadbeef")))
    assert(removed.exists(_.startsWith("_manifest-")))
    assert(removed.contains(".manifest-tmp-crashed"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "data-99-deadbeef")))
    assert(ManifestCommit.read(spark, root).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap === Map(4 -> "d"))
  }

  test("manifest commit: partitioned generations prune, time travel reads old gens") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft_manifest_part").resolve("t").toString
    val g1 = ManifestCommit.writeVersioned(
      Seq((2021, 1, "a"), (2022, 2, "b")).toDF("Season", "TeamID", "v"),
      root, partitionBy = Seq("Season"))
    val g2 = ManifestCommit.writeVersioned(
      Seq((2021, 1, "a2"), (2022, 2, "b2"), (2023, 3, "c")).toDF("Season", "TeamID", "v"),
      root, partitionBy = Seq("Season"))
    // partition column restored via basePath; pruning reaches the scan
    val cur = ManifestCommit.read(spark, root)
    assert(cur.columns.toSet === Set("Season", "TeamID", "v"))
    val q = cur.filter(col("Season") === 2023)
    assert(q.collect().map(_.getAs[String]("v")) === Array("c"))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan"))
    assert(scan.metrics("numFiles").value === 1,
      s"partition pruning failed: ${scan.metrics("numFiles").value} files")
    // time travel: gen 1 still readable until vacuumed
    val old = ManifestCommit.readAt(spark, root, g1)
      .collect().map(r => r.getAs[Int]("TeamID") -> r.getAs[String]("v")).toMap
    assert(old === Map(1 -> "a", 2 -> "b"))
    // vacuum keeps only g2; partitioned orphan dirs of g1 fully reclaimed
    ManifestCommit.vacuum(root)
    assert(ManifestCommit.read(spark, root).count() === 3)
    assertThrows[IllegalArgumentException](ManifestCommit.readAt(spark, root, g1))
    assert(g2 === g1 + 1)
  }

  test("manifest commit: zone maps skip files a range predicate cannot touch") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft_zonemap").resolve("t").toString
    // 4 hive partitions, coalesce(1) => exactly one part file each, with
    // deterministic disjoint id ranges [0,100) [100,200) ...
    val df = spark.range(0, 400).select(
      col("id"),
      concat(lit("s"), lpad(col("id").cast("string"), 4, "0")).as("name"),
      (col("id") / 100).cast("int").as("bucket"))
    val g1 = ManifestCommit.writeVersionedWithStats(
      df.coalesce(1), root, statsCols = Seq("id", "name"),
      partitionBy = Seq("bucket"))

    // numeric pruning: [10, 20] lives in exactly one file
    val (kept, pruned) = ManifestCommit.pruneBetween(root, "id", 10, 20)
    assert(kept.size === 1 && pruned.size === 3, s"kept=$kept pruned=$pruned")
    val got = ManifestCommit.readBetween(spark, root, "id", 10, 20)
      .select("id").as[Long].collect().sorted
    assert(got === (10L to 20L).toArray)
    // the pruned read equals the unpruned read + filter (exactness)
    val full = ManifestCommit.read(spark, root)
      .where(col("id").between(10, 20)).select("id").as[Long].collect().sorted
    assert(got === full)

    // a range beyond every file: all pruned, empty result, schema intact
    val (k2, p2) = ManifestCommit.pruneBetween(root, "id", 1000, 2000)
    assert(k2.isEmpty && p2.size === 4)
    val empty = ManifestCommit.readBetween(spark, root, "id", 1000, 2000)
    assert(empty.count() === 0)
    assert(empty.columns.contains("name"))

    // string zone maps prune too (ASCII bounds)...
    val (k3, p3) = ManifestCommit.pruneBetween(root, "name", "s0110", "s0120")
    assert(k3.size === 1 && p3.size === 3)
    // ...but non-ASCII bounds refuse to prune (UTF8String order is only
    // trusted for ASCII) instead of silently dropping files
    val (k4, _) = ManifestCommit.pruneBetween(root, "name", "sé", "sÿ")
    assert(k4.size === 4)

    // vacuum reclaims superseded sidecars with their generations
    val g2 = ManifestCommit.writeVersionedWithStats(
      df.coalesce(1), root, statsCols = Seq("id"), partitionBy = Seq("bucket"))
    ManifestCommit.vacuum(root)
    assert(ManifestCommit.stats(root, g1).isEmpty)
    assert(ManifestCommit.stats(root, g2).nonEmpty)
    // gen 2 carried stats only for id: name predicates keep every file
    val (k5, p5) = ManifestCommit.pruneBetween(root, "name", "s0110", "s0120")
    assert(k5.size === 4 && p5.isEmpty)

    // bounds that do not parse as the column's type must refuse to
    // prune (keep everything) rather than crash or mis-compare
    val (k7, p7) = ManifestCommit.pruneBetween(root, "id", 10.5, 20.5)
    assert(k7.size === 4 && p7.isEmpty)
    assert(ManifestCommit.readBetween(spark, root, "id", 10.5, 20.5)
      .count() === 10) // residual filter still exact: ids 11..20

    // no sidecar at all (plain writeVersioned): no pruning, still exact
    val root2 = TestSpark.tempDir("graft_zonemap2").resolve("t").toString
    ManifestCommit.writeVersioned(df.coalesce(1), root2, Seq("bucket"))
    val (k6, p6) = ManifestCommit.pruneBetween(root2, "id", 10, 20)
    assert(k6.size === 4 && p6.isEmpty)
    assert(ManifestCommit.readBetween(spark, root2, "id", 10, 20)
      .count() === 11)
  }

  test("manifest commit: racing writers land distinct generations, none clobbered") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = TestSpark.tempDir("graft_manifest_race").resolve("t").toString
    ManifestCommit.writeVersioned(Seq((0, "base")).toDF("id", "v"), root)
    // 8 writers race from the same observed latest generation; the link
    // publish must serialize them onto 8 DISTINCT generations (a rename
    // publish would silently clobber and collapse some of them)
    val gens = Await.result(
      Future.sequence((1 to 8).map(i => Future {
        ManifestCommit.writeVersioned(Seq((i, s"w$i")).toDF("id", "v"), root)
      })), 5.minutes)
    assert(gens.toSet.size === 8, s"generations clobbered: $gens")
    assert(gens.forall(g => g >= 2 && g <= 9))
    // the surviving latest generation is exactly the max-gen writer's data
    val winner = gens.zipWithIndex.maxBy(_._1)._2 + 1
    val rows = ManifestCommit.read(spark, root).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows === Map(winner -> s"w$winner"))
  }

  test("Season-partitioned writes prune partitions on season filters") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_part").resolve("t").toString
    (2020 to 2023).flatMap(s => (1 to 10).map(i => (s, i)))
      .toDF("Season", "TeamID")
      .write.partitionBy("Season").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("Season") === 2022)
    assert(q.collect().length === 10) // run THIS queryExecution so its metrics fill
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan in plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("2022")),
      s"partition filter missing: ${scan.partitionFilters}")
    // the scan actually selected only the one matching partition directory
    assert(scan.metrics("numFiles").value === 1,
      s"expected 1 file scanned, got ${scan.metrics("numFiles").value}")
  }

  test("single-file csv export produces exactly one readable artifact") {
    import spark.implicits._
    def exportDirs(): Set[String] = {
      val s = Files.list(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_csv_export")).toSet
      finally s.close()
    }
    val before = exportDirs()
    val out = TestSpark.tempDir("graft_csv").resolve("sub.csv")
    Lakehouse.exportSingleCsv(
      Seq(("2026_1101_1102", 0.5), ("2026_1101_1103", 0.7)).toDF("ID", "Pred"), out.toString)
    val lines = Files.readAllLines(out)
    assert(lines.get(0) === "ID,Pred")
    assert(lines.size === 3)
    // the staging dir (with Spark's _SUCCESS and .crc files) is gone
    assert(exportDirs() -- before === Set.empty[String])
  }
}
