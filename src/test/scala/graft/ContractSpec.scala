package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.marchmania.{Game, TeamSeasonStat}

/** Pins the driver contract and the scale-layout claims. */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("SparkEntry.entry returns rows on sf0.001 (driver smoke)") {
    assume(Files.exists(Paths.get("/root/testdata/sf0.001")))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or a documented rows-only check") {
    val qs = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(qs))
    val rowsOnly = qs -- oracles
    // only the inherently non-portable ones may lack an oracle
    assert(rowsOnly === Set(
      "q35_train_score_blend", // MLlib training: metrics-tolerance, not hashes
      "q38_approx_sketches",   // HLL internals differ across engines
      "q55_ivf_ann",           // KMeans quantizer is fp-order sensitive
      "q162_compressibility")) // zlib is JVM-side; no SQL engine replays it
  }

  test("every oracle's SQL text is pinned byte for byte") {
    // SHA-256 over (name NUL sql NUL) in name order. An intended oracle
    // change updates these constants in the same commit; a refactor of
    // shared oracle text must leave them as they are.
    val oracles = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    oracles.foreach { case (name, sql) =>
      md.update(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
      md.update(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    assert(oracles.size === 1186)
    assert(md.digest().map(b => f"$b%02x").mkString ===
      "fe36aba230eab4af7eb65494833eff033378e558c50692927290fda60d31cb35")
  }

  test("the engine reads no spark.graft conf key but the two mode switches") {
    // a size bound or branch choice belongs to SizeGate, not to a new knob
    val src = Paths.get("src/main")
    assert(Files.isDirectory(src), src.toAbsolutePath.toString)
    val key = "\"(spark\\.graft\\.[^\"]*)\"".r
    val walk = Files.walk(src)
    val keys = try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => key.findAllMatchIn(Files.readString(p)).map(_.group(1)))
        .toSet
      finally walk.close()
    assert(keys === Set(Materialize.ModeKey, SizeGate.ModeKey))
  }

  test("typed Dataset views of domain frames round-trip") {
    import spark.implicits._
    val games = Seq(Game(2024, 1, 1L, 101, 70, 102, 60)).toDS()
    val stats = graft.marchmania.TeamSeasonStats.build(games.toDF())
      .withColumn("Wins", col("Wins").cast("long"))
      .withColumn("Losses", col("Losses").cast("long"))
      .as[TeamSeasonStat]
      .collect()
    assert(stats.map(_.TeamID).sorted.toSeq === Seq(101, 102))
    assert(stats.find(_.TeamID == 101).get.WinRate === 1.0)
  }

  test("metadata queries over media tables never read the payload column") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_media").toString
    Seq((1L, Array[Byte](1, 2, 3), "image/stub", "s", 3L))
      .toDF("media_id", "payload", "media_type", "source", "declared_len")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("declared_len") > 1)
      .groupBy(col("media_type")).agg(count(lit(1)).as("n"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("payload"),
      s"payload column must be pruned from the scan:\n$scan")
    assert(q.head.getLong(1) === 1L)
  }
}
