package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestCommit

/** Round-7 lakehouse behaviors: optimistic concurrency (Delta-style
  * writer-vs-writer conflict detection) and schema evolution on write
  * (mergeSchema via the manifest's committed-schema marker). */
class TableEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = TestSpark.tempDir("graft-evo").toString

  test("writeVersionedExclusive: stale base generation fails loudly before writing") {
    val path = tmp()
    ManifestCommit.writeVersioned(Seq((1L, "a")).toDF("id", "v"), path)
    ManifestCommit.writeVersioned(Seq((2L, "b")).toDF("id", "v"), path)
    val dataDirsBefore = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .filter(_.getFileName.toString.startsWith("data-")).count()
    val e = intercept[ManifestCommit.ConcurrentWriteException] {
      ManifestCommit.writeVersionedExclusive(
        Seq((3L, "c")).toDF("id", "v"), path, expectedParentGen = Some(1L))
    }
    assert(e.getMessage.contains("stale base generation"))
    // early abort: nothing staged, nothing published
    val dataDirsAfter = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .filter(_.getFileName.toString.startsWith("data-")).count()
    assert(dataDirsAfter == dataDirsBefore)
    assert(ManifestCommit.latest(path).get._1 == 2L)
    assert(ManifestCommit.read(spark, path).select("v").as[String].head() == "b")
  }

  test("two racing exclusive writers: exactly one commit survives, ledger consistent") {
    val path = tmp()
    ManifestCommit.appendBatch(Seq((1L, "base")).toDF("id", "v"), path, "app", 0L)
    val parent = ManifestCommit.latest(path).get._1
    val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    def writer(tag: String) = new Thread(() => {
      gate.await()
      try {
        val g = ManifestCommit.writeVersionedExclusive(
          Seq((2L, tag)).toDF("id", "v"), path,
          expectedParentGen = Some(parent))
        results.put(tag, s"committed:$g")
      } catch {
        case _: ManifestCommit.ConcurrentWriteException =>
          results.put(tag, "conflict")
        case e: Throwable => results.put(tag, s"unexpected:$e")
      }
    })
    val ts = Seq(writer("w1"), writer("w2"))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    val outcomes = Seq(results.get("w1"), results.get("w2"))
    assert(outcomes.count(_.startsWith("committed:")) == 1, outcomes)
    assert(outcomes.count(_ == "conflict") == 1, outcomes)
    // the table advanced exactly one generation, to the winner's rows
    assert(ManifestCommit.latest(path).get._1 == parent + 1)
    val winner = outcomes.find(_.startsWith("committed:")).get
    val winnerTag = if (results.get("w1") == winner) "w1" else "w2"
    assert(ManifestCommit.read(spark, path).select("v")
      .as[String].collect().toSeq == Seq(winnerTag))
    // the txn ledger survived the full rewrite (carried markers)
    assert(ManifestCommit.committedTxns(path) == Set("app:0"))
    // the loser's staged files are an invisible orphan; vacuum reclaims
    val removed = ManifestCommit.vacuum(path)
    assert(removed.exists(_.startsWith("data-")))
    assert(ManifestCommit.read(spark, path).select("v")
      .as[String].collect().toSeq == Seq(winnerTag))
  }

  test("appendVersioned widens the schema with mergeSchema; old rows read null") {
    val path = tmp()
    ManifestCommit.writeVersioned(Seq((1L, "a")).toDF("id", "v"), path)
    // new column without mergeSchema: refused loudly
    val e = intercept[IllegalStateException] {
      ManifestCommit.appendVersioned(
        Seq((2L, "b", 9L)).toDF("id", "v", "extra"), path)
    }
    assert(e.getMessage.contains("mergeSchema"))
    // with mergeSchema: committed schema widens, both generations read
    ManifestCommit.appendVersioned(
      Seq((2L, "b", 9L)).toDF("id", "v", "extra"), path, mergeSchema = true)
    val got = ManifestCommit.read(spark, path)
      .select("id", "v", "extra").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(9L))))
    assert(ManifestCommit.tableSchema(path).get.fieldNames.toSeq ==
      Seq("id", "v", "extra"))
    // an append MISSING a table column is fine (nulls), no flag needed
    ManifestCommit.appendVersioned(Seq((3L, "c")).toDF("id", "v"), path)
    assert(ManifestCommit.read(spark, path).where(col("id") === 3)
      .select("extra").as[Option[Long]].head().isEmpty)
  }

  test("appendVersioned type conflict fails loudly in both modes") {
    val path = tmp()
    ManifestCommit.writeVersioned(Seq((1L, "a")).toDF("id", "v"), path)
    Seq(false, true).foreach { merge =>
      val e = intercept[IllegalStateException] {
        ManifestCommit.appendVersioned(
          Seq((2L, 3.5)).toDF("id", "v"), path, mergeSchema = merge)
      }
      assert(e.getMessage.contains("type conflict"), e.getMessage)
    }
    // the refused append published nothing
    assert(ManifestCommit.latest(path).get._1 == 1L)
  }

  test("time travel and deleteWhere keep working on a schema-evolved table") {
    val path = tmp()
    ManifestCommit.writeVersioned(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    ManifestCommit.appendVersioned(
      Seq((3L, "c", 7L)).toDF("id", "v", "extra"), path, mergeSchema = true)
    // time travel: gen 1 predates the evolution and has no extra col
    assert(!ManifestCommit.readAt(spark, path, 1L)
      .schema.fieldNames.contains("extra"))
    // deleteWhere rewrites only affected files, carries the schema
    ManifestCommit.deleteWhere(spark, path, col("id") === 1L)
    val got = ManifestCommit.read(spark, path)
      .select("id", "extra").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((2L, None), (3L, Some(7L))))
    assert(ManifestCommit.tableSchema(path).isDefined)
  }

  test("a marker-only first batch reads as an EMPTY frame of the committed schema") {
    val path = tmp()
    // first micro-batch is empty AND partitioned: no part files land,
    // but the marker + schema commit — a polling reader must get an
    // empty typed frame, not 'manifest lists no files'
    val g = ManifestCommit.appendBatch(
      Seq((1L, "a")).toDF("id", "p").where(col("id") < 0), path,
      "app", 0L, partitionBy = Seq("p"))
    assert(g.isDefined)
    val df = ManifestCommit.read(spark, path)
    assert(df.count() == 0L)
    assert(df.schema.fieldNames.toSeq == Seq("id", "p"))
    // the next real batch lands and reads normally
    ManifestCommit.appendBatch(Seq((5L, "x")).toDF("id", "p"), path,
      "app", 1L, partitionBy = Seq("p"))
    assert(ManifestCommit.read(spark, path).select("id").as[Long]
      .collect().toSeq == Seq(5L))
  }
}
