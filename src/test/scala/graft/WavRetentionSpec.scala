package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.MultiModal
import graft.sources.ManifestCommit

/** Round-6 tail wave: WAV header sniffing and generation retention. */
class WavRetentionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Canonical 44-byte PCM WAV header. */
  private def wavHeader(channels: Int, sampleRate: Int, bits: Int,
      dataBytes: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val byteRate = sampleRate * channels * bits / 8
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(channels.toShort).putInt(sampleRate)
    b.putInt(byteRate)
    b.putShort((channels * bits / 8).toShort).putShort(bits.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    b.array()
  }

  test("wavMeta parses a canonical PCM header exactly") {
    // 2ch 44100 Hz 16-bit, 1 s of audio = 176400 data bytes
    val got = Seq(wavHeader(2, 44100, 16, 176400)).toDF("payload")
      .select(MultiModal.wavMeta(col("payload")).as("m"))
      .select(col("m.channels"), col("m.sample_rate"),
        col("m.bits_per_sample"), col("m.n_data_bytes"),
        col("m.duration_ms"))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((2L, 44100L, 16L, 176400L, 1000L)))
  }

  test("wavMeta: non-RIFF payloads and zero byte rate stay null-safe") {
    val junk = "this is not audio".getBytes("US-ASCII")
    val zeroRate = {
      val h = wavHeader(1, 8000, 16, 100)
      // zero out the byte-rate field (offset 28, 4 bytes LE)
      h(28) = 0; h(29) = 0; h(30) = 0; h(31) = 0
      h
    }
    val rows = Seq(junk, zeroRate).toDF("payload")
      .select(MultiModal.wavMeta(col("payload")).as("m")).collect()
    assert(rows(0).isNullAt(0)) // no container match → null struct
    val m = rows(1).getStruct(0)
    assert(m.getAs[Long]("sample_rate") == 8000L)
    assert(m.isNullAt(m.fieldIndex("duration_ms"))) // no div-by-zero
  }

  test("expireGenerations keeps the newest N readable, drops the rest") {
    val dir = TestSpark.tempDir("graft-expire").toString
    val gens = (1 to 4).map { i =>
      ManifestCommit.writeVersioned(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), dir)
    }
    val removed = ManifestCommit.expireGenerations(dir, keepLast = 2)
    assert(removed.nonEmpty)
    // newest two generations still time-travel
    assert(ManifestCommit.readAt(spark, dir, gens(2))
      .select("v").as[String].head() == "v3")
    assert(ManifestCommit.readAt(spark, dir, gens(3))
      .select("v").as[String].head() == "v4")
    // expired generations are gone, manifest and data both
    intercept[IllegalArgumentException] {
      ManifestCommit.readAt(spark, dir, gens(0))
    }
    // latest-read still works
    assert(ManifestCommit.read(spark, dir)
      .select("v").as[String].head() == "v4")
    // idempotent / no-op when within policy
    assert(ManifestCommit.expireGenerations(dir, keepLast = 2).isEmpty)
  }

  test("GDPR purge runbook: delete + expire + vacuum removes the bytes") {
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.tempDir("graft-purge").toString
    ManifestCommit.writeVersioned(
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol"))
        .toDF("uid", "name"), dir)
    // CoW delete rewrites only affected files into a NEW generation —
    // but the old generation still holds the bytes (time travel)
    ManifestCommit.deleteWhere(spark, dir, col("uid") === 2L)
    assert(ManifestCommit.read(spark, dir).count() == 2L)
    def bytesOnDisk: Boolean = {
      val root = java.nio.file.Paths.get(dir)
      val stream = java.nio.file.Files.walk(root)
      try stream.iterator().asScala.exists { p =>
          java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1")
            .contains("bob")
        }
      finally stream.close()
    }
    assert(bytesOnDisk) // pre-expiry: the old generation still has bob
    // the purge runbook: expire history, then vacuum orphans
    ManifestCommit.expireGenerations(dir, keepLast = 1)
    ManifestCommit.vacuum(dir)
    assert(!bytesOnDisk) // physically gone, not just unreadable
    assert(ManifestCommit.read(spark, dir)
      .orderBy(col("uid")).select("name")
      .as[String].collect().toSeq == Seq("alice", "carol"))
  }

  test("expireGenerations keeps files shared with surviving generations") {
    val dir = TestSpark.tempDir("graft-expire-share").toString
    // gen1 full write; gen2 APPEND re-references gen1's files
    ManifestCommit.writeVersioned(Seq((1L, "a")).toDF("k", "v"), dir)
    ManifestCommit.appendBatch(Seq((2L, "b")).toDF("k", "v"), dir,
      "app", 1L)
    val g3 = ManifestCommit.appendBatch(Seq((3L, "c")).toDF("k", "v"),
      dir, "app", 2L)
    ManifestCommit.expireGenerations(dir, keepLast = 1)
    // the surviving generation still reads ALL rows — gen1's shared
    // data files must not have been reaped
    assert(ManifestCommit.read(spark, dir).count() == 3L)
    // and the txn ledger survives maintenance
    assert(ManifestCommit.committedTxns(dir) == Set("app:1", "app:2"))
    assert(g3.exists(_ > 0))
  }
}
