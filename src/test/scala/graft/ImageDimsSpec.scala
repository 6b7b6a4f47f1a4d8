package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.multimodal.MultiModal

/** Round-6: real image-header sniffing — PNG/GIF/BMP dimensions parsed
  * from genuine header bytes with built-in expressions. */
class ImageDimsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pngHeader(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(24)
    b.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    b.putInt(13) // IHDR length
    b.put("IHDR".getBytes("US-ASCII"))
    b.putInt(w).putInt(h)
    b.array()
  }

  private def gifHeader(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes("US-ASCII"))
    b.putShort(w.toShort).putShort(h.toShort)
    b.array()
  }

  private def bmpHeader(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("BM".getBytes("US-ASCII"))
    b.putInt(0).putInt(0).putInt(54).putInt(40) // sizes/offsets/biSize
    b.putInt(w).putInt(h)
    b.array()
  }

  private def sniff(payloads: Seq[Array[Byte]]) =
    payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "payload")
      .select(col("id"), MultiModal.imageDims(col("payload")).as("d"))
      .select(col("id"), col("d.format"), col("d.width"), col("d.height"))
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap

  /** Canonical JFIF: SOI + 16-byte APP0 + SOF0 (height BEFORE width). */
  private def jpegHeader(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(29)
    b.put(Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte))
    b.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    b.put(Array(0x01, 0x01, 0x00, 0x00, 0x48, 0x00, 0x48, 0x00, 0x00)
      .map(_.toByte))
    b.put(Array(0xFF, 0xC0, 0x00, 0x11, 0x08).map(_.toByte))
    b.putShort(h.toShort).putShort(w.toShort)
    b.array()
  }

  test("JPEG canonical JFIF SOF0 parses; non-canonical layouts route to null") {
    val out = sniff(Seq(jpegHeader(800, 600), jpegHeader(65535, 1)))
    assert(out(0L) == ((Some("jpeg"), Some(800L), Some(600L))))
    assert(out(1L) == ((Some("jpeg"), Some(65535L), Some(1L))))
    // EXIF-style APP1 first: conservative null, the decode-queue lane
    val exif = jpegHeader(800, 600)
    exif(3) = 0xE1.toByte // APP0 -> APP1 marker
    val rejected = sniff(Seq(exif))
    assert(rejected(0L) == ((None, None, None)))
  }

  test("PNG IHDR big-endian dimensions parse exactly") {
    val out = sniff(Seq(pngHeader(1920, 1080), pngHeader(1, 16777216)))
    assert(out(0L) == ((Some("png"), Some(1920L), Some(1080L))))
    assert(out(1L) == ((Some("png"), Some(1L), Some(16777216L))))
  }

  test("GIF little-endian uint16 dimensions parse exactly") {
    val out = sniff(Seq(gifHeader(640, 480), gifHeader(65535, 1)))
    assert(out(0L) == ((Some("gif"), Some(640L), Some(480L))))
    assert(out(1L) == ((Some("gif"), Some(65535L), Some(1L))))
  }

  test("BMP little-endian int32 dimensions parse exactly") {
    val out = sniff(Seq(bmpHeader(800, 600)))
    assert(out(0L) == ((Some("bmp"), Some(800L), Some(600L))))
  }

  test("a top-down BMP (negative height) surfaces its magnitude, no ANSI crash") {
    val out = sniff(Seq(bmpHeader(800, -600)))
    assert(out(0L) == ((Some("bmp"), Some(800L), Some(600L))))
  }

  test("magic-prefixed junk with absurd dimension bytes parses without throwing") {
    // "BM" + 0xFF padding: 4-byte fields read as huge unsigned values —
    // an ANSI int cast would CRASH the scan; longs absorb it and the
    // absurd dims fall to downstream range filters
    val junk = ("BM" + "\u00ff" * 24).getBytes("ISO-8859-1")
    val out = sniff(Seq(junk))
    assert(out(0L)._1.contains("bmp"))
  }

  test("unknown payloads route to null (the decode-queue reject lane)") {
    val out = sniff(Seq("not an image".getBytes, Array[Byte]()))
    assert(out(0L) == ((None, None, None)))
    assert(out(1L) == ((None, None, None)))
  }

  test("the sniff stays in whole-stage codegen") {
    // a literal local relation constant-folds to a LocalTableScan; a
    // parquet-backed column exercises the real scan-stage projection
    val tmp = TestSpark.tempDir("graft_dims").toString
    Seq((1L, pngHeader(2, 3))).toDF("id", "payload")
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .select(MultiModal.imageDims(col("payload")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)")) // the projection codegens over the scan
  }
}
