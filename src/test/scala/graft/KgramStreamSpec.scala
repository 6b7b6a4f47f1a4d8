package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.AttrEvent

/** Round-6: streaming k-grams — exactly-once emission, cross-batch
  * pattern spans, counts ≡ the batch operator. */
class KgramStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stream counts equal batch kgramCounts over 3 micro-batches (q172's face)") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sf/events.parquet")))
    val batchDf = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("event_time_us"),
        col("event_id"), col("event_type"))
    val expected = graft.operators.Sequences.kgramCounts(
        batchDf, "user_id", "event_time_us", "event_id", "event_type", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val dir = TestSpark.tempDir("graft_kgram_src")
    val rows = batchDf
      .orderBy(col("event_time_us"), col("event_id")).collect()
    val third = (rows.length + 2) / 3
    rows.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_kgram_stage")
      chunk.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq.toDF("user_id", "event_time_us", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val it = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (it.hasNext && !moved) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(f, dir.resolve(s"part$i.parquet"))
          moved = true
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_time_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    val q = EventStreams.kgramStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString)
          .as[AttrEvent], k = 3)
      .writeStream.format("memory").queryName("kgram_stream_test")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = spark.table("kgram_stream_test")
      .groupBy("kgram").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(got === expected)
  }

  test("a pattern spanning two batches is emitted once, on arrival of its last event") {
    // dual-mode single batch: tail state carries v,c so the arrival of b
    // completes "v c b"
    val events = Seq(
      AttrEvent(1L, 1L, 1L, "v"), AttrEvent(1L, 2L, 2L, "c"),
      AttrEvent(1L, 3L, 3L, "b")).toDS()
    val out = EventStreams.kgramStream(events, k = 3).collect()
    assert(out.length == 1)
    assert(out.head.kgram == "v c b" && out.head.last_event_id == 3L)
  }
}
