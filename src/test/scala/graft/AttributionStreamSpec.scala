package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{AttrConversion, AttrEvent}

/** Round-6: streaming last-touch attribution — stream ≡ batch over
  * time-ordered micro-batches, cross-batch touch carry, same-ts rule. */
class AttributionStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val lookbackUs = 48L * 3600L * 1000000L

  test("stream equals batch over 3 time-ordered micro-batches (q171's face)") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sf/events.parquet")))
    val batchDf = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("event_time_us"),
        col("event_id"), col("event_type"))
    val expected = graft.operators.Attribution.lastTouch(
        batchDf, "user_id", "event_time_us", "event_id", "event_type",
        "purchase", Seq("click", "view", "signup"), lookbackUs)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("attributed_channel")).toMap

    // three event-time-ordered files → three micro-batches; a touch in
    // batch i must credit a conversion in batch i+1 via carried state
    val dir = TestSpark.tempDir("graft_attr_src")
    val rows = batchDf
      .orderBy(col("event_time_us"), col("event_id")).collect()
    val third = (rows.length + 2) / 3
    rows.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_attr_stage")
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
      assert(moved)
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
    val streamDf = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[AttrEvent]
    val q = EventStreams.attributionStream(streamDf, "purchase",
        Set("click", "view", "signup"), lookbackUs)
      .writeStream.format("memory").queryName("attr_stream_test")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = spark.table("attr_stream_test").collect()
      .map(r => r.getLong(1) -> r.getString(3)).toMap
    q.stop()
    assert(got === expected)
    // dual-mode: the same operator over the batch Dataset agrees
    val batchGot = EventStreams.attributionStream(
        batchDf.as[AttrEvent], "purchase",
        Set("click", "view", "signup"), lookbackUs)
      .collect().map(c => c.event_id -> c.attributed_channel).toMap
    assert(batchGot === expected)
  }

  test("cross-batch carry and same-ts rule on a hand-built log") {
    // batch semantics replayed tiny: touch at t=10 credits conversion at
    // t=11; same-ts touch with larger id does not credit
    val events = Seq(
      AttrEvent(1L, 10L, 1L, "click"),
      AttrEvent(1L, 11L, 2L, "purchase"),
      AttrEvent(2L, 10L, 4L, "view"), // id 4 > conv id 3, same ts
      AttrEvent(2L, 10L, 3L, "purchase")).toDS()
    val out = EventStreams.attributionStream(events, "purchase",
        Set("click", "view"), 100L)
      .collect().map(c => c.event_id -> c.attributed_channel).toMap
    assert(out == Map(2L -> "click", 3L -> "(none)"))
  }

  test("stateTtlMs expires a silent user's carried touch") {
    // the TTL drops state of users silent past it: the first batch's
    // touch credits its conversion; after 6 s of wall-clock silence
    // (TTL 2 s — the engine keeps running no-data batches precisely to
    // evaluate pending timeouts) the carried touch is GONE, so a later
    // conversion still inside the EVENT-time lookback gets "(none)".
    // processAllAvailable never settles on a timeout-bearing query, so
    // the sink is polled and the query stopped explicitly.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[AttrEvent]
    val q = EventStreams.attributionStream(src.toDS(), "purchase",
        Set("click", "view"), lookbackUs = 1000000L,
        stateTtlMs = Some(2000L))
      .writeStream.format("memory").queryName("attr_ttl_test")
      .outputMode("append").start()
    def await(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 120000L
      while (spark.table("attr_ttl_test").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(spark.table("attr_ttl_test").count() >= n,
        s"sink never reached $n rows")
    }
    try {
      src.addData(
        AttrEvent(1L, 10L, 1L, "click"),
        AttrEvent(1L, 11L, 2L, "purchase"))
      await(1)
      Thread.sleep(6000L) // > TTL: no-data batches evaluate the timeout
      src.addData(AttrEvent(1L, 12L, 5L, "purchase"))
      await(2)
      val got = spark.table("attr_ttl_test").collect()
        .map(r => r.getLong(1) -> r.getString(3)).toMap
      assert(got == Map(2L -> "click", 5L -> "(none)"))
    } finally q.stop()
  }
}
