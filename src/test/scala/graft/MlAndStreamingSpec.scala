package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Modeling
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{SessionEvent, UserSession}

class MlAndStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("LR pipeline separates a linearly separable matchup table") {
    val rnd = new scala.util.Random(1)
    val rows = (1 to 400).map { i =>
      val diff = rnd.nextDouble() * 2 - 1
      val label = if (diff + rnd.nextGaussian() * 0.1 > 0) 1 else 0
      (i, label, diff, diff * 0.5)
    }
    val df = rows.toDF("id", "label", "WinRateDiff", "EloDiff")
    val model = Modeling.lrPipeline(Seq("WinRateDiff", "EloDiff"), maxIter = 30).fit(df)
    val (auc, ll) = Modeling.evaluate(model, df)
    assert(auc > 0.9, s"auc $auc")
    assert(ll < 0.5, s"logloss $ll")
  }

  test("fillMissing + keep survives null features end-to-end") {
    val raw = Seq(
      (1, Some(0.5), 0.1), (0, None, -0.2), (1, Some(0.3), 0.0), (0, Some(-0.4), 0.2))
      .toDF("label", "WinRateDiff", "EloDiff")
    val df = Modeling.fillMissing(raw, Seq("WinRateDiff", "EloDiff"))
    val model = Modeling.lrPipeline(Seq("WinRateDiff", "EloDiff"), maxIter = 5).fit(df)
    assert(model.transform(df).count() === 4) // would throw on raw NaN vectors
  }

  test("blend mixes probabilities with alpha weighting") {
    val lr = Seq(("a", 0.2)).toDF("ID", "Pred")
    val gbt = Seq(("a", 0.6)).toDF("ID", "Pred")
    val b = Modeling.blend(lr, gbt, Seq("ID"), alpha = 0.65).head
    assert(math.abs(b.getAs[Double]("Pred") - (0.65 * 0.6 + 0.35 * 0.2)) < 1e-12)
  }

  test("pinned linearScore + sigmoid reproduce hand-computed serving math exactly") {
    val df = Seq((1.0, 2.0), (-0.5, 0.25), (0.0, 0.0)).toDF("f1", "f2")
    val assembled = Modeling.assembler(Seq("f1", "f2")).transform(df)
    val got = assembled.select(
        Modeling.sigmoid(
          Modeling.linearScore(col("features"), Seq(0.5, -1.0), 0.25)).as("p"))
      .collect().map(_.getDouble(0))
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    // same left-fold op order as linearScore -> bit-identical, not approx
    val want = Seq(1.0 * 0.5 + 2.0 * (-1.0) + 0.25,
      -0.5 * 0.5 + 0.25 * (-1.0) + 0.25,
      0.0 * 0.5 + 0.0 * (-1.0) + 0.25).map(sig)
    got.toSeq.zip(want).foreach { case (a, b) => assert(a === b) }
  }

  test("TrainValidationSplit tuning picks a grid point and beats random") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 300).map { _ =>
      val d = rnd.nextDouble() * 2 - 1
      (if (d + rnd.nextGaussian() * 0.2 > 0) 1 else 0, d)
    }
    val df = rows.toDF("label", "WinRateDiff")
    val tuned = graft.ml.Tuning.tuneLr(df, Seq("WinRateDiff"),
      regParams = Seq(0.01, 0.5), elasticNets = Seq(0.0), maxIter = 15)
    assert(tuned.validationMetrics.length === 2)
    assert(tuned.validationMetrics.max > 0.8) // AUC of the better grid point
  }

  test("backtest metrics csv lands driver-side with one row per fold") {
    import graft.ml.Backtest
    val out = TestSpark.tempDir("graft_bt").resolve("m.csv")
    Backtest.writeMetricsCsv(out, Seq(
      Backtest.FoldMetrics(2023, 100, 50, 0.71, 0.62)))
    val lines = java.nio.file.Files.readAllLines(out)
    assert(lines.get(0) === "season,train_rows,val_rows,auc,log_loss")
    assert(lines.get(1).startsWith("2023,100,50,0.71"))
  }

  test("rolling backtest trains strictly on past seasons and reports per-fold metrics") {
    val rnd = new scala.util.Random(3)
    val rows = for (season <- 2020 to 2023; _ <- 1 to 150) yield {
      val diff = rnd.nextDouble() * 2 - 1
      (season, if (diff + rnd.nextGaussian() * 0.2 > 0) 1 else 0, diff)
    }
    val df = rows.toDF("Season", "label", "WinRateDiff")
    val metrics = graft.ml.Backtest.rollingSeasons(df, Seq("WinRateDiff"), maxIter = 15)
    assert(metrics.map(_.season) === Seq(2021, 2022, 2023))
    metrics.foreach { m =>
      assert(m.auc > 0.8, s"season ${m.season} auc ${m.auc}")
      assert(m.valRows === 150)
    }
    // fold for 2021 trained only on 2020
    assert(metrics.head.trainRows === 150)
  }

  test("streaming hourly stats aggregate incrementally over micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val query = EventStreams.hourlyTypeStats(events)
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("update").start()
    val h = 3600L * 1000000000L // one hour in nanos
    mem.addData((h + 1, 1L, "click", 1.0), (h + 2, 2L, "click", 2.0))
    query.processAllAvailable()
    mem.addData((h + 3, 3L, "view", 5.0), (2 * h + 1, 1L, "click", 7.0))
    query.processAllAvailable()
    val out = spark.table("hourly_test")
      .groupBy("window_start", "event_type").agg(max("n_events").as("n"))
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) -> r.getLong(2)).toMap
    query.stop()
    assert(out((3600L, "click")) === 2)
    assert(out((3600L, "view")) === 1)
    assert(out((7200L, "click")) === 1)
  }

  test("file-source stream over real events equals the batch result") {
    val src = "/root/testdata/sf0.001/events.parquet"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
    val batchDf = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventStreams.hourlyTypeStats(batchDf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // file source needs a directory; stage the file into one
    val dir = TestSpark.tempDir("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(src), dir.resolve("events.parquet"))
    // readStream needs the RAW file schema (ts may be TIMESTAMP_NTZ under
    // Spark 4.1+); normalize to the epoch-ns long contract after the scan
    val rawSchema = spark.read.parquet(dir.toString).schema
    val streamDf = graft.Tables.normalizeEventTs(spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString))
    val q = EventStreams.hourlyTypeStats(streamDf)
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("file_stream_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    q.stop()
    assert(got === expected)
  }

  test("sliding windows: stream equals batch, every event in exactly 4 windows") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sf/events.parquet")))
    val batchDf = graft.Tables.events(spark, sf)
    val batch = EventStreams.slidingTypeStats(batchDf)
    val expected = batch
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // 1-hour windows every 15 min: the window memberships sum to 4 per event
    assert(expected.values.map(_._1).sum === batchDf.count() * 4)
    val dir = TestSpark.tempDir("graft_slide_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    val rawSchema = spark.read.parquet(dir.toString).schema
    val streamDf = graft.Tables.normalizeEventTs(spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString))
    val q = EventStreams.slidingTypeStats(streamDf)
      .writeStream.format("memory").queryName("slide_stream_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("slide_stream_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    q.stop()
    assert(got === expected)
  }

  test("streaming exact dedup drops cross-micro-batch duplicates") {
    import spark.implicits._
    val src = TestSpark.tempDir("graft_dedup_src")
    def stage(name: String, rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      val tmp = TestSpark.tempDir("graft_dedup_stage")
      rows.toDF("doc_id", "text", "ingest_time")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p, src.resolve(name)); moved = true
        }
      }
      assert(moved)
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // the same text arrives again in a LATER file (= later micro-batch)
    stage("batch1.parquet", Seq(
      (1L, "alpha beta gamma", ts(0)), (2L, "first unique", ts(1))))
    stage("batch2.parquet", Seq(
      (3L, "alpha beta gamma", ts(2)), (4L, "second unique", ts(3))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ingest_time", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = graft.dedup.Dedup.exactDedupStream(stream, "text", "ingest_time")
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = spark.table("dedup_stream_test")
      .select("text").collect().map(_.getString(0)).sorted
    q.stop()
    // one survivor per distinct text: the duplicate arriving in the second
    // micro-batch was suppressed by cross-batch state
    assert(got === Array("alpha beta gamma", "first unique", "second unique"))
  }

  test("session_window groups events by inactivity gap (batch mode)") {
    val min = 60L * 1000000000L // one minute in nanos
    val events = Seq(
      (0 * min, 1L, "click", 1.0),
      (1 * min, 1L, "click", 2.0),     // within 30min gap -> same session
      (120 * min, 1L, "click", 4.0))   // new session
      .toDF("ts", "user_id", "event_type", "value")
    val sessions = EventStreams.sessionStats(events, gap = "30 minutes")
      .orderBy("session_start").collect()
    assert(sessions.length === 2)
    assert(sessions(0).getAs[Long]("n_events") === 2)
    assert(sessions(0).getAs[Double]("total_value") === 3.0)
    assert(sessions(1).getAs[Long]("n_events") === 1)
  }

  test("session windows: stream equals batch across micro-batches (q53's face)") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sf/events.parquet")))
    val batchDf = graft.Tables.events(spark, sf)
    val expected = EventStreams.sessionStats(batchDf)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))
        -> (r.getLong(3), r.getDouble(4))).toMap
    // three time-ordered files → three micro-batches, so sessions that
    // straddle a file boundary must merge across batches (a single-file
    // stream would never exercise the cross-batch state); ascending
    // event-time order keeps every row inside the 2 h watermark
    val dir = TestSpark.tempDir("graft_sess_src")
    val sorted = batchDf.orderBy("ts").collect()
    val third = (sorted.length + 2) / 3
    import spark.implicits._
    sorted.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_sess_stage")
      chunk.map(r => (r.getLong(r.fieldIndex("ts")),
          r.getLong(r.fieldIndex("user_id")),
          r.getString(r.fieldIndex("event_type")),
          r.getDouble(r.fieldIndex("value"))))
        .toSeq.toDF("ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dst = dir.resolve(s"part$i.parquet")
          java.nio.file.Files.copy(p, dst)
          // file source orders batches by modification time — pin it
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
          moved = true
        }
      }
      assert(moved)
    }
    val streamDf = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val q = EventStreams.sessionStats(streamDf)
      .writeStream.format("memory").queryName("sess_stream_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("sess_stream_test")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))
        -> (r.getLong(3), r.getDouble(4))).toMap
    q.stop()
    assert(got === expected)
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    implicit val sc = spark.sqlContext
    val clickMem = MemoryStream[(Long, Long, String, Double)]
    val purchMem = MemoryStream[(Long, Long, String, Double)]
    val cols = Seq("ts", "user_id", "event_type", "value")
    val joined = EventStreams.attributedPurchases(
      clickMem.toDF().toDF(cols: _*).withColumn("event_id", col("ts")),
      purchMem.toDF().toDF(cols: _*).withColumn("event_id", col("ts")),
      windowExpr = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib_test")
      .outputMode("append").start()
    val min = 60L * 1000000000L
    clickMem.addData((10 * min, 1L, "click", 0.0), (200 * min, 1L, "click", 0.0))
    purchMem.addData((30 * min, 1L, "purchase", 9.99)) // 20min after click 1
    q.processAllAvailable()
    val out = spark.table("attrib_test").collect()
    q.stop()
    assert(out.length === 1) // only the in-window click attributes
    assert(out.head.getAs[Long]("click_id") === 10 * min)
    assert(out.head.getAs[Double]("amount") === 9.99)
  }

  test("streaming funnel: stream equals batch across micro-batches (q111's face)") {
    import EventStreams.FunnelEvent
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sf/events.parquet")))
    val stages = Seq("view", "click", "purchase")
    val batchDf = graft.Tables.events(spark, sf)
    // batch reference: the window-chain funnel, times at the µs contract
    val expected = graft.operators.Funnel.funnel(
        batchDf, "user_id", "event_type", "ts", stages)
      .collect().map { r =>
        def us(i: Int) = if (r.isNullAt(i)) -1L else r.getLong(i) / 1000L
        r.getLong(0) -> ((us(1), us(2), us(3)), r.getInt(4))
      }.toMap
    // three event-time-ordered files → three micro-batches: funnels that
    // straddle a file boundary must resume from cross-batch state
    val dir = TestSpark.tempDir("graft_funnel_src")
    val sorted = batchDf.orderBy("ts").collect()
    val third = (sorted.length + 2) / 3
    sorted.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_funnel_stage")
      chunk.map(r => (r.getLong(r.fieldIndex("user_id")),
          r.getString(r.fieldIndex("event_type")),
          r.getLong(r.fieldIndex("ts")) / 1000L))
        .toSeq.toDF("user_id", "event_type", "event_time_us")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dst = dir.resolve(s"part$i.parquet")
          java.nio.file.Files.copy(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
          moved = true
        }
      }
      assert(moved)
    }
    val streamDf = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("event_time_us", org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .as[FunnelEvent]
    val q = EventStreams.funnelStream(streamDf, stages)
      .writeStream.format("memory").queryName("funnel_stream_test")
      .outputMode("update").start()
    q.processAllAvailable()
    // snapshots are monotone (times set-once): latest per user = the one
    // with the most completed stages
    val got = spark.table("funnel_stream_test")
      .collect().map { r =>
        val times = r.getSeq[Long](1)
        r.getLong(0) -> ((times(0), times(1), times(2)), r.getInt(2))
      }.groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2._2)._2 }
    q.stop()
    // batch emits every user that completed ≥ stage 1; the stream emits
    // only users whose funnel MOVED — identical sets here since every
    // emitted user moved at least once
    val expectedMoved = expected.filter(_._2._2 > 0)
    assert(got === expectedMoved)
    // dual-mode: the same operator over the batch frame agrees
    val batchGot = EventStreams.funnelStream(
        batchDf.select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("event_time_us")).as[FunnelEvent], stages)
      .collect().map(p =>
        p.user_id -> ((p.stage_times_us(0), p.stage_times_us(1),
          p.stage_times_us(2)), p.stages_completed)).toMap
    assert(batchGot === expectedMoved)
  }

  test("streaming retention: foreachBatch-maintained activity dim equals batch (q112's face)") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sf/events.parquet")))
    val batchDf = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val expected = graft.operators.Funnel.retention(batchDf, "user_id", "day")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // three files → three micro-batches; the activity dim carries the
    // distinct (user, day) state across them
    val dir = TestSpark.tempDir("graft_ret_src")
    val rows = batchDf.collect()
    val third = (rows.length + 2) / 3
    rows.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_ret_stage")
      chunk.map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.toDF("user_id", "day")
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
    var activity = Seq.empty[(Long, Long)].toDF("user_id", "day")
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          _: Long) =>
        activity = graft.operators.Funnel.activityUpsert(
          activity, batch, "user_id", "day").localCheckpoint(true)
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val got = graft.operators.Funnel.retention(activity, "user_id", "day")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("funnelStream counts same-timestamp stage completions like the batch funnel") {
    import EventStreams.FunnelEvent
    // view and click share t=100; purchase follows. The batch funnel's
    // gate is ts >= t_prev, so all three stages complete — the stream
    // must agree regardless of arrival order within the batch
    val events = Seq(
      FunnelEvent(1L, "click", 100L),    // arrives BEFORE its view
      FunnelEvent(1L, "view", 100L),
      FunnelEvent(1L, "purchase", 200L)).toDS()
    val got = EventStreams.funnelStream(events, Seq("view", "click", "purchase"))
      .collect()
    assert(got.length === 1)
    assert(got.head.stages_completed === 3)
    assert(got.head.stage_times_us.toSeq === Seq(100L, 100L, 200L))
  }

  test("sessionize splits on inactivity gaps and aggregates per session") {
    val gap = 1000000L // 1s in µs
    val events = Seq(
      SessionEvent(1L, 0L, 1.0),
      SessionEvent(1L, 500000L, 2.0),     // same session
      SessionEvent(1L, 5000000L, 3.0),    // new session after gap
      SessionEvent(2L, 0L, 4.0))
      .toDS()
    val sessions = EventStreams.sessionize(events, gap).collect()
      .groupBy(_.user_id)
    assert(sessions(1L).length === 2)
    val first = sessions(1L).minBy(_.session_start_us)
    assert(first.n_events === 2)
    assert(first.total_value === 3.0)
    assert(sessions(2L).head.n_events === 1)
  }
}
