package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.jobs.PipelineConfig

/** The benchmark's JVM side, launched by `run.py` once per run.
  *
  * Arguments are `key=value`: `workload`, `input` (generated inputs),
  * `work` (scratch directory of this run), `trace_out` (span file),
  * `seconds`, `trace` (0 or 1), `queries` (query_mix: `name:layer,...` in run
  * order) and `expect` (pipeline: `key=value;...`).
  *
  * It prints `READY` once set-up (session, first iteration) is done and
  * `RESULT <json>` with the raw samples at the end; `run.py` turns those
  * into metrics. Everything else goes to stderr.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args("work")}/spark-local")
      // the split-size setting of the repository's Bench and Verify mains
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probes = new Probes(spark)
    val bench = new Bench(probes, cores, args("seconds").toDouble, args("trace") == "1",
      new Tracer(args.getOrElse("run_id", "run")))
    val result = args("workload") match {
      case "pipeline" =>
        val expected = args("expect").split(";").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toInt }.toMap
        // shuffle partitions = cores, as for the query mix
        val config = PipelineConfig(shufflePartitions = cores,
          minTrainSeason = expected("min_train_season"))
        bench.pipeline(new PipelineBench(spark, args("input"), args("work"), config, expected))
      case _ =>
        bench.mix(new MixRunner(spark, args("input"), Mixes.parse(args("queries"))),
          s"${args("work")}/verify")
    }
    bench.tracer.write(args("trace_out"))
    println("RESULT " + Json.render(result + ("peak_rss_mb" -> Probes.peakRssMb())))
    spark.stop()
  }
}

/** Set-up, the timed window and the traced window of one run. */
final class Bench(probes: Probes, cores: Int, seconds: Double, trace: Boolean,
    val tracer: Tracer) {

  /** Repeats `once` until `seconds` have passed (at least once). */
  private def window[T](once: () => T): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    val t0 = System.nanoTime()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) out += once()
    out.toSeq
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def ready(): Unit = { println("READY"); System.out.flush() }

  def mix(runner: MixRunner, verifyDir: String): Map[String, Any] = {
    def runsJson(runs: Seq[Mixes.Run]) = runs.map(r =>
      Map("name" -> r.entry.name, "layer" -> r.entry.layer, "s" -> r.seconds, "error" -> r.error))
    val before = probes.snapshot()
    // the first pass is the warm-up and saves every result for the checks
    val cold = runner.pass(saveDir = Some(verifyDir))
    val compile = probes.snapshot().compileSince(before)
    runner.writeOracles(verifyDir)
    ready()
    val passes = window(() => runner.pass())
    val traced = if (!trace) Nil else window { () =>
      val b = probes.snapshot()
      val runs = tracer.span("mix.pass")(runner.pass(Some(tracer)))
      val spines = runner.spineCount()
      val wall = runs.map(_.seconds).sum
      Map("runs" -> runsJson(runs), "spine_builds" -> spines,
        "counters" -> probes.snapshot().since(b, wall, cores))
    }
    Map("cold" -> runsJson(cold), "passes" -> passes.map(runsJson), "traced" -> traced,
      "compile" -> compile)
  }

  def pipeline(p: PipelineBench): Map[String, Any] = {
    val before = probes.snapshot()
    val (coldResult, coldS) = timed(p.run())
    val compile = probes.snapshot().compileSince(before)
    val coldFailures = p.check(coldResult)
    ready()
    probes.takeJobDurations()
    val iterations = window { () =>
      val (r, s) = timed(p.run())
      val jobs = probes.takeJobDurations()
      Map("s" -> s, "job_ms" -> jobs, "failures" -> p.check(r))
    }
    val tracedIters = if (!trace) Nil else {
      val untraced = p.digests()
      window { () =>
        val b = probes.snapshot()
        val (r, s) = timed(p.traced(tracer))
        val counters = probes.snapshot().since(b, s, cores)
        val (gold, sub) = p.digests()
        val failures = p.check(r) ++
          (if (gold != untraced._1) Seq("traced gold table differs from untraced") else Nil) ++
          (if (sub != untraced._2) Seq("traced submission differs from untraced") else Nil)
        val (bytes, files) = p.written()
        val root = tracer.all.findLast(_.parent < 0).get
        val stages = tracer.all.filter(_.parent == root.id).map(sp => sp.name -> sp.seconds).toMap
        Map("s" -> s, "stages" -> stages, "counters" -> counters, "folds" -> r.backtest.size,
          "write_bytes" -> bytes, "write_files" -> files, "failures" -> failures)
      }
    }
    Map("cold_s" -> coldS, "iterations" -> iterations, "traced" -> tracedIters,
      "compile" -> compile, "cold_failures" -> coldFailures, "input_bytes" -> p.inputBytes())
  }
}
