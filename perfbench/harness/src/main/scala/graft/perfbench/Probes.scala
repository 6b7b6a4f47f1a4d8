package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters read from outside the program: a SparkListener on the public
  * listener bus, the JVM's management beans and Spark's codegen metrics
  * source. Read them only through [[Probes.snapshot]], which first drains
  * the asynchronous listener bus. */
final class Probes(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  private val schedMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val jobStartMs = new ConcurrentHashMap[Int, Long]
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerSeen: CountDownLatch = new CountDownLatch(0)
  /** Durations (ms) of finished jobs, drained by [[takeJobDurations]]. */
  private val jobDurations = new ConcurrentLinkedQueue[java.lang.Long]

  private val Marker = "perfbench-sync"

  spark.sparkContext.addSparkListener(this)

  private def isMarker(p: java.util.Properties): Boolean =
    p != null && p.getProperty("spark.job.description") == Marker

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (isMarker(e.properties)) e.stageIds.foreach(markerStages.add)
    else jobStartMs.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStartMs.remove(e.jobId)) match {
      case Some(t0) =>
        jobs.incrementAndGet()
        jobDurations.add(e.time - t0)
      case None => markerSeen.countDown()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!markerStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.incrementAndGet()
      taskMs.addAndGet(m.executorRunTime)
      // the scheduler-delay formula of Spark's own stage page
      schedMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** Runs a one-task marker job and waits until the listener has seen it
    * end: the bus delivers in order, so every earlier event is counted.
    * Before the first job there is nothing to wait for. */
  private def drain(): Unit =
    if (spark.sparkContext.statusTracker.getJobIdsForGroup(null).nonEmpty) {
    markerSeen = new CountDownLatch(1)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    markerSeen.await(10, TimeUnit.SECONDS): Unit
  }

  def snapshot(): Probes.Snap = {
    drain()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    Probes.Snap(jobs.get, tasks.get, taskMs.get, schedMs.get, shuffleBytes.get,
      spillBytes.get, gcMs, jitMs, cg.getSnapshot.getMean * cg.getCount)
  }

  def takeJobDurations(): Seq[Long] =
    Iterator.continually(jobDurations.poll()).takeWhile(_ != null).map(_.longValue).toSeq
}

object Probes {
  final case class Snap(jobs: Long, tasks: Long, taskMs: Long, schedMs: Long,
      shuffleBytes: Long, spillBytes: Long, gcMs: Long, jitMs: Long,
      codegenMs: Double) {
    /** Per-layer Spark/JVM counters accrued since `b`, over `wallS`
      * seconds of work on `cores` cores. */
    def since(b: Snap, wallS: Double, cores: Int): Map[String, Double] = Map(
      "spark.jobs" -> (jobs - b.jobs).toDouble,
      "spark.tasks" -> (tasks - b.tasks).toDouble,
      "spark.task_s" -> (taskMs - b.taskMs) / 1e3,
      "spark.sched_delay_s" -> (schedMs - b.schedMs) / 1e3,
      "spark.core_util" -> (taskMs - b.taskMs) / 1e3 / (wallS * cores),
      "spark.shuffle_write_mb" -> (shuffleBytes - b.shuffleBytes) / 1e6,
      "spark.spill_mb" -> (spillBytes - b.spillBytes) / 1e6,
      "spark.gc_s" -> (gcMs - b.gcMs) / 1e3)

    /** Compile-side counters accrued since `b` (they belong to set-up). */
    def compileSince(b: Snap): Map[String, Double] = Map(
      "spark.codegen_compile_s" -> (codegenMs - b.codegenMs) / 1e3,
      "jvm.jit_s" -> (jitMs - b.jitMs) / 1e3)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).get
        .split("\\s+")(1).toDouble / 1024.0
      finally src.close()
    }.getOrElse(Double.NaN)
}
