package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts on the shared test session, and
  * reads their job descriptions. */
object JobCount {
  private val TagKey = "graft.test.jobcount"
  /** (tag, job description) of every tagged job start. */
  private val seen = new ConcurrentLinkedQueue[(String, String)]()
  private lazy val listening: Unit =
    TestSpark.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => Option(p.getProperty(TagKey))
          .foreach(t => seen.add(t -> p.getProperty("spark.job.description"))))
    })

  /** The number of jobs started by `f` on this thread. */
  def of(f: => Unit): Int = descriptions(f).size

  /** The job description of each job started by `f` on this thread, in
    * start order (null for a job without one). The listener bus delivers
    * events in order, so once a sentinel job's start has arrived, every
    * job `f` started has been seen. */
  def descriptions(f: => Unit): Seq[String] = synchronized {
    listening
    val sc = TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sentinel = s"$tag-sentinel"
    def arrived = seen.asScala.exists(_._1 == sentinel)
    try {
      sc.setLocalProperty(TagKey, tag)
      f
      sc.setLocalProperty(TagKey, sentinel)
      sc.parallelize(Seq(1), 1).count()
    } finally sc.setLocalProperty(TagKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!arrived && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(arrived, "the sentinel job's start never arrived")
    seen.asScala.collect { case (`tag`, d) => d }.toSeq
  }
}
