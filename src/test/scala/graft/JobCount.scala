package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts on the shared test session. */
object JobCount {
  private val TagKey = "graft.test.jobcount"
  private val seen = new ConcurrentLinkedQueue[String]()
  private lazy val listening: Unit =
    TestSpark.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
          .foreach(seen.add)
    })

  /** The jobs started by `f` on this thread. The listener bus delivers
    * events in order, so once a sentinel job's start has arrived, every
    * job `f` started has been counted. */
  def of(f: => Unit): Int = synchronized {
    listening
    val sc = TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sentinel = s"$tag-sentinel"
    try {
      sc.setLocalProperty(TagKey, tag)
      f
      sc.setLocalProperty(TagKey, sentinel)
      sc.parallelize(Seq(1), 1).count()
    } finally sc.setLocalProperty(TagKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen.contains(sentinel) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(seen.contains(sentinel), "the sentinel job's start never arrived")
    seen.asScala.count(_ == tag)
  }
}
