package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local session for the whole forked test JVM, and the
  * temp dirs the specs write into. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tempDir("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tempDirs.asScala.foreach(p =>
      scala.util.Try(graft.sources.LocalFs.deleteRecursively(p)))))

  /** A fresh dir under `java.io.tmpdir` named `prefix…`, deleted with
    * everything in it when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p
  }
}
