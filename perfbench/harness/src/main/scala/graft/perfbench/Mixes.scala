package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.queries.{Q, Registry}
import graft.sources.SpineCache

/** A query mix: registered query names, each tagged with the layer that
  * does most of its work (`<layer>.query_s` sums those latencies). The
  * mix itself, and its seeded order, are defined by `run.py`. */
object Mixes {
  final case class Entry(name: String, layer: String)

  /** Parses `name:layer,name:layer,...`. */
  def parse(spec: String): Seq[Entry] =
    spec.split(",").toSeq.map { item =>
      val Array(name, layer) = item.split(":")
      Entry(name, layer)
    }

  final case class Run(entry: Entry, seconds: Double, error: Option[String])
}

/** Runs the mix `entries`, in the given order, over the tables in `dir`. */
final class MixRunner(spark: SparkSession, dir: String, entries: Seq[Mixes.Entry]) {
  import Mixes._
  private val registry: Map[String, Q] = Registry.byName
  entries.foreach(e => require(registry.contains(e.name), s"unknown query ${e.name}"))

  /** One query, its whole result consumed: by Spark's `noop` sink, or
    * saved as parquet under `saveDir/<name>` for the output checks. A
    * `.count()` would let Catalyst prune the columns and most of the work
    * the result needs. */
  def timed(e: Entry, saveDir: Option[String] = None): Run = {
    spark.sparkContext.setJobDescription(e.name)
    val t0 = System.nanoTime()
    val err =
      try {
        val w = registry(e.name).run(spark, dir).write.mode("overwrite")
        saveDir match {
          case Some(d) => w.parquet(s"$d/${e.name}")
          case None => w.format("noop").save()
        }
        None
      } catch { case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
    val run = Run(e, (System.nanoTime() - t0) / 1e9, err)
    System.err.println(f"[perfbench] ${e.name}%s ${run.seconds}%.3f s${err.fold("")(" " + _)}%s")
    // cache hygiene outside the timed window: each query starts clean
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    run
  }

  /** One pass over the mix. Spines are dropped first, so every pass
    * rebuilds its spines from the inputs. */
  def pass(tracer: Option[Tracer] = None, saveDir: Option[String] = None): Seq[Run] = {
    SpineCache.clear()
    entries.map { e =>
      tracer match {
        case Some(t) => t.span(s"query:${e.name}", "layer" -> e.layer)(timed(e, saveDir))
        case None => timed(e, saveDir)
      }
    }
  }

  /** Spines published so far in this process's SpineCache directory. */
  def spineCount(): Int = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_spines_"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .count(f => f.isDirectory && !f.getName.startsWith("."))
  }

  /** Writes `outDir/oracle_sql.json`: the DuckDB oracle of every query
    * in the mix that has one. */
  def writeOracles(outDir: String): Unit = {
    new File(outDir).mkdirs()
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => entries.exists(_.name == k) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), Json.render(oracles))
  }
}
