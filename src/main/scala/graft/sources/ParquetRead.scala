package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads that infer each local file set's schema once per
  * process. Spark's own inference starts a one-task job to read a
  * footer; a read with a stated schema starts none. The first read of
  * a path infers, and later reads of the same files state the schema
  * that inference gave.
  *
  * A schema is reused only while its stamp holds: the path, length and
  * mtime of every file under the path (as [[LocalFs.fingerprint]] keys
  * a source), and the session's `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` settings, which change what inference
  * yields. A rewritten file or a changed setting is inferred again.
  * Object-store paths and paths that name no local file (globs) keep
  * the plain read. */
object ParquetRead {
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  def apply(s: SparkSession, path: String): DataFrame =
    stamp(s, path) match {
      case None => s.read.parquet(path)
      case Some(st) =>
        Option(schemas.get(path)).collect { case (`st`, schema) => schema } match {
          case Some(schema) => s.read.schema(schema).parquet(path)
          case None =>
            val df = s.read.parquet(path)
            schemas.put(path, (st, df.schema))
            df
        }
    }

  /** Forget the schemas of every path under `root`. */
  def forget(root: String): Unit = schemas.keySet.removeIf(_.startsWith(root))

  private def stamp(s: SparkSession, path: String): Option[String] = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val local = Option(uri.getScheme).forall(_ == "file")
    Some(Paths.get(uri.getPath)).filter(p => local && Files.exists(p)).map { p =>
      val conf = s.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      (LocalFs.stat(p) ++ conf.map { case (k, v) => s"$k=$v" }).mkString(";")
    }
  }
}
