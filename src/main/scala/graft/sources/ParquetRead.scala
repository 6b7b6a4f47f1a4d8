package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
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
  * the plain read.
  *
  * A table this process writes through [[write]] is never inferred:
  * the writer knows its schema. */
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

  /** Writes `df` as parquet at `path`, overwriting, in Hive-style
    * subdirs per `partitionBy`, and reads it back with the schema a
    * read of the written files infers: `df`'s data columns, then the
    * partition columns typed from the directory names, all nullable.
    * The schema is recorded as if inferred, so neither this read nor a
    * later [[apply]] of `path` starts a job. `place` writes the files
    * so that they end up at `path`: by default it writes there;
    * `SpineCache` writes a staging dir and renames it into place. */
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      place: (DataFrameWriter[Row], String) => Unit = (w, p) => w.parquet(p)): DataFrame = {
    place(df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*), path)
    val s = df.sparkSession
    // stating only the data columns leaves the partition columns to
    // discovery, which types them as inference does, from the listing
    val read = s.read.schema(StructType(df.schema.filterNot(f => partitionBy.contains(f.name))))
      .parquet(path)
    stamp(s, path).foreach(st => schemas.put(path, (st, read.schema)))
    read
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
