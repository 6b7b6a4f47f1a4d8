package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (see TESTDATA.md).
  * Plain parquet scans — Catalyst pushes filters/column pruning into the
  * scan, so callers should select/filter early and let the optimizer work.
  * Reads go through [[graft.sources.ParquetRead]], so each file's schema
  * is inferred once per process.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Spark ≤4.0 refuses TIMESTAMP(NANOS) parquet outright unless this
      // legacy conf maps it to LongType; on 4.1+ the conf no longer
      // exists and setting it is a harmless no-op (the scan yields
      // TIMESTAMP_NTZ instead). Set it best-effort so ONE jar reads the
      // file on either line, then normalize whatever arrived.
      scala.util.Try(
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    }
    val df = graft.sources.ParquetRead(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** events.ts is parquet TIMESTAMP(NANOS). The engine contract is
    * epoch-nanos LongType (monotonic long arithmetic everywhere).
    * Spark version drift changes what the scan yields:
    *   - ≤4.0 with `spark.sql.legacy.parquet.nanosAsLong`: LongType already.
    *   - 4.1+: the legacy conf is gone; the scan yields TIMESTAMP_NTZ at
    *     µs precision. Normalize explicitly: with session tz pinned to UTC
    *     the NTZ wall time IS the UTC instant, so
    *     `unix_micros(cast ts as timestamp) * 1000` reproduces epoch-ns at
    *     µs precision — the same precision DuckDB's oracle comparisons use.
    * Schema-adaptive so the same jar works on either Spark.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df
      case Some(TimestampNTZType) | Some(TimestampType) =>
        // the NTZ→instant cast reads the wall time in the SESSION
        // timezone: anything but UTC shifts every epoch value by the
        // zone offset while the column type stays bigint — a silent
        // corruption no schema check can catch, so fail loudly here
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"Tables.normalizeEventTs needs spark.sql.session.timeZone=UTC " +
            s"(got '$tz'): the TIMESTAMP_NTZ wall time is only the UTC " +
            "instant under a UTC session")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as $other — expected LongType or TIMESTAMP(_NTZ); " +
          "check Spark version / parquet reader behavior (see NOTES rule 2)")
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
