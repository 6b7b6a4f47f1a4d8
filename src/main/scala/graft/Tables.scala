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
    val df = graft.sources.ParquetRead(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** events.ts is parquet TIMESTAMP(NANOS). The engine contract is
    * epoch-nanos LongType (monotonic long arithmetic everywhere).
    *   - Spark 4.1+ reads TIMESTAMP(NANOS) as TIMESTAMP_NTZ at µs
    *     precision. With the session time zone pinned to UTC the NTZ wall
    *     time IS the UTC instant, so
    *     `unix_micros(cast ts as timestamp) * 1000` gives epoch-ns at µs
    *     precision — the precision DuckDB's oracle comparisons use.
    *   - A LongType column (a reader that maps the nanos to long, as
    *     Spark ≤ 4.0 did under `spark.sql.legacy.parquet.nanosAsLong`)
    *     already holds epoch-ns and passes through.
    * Set no `spark.sql.legacy.parquet.*` conf on the way: `ParquetRead`'s
    * stamp holds those settings, so writing one makes every table read
    * before it infer its schema again.
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
