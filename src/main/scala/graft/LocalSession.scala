package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe of the mains (`Bench`, `Verify` and the
  * `tools`): `local[cores]` with `cores` shuffle partitions, a UTC
  * session (`Tables.normalizeEventTs` needs it), no UI, and a 128 KB
  * scan-split floor.
  *
  * The split floor: Spark sizes file splits as
  * min(maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism)).
  * The testdata tables are single parquet files of 0.3-11 MB, so the
  * 4 MB default openCost floor hands every fact scan 1-3 tasks and a
  * registry run stays near-serial whatever the core count (an event-log
  * profile at 32 cores found every hot stage at 1-6 tasks). 128 KB keeps
  * the split size at input bytes ÷ cores. On a cluster bytes/core ≫
  * maxPartitionBytes, so splits stay at 128 MB and the floor is a no-op.
  */
object LocalSession {
  def apply(cores: Int, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
