package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in graft.queries.Registry; this object just adapts
  * them to the driver's Map-based surface.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("q01_pricing_summary").run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, q) => name -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.byName.flatMap { case (name, q) => q.oracle.map(name -> _) }
}
