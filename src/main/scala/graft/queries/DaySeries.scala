package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The canonical daily-revenue series (t, z): t = dense 1-based
  * ship-date index, z = exact daily revenue cents — the spine every
  * calendar-bounded series face (matrix profile, Haar/Walsh
  * transforms, DP segmentation, technical indicators) consumes.
  * Served through [[graft.sources.SpineCache]]: ONE lineitem
  * aggregation per (testdata fingerprint), parquet-backed for every
  * later consumer in any process — the round-9-verdict spine-table
  * pattern. [[sql]] is the same frame as oracle text, spliced into
  * every consumer's oracle SQL, so the gate proves the cached table
  * equals the from-scratch aggregation. */
object DaySeries {

  /** Oracle CTE `day(dd, z)`: exact revenue cents per ship date. */
  def sqlDay: String =
    """day AS (SELECT CAST(l_shipdate AS DATE) AS dd,
      |               sum(CAST(l_extendedprice * 100 AS BIGINT)) AS z
      |        FROM lineitem GROUP BY 1)""".stripMargin

  /** Oracle CTEs `day` and `sq(t, z)`, the text of [[revenue]]; starts
    * on a fresh line. */
  def sql: String = s"""
    |$sqlDay,
    |sq AS (SELECT row_number() OVER (ORDER BY dd) AS t, z FROM day)""".stripMargin

  def revenue(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "daily_revenue_cents",
      "lineitem") {
      Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast("date").as("dd"),
          expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
            .as("v"))
        .groupBy(col("dd")).agg(sum(col("v")).as("z"))
        .select(row_number().over(Window.orderBy(col("dd"))).as("t"),
          col("z"))
    }
}
