package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The monthly revenue series (t, z): m = months since 1995-01 of the
  * ship date, t = dense 1-based month index, z = exact revenue cents.
  * One definition of the month bucket and the quantization for the
  * forecasting, Kalman and scale-test families, as oracle text and as
  * the Spark frame it must equal. */
object MonthSeries {

  /** Oracle CTEs `mo(m, z)` and `sq(t, z)`. */
  def sql: String =
    """mo AS (
      |  SELECT (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
      |           AS m,
      |         sum(CAST(l_extendedprice * 100 AS BIGINT)) AS z
      |  FROM lineitem GROUP BY 1),
      |sq AS (SELECT row_number() OVER (ORDER BY m) AS t, z FROM mo)""".stripMargin

  /** Spark side of [[sql]]: (t, z), uncached. */
  def frame(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(((year(col("l_shipdate")) - 1995) * 12
        + month(col("l_shipdate")) - 1).as("m"),
        expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
          .as("v"))
      .groupBy(col("m")).agg(sum(col("v")).as("z"))
      .select(row_number().over(Window.orderBy(col("m"))).as("t"),
        col("z"))
}
