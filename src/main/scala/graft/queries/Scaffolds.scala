package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Shared time-series scaffold used across the round-7 statistical
  * faces: the zero-filled daily order-revenue grid in whole dollars —
  * one canonical text for the oracle CTEs and one canonical Spark
  * builder, so the calendar/zero-fill/quantization contract lives in
  * exactly one place (the [[SupplierGraph]] pattern applied to the
  * other big duplicated scaffold). Queries needing extra grid columns
  * — day index, week bucket, lo/hi scalars — build their own grid on
  * the shared order-day prefix ([[sqlOrderDollars]], [[orderCents]],
  * [[dollarsByDay]]), so only the grid step differs. */
object Scaffolds {

  /** Oracle CTEs `o(d, cents)` (order day number, exact total-price
    * cents) and `rev(d, <x>)` (order revenue per day in whole dollars,
    * floored), with the revenue column named `x`. */
  def sqlOrderDollars(x: String): String =
    s"""o AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
      |         CAST(o_totalprice * 100 AS HUGEINT) AS cents
      |  FROM orders),
      |rev AS (SELECT d, CAST(sum(cents) // 100 AS BIGINT) AS $x
      |        FROM o GROUP BY 1)""".stripMargin

  /** Spark side of the `o` CTE of [[sqlOrderDollars]]: (d, cents),
    * uncached. */
  def orderCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("d"),
        (col("o_totalprice") * 100).cast("decimal(38,0)").as("cents"))

  /** Spark side of the `rev` CTE of [[sqlOrderDollars]]: (d, <x>) over
    * [[orderCents]] rows. */
  def dollarsByDay(o: DataFrame, x: String): DataFrame =
    o.groupBy(col("d")).agg(expr("CAST(sum(cents) div 100 AS BIGINT)").as(x))

  /** Oracle CTEs `o`/`rev`/`mm`/`grid`; grid = (day, x) with x the
    * zero-filled daily order revenue in whole dollars. */
  def sqlDailyDollars: String =
    s"""${sqlOrderDollars("x")},
      |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
      |grid AS (
      |  SELECT g.d AS day, coalesce(rev.x, 0) AS x
      |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
      |  LEFT JOIN rev ON g.d = rev.d)""".stripMargin

  /** Spark side of [[sqlDailyDollars]]: (day, x) — a SpineCache
    * table: the zero-filled grid was rebuilt from the orders fact by
    * every round-7 statistical face; it is now one fact pass per
    * process, read by every consumer (all-long round-trip, exact). */
  def dailyDollars(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "daily_dollars_grid",
      "orders") {
      val o = orderCents(s, dir)
        .materialize() // feeds the per-day rollup AND the range scalars
      val rev = dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      mm.select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(rev, col("day") === col("d"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
    }
}
