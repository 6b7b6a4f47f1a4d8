package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-10 records-theory wave on the daily revenue series: a day is
  * an (upper) RECORD when its revenue beats every earlier day.
  * Classical theory says an i.i.d. series has H_n = Σ 1/j expected
  * records — the audit compares the observed count to the exact
  * micro-quantized harmonic number. Faces: record counts vs H_n,
  * record gaps, the record values themselves, per-year record rates,
  * and the time-quartile clustering of records.
  *
  * Exactness: records are strict comparisons against a running max
  * (ties are NOT records — stated); H_n is Σ_j 10⁶ div j over the
  * day dim (truncating per term, identical both engines).
  *
  * Scale: the day series rides the [[DaySeries]] spine; every window
  * is over the calendar-bounded dim. */
object RecordTheoryQueries {

  val all: Seq[Q] = Seq(q1026, q1027, q1028, q1029, q1030)

  /** Day series + record flags: rec(t, z, is_up, is_dn). */
  private def sqlRec: String = s"""${DaySeries.sql},
    |rec AS (
    |  SELECT t, z,
    |         CASE WHEN t = 1 OR z > max(z) OVER wp THEN 1 ELSE 0 END
    |           AS is_up,
    |         CASE WHEN t = 1 OR z < min(z) OVER wp THEN 1 ELSE 0 END
    |           AS is_dn
    |  FROM sq WINDOW wp AS (ORDER BY t
    |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin

  private def recBase(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    DaySeries.revenue(s, dir)
      .select(col("t"), col("z"),
        when(col("t") === 1 || col("z") > max(col("z")).over(wp), 1L)
          .otherwise(0L).as("is_up"),
        when(col("t") === 1 || col("z") < min(col("z")).over(wp), 1L)
          .otherwise(0L).as("is_dn"))
  }

  /** Record counts vs the harmonic expectation H_n (micro). */
  def q1026: Q = Q(
    "q1026_record_counts",
    Some(s"""
      |WITH ${sqlRec},
      |hn AS (SELECT sum(1000000 // t) AS h_micro FROM sq)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(is_up) AS BIGINT) AS n_upper_records,
      |       CAST(sum(is_dn) AS BIGINT) AS n_lower_records,
      |       CAST((SELECT h_micro FROM hn) AS BIGINT)
      |         AS expected_micro,
      |       CAST((1000000000 * sum(is_up))
      |            // (SELECT h_micro FROM hn) AS BIGINT)
      |         AS upper_vs_expected_milli
      |FROM rec
      |""".stripMargin)) { (s, dir) =>
    val rec = recBase(s, dir)
    val hn = DaySeries.revenue(s, dir)
      .agg(sum(expr("1000000 div t")).as("h_micro"))
    rec.agg(count(lit(1)).as("n_days"),
        sum(col("is_up")).as("n_upper_records"),
        sum(col("is_dn")).as("n_lower_records"))
      .crossJoin(broadcast(hn))
      .select(col("n_days"), col("n_upper_records"),
        col("n_lower_records"),
        col("h_micro").cast("long").as("expected_micro"),
        expr("CAST((1000000000 * n_upper_records) div h_micro AS BIGINT)")
          .as("upper_vs_expected_milli"))
  }

  /** Gaps between successive upper records. */
  def q1027: Q = Q(
    "q1027_record_gaps",
    Some(s"""
      |WITH ${sqlRec},
      |ur AS (SELECT t, t - lag(t) OVER (ORDER BY t) AS gap
      |       FROM rec WHERE is_up = 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_records,
      |       CAST(max(t) AS BIGINT) AS last_record_day,
      |       CAST(max(gap) AS BIGINT) AS max_gap,
      |       CAST(sum(gap) // count(gap) AS BIGINT) AS mean_gap,
      |       CAST(min(gap) AS BIGINT) AS min_gap
      |FROM ur
      |""".stripMargin)) { (s, dir) =>
    val ur = recBase(s, dir).where(col("is_up") === 1)
      .select(col("t"),
        (col("t") - lag(col("t"), 1).over(Window.orderBy(col("t"))))
          .as("gap"))
    ur.agg(count(lit(1)).as("n_records"),
        max(col("t")).as("last_record_day"),
        max(col("gap")).as("max_gap"),
        expr("CAST(sum(gap) div count(gap) AS BIGINT)").as("mean_gap"),
        min(col("gap")).as("min_gap"))
      .select(col("n_records"), col("last_record_day").cast("long"),
        col("max_gap").cast("long"), col("mean_gap"),
        col("min_gap").cast("long"))
  }

  /** The last 5 upper records with their increments over the previous
    * record. */
  def q1028: Q = Q(
    "q1028_record_values",
    Some(s"""
      |WITH ${sqlRec},
      |ur AS (SELECT t, z, z - lag(z) OVER (ORDER BY t) AS step
      |       FROM rec WHERE is_up = 1)
      |SELECT CAST(t AS BIGINT) AS t, CAST(z AS BIGINT) AS record_cents,
      |       CAST(step AS BIGINT) AS increment_cents
      |FROM ur ORDER BY t DESC LIMIT 5
      |""".stripMargin)) { (s, dir) =>
    recBase(s, dir).where(col("is_up") === 1)
      .select(col("t"), col("z"),
        (col("z") - lag(col("z"), 1).over(Window.orderBy(col("t"))))
          .as("step"))
      .orderBy(col("t").desc).limit(5)
      .select(col("t").cast("long").as("t"),
        col("z").cast("long").as("record_cents"),
        col("step").cast("long").as("increment_cents"))
  }

  /** Per-364-day "year" record rates (records WITHIN the whole-series
    * order, bucketed by when they happen). */
  def q1029: Q = Q(
    "q1029_records_by_year",
    Some(s"""
      |WITH ${sqlRec}
      |SELECT CAST((t - 1) // 364 + 1 AS BIGINT) AS year_bucket,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(is_up) AS BIGINT) AS n_upper,
      |       CAST(sum(is_dn) AS BIGINT) AS n_lower
      |FROM rec GROUP BY 1 ORDER BY year_bucket
      |""".stripMargin)) { (s, dir) =>
    recBase(s, dir)
      .groupBy(expr("(t - 1) div 364 + 1").as("year_bucket"))
      .agg(count(lit(1)).as("n_days"), sum(col("is_up")).as("n_upper"),
        sum(col("is_dn")).as("n_lower"))
      .orderBy(col("year_bucket"))
  }

  /** Time-quartile clustering: records should concentrate early —
    * share of records landing in each quarter of the observed span. */
  def q1030: Q = Q(
    "q1030_record_clustering",
    Some(s"""
      |WITH ${sqlRec},
      |gl AS (SELECT max(t) AS tm FROM rec),
      |qt AS (
      |  SELECT least(4, (4 * (t - 1)) // gl.tm + 1) AS quartile, is_up
      |  FROM rec CROSS JOIN gl),
      |tot AS (SELECT sum(is_up) AS nr FROM qt)
      |SELECT CAST(quartile AS BIGINT) AS quartile,
      |       CAST(sum(is_up) AS BIGINT) AS n_records,
      |       CAST((1000 * sum(is_up)) // (SELECT nr FROM tot) AS BIGINT)
      |         AS share_milli
      |FROM qt GROUP BY quartile ORDER BY quartile
      |""".stripMargin)) { (s, dir) =>
    val rec = recBase(s, dir)
    val gl = rec.agg(max(col("t")).as("tm"))
    val qt = rec.crossJoin(broadcast(gl))
      .select(least(lit(4), expr("(4 * (t - 1)) div tm + 1"))
        .as("quartile"), col("is_up"))
    val tot = qt.agg(sum(col("is_up")).as("nr"))
    qt.groupBy(col("quartile"))
      .agg(sum(col("is_up")).as("n_records"))
      .crossJoin(broadcast(tot))
      .select(col("quartile").cast("long").as("quartile"),
        col("n_records"),
        expr("CAST((1000 * n_records) div nr AS BIGINT)")
          .as("share_milli"))
      .orderBy(col("quartile"))
  }
}
