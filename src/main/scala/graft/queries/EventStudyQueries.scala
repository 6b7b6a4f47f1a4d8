package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 event-study wave on the daily-revenue series: detect the
  * five largest absolute-deviation days ("events"), build the
  * average abnormal-revenue (CAR) profile over the ±5-day window,
  * contrast pre vs post means, audit anticipation (run-up) and peak
  * placement, and run the hash-placebo check.
  *
  * Exactness: abnormal revenue is the scaled deviation n·z − Σz
  * (exact integers — the daily mean never materializes); profiles
  * and CARs are exact integer sums reported per n (÷n·1000 floor);
  * event selection is deterministic (|dev| DESC, day ASC, stated);
  * placebo days are the multiplicative-hash spread, excluding real
  * event windows. The one double is the pooled pre/post z, one
  * shared text.
  *
  * Scale: one fact pass to the day dim ([[DaySeries.revenue]]
  * spine); event/placebo dims are ≤ 5 rows broadcast against the
  * day dim. */
object EventStudyQueries {

  val all: Seq[Q] = Seq(q1186, q1187, q1188, q1189, q1190)

  /** Oracle CTEs: dv(t, d) scaled deviations, ev(e) top-5 events. */
  private def sqlEv: String = s"""
    |${DaySeries.sql},
    |ag AS (SELECT count(*) AS n, sum(z) AS sz FROM sq),
    |dv AS (SELECT t, n * z - sz AS d FROM sq CROSS JOIN ag),
    |ev AS (SELECT t AS e FROM dv CROSS JOIN ag
    |       WHERE t > 5 AND t <= n - 5
    |       ORDER BY abs(d) DESC, t LIMIT 5)""".stripMargin

  /** Spark twins: deviations and the top-5 event dim. */
  private def dv(s: SparkSession, dir: String): DataFrame = {
    val sq = DaySeries.revenue(s, dir)
    val ag = sq.agg(count(lit(1)).as("n"), sum(col("z")).as("sz"))
    sq.crossJoin(broadcast(ag))
      .select(col("t"), (col("n") * col("z") - col("sz")).as("d"),
        col("n"))
  }

  private def ev(s: SparkSession, dir: String): DataFrame =
    dv(s, dir)
      .where(col("t") > 5 && col("t") <= col("n") - 5)
      .orderBy(abs(col("d")).desc, col("t"))
      .limit(5)
      .select(col("t").as("e"))

  /** Event detection: the five events with their deviation share. */
  def q1186: Q = Q(
    "q1186_event_detection",
    Some(s"""
      |WITH ${sqlEv}
      |SELECT CAST(ev.e AS BIGINT) AS event_day,
      |       CAST(dv.d AS BIGINT) AS scaled_dev,
      |       CAST((1000 * dv.d) // ag.sz AS BIGINT) AS dev_per_mille_of_total
      |FROM ev JOIN dv ON dv.t = ev.e CROSS JOIN ag
      |ORDER BY event_day
      |""".stripMargin)) { (s, dir) =>
    val d = dv(s, dir)
    val sq = DaySeries.revenue(s, dir)
    val ag = sq.agg(sum(col("z")).as("sz"))
    ev(s, dir).join(d, col("t") === col("e"))
      .crossJoin(broadcast(ag))
      .select(col("e").cast("long").as("event_day"),
        col("d").as("scaled_dev"),
        expr("CAST((1000 * d) div sz AS BIGINT)")
          .as("dev_per_mille_of_total"))
      .orderBy(col("event_day"))
  }

  /** Mean abnormal-revenue profile at relative days −5..+5 and the
    * running CAR (exact scaled integers, reported ÷(n·5) milli of a
    * mean day). */
  def q1187: Q = Q(
    "q1187_car_profile",
    Some(s"""
      |WITH ${sqlEv},
      |win AS (SELECT dv.t - ev.e AS rel, dv.d
      |        FROM ev JOIN dv ON dv.t BETWEEN ev.e - 5 AND ev.e + 5),
      |pr AS (SELECT rel, count(*) AS ne, sum(d) AS sd FROM win
      |       GROUP BY 1),
      |cu AS (SELECT rel, ne, sd,
      |         sum(sd) OVER (ORDER BY rel
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS car
      |       FROM pr)
      |SELECT CAST(rel AS BIGINT) AS rel_day,
      |       CAST(ne AS BIGINT) AS n_events,
      |       CAST((1000 * sd) // (ne * (SELECT sz FROM ag)) AS BIGINT)
      |         AS mean_ar_permille,
      |       CAST((1000 * car) // (ne * (SELECT sz FROM ag)) AS BIGINT)
      |         AS car_permille
      |FROM cu ORDER BY rel_day
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = dv(s, dir)
    val sq = DaySeries.revenue(s, dir)
    val ag = sq.agg(sum(col("z")).as("sz"))
    val win = ev(s, dir)
      .join(d, col("t").between(col("e") - 5, col("e") + 5))
      .select((col("t") - col("e")).as("rel"), col("d"))
    win.groupBy(col("rel"))
      .agg(count(lit(1)).as("ne"), sum(col("d")).as("sd"))
      .withColumn("car", sum(col("sd")).over(Window.orderBy(col("rel"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(ag))
      .select(col("rel").cast("long").as("rel_day"),
        col("ne").cast("long").as("n_events"),
        expr("CAST((1000 * sd) div (ne * sz) AS BIGINT)")
          .as("mean_ar_permille"),
        expr("CAST((1000 * car) div (ne * sz) AS BIGINT)")
          .as("car_permille"))
      .orderBy(col("rel_day"))
  }

  /** Pre [−5,−1] vs post [+1,+5] contrast per event and the pooled
    * z over events (shared double from exact per-event sums). */
  def q1188: Q = {
    val z = "((CAST(sd2 AS DOUBLE) / CAST(ne AS DOUBLE))" +
      " / sqrt((CAST(sdd AS DOUBLE) - CAST(sd2 AS DOUBLE)" +
      " * CAST(sd2 AS DOUBLE) / CAST(ne AS DOUBLE))" +
      " / (CAST(ne AS DOUBLE) - 1.0) / CAST(ne AS DOUBLE)))"
    Q("q1188_pre_post_contrast",
      Some(s"""
        |WITH ${sqlEv},
        |pp AS (SELECT ev.e,
        |         sum(CASE WHEN dv.t BETWEEN ev.e - 5 AND ev.e - 1
        |             THEN dv.d ELSE 0 END) AS pre,
        |         sum(CASE WHEN dv.t BETWEEN ev.e + 1 AND ev.e + 5
        |             THEN dv.d ELSE 0 END) AS post
        |       FROM ev JOIN dv ON dv.t BETWEEN ev.e - 5 AND ev.e + 5
        |       GROUP BY 1),
        |mo AS (SELECT count(*) AS ne, sum(post - pre) AS sd2,
        |         sum(CAST(post - pre AS HUGEINT) * (post - pre)) AS sdd
        |       FROM pp)
        |SELECT CAST(ne AS BIGINT) AS n_events,
        |       CAST(sd2 AS BIGINT) AS sum_post_minus_pre,
        |       CAST(floor(1000.0 * $z) AS BIGINT) AS pooled_z_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      val d = dv(s, dir)
      val pp = ev(s, dir)
        .join(d, col("t").between(col("e") - 5, col("e") + 5))
        .groupBy(col("e"))
        .agg(sum(when(col("t").between(col("e") - 5, col("e") - 1),
          col("d")).otherwise(0L)).as("pre"),
          sum(when(col("t").between(col("e") + 1, col("e") + 5),
            col("d")).otherwise(0L)).as("post"))
      pp.agg(count(lit(1)).as("ne"),
        sum(col("post") - col("pre")).as("sd2"),
        expr("sum(CAST(post - pre AS DECIMAL(19,0))" +
          " * CAST(post - pre AS DECIMAL(19,0)))").as("sdd"))
        .select(col("ne").cast("long").as("n_events"),
          col("sd2").cast("long").as("sum_post_minus_pre"),
          expr(s"CAST(floor(1000.0 * $z) AS BIGINT)")
            .as("pooled_z_milli"))
    }
  }

  /** Anticipation audit: events with positive AR the day before, and
    * the in-window position of the absolute peak (ties to the
    * earliest day, stated). */
  def q1189: Q = Q(
    "q1189_anticipation_audit",
    Some(s"""
      |WITH ${sqlEv},
      |win AS (SELECT ev.e, dv.t - ev.e AS rel, dv.d
      |        FROM ev JOIN dv ON dv.t BETWEEN ev.e - 5 AND ev.e + 5),
      |pk AS (SELECT e, min(rel) AS peak_rel FROM (
      |         SELECT e, rel, abs(d) AS ad,
      |                max(abs(d)) OVER (PARTITION BY e) AS mx
      |         FROM win) q
      |       WHERE ad = mx GROUP BY 1),
      |ru AS (SELECT e,
      |         max(CASE WHEN rel = -1 AND d > 0 THEN 1 ELSE 0 END)
      |           AS runup
      |       FROM win GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(ru.runup) AS BIGINT) AS runup_events,
      |       CAST(sum(CASE WHEN pk.peak_rel = 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS peak_at_event,
      |       CAST(min(pk.peak_rel) AS BIGINT) AS earliest_peak_rel,
      |       CAST(max(pk.peak_rel) AS BIGINT) AS latest_peak_rel
      |FROM pk JOIN ru ON ru.e = pk.e
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = dv(s, dir)
    val win = ev(s, dir)
      .join(d, col("t").between(col("e") - 5, col("e") + 5))
      .select(col("e"), (col("t") - col("e")).as("rel"), col("d"))
    val pk = win
      .withColumn("mx", max(abs(col("d")))
        .over(Window.partitionBy(col("e"))))
      .where(abs(col("d")) === col("mx"))
      .groupBy(col("e")).agg(min(col("rel")).as("peak_rel"))
    val ru = win.groupBy(col("e").as("e2"))
      .agg(max(when(col("rel") === -1 && col("d") > 0, 1L)
        .otherwise(0L)).as("runup"))
    pk.join(ru, col("e2") === col("e"))
      .agg(count(lit(1)).as("n_events"), sum(col("runup")).as("re"),
        sum(when(col("peak_rel") === 0, 1L).otherwise(0L)).as("pa"),
        min(col("peak_rel")).as("ep"), max(col("peak_rel")).as("lp"))
      .select(col("n_events").cast("long").as("n_events"),
        col("re").cast("long").as("runup_events"),
        col("pa").cast("long").as("peak_at_event"),
        col("ep").cast("long").as("earliest_peak_rel"),
        col("lp").cast("long").as("latest_peak_rel"))
  }

  /** Placebo check: the same |CAR| at 5 hash-spread non-event days
    * vs the real events (ratio in milli; placebo days exclude ±5 of
    * any real event, stated). */
  def q1190: Q = Q(
    "q1190_placebo_check",
    Some(s"""
      |WITH ${sqlEv},
      |pl AS (SELECT t AS e FROM dv CROSS JOIN ag
      |       WHERE t > 5 AND t <= n - 5
      |         AND NOT EXISTS (SELECT 1 FROM ev
      |           WHERE abs(dv.t - ev.e) <= 5)
      |       ORDER BY (t * 2654435761) % 2147483648, t LIMIT 5),
      |car AS (SELECT 'event' AS grp, sum(dv.d) AS car
      |        FROM ev JOIN dv ON dv.t BETWEEN ev.e - 5 AND ev.e + 5
      |        UNION ALL
      |        SELECT 'placebo', sum(dv.d)
      |        FROM pl JOIN dv ON dv.t BETWEEN pl.e - 5 AND pl.e + 5)
      |SELECT grp, CAST(car AS BIGINT) AS total_car_scaled,
      |       CAST((1000 * abs(car)) // greatest((SELECT abs(car) FROM car
      |         WHERE grp = 'placebo'), 1) AS BIGINT)
      |         AS vs_placebo_milli
      |FROM car ORDER BY grp
      |""".stripMargin)) { (s, dir) =>
    val d = dv(s, dir)
    val e5 = ev(s, dir)
    val pl = d
      .join(broadcast(e5), abs(col("t") - col("e")) <= 5, "left_anti")
      .where(col("t") > 5 && col("t") <= col("n") - 5)
      .orderBy(pmod(col("t") * 2654435761L, lit(2147483648L)), col("t"))
      .limit(5)
      .select(col("t").as("e"))
    def car(dim: DataFrame, name: String) =
      dim.join(d, col("t").between(col("e") - 5, col("e") + 5))
        .agg(sum(col("d")).as("car"))
        .select(lit(name).as("grp"), col("car"))
    val both = car(e5, "event").unionAll(car(pl, "placebo"))
    val plc = both.where(col("grp") === "placebo")
      .select(abs(col("car")).as("pc"))
    both.crossJoin(broadcast(plc))
      .select(col("grp"), col("car").as("total_car_scaled"),
        expr("CAST((1000 * abs(car)) div greatest(pc, 1) AS BIGINT)")
          .as("vs_placebo_milli"))
      .orderBy(col("grp"))
  }
}
