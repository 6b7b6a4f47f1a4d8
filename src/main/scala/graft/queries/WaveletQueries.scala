package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-10 Haar-wavelet multiresolution wave on the daily-revenue
  * series: per-level detail energies, the dominant coefficients, the
  * top-k compression retention, the smooth-vs-detail energy split,
  * and the largest 32-day shift. All exact integer cents arithmetic:
  * the unnormalized Haar detail at level j, block b is
  * d_j(b) = Σ_{t ∈ block} sgn(t)·z_t with sgn = +1 on the first half
  * of the 2^j-day block and −1 on the second — so EVERY level is one
  * signed sum, and the whole pyramid is ONE explode (8 rows per day)
  * + ONE partitioned groupBy (j, block). Only COMPLETE blocks count
  * (cnt = 2^j); orthonormal energies carry the exact common-
  * denominator weight d²·2^(J−j) (J = 8). Shares/ratios are
  * floor-double quantizations of exact integer operands (the NOTES
  * floor-double idiom).
  *
  * Scale: the day series is CALENDAR-bounded (the matrix-profile
  * legitimacy argument); the pyramid frame is 8× the day dim. The
  * lineitem scan aggregates to days map-side before anything fans
  * out. */
object WaveletQueries {

  val all: Seq[Q] = Seq(q966, q967, q968, q969, q970)

  private def maxLevel = 8

  /** Day series + per-(level, block) Haar pyramid CTEs: `sq`(t, z),
    * `pyr`(j, b, d, cn) with d the signed detail sum. */
  private def sqlPyr: String = s"""${DaySeries.sql},
    |lv AS (SELECT * FROM (VALUES ${(1 to maxLevel).map(j => s"($j)").mkString(",")}) v(j)),
    |pyr AS (
    |  SELECT j, (t - 1) // (1 << j) AS b,
    |         sum(CASE WHEN ((t - 1) // (1 << (j - 1))) % 2 = 0
    |                  THEN z ELSE -z END) AS d,
    |         count(*) AS cn
    |  FROM sq CROSS JOIN lv GROUP BY 1, 2)""".stripMargin

  /** Spark twin: (j, b, d) over complete blocks only. */
  private def pyrBase(s: SparkSession, dir: String): DataFrame =
    DaySeries.revenue(s, dir)
      .select(col("t"), col("z"),
        explode(sequence(lit(1), lit(maxLevel))).as("j"))
      .groupBy(col("j"),
        expr("(t - 1) div shiftleft(1, j)").as("b"))
      .agg(sum(when(expr("((t - 1) div shiftleft(1, j - 1)) % 2 = 0"),
        col("z")).otherwise(-col("z"))).as("d"),
        count(lit(1)).as("cn"))
      .where(col("cn") === expr("CAST(shiftleft(1, j) AS BIGINT)"))
      .select(col("j"), col("b"), col("d"))

  /** Per-level detail energy profile: coefficient counts, truncated
    * energy (cents²·10⁻⁹), ppm energy share (floor-double over exact
    * integer operands), mean |d|. */
  def q966: Q = Q(
    "q966_haar_level_energy",
    Some(s"""
      |WITH ${sqlPyr},
      |en AS (
      |  SELECT j, count(*) AS n_coeffs,
      |         sum(CAST(d AS HUGEINT) * d) AS e,
      |         sum(abs(d)) AS sa
      |  FROM pyr WHERE cn = (1 << j) GROUP BY 1),
      |tot AS (SELECT sum(e) AS te FROM en)
      |SELECT CAST(j AS BIGINT) AS level,
      |       CAST(n_coeffs AS BIGINT) AS n_coeffs,
      |       CAST(e // 1000000000 AS BIGINT) AS energy_e9,
      |       CAST(floor(1000000.0 * CAST(e AS DOUBLE)
      |            / CAST(te AS DOUBLE)) AS BIGINT) AS share_ppm,
      |       CAST(sa // n_coeffs AS BIGINT) AS mean_abs
      |FROM en CROSS JOIN tot ORDER BY level
      |""".stripMargin)) { (s, dir) =>
    val en = pyrBase(s, dir)
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n_coeffs"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("e"),
        sum(abs(col("d"))).as("sa"))
    val tot = en.agg(sum(col("e")).as("te"))
    en.crossJoin(broadcast(tot))
      .select(col("j").cast("long").as("level"),
        col("n_coeffs").cast("long").as("n_coeffs"),
        expr("CAST(e div 1000000000 AS BIGINT)").as("energy_e9"),
        expr("CAST(floor(1000000.0 * CAST(e AS DOUBLE)" +
          " / CAST(te AS DOUBLE)) AS BIGINT)").as("share_ppm"),
        expr("CAST(sa div n_coeffs AS BIGINT)").as("mean_abs"))
      .orderBy(col("level"))
  }

  /** The 10 dominant raw coefficients across levels, with their day
    * spans (block b at level j covers days b·2^j+1 .. (b+1)·2^j). */
  def q967: Q = Q(
    "q967_haar_top_details",
    Some(s"""
      |WITH ${sqlPyr}
      |SELECT CAST(j AS BIGINT) AS level, CAST(b AS BIGINT) AS block,
      |       CAST(d AS BIGINT) AS detail_cents,
      |       CAST(b * (1 << j) + 1 AS BIGINT) AS t_start,
      |       CAST((b + 1) * (1 << j) AS BIGINT) AS t_end
      |FROM pyr WHERE cn = (1 << j)
      |ORDER BY abs(d) DESC, j, b LIMIT 10
      |""".stripMargin)) { (s, dir) =>
    pyrBase(s, dir)
      .orderBy(abs(col("d")).desc, col("j"), col("b")).limit(10)
      .select(col("j").cast("long").as("level"),
        col("b").cast("long").as("block"),
        col("d").cast("long").as("detail_cents"),
        expr("CAST(b * shiftleft(1, j) + 1 AS BIGINT)").as("t_start"),
        expr("CAST((b + 1) * shiftleft(1, j) AS BIGINT)").as("t_end"))
  }

  /** Top-16 compression retention under the ORTHONORMAL energy
    * weight w = d²·2^(J−j) (common denominator 2^J, exact): how much
    * of the detail energy 16 coefficients keep. */
  def q968: Q = Q(
    "q968_haar_compression",
    Some(s"""
      |WITH ${sqlPyr},
      |wt AS (
      |  SELECT j, b, CAST(d AS HUGEINT) * d * (1 << ($maxLevel - j)) AS w
      |  FROM pyr WHERE cn = (1 << j)),
      |tp AS (SELECT w FROM wt ORDER BY w DESC, j, b LIMIT 16),
      |agg AS (
      |  SELECT (SELECT count(*) FROM wt) AS n_total,
      |         (SELECT sum(w) FROM wt) AS tw,
      |         (SELECT sum(w) FROM tp) AS rw)
      |SELECT CAST(n_total AS BIGINT) AS n_total,
      |       CAST(tw // 1000000000000000 AS BIGINT) AS total_e15,
      |       CAST(rw // 1000000000000000 AS BIGINT) AS retained_e15,
      |       CAST(floor(1000000.0 * CAST(rw AS DOUBLE)
      |            / CAST(tw AS DOUBLE)) AS BIGINT) AS retained_ppm
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    val wt = pyrBase(s, dir)
      .select(col("j"), col("b"),
        expr(s"CAST(d AS DECIMAL(38,0)) * d" +
          s" * CAST(shiftleft(1, $maxLevel - j) AS BIGINT)").as("w"))
    val top = wt.orderBy(col("w").desc, col("j"), col("b")).limit(16)
      .agg(sum(col("w")).as("rw"))
    wt.agg(count(lit(1)).as("n_total"), sum(col("w")).as("tw"))
      .crossJoin(broadcast(top))
      .select(col("n_total").cast("long").as("n_total"),
        expr("CAST(tw div 1000000000000000 AS BIGINT)").as("total_e15"),
        expr("CAST(rw div 1000000000000000 AS BIGINT)").as("retained_e15"),
        expr("CAST(floor(1000000.0 * CAST(rw AS DOUBLE)" +
          " / CAST(tw AS DOUBLE)) AS BIGINT)").as("retained_ppm"))
  }

  /** Smooth-vs-detail split at J = 8: scaling (256-day block-sum)
    * energy vs total detail energy on the common 2^J denominator —
    * the "how much of the series is trend" audit. */
  def q969: Q = Q(
    "q969_haar_smooth_ratio",
    Some(s"""
      |WITH ${sqlPyr},
      |sm AS (
      |  SELECT (t - 1) // (1 << $maxLevel) AS b, sum(z) AS a,
      |         count(*) AS cn
      |  FROM sq GROUP BY 1),
      |ws AS (SELECT count(*) AS n_smooth,
      |              sum(CAST(a AS HUGEINT) * a) AS es
      |       FROM sm WHERE cn = (1 << $maxLevel)),
      |wd AS (SELECT count(*) AS n_detail,
      |              sum(CAST(d AS HUGEINT) * d * (1 << ($maxLevel - j)))
      |                AS ed
      |       FROM pyr WHERE cn = (1 << j))
      |SELECT CAST(n_smooth AS BIGINT) AS n_smooth,
      |       CAST(n_detail AS BIGINT) AS n_detail,
      |       CAST(es // 1000000000000000 AS BIGINT) AS smooth_e15,
      |       CAST(ed // 1000000000000000 AS BIGINT) AS detail_e15,
      |       CAST(CASE WHEN es IS NULL OR es = 0 THEN NULL
      |            ELSE floor(1000.0 * CAST(ed AS DOUBLE)
      |                 / CAST(es AS DOUBLE)) END AS BIGINT)
      |         AS detail_ratio_milli
      |FROM ws CROSS JOIN wd
      |""".stripMargin)) { (s, dir) =>
    val sm = DaySeries.revenue(s, dir)
      .groupBy(expr(s"(t - 1) div shiftleft(1, $maxLevel)").as("b"))
      .agg(sum(col("z")).as("a"), count(lit(1)).as("cn"))
      .where(col("cn") === (1L << maxLevel))
      .agg(count(lit(1)).as("n_smooth"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * a")).as("es"))
    val wd = pyrBase(s, dir)
      .agg(count(lit(1)).as("n_detail"),
        sum(expr(s"CAST(d AS DECIMAL(38,0)) * d" +
          s" * CAST(shiftleft(1, $maxLevel - j) AS BIGINT)")).as("ed"))
    sm.crossJoin(broadcast(wd))
      .select(col("n_smooth").cast("long").as("n_smooth"),
        col("n_detail").cast("long").as("n_detail"),
        expr("CAST(es div 1000000000000000 AS BIGINT)").as("smooth_e15"),
        expr("CAST(ed div 1000000000000000 AS BIGINT)").as("detail_e15"),
        expr("CAST(CASE WHEN es IS NULL OR es = 0 THEN NULL" +
          " ELSE floor(1000.0 * CAST(ed AS DOUBLE)" +
          " / CAST(es AS DOUBLE)) END AS BIGINT)")
          .as("detail_ratio_milli"))
  }

  /** Largest 32-day half-vs-half revenue shifts (level 5): the top-3
    * blocks by |d| — the wavelet-native changepoint candidates. */
  def q970: Q = Q(
    "q970_haar_largest_shift",
    Some(s"""
      |WITH ${sqlPyr}
      |SELECT CAST(b AS BIGINT) AS block,
      |       CAST(b * 32 + 1 AS BIGINT) AS t_start,
      |       CAST((b + 1) * 32 AS BIGINT) AS t_end,
      |       CAST(d AS BIGINT) AS shift_cents,
      |       CAST(abs(d) AS BIGINT) AS abs_shift_cents
      |FROM pyr WHERE j = 5 AND cn = 32
      |ORDER BY abs(d) DESC, b LIMIT 3
      |""".stripMargin)) { (s, dir) =>
    pyrBase(s, dir)
      .where(col("j") === 5)
      .orderBy(abs(col("d")).desc, col("b")).limit(3)
      .select(col("b").cast("long").as("block"),
        (col("b") * 32 + 1).cast("long").as("t_start"),
        ((col("b") + 1) * 32).cast("long").as("t_end"),
        col("d").cast("long").as("shift_cents"),
        abs(col("d")).cast("long").as("abs_shift_cents"))
  }
}
