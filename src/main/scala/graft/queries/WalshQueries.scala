package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-10 Walsh–Hadamard wave on the first 256 days of the daily
  * revenue series: the unnormalized WHT computed DIRECTLY —
  * w_k = Σ_t z_t · (1 − 2·(bit_count(k & t) mod 2)) — so the whole
  * spectrum is one 256×256 pair frame and one groupBy, no butterfly
  * iteration (both engines share bit_count/& exactly). Faces: top
  * sequencies, dyadic band energies, the EXACT Parseval identity
  * Σ w² = N·Σ z² (an algebraic theorem both engines must reproduce
  * bit-for-bit), top-16 compression retention, and spectral flatness
  * via the DECIMAL(18,9) ln quantization idiom.
  *
  * Scale: the day series is CALENDAR-bounded; the transform frame is
  * a constant 65 536 rows. One fact scan (the day aggregate). */
object WalshQueries {

  val all: Seq[Q] = Seq(q996, q997, q998, q999, q1000)

  private def n = 256

  /** Day series (0-indexed, first 256 days) + spectrum CTEs:
    * sq0(t, z), wht(k, w). */
  private def sqlWht: String = s"""
    |${DaySeries.sqlDay},
    |sq0 AS (SELECT row_number() OVER (ORDER BY dd) - 1 AS t, z
    |        FROM day QUALIFY row_number() OVER (ORDER BY dd) <= $n),
    |wht AS MATERIALIZED (
    |  SELECT r.k,
    |         sum(z * (1 - 2 * (bit_count(r.k & t) % 2))) AS w
    |  FROM sq0 CROSS JOIN range(0, $n) r(k) GROUP BY 1)""".stripMargin

  /** Spark twin: (k, w) materialized. */
  private def wht(s: SparkSession, dir: String): DataFrame =
    DaySeries.revenue(s, dir)
      .select((col("t") - 1).cast("long").as("t"), col("z"))
      .where(col("t") < n)
      .select(col("t"), col("z"),
        explode(sequence(lit(0L), lit(n - 1L))).as("k"))
      .groupBy(col("k"))
      .agg(sum(col("z") *
        (lit(1) - lit(2) * (bit_count(col("k").bitwiseAND(col("t"))) % 2)))
        .as("w"))
      .materialize() // 256-coefficient spectrum dim

  /** Top-10 sequencies (k > 0) by |w|. */
  def q996: Q = Q(
    "q996_wht_top_sequencies",
    Some(s"""
      |WITH ${sqlWht}
      |SELECT CAST(k AS BIGINT) AS k, CAST(w AS BIGINT) AS w_cents
      |FROM wht WHERE k > 0 ORDER BY abs(w) DESC, k LIMIT 10
      |""".stripMargin)) { (s, dir) =>
    wht(s, dir).where(col("k") > 0)
      .orderBy(abs(col("w")).desc, col("k")).limit(10)
      .select(col("k").cast("long").as("k"),
        col("w").cast("long").as("w_cents"))
  }

  /** Dyadic band energies: k = 0, then bands [2^b, 2^(b+1)). */
  def q997: Q = Q(
    "q997_wht_band_energy",
    Some(s"""
      |WITH ${sqlWht},
      |bd AS (SELECT CASE WHEN k = 0 THEN 0 WHEN k < 2 THEN 1
      |         WHEN k < 4 THEN 2 WHEN k < 8 THEN 3 WHEN k < 16 THEN 4
      |         WHEN k < 32 THEN 5 WHEN k < 64 THEN 6 WHEN k < 128 THEN 7
      |         ELSE 8 END AS band,
      |              CAST(w AS HUGEINT) * w AS e
      |       FROM wht),
      |en AS (SELECT band, count(*) AS n_coeffs, sum(e) AS be
      |       FROM bd GROUP BY 1),
      |tot AS (SELECT sum(be) AS te FROM en)
      |SELECT CAST(band AS BIGINT) AS band,
      |       CAST(n_coeffs AS BIGINT) AS n_coeffs,
      |       CAST(be // 1000000 AS BIGINT) AS energy_e6,
      |       CAST(floor(1000000.0 * CAST(be AS DOUBLE)
      |            / CAST(te AS DOUBLE)) AS BIGINT) AS share_ppm
      |FROM en CROSS JOIN tot ORDER BY band
      |""".stripMargin)) { (s, dir) =>
    val bd = wht(s, dir)
      .select(when(col("k") === 0, 0)
        .when(col("k") < 2, 1).when(col("k") < 4, 2)
        .when(col("k") < 8, 3).when(col("k") < 16, 4)
        .when(col("k") < 32, 5).when(col("k") < 64, 6)
        .when(col("k") < 128, 7).otherwise(8).as("band"),
        expr("CAST(w AS DECIMAL(38,0)) * w").as("e"))
    val en = bd.groupBy(col("band"))
      .agg(count(lit(1)).as("n_coeffs"), sum(col("e")).as("be"))
    val tot = en.agg(sum(col("be")).as("te"))
    en.crossJoin(broadcast(tot))
      .select(col("band").cast("long").as("band"),
        col("n_coeffs"),
        expr("CAST(be div 1000000 AS BIGINT)").as("energy_e6"),
        expr("CAST(floor(1000000.0 * CAST(be AS DOUBLE)" +
          " / CAST(te AS DOUBLE)) AS BIGINT)").as("share_ppm"))
      .orderBy(col("band"))
  }

  /** Parseval identity: Σ_k w_k² = N·Σ_t z_t² EXACTLY when all N
    * days are present — both engines must land the identical integers
    * and an identical difference (0 on every tested sf). */
  def q998: Q = Q(
    "q998_wht_parseval",
    Some(s"""
      |WITH ${sqlWht},
      |lhs AS (SELECT sum(CAST(w AS HUGEINT) * w) AS le FROM wht),
      |rhs AS (SELECT $n * sum(CAST(z AS HUGEINT) * z) AS re,
      |               count(*) AS n_days
      |        FROM sq0)
      |SELECT CAST(n_days AS BIGINT) AS n_days,
      |       CAST(le // 1000000 AS BIGINT) AS spectrum_energy_e6,
      |       CAST(re // 1000000 AS BIGINT) AS signal_energy_e6,
      |       CAST(le - re AS BIGINT) AS parseval_diff
      |FROM lhs CROSS JOIN rhs
      |""".stripMargin)) { (s, dir) =>
    val w = wht(s, dir)
    val lhs = w.agg(sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("le"))
    val rhs = DaySeries.revenue(s, dir)
      .select((col("t") - 1).as("t"), col("z"))
      .where(col("t") < n)
      .agg((sum(expr("CAST(z AS DECIMAL(38,0)) * z")) * n).as("re"),
        count(lit(1)).as("n_days"))
    lhs.crossJoin(broadcast(rhs))
      .select(col("n_days").cast("long").as("n_days"),
        expr("CAST(le div 1000000 AS BIGINT)").as("spectrum_energy_e6"),
        expr("CAST(re div 1000000 AS BIGINT)").as("signal_energy_e6"),
        (col("le") - col("re")).cast("long").as("parseval_diff"))
  }

  /** Top-16 compression retention in the WHT basis (raw w² weights —
    * the WHT is orthogonal, so no per-level denominators). */
  def q999: Q = Q(
    "q999_wht_compression",
    Some(s"""
      |WITH ${sqlWht},
      |we AS (SELECT k, CAST(w AS HUGEINT) * w AS e FROM wht),
      |tp AS (SELECT e FROM we ORDER BY e DESC, k LIMIT 16),
      |agg AS (SELECT (SELECT sum(e) FROM we) AS te,
      |               (SELECT sum(e) FROM tp) AS re)
      |SELECT CAST(te // 1000000 AS BIGINT) AS total_e6,
      |       CAST(re // 1000000 AS BIGINT) AS retained_e6,
      |       CAST(floor(1000000.0 * CAST(re AS DOUBLE)
      |            / CAST(te AS DOUBLE)) AS BIGINT) AS retained_ppm
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    val we = wht(s, dir)
      .select(col("k"), expr("CAST(w AS DECIMAL(38,0)) * w").as("e"))
    val tp = we.orderBy(col("e").desc, col("k")).limit(16)
      .agg(sum(col("e")).as("re"))
    we.agg(sum(col("e")).as("te"))
      .crossJoin(broadcast(tp))
      .select(expr("CAST(te div 1000000 AS BIGINT)").as("total_e6"),
        expr("CAST(re div 1000000 AS BIGINT)").as("retained_e6"),
        expr("CAST(floor(1000000.0 * CAST(re AS DOUBLE)" +
          " / CAST(te AS DOUBLE)) AS BIGINT)").as("retained_ppm"))
  }

  /** Spectral flatness of the non-DC energies (geometric / arithmetic
    * mean of w²+1): ln terms through the DECIMAL(18,9) quantization,
    * the final exp/ratio as same-op-order doubles. */
  def q1000: Q = Q(
    "q1000_wht_spectral_flatness",
    Some(s"""
      |WITH ${sqlWht},
      |we AS (SELECT CAST(w AS HUGEINT) * w + 1 AS e FROM wht
      |       WHERE k > 0),
      |mo AS (SELECT count(*) AS m, sum(e) AS se,
      |              sum(CAST(ln(CAST(e AS DOUBLE)) AS DECIMAL(18,9)))
      |                AS sl
      |       FROM we)
      |SELECT CAST(m AS BIGINT) AS n_coeffs,
      |       CAST(se // 1000000 AS BIGINT) AS arith_sum_e6,
      |       CAST(floor(1000000 * sl) AS BIGINT) AS ln_sum_micro,
      |       CAST(floor(1000.0 * exp(CAST(sl AS DOUBLE) / m)
      |            / (CAST(se AS DOUBLE) / m)) AS BIGINT)
      |         AS flatness_milli
      |FROM mo
      |""".stripMargin)) { (s, dir) =>
    wht(s, dir).where(col("k") > 0)
      .select((expr("CAST(w AS DECIMAL(38,0)) * w") + 1).as("e"))
      .agg(count(lit(1)).as("m"), sum(col("e")).as("se"),
        sum(expr("CAST(ln(CAST(e AS DOUBLE)) AS DECIMAL(18,9))"))
          .as("sl"))
      .select(col("m").cast("long").as("n_coeffs"),
        expr("CAST(se div 1000000 AS BIGINT)").as("arith_sum_e6"),
        expr("CAST(floor(1000000 * sl) AS BIGINT)").as("ln_sum_micro"),
        expr("CAST(floor(1000.0 * exp(CAST(sl AS DOUBLE) / m)" +
          " / (CAST(se AS DOUBLE) / m)) AS BIGINT)")
          .as("flatness_milli"))
  }
}
