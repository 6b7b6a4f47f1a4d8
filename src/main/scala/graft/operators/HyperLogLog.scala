package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.PolyHash

/** HyperLogLog-style register sketch (Flajolet et al. 2007) — the
  * fixed-size distinct estimator that complements [[LinearCount]]:
  * linear counting needs m proportional to the cardinality (its
  * occupied-bucket SET saturates), while HLL registers estimate any
  * cardinality from m small integers, with merge = per-register MAX —
  * the shape 1000 executors actually ship to a coordinator at 100 TB
  * (m rows per group, regardless of how many distincts each shard saw).
  *
  * Everything is deterministic and oracle-replayable: the salted
  * PolyHash is the repo-wide 31-bit portable hash, bucket/word split is
  * bit arithmetic, and the register value is the trailing-zero rank of
  * the word — an integer a SQL CASE chain reproduces verbatim. The only
  * floating step is the final estimate, built from exact pieces:
  * 2^(−r) terms are exact DECIMAL(38,12) literals summed exactly (for
  * m ≤ 8192 the numerator stays < 2^53, so the one decimal→double cast
  * recovers exactly in both engines), and α·m² is a single Scala-side
  * double literal interpolated into BOTH the Spark plan and the oracle
  * SQL — the whole estimate is one pinned IEEE divide.
  *
  * The 31-bit hash caps the word at 2^(31−p) and [[RhoCap]] caps the
  * register (keeping the 2^(−r) terms exactly representable at scale
  * 12); both caps apply identically on both sides, so the estimator is
  * a deterministic function of the input multiset — bit-identical
  * cross-engine, which is the property the correctness gate needs.
  *
  * Scale shape: one scan → one (keys, bucket) partial-aggregated
  * exchange (map-side max combine) bounded by |groups|·m rows. No
  * data-row shuffle survives the first aggregation; merge of shard
  * sketches is another |groups|·m-bounded max.
  */
object HyperLogLog {

  /** Register cap: 2^(−12) still has an exact 12-digit decimal
    * expansion, and P(rho > 12) = 2^(−12) makes the truncation bias
    * negligible next to HLL's inherent ~1.04/√m error. */
  val RhoCap = 12

  /** α_m from the HLL paper; for the estimate both engines must use
    * the literal this returns (interpolate it into oracle SQL). */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /** α_m · m² — the estimate numerator, computed ONCE here so the
    * Spark literal and the oracle literal are the same double. */
  def alphaM2(m: Int): Double = alpha(m) * m * m

  /** Exact decimal string for 2^(−r), scale 12 — shared by the Spark
    * literal and the oracle CASE chain. */
  def termLiteral(r: Int): String =
    (BigDecimal(1) / BigDecimal(2).pow(r)).setScale(12).bigDecimal.toPlainString

  /** Oracle SQL for [[rho]]: the CASE arms over the bucket word `w`,
    * completed at each site as `CASE $sqlRhoCase ELSE $RhoCap END`. */
  def sqlRhoCase: String = (1 until RhoCap)
    .map(k => s"WHEN w % ${1L << k} = ${1L << (k - 1)} THEN $k")
    .mkString(" ")

  /** Oracle SQL for the 2^(−r) register term: the CASE arms over `r`,
    * each the exact [[termLiteral]] as DECIMAL(14,12). */
  def sqlTermCase: String = (0 to RhoCap)
    .map(r => s"WHEN r = $r THEN CAST(${termLiteral(r)} AS DECIMAL(14,12))")
    .mkString(" ")

  private def log2(m: Int): Int = 31 - Integer.numberOfLeadingZeros(m)

  /** rho(w) = trailing zeros of w + 1, capped: the CASE chain
    * `w mod 2^k = 2^(k−1) → k`, else the cap (covers w = 0 and deep
    * zeros). Kept as a when-chain so it stays inside codegen. */
  private def rho(w: Column): Column =
    (1 until RhoCap).foldLeft(when(lit(false), lit(0))) { (acc, k) =>
      acc.when(pmod(w, lit(1L << k)) === lit(1L << (k - 1)), lit(k))
    }.otherwise(lit(RhoCap))

  /** The mergeable sketch: (keys…, bucket, r, m) with r = max rho per
    * bucket. Null values drop (COUNT DISTINCT convention). `m` must be
    * a power of two in [16, 8192] and rides along so [[estimate]] never
    * trusts a caller-repeated parameter (LinearCount's discipline). */
  def sketch(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      m: Int = 64,
      salt: String = "hll"): DataFrame = {
    require(m >= 16 && m <= 8192 && (m & (m - 1)) == 0,
      s"m must be a power of two in [16, 8192]: $m")
    val h = PolyHash.saltedHash(col(valueCol), salt)
    df.where(col(valueCol).isNotNull)
      .select(keys.map(col) :+ h.bitwiseAND(lit(m.toLong - 1)).as("bucket")
        :+ shiftright(h, log2(m)).as("__w"): _*)
      .groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(max(rho(col("__w"))).as("r"))
      .withColumn("m", lit(m.toLong))
  }

  /** Merge shard sketches (same m/salt): per-register max. A plain
    * DataFrame union in, sketch-shaped rows out. */
  def merge(sketches: DataFrame, keys: Seq[String]): DataFrame =
    sketches.groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(max(col("r")).as("r"), min(col("m")).as("__mlo"),
        max(col("m")).as("__mhi"))
      .withColumn("m",
        when(col("__mlo") === col("__mhi"), col("__mlo"))
          .otherwise(raise_error(concat(
            lit("HyperLogLog.merge: union mixes sketches of different m: "),
            col("__mlo"), lit(" vs "), col("__mhi"))).cast("long")))
      .drop("__mlo", "__mhi")

  /** Rolling merged sketches over the trailing `window` integral
    * periods — the sliding-DISTINCT sketch: register max DECOMPOSES
    * over windows (unlike distinct counts), so "7-day uniques per day"
    * is a bounded ×window contribution explode of REGISTER rows
    * (m per period, not data-sized) followed by the ordinary merge —
    * at 100 TB the slide costs m·window·#periods tiny rows where the
    * exact form re-touches every (entity, period). Only periods
    * present in the input emit (the observed-calendar contract shared
    * with [[Funnel.rollingActives]], its exact sibling). */
  def rollingMerge(
      sk: DataFrame,
      periodCol: String,
      window: Int): DataFrame = {
    require(window >= 1 && window <= 370, s"window in [1, 370]: $window")
    val obs = sk.select(col(periodCol)).distinct()
    val shifted = sk
      .withColumn("__off", explode(sequence(lit(0), lit(window - 1))))
      .withColumn(periodCol, col(periodCol) + col("__off"))
      .drop("__off")
      .join(obs, Seq(periodCol), "leftsemi")
    merge(shifted, Seq(periodCol))
  }

  /** Per-group estimate from a sketch (or [[merge]] output):
    * (keys…, m, v_empty, sum_r, est_raw, est). est_raw is the raw HLL
    * estimate α·m²/Σ2^(−r); est applies the paper's small-range
    * correction (linear counting m·ln(m/V) when est_raw ≤ 2.5m and
    * empty buckets remain), with the ln quantized to DECIMAL(18,9) —
    * the repo's transcendental-output discipline. */
  def estimate(sk: DataFrame, keys: Seq[String]): DataFrame = {
    val term = (1 to RhoCap).foldLeft(
      when(col("r") === 0, lit(new java.math.BigDecimal(termLiteral(0))))) {
      (acc, r) =>
        acc.when(col("r") === r,
          lit(new java.math.BigDecimal(termLiteral(r))))
    }
    val grouped = sk.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__occ"), sum(col("r")).as("sum_r"),
        sum(term).cast(DecimalType(38, 12)).as("__occ_terms"),
        min(col("m")).as("__mlo"), max(col("m")).as("__mhi"))
      .withColumn("m",
        when(col("__mlo") === col("__mhi"), col("__mlo"))
          .otherwise(raise_error(concat(
            lit("HyperLogLog.estimate: union mixes sketches of different m: "),
            col("__mlo"), lit(" vs "), col("__mhi"))).cast("long")))
    val mInt = col("m")
    val vEmpty = (mInt - col("__occ")).as("v_empty")
    // denom = (m − occ)·2^0 + Σ_occupied 2^(−r), exact decimal; its
    // numerator ≤ m·10^12 < 2^53 for m ≤ 8192, so the cast is exact.
    val denomD = (col("v_empty").cast(DecimalType(38, 12)) +
      col("__occ_terms")).cast("double")
    // α·m² is data-independent; pull it from the m column's value via a
    // when-chain over the legal powers of two (keeps the plan free of
    // driver-side collect while still using the shared literal).
    val alphas = (4 to 13).map(1 << _).foldLeft(when(lit(false), lit(0d))) {
      (acc, mm) => acc.when(mInt === mm, lit(alphaM2(mm)))
    }
    val estRaw = alphas / denomD
    val lcEst = (-mInt.cast(DecimalType(10, 0))) *
      log(col("v_empty").cast("double") / mInt.cast("double"))
        .cast(DecimalType(18, 9))
    grouped
      .withColumn("v_empty", vEmpty)
      .withColumn("est_raw", estRaw)
      .withColumn("est",
        when(col("est_raw") <= mInt.cast("double") * 2.5 &&
          col("v_empty") > 0, lcEst.cast("double"))
          .otherwise(col("est_raw")))
      .select(keys.map(col) ++ Seq(col("m"), col("v_empty"),
        col("sum_r").cast("long").as("sum_r"), col("est_raw"),
        col("est")): _*)
  }

  /** One-shot: sketch then estimate. */
  def distinctEstimate(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      m: Int = 64,
      salt: String = "hll"): DataFrame =
    estimate(sketch(df, keys, valueCol, m, salt), keys)
}
