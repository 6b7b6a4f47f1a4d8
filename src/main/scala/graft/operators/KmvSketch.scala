package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import graft.plans.GroupedTopK
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
  * 2002) — the third cardinality estimator next to HyperLogLog and
  * LinearCount, covering the regime where an EXACT k-row summary per
  * group is wanted (mergeable by "keep the k smallest of the union",
  * auditable row by row, error ~1/√(k−2)): hash every distinct value,
  * keep the k smallest hashes, estimate N ≈ (k−1)·H/h₍ₖ₎ where H is
  * the hash range and h₍ₖ₎ the k-th minimum.
  *
  * Deterministic end to end: the hash is the repo's salted PolyHash
  * (replayable in the DuckDB oracle), whose range H = 2³¹−1 (the
  * PolyHash modulus) is the exact integer range constant on both
  * engines; the k-th minimum is an ORDER STATISTIC (actual hash value,
  * no interpolation); the only float op is the final (k−1)·H/h₍ₖ₎
  * division, computed with the same literal and op order on both sides
  * and floor-quantized. Groups with fewer than k distinct values
  * report their EXACT count (the standard KMV small-set rule — the
  * sketch holds every value it ever saw). The 31-bit range caps
  * usable cardinalities around ~10⁵ (hash birthday collisions bias
  * low beyond that) — swap a 64-bit avalanche hash in for larger
  * regimes; the estimator shape is unchanged.
  *
  * Scale shape: one distinct on (keys, value) — the same exchange an
  * exact count-distinct pays — then a per-group window pass whose k-th
  * row is selected; nothing collects. Use HLL when even the distinct
  * exchange is too much and register-merge streams are needed; use
  * this when the summary must be exact-auditable and tiny.
  */
object KmvSketch {

  private val MaxH = graft.functions.PolyHash.DefaultMod // 2^31 - 1

  /** Per-`keys` group: (keys…, exact_distinct, kmv_estimate, kth_hash)
    * with `kth_hash` null for small groups that reported exactly.
    * `exact_distinct` rides along because the distinct pass computes
    * it for free — callers wanting the estimate alone can drop it. */
  def estimate(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int,
      salt: String): DataFrame = {
    val kc = keys.map(col)
    // `__rn` the hash's rank within its group, `__nh` the group's
    // distinct-HASH count, `__n` its exact distinct-VALUE count
    val wp = Window.partitionBy(kc: _*)
    hashes(df, keys, valueCol, k, salt)
      .withColumn("__rn", row_number().over(wp.orderBy(col("__h"))))
      .withColumn("__nh", count(lit(1)).over(wp))
      .withColumn("__n", sum(col("__vc")).over(wp))
      .where(col("__rn") === k ||
        (col("__rn") === 1 && col("__nh") < k))
      .select((kc :+ col("__n").as("exact_distinct") :+
        when(col("__nh") >= k, col("__h")).as("kth_hash")): _*)
      .withColumn("kmv_estimate",
        coalesce(
          floor(lit((k - 1).toDouble) * lit(MaxH.toDouble) /
            col("kth_hash").cast("double")).cast("long"),
          col("exact_distinct")))
      .select((kc :+ col("exact_distinct") :+ col("kmv_estimate") :+
        col("kth_hash")): _*)
  }

  /** The k-row per-group summary itself: (keys…, min_hash, rank) — the
    * group's k smallest distinct-value hashes (fewer when the group is
    * small). This is the MERGEABLE form: the union of two groups'
    * summaries, hash-deduped and re-truncated to its k smallest, is
    * exactly the summary of the concatenated data (every one of the
    * union's k smallest hashes is necessarily within its own group's
    * k smallest), so partial sketches roll up without revisiting rows
    * — the property q286 pins against the oracle. */
  def minima(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int,
      salt: String): DataFrame =
    GroupedTopK.topKPerKey(hashes(df, keys, valueCol, k, salt), keys,
        Seq("__h" -> true), k, rankCol = Some("__rn"))
      .select((keys.map(col) :+ col("__h").as("min_hash") :+
        col("__rn").cast("long").as("rank")): _*)

  /** Per-(keys, DISTINCT hash `__h`) rows with `__vc` the number of
    * distinct values behind the hash. The k-th order statistic and
    * the mergeability property are defined over DISTINCT hash values
    * (the set-of-minima contract) — ranking raw (hash, value) rows
    * would let a collision occupy two of the k slots and break
    * merge ≡ direct; the exact value count still rides along for the
    * small-set rule and the free exact answer. */
  private def hashes(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int,
      salt: String): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(keys.nonEmpty, "at least one key column")
    val kc = keys.map(col)
    df.where(col(valueCol).isNotNull)
      .select((kc :+ col(valueCol).cast("string").as("__v")): _*)
      .distinct()
      .withColumn("__h",
        graft.functions.PolyHash.saltedHash(col("__v"), salt))
      .groupBy((kc :+ col("__h")): _*)
      .agg(count(lit(1)).as("__vc"))
  }

  /** Union-merge a STORED minima table (the [[minima]] shape:
    * keys…, min_hash[, rank]) with a fresh batch's minima and
    * re-truncate to the k smallest distinct hashes per group — the
    * incremental-maintenance face: the result is row-identical to
    * [[minima]] over the concatenated data (spec-pinned), so a
    * sketch index never re-reads history. Only the BATCH is hashed;
    * the stored side contributes its k rows per group. */
  def mergeMinima(
      stored: DataFrame,
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int,
      salt: String): DataFrame = {
    val kc = keys.map(col)
    val fresh = minima(df, keys, valueCol, k, salt)
      .select((kc :+ col("min_hash")): _*)
    val union = stored.select((kc :+ col("min_hash")): _*)
      .unionByName(fresh)
      .distinct()
    GroupedTopK.topKPerKey(union, keys, Seq("min_hash" -> true), k,
        rankCol = Some("rank"))
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Estimate from a minima table ALONE (no raw data): per group,
    * distinct-hash count `nh` and — when the sketch is full — the
    * (k−1)·H/h₍ₖ₎ estimator; a sketch with fewer than k hashes IS the
    * whole (hashed) value set, so `nh` is the answer, up to hash
    * collisions (the only information loss the sketch-only view
    * has — [[estimate]] on raw data reports the exact value count
    * instead). */
  def estimateFromMinima(minima: DataFrame, keys: Seq[String], k: Int)
      : DataFrame = {
    val kc = keys.map(col)
    minima
      .groupBy(kc: _*)
      .agg(count(lit(1)).as("__nh"),
        max(when(col("rank") === k, col("min_hash"))).as("kth_hash"))
      .withColumn("kmv_estimate",
        coalesce(
          floor(lit((k - 1).toDouble) * lit(MaxH.toDouble) /
            col("kth_hash").cast("double")).cast("long"),
          col("__nh")))
      .select((kc :+ col("kmv_estimate") :+ col("kth_hash")): _*)
  }

  /** The oracle-side SQL for the estimate expression — kept next to
    * the Scala so the two literals can never drift: callers
    * interpolate `sqlEstimate("kth", "n")`. */
  def sqlEstimate(kthCol: String, exactCol: String, k: Int): String =
    s"coalesce(CAST(floor((CAST(${k - 1} AS DOUBLE) * " +
      s"CAST($MaxH AS DOUBLE)) / CAST($kthCol AS DOUBLE)) AS BIGINT), " +
      s"$exactCol)"
}
