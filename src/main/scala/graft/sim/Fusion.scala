package graft.sim

import org.apache.spark.sql.DataFrame
import graft.plans.GroupedTopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way to
  * combine heterogeneous retrieval runs (BM25 + dense ANN, multiple
  * ANN probes) without score calibration: each run contributes
  * 1/(c + rank) per item and items are re-ranked by the sum. Rank-based
  * fusion is exactly what a hybrid-search training-data pipeline wants,
  * because lexical and cosine scores live on incomparable scales.
  *
  * Cross-engine discipline: each reciprocal term is one pinned IEEE
  * divide quantized to DECIMAL(18,9) BEFORE the sum (the Drift/BM25
  * rule — decimal addition is order-free in both engines, double
  * addition is not), so the fused score and the ranking it induces are
  * bit-identical everywhere. Ties break by item id.
  *
  * Scale shape: runs are already top-k-sized (queries × k rows); the
  * fusion is one union, one (query, item) partial-aggregated exchange,
  * and one per-query window over ≤ runs·k rows — negligible next to
  * the retrievals themselves.
  */
object Fusion {

  /** Fuse ranked runs, each with (queryCol, itemCol, rankCol) where
    * rank is 1-based. Output: (queryCol, fused_rank, itemCol, rrf)
    * with rrf = Σ_runs 1/(c + rank) over the runs that returned the
    * item, top `k` per query by (rrf DESC, item). */
  def rrf(
      runs: Seq[DataFrame],
      queryCol: String,
      itemCol: String,
      rankCol: String,
      k: Int,
      c: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrf needs at least one run")
    require(k >= 1 && c >= 0, s"need k >= 1, c >= 0: k=$k c=$c")
    val slim = runs.map(_.select(col(queryCol), col(itemCol),
      (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double")))
        .cast(DecimalType(18, 9)).as("__term")))
    val fused = slim.reduce(_ unionByName _)
      .groupBy(col(queryCol), col(itemCol))
      .agg(sum(col("__term")).as("__s"))
    GroupedTopK.topKPerKey(fused, Seq(queryCol),
        Seq("__s" -> false, itemCol -> true), k, rankCol = Some("fused_rank"))
      .select(col(queryCol), col("fused_rank"), col(itemCol),
        col("__s").cast("double").as("rrf"))
  }
}
