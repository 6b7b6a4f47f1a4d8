package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The single size-gate policy for the query layer's single-task
  * twins.
  *
  * A size-gated function has two branches that return identical rows:
  * a LOCAL twin that ships a bounded dim into one executor task and
  * folds the whole iteration (or all-pairs fan-out) there, and the
  * DISTRIBUTED plan that scales with the data. Every gate asks
  * [[local]] (or, for a gate decided on the executors, [[mode]]) which
  * branch to take, so the row bounds live here and nowhere else:
  *
  *   - [[EdgeRows]] = 2^20 rows: linear folds over an edge or pair
  *     list — the SupplierGraph BFS/relaxation/PageRank fixpoints, the
  *     truss peel, the Bradley–Terry folds, HITS, percolation and
  *     attack panels, the permutation fan-out — and the driver
  *     union-find of `dedup.Dedup`'s near-duplicate clusters, whose
  *     larger edge lists run the alternating-star rounds, and the
  *     pipeline fit (`jobs.PipelineRunner`), whose gold feature table
  *     at or under the bound is one partition in a fixed row order, so
  *     each MLlib pass is one task. Protects the
  *     one task's (or the driver's) heap (a few arrays of 2^20 longs);
  *     at the test scale factors these dims are ≤ ~10^5 rows and per-round
  *     Spark-job overhead dominated.
  *   - [[PairRows]] = 2^12 rows: quadratic folds over a
  *     calendar-bounded dim (Sn, Qn, HL, Siegel, Passing–Bablok, tau,
  *     the matrix profile, the segment DP, dCor) and the small dims of
  *     the ALS and compound-risk folds. 2^12 rows give ≈8.4M pairs
  *     (67 MB of longs) per task, and keep the Int-indexed n(n−1)/2
  *     pair arrays of the Qn/HL/PB twins far from Int overflow.
  *   - [[HistRows]] = 2^13 rows: the combined span-value histograms
  *     whose cross product the Hodges–Lehmann shift folds.
  *   - [[PoolRows]] = 100 000 candidates: the driver-side MMR and
  *     max-coverage greedy loops (`text.MmrSelect`), which collect the
  *     pool; a larger pool runs the k-round distributed greedy.
  *   - [[TopKKeys]] = 2^18 keys: the per-partition heap map of
  *     `plans.GroupedTopKExec`. This gate is decided per partition at
  *     run time: a partition with more distinct keys hands its rows to
  *     Spark's spilling external sorter.
  *   - [[SortBytes]] = 10 MB (Spark's broadcast-join default): the
  *     estimated input size of a global sort that `plans.SmallSort`
  *     plans on one partition, without the range shuffle's sampling
  *     job. This gate is decided at planning time from the optimizer's
  *     size estimate, so it starts no job.
  *
  * Select with `spark.graft.sizegate.mode` (session conf, read at call
  * time like [[Materialize.ModeKey]]):
  *
  *   - `auto` (default): a dim at or under its bound runs the local
  *     twin, a larger one the distributed plan.
  *   - `distributed`: every gate takes the distributed plan without
  *     sizing its input (every GroupedTopK partition goes to the
  *     sorter, every global sort takes the range shuffle), so the
  *     oracle gate and the twin specs can check the branch that the
  *     test scale factors never reach.
  *
  * A mode only selects branches; no value raises a bound. Sites keep
  * their own extra conditions (minimum sizes, value magnitudes, lag
  * checks) beside the gate. Derived tables (spines, stored indexes) are
  * keyed by [[mode]] (`sources.SpineCache.key`), so a table built under
  * one mode is never read under the other.
  */
object SizeGate {
  val ModeKey = "spark.graft.sizegate.mode"

  val EdgeRows = 1L << 20
  val PairRows = 1L << 12
  val HistRows = 1L << 13
  val PoolRows = 100000L
  val TopKKeys = 1L << 18
  val SortBytes = 10L << 20

  /** The session's mode, `auto` or `distributed`; any other value
    * throws naming the key. */
  def mode(s: SparkSession): String = s.conf.get(ModeKey, "auto") match {
    case m @ ("auto" | "distributed") => m
    case other =>
      throw new IllegalArgumentException(
        s"$ModeKey='$other' — expected one of auto | distributed")
  }

  /** Whether a gate takes its local twin for a dim of `rows` rows
    * under `bound`. `rows` is evaluated only in `auto` mode, so the
    * sizing job runs exactly when the answer depends on it. */
  def local(s: SparkSession, bound: Long)(rows: => Long): Boolean =
    mode(s) == "auto" && rows <= bound

  /** [[local]] sized by `df.count()`. */
  def local(df: DataFrame, bound: Long): Boolean =
    local(df.sparkSession, bound)(df.count())
}
