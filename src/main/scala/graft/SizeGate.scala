package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The single size-gate policy for the query layer's single-task
  * twins.
  *
  * A size-gated function has two branches that return identical rows:
  * a LOCAL twin that ships a bounded dim into one executor task and
  * folds the whole iteration (or all-pairs fan-out) there, and the
  * DISTRIBUTED plan that scales with the data. Every gate asks
  * [[local]] which branch to take, so the row bounds live here and
  * nowhere else:
  *
  *   - [[EdgeRows]] = 2^20 rows: linear folds over an edge or pair
  *     list — the SupplierGraph BFS/relaxation/PageRank fixpoints, the
  *     truss peel, the Bradley–Terry folds, HITS, percolation and
  *     attack panels, the permutation fan-out. Protects the one task's
  *     heap (a few arrays of 2^20 longs); at the sandbox SFs these dims
  *     are ≤ ~10^5 rows and per-round Spark-job overhead dominated.
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
  *
  * Select with `spark.graft.sizegate.mode` (session conf, read at call
  * time like [[Materialize.ModeKey]]):
  *
  *   - `auto` (default): a dim at or under its bound runs the local
  *     twin, a larger one the distributed plan.
  *   - `distributed`: every gate takes the distributed plan, so the
  *     oracle gate and the twin specs can check the branch that the
  *     sandbox scales never reach.
  *
  * A mode only selects branches; no value raises a bound. Sites keep
  * their own extra conditions (minimum sizes, value magnitudes, lag
  * checks) beside the gate. Spines and stored indexes are built in the
  * mode of the process that first builds them: clear `SpineCache`
  * before reading the other mode's branch in the same process.
  */
object SizeGate {
  val ModeKey = "spark.graft.sizegate.mode"

  val EdgeRows = 1L << 20
  val PairRows = 1L << 12
  val HistRows = 1L << 13
  val PoolRows = 100000L

  /** Whether a gate takes its local twin for a dim of `rows` rows
    * under `bound`. `rows` is evaluated only in `auto` mode, so the
    * sizing job runs exactly when the answer depends on it. */
  def local(s: SparkSession, bound: Long)(rows: => Long): Boolean =
    s.conf.get(ModeKey, "auto") match {
      case "auto"        => rows <= bound
      case "distributed" => false
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey='$other' — expected one of auto | distributed")
    }

  /** [[local]] sized by `df.count()`. */
  def local(df: DataFrame, bound: Long): Boolean =
    local(df.sparkSession, bound)(df.count())
}
