package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The single materialization primitive for stage boundaries.
  *
  * Every operator that computes an expensive intermediate feeding
  * multiple plan branches (postings, count dims, canonical edges, …)
  * routes through [[MatOps.materialize]] instead of calling a Spark
  * primitive directly, so the cluster-deployment policy is one switch,
  * not 60 hard-coded choices:
  *
  *   - `local` (default): `localCheckpoint` — truncates lineage and
  *     stores blocks on executors. Fastest, and right for the
  *     single-JVM sandbox, but on a real cluster a lost executor kills
  *     the job (no recompute path).
  *   - `persist`: `persist(MEMORY_AND_DISK)` with lineage retained —
  *     a lost executor recomputes the partition. The cluster-safe
  *     default; eager mode forces population with a count().
  *   - `checkpoint`: reliable `checkpoint` to
  *     `spark.sparkContext.setCheckpointDir` storage — survives
  *     executor AND driver block loss; right for very long pipelines
  *     (iterative CC, multi-stage corpus builds) on a real cluster.
  *
  * Select with `spark.graft.materialize.mode` (session conf, read at
  * call time so tests can flip it per-query).
  *
  * Measured trade (sf0.1, local[32], each query timed under both modes
  * after a warm-up pass; `spark.graft.materialize.mode=persist` on
  * `Verify` or `Bench` reproduces it): `persist` is
  * neutral on DAG-shaped pipelines (q98 3.6→3.6 s, q68 2.4→2.4 s) but
  * costs on ITERATIVE ones because lineage is retained and each
  * round's plan re-includes all prior rounds (q99 TextRank 2.3→5.7 s
  * over 5 rounds). On a cluster, pick `persist` for DAG pipelines and
  * reliable `checkpoint` (which truncates lineage AND survives
  * executor loss) for iteration — exactly the split Spark's own
  * GraphX/ML iterate-with-checkpoint guidance prescribes.
  *
  * What to materialize is a separate discipline from how (see
  * VERDICT r5 #2): only sub-corpus-sized reductions (count dims,
  * dedup survivors, postings) — never an exploded fan-out, where
  * writing n× the corpus to block storage costs more than re-deriving
  * the explode from the (pruned, pushed-down) scan per branch.
  */
object Materialize {
  val ModeKey = "spark.graft.materialize.mode"

  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    /** Materialize a stage boundary under the session-configured policy.
      * `eager` forces computation now (all modes); lazy still truncates
      * lineage (local/checkpoint) or marks for caching (persist) but
      * defers the work to the first action.
      *
      * `truncate = true` demands LINEAGE TRUNCATION regardless of the
      * session mode — the contract per-iteration call sites (TextRank
      * rounds, connected-components rounds) need: under `persist` each
      * round's plan would otherwise re-include every prior round
      * (measured superlinear, see the probe numbers above). In persist
      * mode a truncating site upgrades to reliable checkpoint when a
      * checkpoint dir is set, else localCheckpoint.
      */
    def materialize(
        eager: Boolean = true,
        truncate: Boolean = false): DataFrame = {
      val mode = df.sparkSession.conf.get(ModeKey, "local")
      mode match {
        case "persist" if truncate =>
          if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
            df.checkpoint(eager)
          else df.localCheckpoint(eager)
        case "persist" =>
          val p = df.persist(StorageLevel.MEMORY_AND_DISK)
          if (eager) p.count()
          p
        case "checkpoint" => df.checkpoint(eager)
        case "local"      => df.localCheckpoint(eager)
        case other =>
          // an unrecognized mode must fail loudly: silently falling back
          // to localCheckpoint would reintroduce exactly the
          // lost-executor fragility the operator configured away
          throw new IllegalArgumentException(
            s"$ModeKey='$other' — expected one of local | persist | checkpoint")
      }
    }
  }
}
