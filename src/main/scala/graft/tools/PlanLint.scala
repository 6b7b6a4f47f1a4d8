package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{Final, WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Mechanical plan-lint over the whole query registry (VERDICT r9 #3):
  * walks every query's physical plan (AQE off, so the tree is plain)
  * and flags the three anti-patterns the house discipline forbids on
  * fact-scaled frames, plus one duplicated operator:
  *
  *  - `cartesian-fact`: a CartesianProduct with an UNREDUCED fact-table
  *    scan on either side (fact = the sf-scaling tables; "reduced"
  *    means an Aggregate / Limit / TopK sits between the scan and the
  *    node, bounding the frame before it fans out);
  *  - `bnl-fact-broadcast`: a BroadcastNestedLoopJoin whose BROADCAST
  *    side contains an unreduced fact scan (the corpus-broadcast
  *    mistake; a broadcast scalar/threshold over a fact stream is the
  *    legitimate and common dual, so the streamed side is not flagged);
  *  - `global-window-fact`: a Window/WindowGroupLimit with an EMPTY
  *    partition spec whose child contains an unreduced fact scan (the
  *    single-partition rank walk that dies at 100×; global windows
  *    over aggregated dim/day frames — the `globalRankCum` discipline —
  *    auto-pass because the aggregate bounds them);
  *  - `window-topk`: a WindowGroupLimit with a NON-empty partition spec,
  *    the plan Spark gives a partitioned `row_number() <= k` (or `=== 1`)
  *    filter. Per-key top-k has one home, `plans.GroupedTopK`; one
  *    finding per site (the Final node, not its map-side Partial).
  *
  * Materialized stage boundaries (Scan ExistingRDD) count as reduced:
  * the materialization discipline (Materialize.scala scaladoc) only
  * allows sub-corpus-sized reductions at those boundaries, and each is
  * plan-audited at birth in PLANS.md.
  *
  * Usage: runMain graft.tools.PlanLint <sfDir> [queryName ...] — prints
  * one `LINT <query> <flag> <node>` line per finding plus a summary.
  * PlanLintSpec runs the same walk and asserts findings ⊆ whitelist.
  */
object PlanLint {

  private val factTables = Seq("lineitem", "orders", "events",
    "documents", "embeddings", "customer", "part", "supplier")

  private def isFactScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec =>
      val loc = f.relation.location.rootPaths.mkString(",")
      factTables.exists(t => loc.contains(t + ".parquet"))
    case b: BatchScanExec =>
      val s = b.toString
      factTables.exists(t => s.contains(t + ".parquet"))
    case _ => false
  }

  /** True iff the subtree contains a fact scan with NO bounding node
    * (aggregate / limit / top-k) on the path above it.
    *
    * KNOWN HEURISTIC GAP (ADVICE r10, deliberate): ANY
    * BaseAggregateExec counts as bounding, including (a) a PARTIAL
    * (map-side) aggregate, whose final stage sits above the flagged
    * node, and (b) a final aggregate grouped on a near-unique fact
    * key (e.g. group-by l_orderkey over lineitem), which reduces
    * cardinality only ~4x. A cartesian/global-window over such a
    * frame passes the lint unflagged. Whitelist reviewers and
    * PLANS.md plan audits must therefore still eyeball the GROUPING
    * of the bounding aggregate — the tripwire is conservative about
    * node KINDS, not about grouping-key cardinality (which the
    * physical plan cannot know without stats). */
  private def unreducedFact(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => false
    case _: GlobalLimitExec | _: LocalLimitExec |
        _: TakeOrderedAndProjectExec | _: CollectLimitExec => false
    case p if p.nodeName.contains("GroupedTopK") => false
    case f if isFactScan(f) => true
    case other =>
      (other.children ++ other.subqueries).exists(unreducedFact)
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(walk)

  /** All (flagKind, nodeName) findings for one physical plan. */
  def findings(plan: SparkPlan): Seq[(String, String)] =
    walk(plan).flatMap {
      case c: CartesianProductExec
          if c.children.exists(unreducedFact) =>
        Seq(("cartesian-fact", c.nodeName))
      case b: BroadcastNestedLoopJoinExec =>
        val buildSub = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        if (unreducedFact(buildSub)) Seq(("bnl-fact-broadcast", b.nodeName))
        else Nil
      case w: WindowExec
          if w.partitionSpec.isEmpty && unreducedFact(w.child) =>
        Seq(("global-window-fact", w.nodeName))
      case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && unreducedFact(w.child) =>
        Seq(("global-window-fact", w.nodeName))
      case w: WindowGroupLimitExec
          if w.partitionSpec.nonEmpty && w.mode == Final =>
        Seq(("window-topk", w.nodeName))
      case _ => Nil
    }

  /** Builds each named query at `sfDir` (AQE off so the physical tree
    * is directly walkable) and returns name → findings. Queries whose
    * CONSTRUCTION fails surface as a `build-failed` finding — the lint
    * must never silently skip a query. */
  def lint(spark: SparkSession, sfDir: String,
      names: Seq[String]): Map[String, Seq[(String, String)]] =
    names.map { n =>
      val fs =
        try {
          val df = graft.queries.Registry.byName(n).run(spark, sfDir)
          val f = findings(df.queryExecution.executedPlan)
          // iterative builders materialize intermediates eagerly; drop
          // their blocks between queries exactly like Bench does
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          f
        } catch {
          case e: Throwable =>
            Seq(("build-failed", e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).take(120)))
        }
      n -> fs
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.queries.Registry.all.map(_.name)
    val spark = graft.LocalSession(8, "ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val res = lint(spark, sfDir, names)
    res.toSeq.sortBy(_._1).foreach { case (n, fs) =>
      fs.foreach { case (kind, node) => println(s"LINT $n $kind $node") }
    }
    val flagged = res.filter(_._2.nonEmpty)
    println(s"LINT-SUMMARY ${res.size} queries, ${flagged.size} flagged, " +
      flagged.values.flatten.groupBy(_._1).view.mapValues(_.size).toMap
        .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", "))
    spark.stop()
  }
}
