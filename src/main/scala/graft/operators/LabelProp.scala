package graft.operators

import graft.Materialize.MatOps
import graft.plans.GroupedTopK

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA) — community detection over a
  * similarity graph: boilerplate families, template clusters, near-dup
  * neighborhoods — the cheap unsupervised grouping that runs where
  * connected components is too coarse (CC merges through one spurious
  * edge; LPA needs a PLURALITY of neighbors to pull a node over).
  *
  * Deterministic by construction, so it is oracle-checkable:
  * synchronous rounds (every node updates from the PREVIOUS round's
  * labels), initial label = own node id, update = the most frequent
  * neighbor label with ties broken by smallest label. Runs a FIXED
  * round count — the contract is "R rounds of LPA", not convergence
  * (synchronous LPA can oscillate on bipartite structure; a fixed R
  * with per-round materialization is also what keeps every round's
  * plan constant-depth — the TextRank/k-core discipline).
  *
  * Scale shape per round: one join of the adjacency list against the
  * label table (both keyed on node — co-partitioned after the first
  * round), one (node, label) count aggregate, one per-node top-1
  * window over the reduced count table. Nothing is ever collected;
  * edges are treated as a multigraph (duplicate edges weight their
  * endpoint's vote — dedupe upstream when that is not wanted).
  *
  * Nodes are the edge endpoints; isolated nodes don't appear (union
  * them in afterwards if the caller tracks them).
  */
object LabelProp {

  /** @return (node, label) after `rounds` synchronous LPA rounds. */
  def propagate(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds in [1, 20]: $rounds")
    val adj = edges
      .select(col(srcCol).as("v"), col(dstCol).as("u"))
      .unionByName(edges.select(col(dstCol).as("v"), col(srcCol).as("u")))
      .materialize()
    var labels = adj.select(col("v")).distinct()
      .withColumn("lab", col("v"))
      .materialize()
    for (_ <- 1 to rounds) {
      val cnt = adj
        .join(labels.select(col("v").as("u"), col("lab")), Seq("u"))
        .groupBy(col("v"), col("lab"))
        .agg(count(lit(1)).as("__c"))
      val pick = GroupedTopK.topKPerKey(cnt, Seq("v"),
          Seq("__c" -> false, "lab" -> true), k = 1)
        .select(col("v"), col("lab").as("__newlab"))
      labels = labels
        .join(pick, Seq("v"), "left")
        .select(col("v"), coalesce(col("__newlab"), col("lab")).as("lab"))
        .materialize()
    }
    labels.select(col("v").as("node"), col("lab").as("label"))
  }
}
