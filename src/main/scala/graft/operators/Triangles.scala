package graft.operators
import graft.Materialize.MatOps
import graft.SizeGate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting — the graph-analytics kernel behind
  * clustering coefficients and community density, and the textbook
  * case of an orientation taming a join explosion. The naive
  * edges³ join is cubic; orienting every edge from its
  * lower-(degree, id) endpoint to the higher one makes each triangle
  * countable EXACTLY ONCE at its pivot (the vertex whose two edges
  * both point out), and bounds every vertex's out-degree by
  * O(√E) — so the wedge join materializes O(E^1.5) rows worst case
  * instead of Σdeg², which on a skewed graph (one celebrity vertex)
  * is the difference between feasible and not.
  *
  * Scale shape: a degree aggregate (one exchange), two broadcast-or-
  * shuffled equi-joins (Catalyst's call by size), all counts exact.
  */
object Triangles {

  /** Canonicalize an undirected edge list: self-loops dropped,
    * duplicates (either direction) collapsed, endpoints ordered
    * (src < dst). Null endpoints are dropped. */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .distinct()

  /** EXACT per-edge triangle support over a canonical (a < c,
    * deduplicated) edge list: (a, c, s) for every edge lying in s ≥ 1
    * triangles (support-0 edges are simply absent — callers left-join
    * or filter as their contract needs). The degree orientation bounds
    * wedge fan-out by O(√E) and finds each triangle exactly once at
    * its pivot, crediting all three corner edges — the shape the
    * k-truss peel (q591) and local-clustering profile (q660) share
    * instead of the deg(u)+deg(v) hub blow-up of joining the
    * both-direction adjacency on both endpoints. */
  def edgeSupport(canon: DataFrame): DataFrame = {
    val deg = canon.select(explode(array(col("a"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val oriented = canon
      .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("c"), col("dg").as("dc")), Seq("c"))
      .select(
        when(col("da") < col("dc") ||
          (col("da") === col("dc") && col("a") < col("c")),
          struct(col("a").as("u"), col("c").as("w")))
          .otherwise(struct(col("c").as("u"), col("a").as("w")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"))
      .materialize(truncate = true)
    val wedges = oriented.select(col("u"), col("w").as("w1"))
      .join(oriented.select(col("u"), col("w").as("w2")), Seq("u"))
      .where(col("w1") < col("w2"))
    // wedge endpoints are id-ordered like canon's (a, c); each closed
    // wedge is one triangle — credit all three corner edges
    wedges.join(canon.select(col("a"), col("c")),
        col("w1") === col("a") && col("w2") === col("c"), "left_semi")
      .select(explode(array(
        struct(least(col("u"), col("w1")).as("a"),
          greatest(col("u"), col("w1")).as("c")),
        struct(least(col("u"), col("w2")).as("a"),
          greatest(col("u"), col("w2")).as("c")),
        struct(col("w1").as("a"), col("w2").as("c")))).as("e"))
      .select(col("e.a").as("a"), col("e.c").as("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("s"))
  }

  /** Bounded truss-peel trajectory over a canonical (a < c,
    * deduplicated) edge list: per round, keep the edges supported by
    * ≥ `minSup` triangles among the SURVIVING edges, for at most
    * `rounds` rounds, with the monotone early exit (an unchanged
    * count is a fixpoint — every remaining round provably returns the
    * identical set). Output rows (round, n_edges, converged) for
    * round 0..rounds, converged = 1 iff the last two counts agree —
    * the q591 contract.
    *
    * Size-gated like the SupplierGraph fixpoint twins: under
    * [[graft.SizeGate.EdgeRows]] edges the whole peel folds inside ONE
    * executor task (an edge's triangle support is the common-neighbor
    * count of its endpoints within the current edge set — exactly
    * [[edgeSupport]]'s integer count, so the trajectory is
    * bit-identical); above the bound the per-round wedge-join loop
    * runs. */
  def trussTrajectory(e0: DataFrame, rounds: Int, minSup: Int = 2)
      : DataFrame = {
    require(rounds >= 1,
      s"trussTrajectory needs rounds >= 1, got $rounds") // ADVICE r11 #4
    val s = e0.sparkSession
    import s.implicits._
    if (SizeGate.local(e0, SizeGate.EdgeRows)) {
      e0.select(col("a").cast("long"), col("c").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          var edges = it.toArray
          val counts = scala.collection.mutable.ArrayBuffer(
            edges.length.toLong)
          var round = 0
          var fixed = false
          while (round < rounds && !fixed) {
            val adj = new scala.collection.mutable.HashMap[
              Long, scala.collection.mutable.HashSet[Long]]()
            edges.foreach { case (a, c) =>
              adj.getOrElseUpdate(a,
                scala.collection.mutable.HashSet.empty[Long]) += c
              adj.getOrElseUpdate(c,
                scala.collection.mutable.HashSet.empty[Long]) += a
            }
            edges = edges.filter { case (a, c) =>
              val na = adj(a); val nc = adj(c)
              val (sm, lg) =
                if (na.size <= nc.size) (na, nc) else (nc, na)
              var sup = 0
              val mi = sm.iterator
              while (mi.hasNext && sup < minSup) {
                if (lg.contains(mi.next())) sup += 1
              }
              sup >= minSup
            }
            counts += edges.length.toLong
            round += 1
            if (counts(round) == counts(round - 1)) {
              fixed = true
              while (counts.size <= rounds) counts += counts(round)
            }
          }
          val conv = if (counts(rounds - 1) == counts(rounds)) 1L
            else 0L
          counts.iterator.zipWithIndex.map { case (ne, i) =>
            (i.toLong, ne, conv)
          }
        }
        .toDF("round", "n_edges", "converged")
        .materialize(truncate = true)
    } else {
      var r = e0
      val counts = scala.collection.mutable.ArrayBuffer(r.count())
      var round = 0
      var fixed = false
      while (round < rounds && !fixed) {
        // per-edge triangle support via the DEGREE-ORIENTED wedge
        // enumeration (edgeSupport): each triangle found exactly once
        // at its pivot, O(√E) fan-out — not the deg(u)+deg(v) hub
        // blow-up of joining the both-direction adjacency on both
        // endpoints
        val sup = edgeSupport(r)
        r = sup.where(col("s") >= minSup).select(col("a"), col("c"))
          .materialize(truncate = true)
        counts += r.count()
        round += 1
        if (counts(round) == counts(round - 1)) {
          fixed = true
          while (counts.size <= rounds) counts += counts(round)
        }
      }
      val conv =
        if (counts(rounds - 1) == counts(rounds)) 1L else 0L
      counts.toSeq.zipWithIndex
        .map { case (ne, i) => (i.toLong, ne, conv) }
        .toDF("round", "n_edges", "converged")
    }
  }

  /** The exact number of triangles in the undirected graph given by
    * `edges` (any direction, duplicates tolerated). Output: one row,
    * `n_triangles` long. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol).materialize()
    val deg = canon.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): strictly increasing along every edge, so
    // the orientation is acyclic and each triangle has ONE pivot
    val oriented = canon
      .join(deg.withColumnRenamed("v", "src")
        .withColumnRenamed("deg", "sdeg"), Seq("src"))
      .join(deg.withColumnRenamed("v", "dst")
        .withColumnRenamed("deg", "ddeg"), Seq("dst"))
      .select(
        when(col("sdeg") < col("ddeg") ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")),
          struct(col("src").as("u"), col("dst").as("w")))
          .otherwise(struct(col("dst").as("u"), col("src").as("w")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .materialize()
    val wedges = oriented.select(col("u"), col("w").as("w1"))
      .join(oriented.select(col("u"), col("w").as("w2")), Seq("u"))
      .where(col("w1") < col("w2"))
    // the closing edge: wedge endpoints are id-ordered like canon's
    wedges
      .join(canon, col("w1") === col("src") && col("w2") === col("dst"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
