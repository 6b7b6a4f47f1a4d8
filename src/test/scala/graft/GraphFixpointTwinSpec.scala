package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.SupplierGraph
import graft.operators.Triangles

/** The size-gated single-task fixpoint twins added for q495 (PageRank
  * residual curve) and q591 (truss-peel trajectory): the
  * `distributed` size-gate mode runs the distributed per-round loop on
  * the same tiny graph, so both branches are asserted BIT-identical —
  * the exactness contract the size gate relies on. */
class GraphFixpointTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // weighted both-direction graph: triangle 1-2-3 with uneven support
  // weights plus a tail 3-4 — asymmetric enough that ranks keep
  // moving and every residual is nonzero for the first rounds
  private def ed = {
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 5L))
      .toDF("src", "dst", "w")
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"),
      col("w")))
  }

  test("pagerankResiduals: single-task twin ≡ distributed loop") {
    val (local, dist) = SizeGateModes.both(SupplierGraph
      .pagerankResiduals(ed, iters = 5, scale = 1000000000L)
      .orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(local == dist)
    assert(local.map(_._1) == (1L to 5L).toSeq)
    // round 1 moves mass off the uniform start — a zero residual here
    // would mean the recurrence degenerated
    assert(local.head._2 > 0L)
  }

  test("trussTrajectory: single-task twin ≡ wedge-join loop") {
    // K4 (every edge in exactly 2 triangles, so it survives the
    // s >= 2 peel) plus a pendant edge (support 0, peeled round 1)
    val e0 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("a", "c")
    val (local, dist) = SizeGateModes.both(
      Triangles.trussTrajectory(e0, rounds = 4)
        .orderBy("round").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(local == dist)
    assert(local.head == ((0L, 7L, 1L)))
    assert(local.last == ((4L, 6L, 1L)))
  }

  // weighted adjacency in the (ea, ec, w, cost) shape the relaxations
  // consume: two components (1-2-3-4 chain-ish, 7-8) so some budget
  // sources never reach some nodes, plus uneven costs for real mins
  private def ewAdj = {
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 5L),
      (7L, 8L, 2L)).toDF("a", "c", "w")
    e.unionAll(e.select(col("c").as("a"), col("a").as("c"), col("w")))
      .select(col("a").as("ea"), col("c").as("ec"), col("w"),
        (lit(1L) + expr("1000 div w")).as("cost"))
  }

  private def srcs = Seq(1L, 4L, 7L).toDF("src")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("bfsFrom: single-task twin ≡ distributed loop (ADVICE r11 #1)") {
    val ed = ewAdj.select(col("ea"), col("ec"))
    val (local, dist) =
      SizeGateModes.both(rows(SupplierGraph.bfsFrom(ed, srcs, 3)))
    assert(local == dist)
    // assertExhausted path agrees too (diameter ≤ 3 per component)
    val (localEx, distEx) = SizeGateModes.both(
      rows(SupplierGraph.bfsFrom(ed, srcs, 3, assertExhausted = true)))
    assert(localEx == distEx)
  }

  test("relaxMinSum: single-task twin ≡ distributed loop") {
    val (local, dist) =
      SizeGateModes.both(rows(SupplierGraph.relaxMinSum(ewAdj, srcs, 4)))
    assert(local == dist)
  }

  test("relaxMaxMin: single-task twin ≡ distributed loop") {
    val (local, dist) =
      SizeGateModes.both(rows(SupplierGraph.relaxMaxMin(ewAdj, srcs, 4)))
    assert(local == dist)
  }

  test("relaxDual: single-task twin ≡ distributed loop") {
    val (local, dist) =
      SizeGateModes.both(rows(SupplierGraph.relaxDual(ewAdj, srcs, 4)))
    assert(local == dist)
  }

  test("relaxStats: single-task twin ≡ distributed loop") {
    val (local, dist) =
      SizeGateModes.both(rows(SupplierGraph.relaxStats(ewAdj, srcs, 4)))
    assert(local == dist)
  }

  test("trussTrajectory: an unconverged peel reports converged = 0") {
    // path graph: no triangles at all — everything peels in round 1,
    // then the empty set is a fixpoint; with rounds = 1 the last two
    // counts differ (4 -> 0), so converged must be 0 in BOTH branches
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "c")
    for (mode <- SizeGateModes.modes) {
      val t = SizeGateModes.under(mode)(
        Triangles.trussTrajectory(e0, rounds = 1)
          .orderBy("round").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      assert(t == Seq((0L, 4L, 0L), (1L, 0L, 0L)), mode)
    }
  }
}
