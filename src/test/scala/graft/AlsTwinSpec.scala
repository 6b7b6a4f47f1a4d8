package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.FactorQueries

/** The size-gated single-task twin behind q576's rank-1 ALS
  * (`alsRank1`): the distributed gate mode runs the original broadcast-join
  * round loop on the same cell frame, so both branches are asserted
  * BIT-identical after every update — including a sparse matrix
  * (missing cells), a zero-revenue cell, and a single-brand column. */
class AlsTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(cells: Seq[(String, Int, Long)], iters: Int)
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val r = cells.toDF("br", "na", "x")
    def rows(df: org.apache.spark.sql.DataFrame, k: String) =
      df.orderBy(k).collect().toSeq
        .map(_.toSeq.map { case i: Int => i.toLong; case x => x })
    def uv = {
      val (u, v) = FactorQueries.alsRank1(r, iters)
      (rows(u, "br"), rows(v, "na"))
    }
    val ((u1, v1), (u2, v2)) = SizeGateModes.both(uv)
    assert(u1 == u2)
    assert(v1 == v2)
    (u1, v1)
  }

  test("alsRank1: single-task twin ≡ broadcast-join rounds") {
    run(Seq(("A", 1, 300L), ("A", 2, 50L), ("B", 1, 120L),
      ("C", 2, 999L), ("C", 3, 0L)), iters = 3)
  }

  test("alsRank1 twin on a single-brand matrix") {
    run(Seq(("A", 1, 10L), ("A", 2, 20L)), iters = 2)
  }
}
