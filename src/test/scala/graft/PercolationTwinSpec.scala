package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{OpsQueries, PercolationQueries}

/** The size-gated single-task twins behind the percolation wave
  * (q1181–q1184 `summarize`) and q416 (`hitsAuth2`): the distributed gate mode
  * runs the original distributed plan (scenario-keyed min-label
  * propagation / four half-step joins) on the same frame, so both
  * branches are asserted BIT-identical. The fixture has a multi-
  * component scenario, a singleton-edge scenario, a self-loop and a
  * scenario sharing nodes across components. */
class PercolationTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ke = Seq(
    // sc 1: two components {1,2,3} and {7,8}
    (1, 1L, 2L), (1, 2L, 3L), (1, 7L, 8L),
    // sc 2: a chain with a duplicate edge and a self-loop
    (2, 1L, 2L), (2, 2L, 5L), (2, 1L, 2L), (2, 9L, 9L),
    // sc 3: a single edge
    (3, 4L, 6L))
    .toDF("sc", "a", "c")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("summarize: single-task twin ≡ distributed min-label plan") {
    val (local, dist) =
      SizeGateModes.both(rows(PercolationQueries.summarize(ke)))
    assert(local == dist)
  }

  test("hitsAuth2: single-task twin ≡ four half-step joins") {
    // bipartite cust→supp weights with a dominant hub and ties
    val e = Seq(
      (1L, 10L, 5L), (1L, 11L, 3L), (2L, 10L, 5L), (2L, 12L, 1L),
      (3L, 11L, 2L), (3L, 12L, 2L), (4L, 10L, 7L))
      .toDF("cust", "supp", "w")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      rows(df.orderBy("supp"))
    val (local, dist) = SizeGateModes.both(sorted(OpsQueries.hitsAuth2(e)))
    assert(local == dist)
  }
}
