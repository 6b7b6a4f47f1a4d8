package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ReplayQueries

/** The size-gated single-task twin behind q505's permutation fan-out
  * (`permSums`): the distributed gate mode runs the original crossJoin +
  * partitioned row_number window on the same frame, so both branches
  * are asserted BIT-identical — including hash-order ties broken by
  * id and the all-one-group / empty-group edges. */
class PermutationTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("b").collect().toSeq.map(_.toSeq)

  test("permSums: single-task twin ≡ crossJoin + window plan") {
    val ord = Seq(
      (1L, 1L, 5L), (2L, 0L, 3L), (3L, 1L, 9L), (4L, 0L, 1L),
      (5L, 0L, 7L), (6L, 1L, 2L), (7L, 0L, 4L))
      .toDF("id", "g", "t")
    val (local, dist) =
      SizeGateModes.both(rows(ReplayQueries.permSums(ord, 7)))
    assert(local == dist)
  }

  test("permSums twin when every row is in group 1 (ps2 empty)") {
    val ord = Seq((10L, 1L, 2L), (11L, 1L, 6L), (12L, 1L, 1L))
      .toDF("id", "g", "t")
    val (local, dist) =
      SizeGateModes.both(rows(ReplayQueries.permSums(ord, 3)))
    assert(local == dist)
  }
}
