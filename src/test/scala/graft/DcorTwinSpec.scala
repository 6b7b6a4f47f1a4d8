package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DistDependenceQueries

/** The size-gated single-task twin behind q891's distance-correlation
  * V-statistics (`dcorStats`): the distributed gate mode runs the original
  * n²-crossJoin + decimal aggregate plan on the same panel, so both
  * branches are asserted BIT-identical — including negative values
  * (abs diffs), duplicate (x, y) points, a constant column (all-zero
  * aa sums), and the empty panel (null aggregates). */
class DcorTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def day(rs: Seq[(Int, Long, Long)]) =
    rs.toDF("d", "x", "y")

  test("dcorStats: single-task twin ≡ crossJoin V-stat plan") {
    val d = day(Seq((1, 100L, 3L), (2, -40L, 9L), (3, 100L, 3L),
      (4, 0L, 27L), (5, 7L, 1L)))
    val (local, dist) =
      SizeGateModes.both(rows(DistDependenceQueries.dcorStats(d)))
    assert(local == dist)
  }

  test("dcorStats twin on a constant x column") {
    val d = day(Seq((1, 5L, 2L), (2, 5L, 8L), (3, 5L, 1L)))
    val (local, dist) =
      SizeGateModes.both(rows(DistDependenceQueries.dcorStats(d)))
    assert(local == dist)
  }

  test("dcorStats twin on the empty panel") {
    val d = day(Seq.empty)
    val (local, dist) =
      SizeGateModes.both(rows(DistDependenceQueries.dcorStats(d)))
    assert(local == dist)
  }
}
