package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.MatrixProfileQueries

/** The size-gated single-task matrix-profile twins behind q956–q960:
  * the distributed gate mode runs the original lag-explode + running-sum-window
  * relational plan on the same series, so both branches are asserted
  * BIT-identical — including distance ties (the periodic series below
  * makes many window pairs equidistant, exercising the (dist, s) and
  * (dist, t, s) tie-breaks). */
class MatrixProfileTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 26 days: a period-5 sawtooth plus a burst — repeated subsequences
  // force exact distance ties; the burst gives a clear discord
  private val zs: Seq[Long] = Seq(
    100L, 300L, 200L, 500L, 400L,
    100L, 300L, 200L, 500L, 400L,
    100L, 300L, 200L, 500L, 400L,
    100L, 300L, 9000L, 500L, 400L,
    100L, 300L, 200L, 500L, 400L, 100L)
  private val tMax = zs.length

  private def sq = zs.zipWithIndex
    .map { case (z, i) => (i + 1, z) }.toDF("t", "z")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("profileFrame: single-task twin ≡ relational plan") {
    val (local, dist) =
      SizeGateModes.both(rows(MatrixProfileQueries.profileFrame(sq, tMax)))
    assert(local == dist)
  }

  test("motifFrame: single-task twin ≡ relational plan") {
    val (local, dist) =
      SizeGateModes.both(rows(MatrixProfileQueries.motifFrame(sq, tMax)))
    assert(local == dist)
  }

  test("lagPairs: single-task twin ≡ relational plan") {
    // 19 covers most anchors, 7 the exclusion-zone minimum; 30 > tMax
    // exercises the empty-lag guard
    val lags = Seq(7, 19, 30)
    val (local, dist) =
      SizeGateModes.both(rows(MatrixProfileQueries.lagPairs(sq, tMax, lags)))
    assert(local == dist)
  }
}
