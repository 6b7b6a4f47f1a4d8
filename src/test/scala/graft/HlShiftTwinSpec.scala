package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SegmentQueries

/** The size-gated single-task twin behind q539's Hodges–Lehmann
  * summary (`hlSummary`): the distributed gate mode runs the original
  * dim²-crossJoin + cumulative-window plan on the same histograms, so
  * both branches are asserted BIT-identical — including the exact
  * weighted-median tie rank (2·cum = tw), negative shifts, and the
  * empty-group rows (null sums / null shift). */
class HlShiftTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("hlSummary: single-task twin ≡ crossJoin + window plan") {
    val hu = Seq((3L, 2L), (5L, 1L), (9L, 4L)).toDF("t", "n")
    val ho = Seq((4L, 3L), (8L, 2L), (2L, 5L)).toDF("ot", "on")
    val (local, dist) =
      SizeGateModes.both(rows(SegmentQueries.hlSummary(hu, ho)))
    assert(local == dist)
  }

  test("hlSummary twin at an exact 2·cum = tw tie") {
    // one urgent value vs two equally-weighted other values: the
    // cumulative crosses exactly half at the smaller diff
    val hu = Seq((10L, 2L)).toDF("t", "n")
    val ho = Seq((4L, 1L), (8L, 1L)).toDF("ot", "on")
    val (local, dist) =
      SizeGateModes.both(rows(SegmentQueries.hlSummary(hu, ho)))
    assert(local == dist)
  }

  test("hlSummary twin with an empty group") {
    val hu = Seq((3L, 2L)).toDF("t", "n")
    val ho = Seq.empty[(Long, Long)].toDF("ot", "on")
    val (local, dist) =
      SizeGateModes.both(rows(SegmentQueries.hlSummary(hu, ho)))
    assert(local == dist)
  }
}
