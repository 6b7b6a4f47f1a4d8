package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.{RobustScaleQueries, RobustTrendQueries}

/** The size-gated single-task day² twins behind q846/q847/q848 (Sn,
  * Qn, Hodges-Lehmann) and q647 (Siegel repeated medians): the distributed
  * gate mode runs the original relational all-pairs plan on the same
  * series, so both branches are asserted BIT-identical — including
  * tie values (duplicate x) and irregular day spacing. */
class DayPairTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 7 days, duplicate values (two 300s) so rank tie-breaks are hit
  private def day = Seq(
    ("1995-01-01", 500L), ("1995-01-02", 300L), ("1995-01-03", 900L),
    ("1995-01-04", 300L), ("1995-01-05", 1200L), ("1995-01-06", 700L),
    ("1995-01-07", 100L))
    .toDF("ds", "x")
    .select(col("ds").cast("date").as("d"), col("x"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("snFrame: single-task twin ≡ relational plan") {
    val (local, dist) =
      SizeGateModes.both(rows(RobustScaleQueries.snFrame(day)))
    assert(local == dist)
  }

  test("qnFrame: single-task twin ≡ relational plan") {
    val (local, dist) =
      SizeGateModes.both(rows(RobustScaleQueries.qnFrame(day)))
    assert(local == dist)
  }

  test("hlFrame: single-task twin ≡ relational plan") {
    val (local, dist) =
      SizeGateModes.both(rows(RobustScaleQueries.hlFrame(day)))
    assert(local == dist)
    // 7 days -> 28 Walsh pairs; the pseudomedian halves a pair sum
    assert(local == Seq(Seq(28L, 500L)))
  }

  test("siegelFrame: single-task twin ≡ relational plan") {
    // irregular spacing and sign changes exercise the double divide
    val d = Seq((100L, 5000L), (101L, -1200L), (103L, 7300L),
      (106L, 900L), (110L, 12345L), (111L, -777L))
      .toDF("day", "netl")
      .select(col("day"), col("netl").cast("decimal(38,0)").as("net"))
    val (local, dist) =
      SizeGateModes.both(rows(RobustTrendQueries.siegelFrame(d)))
    assert(local == dist)
  }
}
