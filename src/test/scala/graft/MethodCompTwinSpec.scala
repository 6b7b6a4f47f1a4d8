package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.MethodCompQueries

/** The size-gated single-task Passing–Bablok twins behind q1071–q1074
  * (pbFitOf) and q1073 (tauAgg): the distributed gate mode runs the original
  * day²-pair relational plan (fan-out + bucket-parallel rank) on the
  * same frame, so both branches are asserted BIT-identical — the
  * fixture has duplicate x (xd = 0 exclusions), yd = −xd exclusions
  * (S = −1), negative slopes (kf bookkeeping on both xd signs) and
  * tied slopes (rank-position ties). */
class MethodCompTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (t, x, y): t4 duplicates t2's x (xd = 0), (t1, t5) has yd = −xd,
  // (t1,t2) and (t3,t6) share slope 2 exactly (tie), x not monotone
  private def sq = Seq(
    (1, 100L, 200L), (2, 300L, 600L), (3, 200L, 100L),
    (4, 300L, 900L), (5, 150L, 150L), (6, 250L, 200L),
    (7, 120L, 380L))
    .toDF("t", "x", "y")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("pbFitOf: single-task twin ≡ relational plan") {
    val (local, dist) =
      SizeGateModes.both(rows(MethodCompQueries.pbFitOf(sq)))
    assert(local == dist)
  }

  test("pbFitOf: even slope count hits the two-rank average") {
    val even = sq.where(col("t") =!= 4)
    val (local, dist) =
      SizeGateModes.both(rows(MethodCompQueries.pbFitOf(even)))
    assert(local == dist)
  }

  test("tauAgg: single-task twin ≡ relational plan") {
    val (local, dist) = SizeGateModes.both(rows(MethodCompQueries.tauAgg(sq)))
    assert(local == dist)
  }
}
