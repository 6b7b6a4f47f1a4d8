package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{MechanismQueries, PairedCompQueries}

/** The two size-gated Bradley–Terry folds (q534's brand duels and the
  * q876–q880 tournament): the `distributed` size-gate mode runs the
  * dataframe loop on the same tiny input, so the one-task Long fold and
  * the loop must return the same rows — the exactness contract the
  * size gate relies on (the GraphFixpointTwinSpec pattern). */
class BradleyTerryTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  // three brands, every pair met 4 times: A beats B 3–1, A–C 2–2,
  // B loses to C 1–3 — uneven enough that every round moves
  private def g = Seq(("A", "B", 4L), ("B", "A", 4L), ("A", "C", 4L),
    ("C", "A", 4L), ("B", "C", 4L), ("C", "B", 4L)).toDF("i", "j", "n")
  private def w = Seq(("A", 5L), ("B", 2L), ("C", 5L)).toDF("i", "wins")

  test("q534 btStrengths: single-task twin ≡ dataframe loop") {
    val (local, dist) = SizeGateModes.both(
      rows(MechanismQueries.btStrengths(g, w, iters = 4)))
    assert(local == dist)
    assert(local.map(_.head) == Seq("A", "B", "C"))
    // the weakest brand ends below the 10⁶ start, the strongest above
    val strength = local.map(r => r(0) -> r(2).asInstanceOf[Long]).toMap
    assert(strength("B") < 1000000L && strength("A") > 1000000L)
  }

  test("q534 btStrengths: a pair count past Long's range fails in both " +
    "branches") {
    // 10¹² · 10⁷ > 2⁶³: the local fold used to wrap to a wrong strength
    val big = Seq(("A", "B", 10000000L), ("B", "A", 10000000L))
      .toDF("i", "j", "n")
    val bw = Seq(("A", 6000000L), ("B", 4000000L)).toDF("i", "wins")
    for (mode <- SizeGateModes.modes) {
      val e = intercept[Exception](SizeGateModes.under(mode)(
        MechanismQueries.btStrengths(big, bw, iters = 2).collect()))
      assert(causes(e).exists(c => c.isInstanceOf[ArithmeticException] &&
        String.valueOf(c.getMessage).contains("overflow")), s"$mode: $e")
    }
  }

  test("PairedComp btFrom: single-task twin ≡ dataframe loop") {
    // five regional ballots per ordered pair; wins = ballots ranking
    // ba above bb
    val pw = Seq(("A", "B", 3L, 5L), ("B", "A", 2L, 5L),
      ("A", "C", 4L, 5L), ("C", "A", 1L, 5L), ("B", "C", 2L, 5L),
      ("C", "B", 3L, 5L)).toDF("ba", "bb", "wins", "nv")
    val (local, dist) =
      SizeGateModes.both(rows(PairedCompQueries.btFrom(pw)))
    assert(local == dist)
    assert(local.map(_.head) == Seq("A", "B", "C"))
  }

  test("PairedComp btFrom: win totals past the Long fold's range run " +
    "the decimal loop") {
    // brand A's 1 + 10⁷ wins make w·10¹² > 2⁶³, which the one-task
    // Long fold would wrap into a wrong strength; the magnitude bound
    // routes the input to the exact DECIMAL(38,0) loop
    val pw = Seq(("A", "B", 5000000L, 5L), ("A", "C", 5000000L, 5L),
      ("B", "A", 4000000L, 5L), ("B", "C", 4000000L, 5L),
      ("C", "A", 3000000L, 5L), ("C", "B", 3000000L, 5L))
      .toDF("ba", "bb", "wins", "nv")
    val (auto, dist) =
      SizeGateModes.both(rows(PairedCompQueries.btFrom(pw)))
    assert(auto == dist)
    // exact strengths: A > B > C > 0 (a wrapped fold makes A's negative)
    val p = auto.map(r => r(1).asInstanceOf[java.math.BigDecimal].longValue)
    assert(p(0) > p(1) && p(1) > p(2) && p(2) > 0L, auto)
  }
}
