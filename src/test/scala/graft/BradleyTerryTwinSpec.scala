package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{MechanismQueries, PairedCompQueries}

/** The two size-gated Bradley–Terry folds (q534's brand duels and the
  * q876–q880 tournament): forcing `cap = 0L` runs the dataframe loop on
  * the same tiny input, so the one-task Long fold and the loop must
  * return the same rows — the exactness contract the size gate relies
  * on (the GraphFixpointTwinSpec pattern). */
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
    val local = rows(MechanismQueries.btStrengths(g, w, iters = 4))
    assert(local == rows(MechanismQueries.btStrengths(g, w, iters = 4,
      cap = 0L)))
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
    for (cap <- Seq(graft.queries.SupplierGraph.localEdgeCap, 0L)) {
      val e = intercept[Exception](
        MechanismQueries.btStrengths(big, bw, iters = 2, cap = cap)
          .collect())
      assert(causes(e).exists(c => c.isInstanceOf[ArithmeticException] &&
        String.valueOf(c.getMessage).contains("overflow")), s"cap=$cap: $e")
    }
  }

  test("PairedComp btFrom: single-task twin ≡ dataframe loop") {
    // five regional ballots per ordered pair; wins = ballots ranking
    // ba above bb
    val pw = Seq(("A", "B", 3L, 5L), ("B", "A", 2L, 5L),
      ("A", "C", 4L, 5L), ("C", "A", 1L, 5L), ("B", "C", 2L, 5L),
      ("C", "B", 3L, 5L)).toDF("ba", "bb", "wins", "nv")
    val local = rows(PairedCompQueries.btFrom(pw))
    assert(local == rows(PairedCompQueries.btFrom(pw, cap = 0L)))
    assert(local.map(_.head) == Seq("A", "B", "C"))
  }
}
