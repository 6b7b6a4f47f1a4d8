package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.CompoundRiskQueries

/** The size-gated single-task convolution twin behind the
  * compound-risk wave's mix pmf (q976–q980 `mixOf`): the distributed gate mode
  * runs the original distributed plan (9 crossJoin+groupBy
  * re-quantized convolution rounds + the fq mixture) on the same
  * frames, so both branches are asserted BIT-identical — including
  * the SUPPORT rows whose quantized mass is 0 (they must survive in
  * both, they feed q976's full-outer band join) and a k missing from
  * fq (contributes neither mass nor support). */
class CompoundRiskTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("v").collect().toSeq.map(_.toSeq)

  test("mixOf: single-task twin ≡ distributed convolution rounds") {
    // severities with a rare value whose pmf quantizes to 0 ppm at
    // deep levels, plus a gap (no v = 3) so supports are non-trivial
    val sev = Seq((1L, 900000L), (2L, 99999L), (4L, 1L))
      .toDF("v", "c")
    // fq skips k = 2 entirely: cv2's support must not leak into mix
    val fq = Seq((1L, 5L), (3L, 2L), (10L, 1L)).toDF("k", "g")
    val (local, dist) =
      SizeGateModes.both(rows(CompoundRiskQueries.mixOf(sev, fq)))
    assert(local == dist)
  }

  test("mixOf twin on a single severity value and k = 1 only") {
    val sev = Seq((7L, 42L)).toDF("v", "c")
    val fq = Seq((1L, 42L)).toDF("k", "g")
    val (local, dist) =
      SizeGateModes.both(rows(CompoundRiskQueries.mixOf(sev, fq)))
    assert(local == dist)
  }
}
