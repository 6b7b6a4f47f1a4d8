package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.DependenceQueries

/** The size-gated single-task twin behind q562's attack-robustness
  * panel (`attackPanel`): the distributed gate mode runs the original per-level
  * join + alternating-star component plan on the same frames, so both
  * branches are asserted BIT-identical — including isolated-survivor
  * singletons, a level that removes every node, and the level-0
  * keep-all row. */
class AttackPanelTwinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("attackPanel: single-task twin ≡ per-level CC plan") {
    // path 1-2-3, pair 7-8, hub 2 also linked to 9; degree rank puts
    // 2 first so early removal splits the path
    val e = Seq((1L, 2L), (2L, 3L), (7L, 8L), (2L, 9L))
      .toDF("a", "c")
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val nn0 = deg.count()
    val dr = deg.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("d").desc, col("node"))))
    val levels = Seq(0, 200, 500, 1000)
    val (local, dist) = SizeGateModes.both(
      rows(DependenceQueries.attackPanel(e, dr, nn0, levels)))
    assert(local == dist)
  }
}
