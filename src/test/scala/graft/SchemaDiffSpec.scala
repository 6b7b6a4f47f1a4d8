package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestCommit
import graft.sources.ManifestCommit.SchemaChange

/** Round-6: schema-drift detection between manifest generations —
  * added/removed/type-changed columns from parquet footers only. */
class SchemaDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("reports added, removed, and type-changed columns by name") {
    val dir = TestSpark.tempDir("schdiff").toString
    val g1 = ManifestCommit.writeVersioned(
      Seq((1, "x", 2.0)).toDF("a", "b", "v"), dir)
    val g2 = ManifestCommit.writeVersioned(
      Seq((1L, 5L, "new")).toDF("a", "v", "c"), dir)
    val diff = ManifestCommit.schemaDiff(spark, dir, g1, g2)
    assert(diff == Seq(
      SchemaChange("c", "added", "absent", "string"),
      SchemaChange("b", "removed", "string", "absent"),
      SchemaChange("a", "type_changed", "int", "bigint"),
      SchemaChange("v", "type_changed", "double", "bigint")))
  }

  test("identical schemas produce no findings; column order is not drift") {
    val dir = TestSpark.tempDir("schdiff2").toString
    val g1 = ManifestCommit.writeVersioned(Seq((1, "x")).toDF("a", "b"), dir)
    val g2 = ManifestCommit.writeVersioned(
      Seq(("y", 2)).toDF("b", "a").select("b", "a"), dir)
    assert(ManifestCommit.schemaDiff(spark, dir, g1, g2).isEmpty)
  }
}
