package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LakePaths, Lakehouse, ParquetRead, SpineCache}

/** Each input file's parquet schema is inferred once per process: a
  * later read of the same files states the schema and starts no job,
  * and a rewritten file is inferred again. */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a second Tables.apply of the same file starts no Spark job") {
    val dir = TestSpark.tempDir("pread_once").toString
    spark.range(10).selectExpr("id", "id * 2 AS y").write.parquet(s"$dir/t.parquet")
    val first = JobCount.of(Tables(spark, dir, "t"))
    assert(first >= 1, "the first read infers the schema with a job")
    var df: org.apache.spark.sql.DataFrame = null
    assert(JobCount.of { df = Tables(spark, dir, "t") } === 0)
    assert(df.schema.fieldNames.toSeq === Seq("id", "y"))
    assert(df.selectExpr("sum(y)").head().getLong(0) === 90L)
  }

  test("a file rewritten with a different schema is read with the new schema") {
    val dir = TestSpark.tempDir("pread_rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(4).toDF("x").write.parquet(path)
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq === Seq("x"))
    spark.range(3).selectExpr("CAST(id AS STRING) AS a", "id * 10 AS b")
      .write.mode("overwrite").parquet(path)
    val df = Tables(spark, dir, "t")
    assert(df.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(df.selectExpr("sum(b)").head().getLong(0) === 30L)
  }

  test("a changed parquet setting is inferred again") {
    val dir = TestSpark.tempDir("pread_conf").toString
    spark.range(2).write.parquet(s"$dir/t.parquet")
    def read(): Unit = Tables(spark, dir, "t")
    read()
    assert(JobCount.of(read()) === 0)
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try {
      assert(JobCount.of(read()) >= 1)
      assert(JobCount.of(read()) === 0)
    } finally spark.conf.unset(key)
  }

  test("re-reading a table after an events read starts no Spark job") {
    val dir = TestSpark.tempDir("pread_events").toString
    spark.range(3).write.parquet(s"$dir/t.parquet")
    spark.range(3).selectExpr("id", "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ts")
      .write.parquet(s"$dir/events.parquet")
    Tables(spark, dir, "t")
    assert(Tables.events(spark, dir).schema("ts").dataType.simpleString === "bigint")
    assert(JobCount.of(Tables(spark, dir, "t")) === 0)
  }

  test("a spine rebuilt after clear() is read with its new schema") {
    val dir = TestSpark.tempDir("pread_spine").toString
    spark.range(3).write.parquet(s"$dir/t.parquet")
    def spine(cols: String*) =
      SpineCache.table(spark, dir, "pread_spine", "t")(spark.range(3).selectExpr(cols: _*))
    assert(spine("id AS u").schema.fieldNames.toSeq === Seq("u"))
    SpineCache.clear()
    val df = spine("id AS v", "id + 1 AS w")
    assert(df.schema.fieldNames.toSeq === Seq("v", "w"))
    assert(df.selectExpr("sum(w)").head().getLong(0) === 6L)
  }

  test("a table the engine writes states the schema a parquet read infers") {
    val root = TestSpark.tempDir("pread_written").toString
    // a partitioned pipeline table, with non-null nested fields
    val table = s"$root/table"
    ParquetRead.write(spark.range(6).selectExpr("CAST(id % 3 AS INT) AS Season", "id",
      "named_struct('a', id, 'b', array(id, id + 1)) AS s", "map('k', array(id)) AS m"),
      table, Seq("Season"))
    // a bronze table
    val in = TestSpark.tempDir("pread_written_in")
    Files.writeString(in.resolve("MTeams.csv"), "TeamID,TeamName\n1101, Abilene Chr\n1102,Air Force\n")
    val Seq((_, bronze)) = Lakehouse.ingestBronze(spark, in.toString, LakePaths(s"$root/lake"))
    // a spine: a one-source version-1 spine lives at that source's index path
    spark.range(3).write.parquet(s"$root/t.parquet")
    SpineCache.table(spark, root, "pread_written", "t")(
      spark.range(3).selectExpr("id", "array(named_struct('x', id)) AS xs"))
    val spine = SpineCache.indexPath(spark, root, "pread_written", "t")
    Seq(table, bronze, spine).foreach { path =>
      var stated: org.apache.spark.sql.DataFrame = null
      assert(JobCount.of { stated = ParquetRead(spark, path) } === 0, path)
      val inferred = spark.read.parquet(path)
      assert(stated.schema === inferred.schema, path)
      assert(stated.collect().map(_.toString).sorted === inferred.collect().map(_.toString).sorted)
    }
  }
}
