package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Tables

/** Environment-drift guard (VERDICT r5 #6): round 5 lost 17 queries to
  * a silent conf no-op when the sandbox moved to Spark 4.1.2 and
  * `spark.sql.legacy.parquet.nanosAsLong` vanished. This makes the next
  * drift a one-line diagnosis instead of a forensic session: assert the
  * schema contract Tables actually delivers and print a fingerprint the
  * bench tail carries in every round's output.
  */
object EnvCheck {

  private def eventsTsType(spark: SparkSession, sfDir: String): String =
    scala.util.Try(
      Tables.events(spark, sfDir).schema("ts").dataType.simpleString)
      .getOrElse("UNREADABLE")

  private def line(spark: SparkSession, tsType: String): String =
    s"spark=${spark.version} java=${System.getProperty("java.version")} " +
      s"scala=${scala.util.Properties.versionNumberString} events.ts=$tsType"

  /** One line: Spark/Java versions plus the delivered events.ts type. */
  def fingerprint(spark: SparkSession, sfDir: String): String =
    line(spark, eventsTsType(spark, sfDir))

  /** Loud assertion of the schema contract. Returns the fingerprint so
    * callers can log it; throws with a pointed message when the engine
    * no longer delivers the epoch-ns long contract. */
  def assertContract(spark: SparkSession, sfDir: String): String = {
    val tsType = eventsTsType(spark, sfDir)
    val fp = line(spark, tsType)
    require(tsType == "bigint",
      s"ENV DRIFT: events.ts must reach queries as epoch-ns bigint but " +
        s"arrived as '$tsType' [$fp] — check Tables.normalizeEventTs " +
        "against this Spark's parquet TIMESTAMP(NANOS) mapping " +
        "(see NOTES rule 2: never rely on legacy confs for type mapping)")
    fp
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(2, "ERROR")
    println(assertContract(spark, sfDir))
    spark.stop()
  }
}
