package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args
  * past (sfDir, outDir) restrict the run to the named queries — the
  * builder's fast single-query iteration path; the driver passes two. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "WARN")
    // env-drift tripwire (see tools/EnvCheck): a broken schema contract
    // surfaces as one pointed line at the top of the correctness run
    // instead of 17 cryptic per-query failures
    scala.util.Try(graft.tools.EnvCheck.assertContract(spark, sfDir))
      .fold(e => System.err.println(s"[env] ${e.getMessage}"),
        fp => System.err.println(s"[env] $fp"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes every control char: a tab or CR in an oracle's SQL
    // must not make the checker's json.load fail
    val mapper = new ObjectMapper()
    val oracle = mapper.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => oracle.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), mapper.writeValueAsString(oracle))
    // the full declared-query manifest: lets the checker flag a query
    // whose output is MISSING entirely (a rows-only query that crashed
    // would otherwise escape the gate — no output dir, no oracle row)
    val declared = mapper.createArrayNode()
    SparkEntry.queries.keys.toSeq.sorted.foreach(n => declared.add(n))
    Files.writeString(Paths.get(s"$outDir/declared_queries.json"),
      mapper.writeValueAsString(declared))
    spark.stop()
  }
}
