package graft.tools

import graft.queries.Registry

/** Prints the formatted physical plan of each named query (or all) at a
  * given sf dir — the plan-audit loop: check PushedFilters/ReadSchema on
  * scans, broadcast vs shuffle joins, and WholeStageCodegen coverage.
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Registry.all.map(_.name)
    val spark = graft.LocalSession(4, "ERROR")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      try Registry.byName(n).run(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
