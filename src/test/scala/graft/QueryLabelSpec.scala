package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.Materialize.MatOps
import graft.queries.Q

/** `Q.run` names its work: every job a registry query starts carries the
  * query's name as its Spark job description, both the eager
  * materialization inside its body and the caller's action on the
  * result. */
class QueryLabelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val probe = Q("q_label_probe", None) { (s, _) =>
    s.range(40).selectExpr("id % 4 AS k", "id").materialize()
      .groupBy("k").count().orderBy("k")
  }

  test("the jobs of a registry query carry its name as the job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("the caller's own label")
    try {
      var df: DataFrame = null
      val inBody = JobCount.descriptions { df = probe.run(spark, "unused") }
      val action = JobCount.descriptions(df.collect(): Unit)
      assert(inBody.nonEmpty, "the eager materialize() in the body starts a job")
      assert(action.nonEmpty, "the caller's collect() starts a job")
      assert((inBody ++ action).forall(_ == "q_label_probe"), inBody ++ action)
      assert(df.collect().map(_.getLong(1)).toSeq === Seq(10L, 10L, 10L, 10L))
    } finally sc.setJobDescription(null)
  }
}
