package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.Materialize.MatOps

/** The materialization policy switch (VERDICT r5 #4): one helper, three
  * modes, flipped per-session-conf. Same rows out of every mode; the
  * cluster-safe `persist` mode keeps lineage + a storage level, the
  * `checkpoint` mode writes to the reliable checkpoint dir.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
  private val expected = Set((1L, "a"), (2L, "b"), (3L, "c"))
  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("default (local) mode truncates lineage eagerly, rows unchanged") {
    spark.conf.unset(Materialize.ModeKey)
    val m = sample.materialize()
    assert(asSet(m) === expected)
  }

  test("persist mode keeps lineage with MEMORY_AND_DISK, rows unchanged") {
    spark.conf.set(Materialize.ModeKey, "persist")
    try {
      val m = sample.materialize()
      assert(m.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(asSet(m) === expected)
      m.unpersist()
      // lazy flavor marks for caching without forcing a job
      val lzy = sample.materialize(eager = false)
      assert(lzy.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(asSet(lzy) === expected)
      lzy.unpersist()
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("an unrecognized mode fails loudly instead of silently going local") {
    spark.conf.set(Materialize.ModeKey, "Persist") // wrong case: typo-shaped
    try {
      val e = intercept[IllegalArgumentException](sample.materialize())
      assert(e.getMessage.contains("Persist"))
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("truncate=true under persist mode still truncates lineage (iterative contract)") {
    spark.conf.set(Materialize.ModeKey, "persist")
    try {
      val m = sample.materialize(truncate = true)
      // lineage truncation surfaces as a LogicalRDD leaf, not a persisted
      // view of the original plan
      assert(m.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD",
        m.queryExecution.analyzed.getClass.toString)
      assert(asSet(m) === expected)
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("checkpoint mode writes to the reliable checkpoint dir, rows unchanged") {
    val dir = TestSpark.tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.ModeKey, "checkpoint")
    try {
      val m = sample.materialize()
      assert(asSet(m) === expected)
      // a reliable checkpoint leaves files under the checkpoint dir
      def anyFile(p: java.nio.file.Path): Boolean = {
        val it = java.nio.file.Files.walk(p)
        try it.anyMatch(q => java.nio.file.Files.isRegularFile(q))
        finally it.close()
      }
      assert(anyFile(dir))
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("an operator built on materialize gives identical results in every mode") {
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon zeta"),
      (3L, "unique words only here")).toDF("doc_id", "text")
    def run(): Set[String] =
      graft.text.DupSpans.coverage(docs, "doc_id", "text")
        .collect().map(_.mkString("|")).toSet
    spark.conf.unset(Materialize.ModeKey)
    val local = run()
    spark.conf.set(Materialize.ModeKey, "persist")
    try assert(run() === local)
    finally spark.conf.unset(Materialize.ModeKey)
  }
}
