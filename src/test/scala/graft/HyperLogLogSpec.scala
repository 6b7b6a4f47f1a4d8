package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PolyHashImpl
import graft.operators.HyperLogLog
import org.apache.spark.unsafe.types.UTF8String

/** Round-6: HLL register sketch — register values vs a JVM-side
  * reference, shard-merge ≡ whole-input sketch, estimate sanity, the
  * small-range branch, and the mixed-m tripwire.
  */
class HyperLogLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val m = 64

  /** JVM reference for the sketch's hash→bucket/rho pipeline. */
  private def refRegister(v: String): (Long, Int) = {
    val mod = 2147483647L
    def poly(s: String) = PolyHashImpl.hash(UTF8String.fromString(s), 131L, mod)
    val h = poly("hll:" + poly(v + ":hll").toString)
    val w = h >> 6
    val rho =
      if (w == 0) HyperLogLog.RhoCap
      else math.min(java.lang.Long.numberOfTrailingZeros(w) + 1,
        HyperLogLog.RhoCap)
    (h & (m - 1), rho)
  }

  test("registers equal the JVM trailing-zero reference") {
    val vals = (1 to 200).map(i => s"tok$i")
    val df = vals.map(v => ("g", v)).toDF("g", "v")
    val got = HyperLogLog.sketch(df, Seq("g"), "v", m)
      .select("bucket", "r").as[(Long, Int)].collect().toMap
    val exp = vals.map(refRegister).groupBy(_._1)
      .map { case (b, rs) => b -> rs.map(_._2).max }
    assert(got == exp)
  }

  test("merge of disjoint shards equals the whole-input sketch") {
    val a = (1 to 150).map(i => ("g", s"tok$i")).toDF("g", "v")
    val b = (151 to 300).map(i => ("g", s"tok$i")).toDF("g", "v")
    val whole = (1 to 300).map(i => ("g", s"tok$i")).toDF("g", "v")
    val merged = HyperLogLog.estimate(
      HyperLogLog.merge(
        HyperLogLog.sketch(a, Seq("g"), "v", m)
          .unionByName(HyperLogLog.sketch(b, Seq("g"), "v", m)),
        Seq("g")),
      Seq("g")).head()
    val direct = HyperLogLog.estimate(
      HyperLogLog.sketch(whole, Seq("g"), "v", m), Seq("g")).head()
    assert(merged == direct)
  }

  test("estimate lands within HLL's error envelope") {
    val n = 2000
    val df = (1 to n).map(i => ("g", s"item$i")).toDF("g", "v")
    val est = HyperLogLog.distinctEstimate(df, Seq("g"), "v", m)
      .select("est").head().getDouble(0)
    // 1.04/sqrt(64) ≈ 13% stderr; allow 4 sigma.
    assert(math.abs(est - n) < n * 0.52, s"est $est vs $n")
  }

  test("small-range branch: tiny sets use quantized linear counting") {
    val df = (1 to 10).map(i => ("g", s"u$i")).toDF("g", "v")
    val r = HyperLogLog.distinctEstimate(df, Seq("g"), "v", m).head()
    val vEmpty = r.getAs[Long]("v_empty")
    assert(vEmpty > 0)
    val expected = BigDecimal(-m) *
      BigDecimal(math.log(vEmpty.toDouble / m))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(r.getAs[Double]("est") == expected.toDouble)
    // 10 distinct values rarely collide in 64 buckets; the estimate
    // must at least be in the right decade.
    assert(r.getAs[Double]("est") > 4 && r.getAs[Double]("est") < 25)
  }

  test("duplicates do not move the registers") {
    val once = (1 to 50).map(i => ("g", s"d$i")).toDF("g", "v")
    val thrice = (1 to 50).flatMap(i => Seq.fill(3)(("g", s"d$i")))
      .toDF("g", "v")
    assert(HyperLogLog.distinctEstimate(once, Seq("g"), "v", m).head() ==
      HyperLogLog.distinctEstimate(thrice, Seq("g"), "v", m).head())
  }

  test("stored-sketch face: generations maintain cardinality without rescans") {
    // The BM25/IVF-PQ stored-index discipline applied to sketches: each
    // ManifestCommit generation holds the MERGED registers; an ingest
    // batch sketches only its delta and merges against the prior
    // generation — sketch-sized work, the corpus is never rescanned.
    import graft.sources.ManifestCommit
    val dir = TestSpark.tempDir("hll_store").toString
    val batch1 = (1 to 120).map(i => ("g", s"v$i")).toDF("g", "v")
    val batch2 = (100 to 200).map(i => ("g", s"v$i")).toDF("g", "v")
    val g1 = ManifestCommit.writeVersioned(
      HyperLogLog.sketch(batch1, Seq("g"), "v", m), dir)
    val merged = HyperLogLog.merge(
      ManifestCommit.readAt(spark, dir, g1)
        .unionByName(HyperLogLog.sketch(batch2, Seq("g"), "v", m)),
      Seq("g"))
    val g2 = ManifestCommit.writeVersioned(merged, dir)
    val fromStore = HyperLogLog.estimate(
      ManifestCommit.readAt(spark, dir, g2), Seq("g")).head()
    val direct = HyperLogLog.estimate(
      HyperLogLog.sketch(batch1.unionByName(batch2), Seq("g"), "v", m),
      Seq("g")).head()
    assert(fromStore == direct)
    // time travel still sees the batch-1-only registers
    assert(HyperLogLog.estimate(ManifestCommit.readAt(spark, dir, g1),
      Seq("g")).head() !=
      fromStore)
  }

  test("streaming face: complete-mode registers equal the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = HyperLogLog.sketch(mem.toDF.toDF("g", "v"), Seq("g"), "v", m)
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      mem.addData((1 to 80).map(i => ("g", s"s$i")): _*)
      q.processAllAvailable()
      mem.addData((60 to 150).map(i => ("g", s"s$i")): _*)
      q.processAllAvailable()
      val streamed = HyperLogLog.estimate(spark.table("hll_regs"),
        Seq("g")).head()
      val batch = HyperLogLog.estimate(
        HyperLogLog.sketch((1 to 150).map(i => ("g", s"s$i")).toDF("g", "v"),
          Seq("g"), "v", m), Seq("g")).head()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("mixing m in one union fails loudly") {
    val a = HyperLogLog.sketch(Seq(("g", "x")).toDF("g", "v"), Seq("g"), "v", 64)
    val b = HyperLogLog.sketch(Seq(("g", "y")).toDF("g", "v"), Seq("g"), "v", 128)
    val ex = intercept[Exception] {
      HyperLogLog.estimate(a.unionByName(b), Seq("g")).collect()
    }
    assert(ex.getMessage.contains("different m"))
  }

  test("rollingMerge equals sketching each window's unioned data") {
    import org.apache.spark.sql.functions.col
    // users per day: day0 {a,b}, day1 {b,c}, day2 {d}; window 2
    val rows = Seq((0L, "a"), (0L, "b"), (1L, "b"), (1L, "c"), (2L, "d"))
    val sk = HyperLogLog.sketch(rows.toDF("d", "v"), Seq("d"), "v", 64)
    val rolled = HyperLogLog.estimate(
        HyperLogLog.rollingMerge(sk, "d", window = 2), Seq("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    def direct(days: Seq[Long]) = HyperLogLog.estimate(
      HyperLogLog.sketch(rows.filter(r => days.contains(r._1))
          .map { case (_, v) => ("w", v) }.toDF("d", "v"),
        Seq("d"), "v", 64), Seq("d")).head().getDouble(5)
    assert(rolled(0L) == direct(Seq(0L)))
    assert(rolled(1L) == direct(Seq(0L, 1L)))
    assert(rolled(2L) == direct(Seq(1L, 2L)))
  }

  test("rollingMerge emits only observed periods") {
    val sk = HyperLogLog.sketch(Seq((0L, "a"), (5L, "b")).toDF("d", "v"),
      Seq("d"), "v", 64)
    val days = HyperLogLog.rollingMerge(sk, "d", window = 3)
      .select("d").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(days == Set(0L, 5L)) // no ghost days 1, 2, 6, 7
  }
}
