package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.text.Sampling

/** Round-6 tail wave: incremental near-dup cluster maintenance and
  * water-filling caps (q221 / q223 operator semantics). */
class IncrementalClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // threshold 0.4 so a combined doc can bridge two otherwise-disjoint
  // clusters: jaccard("a b c d e f", "a b c d e f x y z w q r") = 4/10
  private val t = 0.4

  private def labels(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap

  test("incremental ≡ rebuild, including a new doc bridging old clusters") {
    val oldDocs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),      // cluster {1,2}
      (3L, "x y z w q r"), (4L, "x y z w q r"),      // cluster {3,4}
      (5L, "totally unrelated content sits here alone"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (6L, "a b c d e f x y z w q r"),               // bridges {1,2}+{3,4}
      (7L, "nothing in common with anything else at all"))
      .toDF("doc_id", "text")
    val oldLabels = Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(oldDocs, "doc_id", "text", threshold = t))
    assert(labels(oldLabels) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    val inc = labels(Dedup.incrementalClusters(
      oldLabels, newDocs, oldDocs, "doc_id", "text", threshold = t))
    val rebuild = labels(Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(oldDocs.unionByName(newDocs),
        "doc_id", "text", threshold = t)))
    assert(inc == rebuild)
    // the bridge merged both old clusters under the global min id
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 6L -> 1L))
  }

  test("a batch with no matches leaves old labels intact") {
    val oldDocs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"))
      .toDF("doc_id", "text")
    val newDocs = Seq((9L, "completely different words occupy this text"))
      .toDF("doc_id", "text")
    val oldLabels = Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(oldDocs, "doc_id", "text", threshold = t))
    val inc = labels(Dedup.incrementalClusters(
      oldLabels, newDocs, oldDocs, "doc_id", "text", threshold = t))
    assert(inc == Map(1L -> 1L, 2L -> 1L)) // 9 has no edges → no label
  }

  test("cross-corpus pair face reports the verified (new, old) pairs") {
    val oldDocs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val newDocs = Seq((10L, "a b c d e f"), (11L, "p q r s t u"))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDupPairs(
        newDocs, oldDocs, "doc_id", "text", threshold = 0.8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L)))
  }

  test("streaming foreachBatch cluster maintenance equals the rebuild") {
    // micro-batches of docs folded into driver-held labels via
    // incrementalClusters — the production streaming-dedup loop. The
    // bridge doc arrives in the LAST batch, so the final fold must
    // merge clusters formed two batches earlier.
    val batches = Seq(
      Seq((1L, "a b c d e f"), (2L, "a b c d e f")),
      Seq((3L, "x y z w q r"), (4L, "x y z w q r")),
      Seq((6L, "a b c d e f x y z w q r"))) // bridges {1,2} and {3,4}
      .map(_.toDF("doc_id", "text"))
    val all = batches.reduce(_ unionByName _)
    val dir = TestSpark.tempDir("graft_inc_src")
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = TestSpark.tempDir("graft_inc_stage")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val it = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (it.hasNext && !moved) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(f, dir.resolve(s"part$i.parquet"))
          moved = true
        }
      }
      assert(moved)
    }
    var seen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var lbls = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val q = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          lbls = Dedup.incrementalClusters(lbls, batch, seen,
            "doc_id", "text", threshold = t).localCheckpoint(true)
          seen = seen.unionByName(batch).localCheckpoint(true)
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val rebuild = labels(Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(all, "doc_id", "text", threshold = t)))
    assert(labels(lbls) == rebuild)
    assert(labels(lbls) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 6L -> 1L))
  }

  test("water-filling: level lands in its interval, budget is exact") {
    // counts [10, 20, 100], budget 3/5 of 130 = 78:
    // level candidates: i=1 → 26 (≥ hi 10, invalid), i=2 → 34 (≥ hi 20,
    // invalid), i=3 → 48 ∈ [20, 100) ✓ → caps 10 + 20 + 48 = 78 exactly
    val cs = Seq(("a", 10L), ("b", 20L), ("c", 100L)).toDF("k", "n")
    val caps = Sampling.waterFillCaps(cs, Seq("k"), "n", 3, 5)
      .orderBy($"k").as[(String, Long, Long)].collect().toSeq
    assert(caps == Seq(("a", 10L, 10L), ("b", 20L, 20L), ("c", 100L, 48L)))
    assert(caps.map(_._3).sum == 78L)
  }

  test("greedy coverage picks max NEW gain each round, ties by id") {
    import graft.text.MmrSelect
    // doc 1 covers {a,b,c}; doc 2 covers {c,d}; doc 3 covers {d,e,f};
    // greedy: pick 1 (gain 3) — then doc 3 gains 3 vs doc 2's 1 —
    // pick 3 — then doc 2 gains only 1 (d,f covered)
    val pool = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("c", "d")),
      (3L, Seq("d", "e", "f"))).toDF("id", "s")
    val got = MmrSelect.coverSelect(pool, "id", "s", k = 3)
      .orderBy($"sel_rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L, 3L), (3L, 2L, 3L, 6L),
      (2L, 3L, 0L, 6L)))
  }

  test("greedy coverage ties break by smallest id") {
    import graft.text.MmrSelect
    val pool = Seq((5L, Seq("x", "y")), (2L, Seq("p", "q")))
      .toDF("id", "s")
    val first = MmrSelect.coverSelect(pool, "id", "s", k = 1)
      .select($"id").as[Long].head()
    assert(first == 2L)
  }

  test("water-filling: budget covering the total keeps everything") {
    val cs = Seq(("a", 10L), ("b", 20L)).toDF("k", "n")
    val caps = Sampling.waterFillCaps(cs, Seq("k"), "n", 1, 1)
      .orderBy($"k").as[(String, Long, Long)].collect().toSeq
    assert(caps == Seq(("a", 10L, 10L), ("b", 20L, 20L)))
  }
}
