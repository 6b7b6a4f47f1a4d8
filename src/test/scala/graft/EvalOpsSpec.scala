package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.AnnEval
import graft.text.{Sampling, Versioning}

/** Round-5 evaluation + versioning operators: snapshot diff, ANN
  * recall@k, token-budget selection.
  */
class EvalOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Versioning.snapshotDiff ---------------------------------------

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "text")
    val got = Versioning.snapshotDiff(oldSnap, newSnap, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("snapshotDiff treats null text as empty, not as absence") {
    // id 1: null -> null is UNCHANGED (both fingerprint as ""); id 2:
    // null -> "x" is changed. A null-fp implementation would call both
    // 'added' because the null fp poisons the comparison.
    val oldSnap = Seq((1L, null: String), (2L, null: String))
      .toDF("id", "text")
    val newSnap = Seq((1L, null: String), (2L, "x")).toDF("id", "text")
    val got = Versioning.snapshotDiff(oldSnap, newSnap, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed"))
  }

  test("snapshotDiff ignores whitespace-only edits (trim contract)") {
    val oldSnap = Seq((1L, "a b")).toDF("id", "text")
    val newSnap = Seq((1L, "  a b  ")).toDF("id", "text")
    val got = Versioning.snapshotDiff(oldSnap, newSnap, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged"))
  }

  // ---- AnnEval.recallAtK ---------------------------------------------

  private lazy val truth = Seq(
    (1L, 10L), (1L, 11L), (1L, 12L), // full truth list
    (2L, 20L), (2L, 21L), (2L, 22L),
    (3L, 30L), (3L, 31L), (3L, 32L),
    (4L, 40L))                       // short truth list (end of corpus)
    .toDF("q", "n")

  test("recallAtK: perfect, partial, and missed queries") {
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), // all 3 hit
      (2L, 20L), (2L, 99L), (2L, 98L)) // 1 of 3; q 3 entirely absent
      .toDF("q", "n")
    val got = AnnEval.recallAtK(truth, approx, "q", "n", k = 3)
      .select("q", "hits", "recall")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(1L) == ((3L, 1.0)))
    assert(got(2L) == ((1L, 1.0 / 3.0)))
    assert(got(3L) == ((0L, 0.0)))
  }

  test("recallAtK divides by the true list size when it is below k") {
    val approx = Seq((4L, 40L)).toDF("q", "n")
    val row = AnnEval.recallAtK(truth, approx, "q", "n", k = 3)
      .where($"q" === 4L).select("n_truth", "hits", "recall")
      .as[(Long, Long, Double)].collect().head
    assert(row == ((1L, 1L, 1.0)))
  }

  test("recallAtK is insensitive to duplicate approx rows") {
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 10L)).toDF("q", "n")
    val row = AnnEval.recallAtK(truth, approx, "q", "n", k = 3)
      .where($"q" === 1L).select("hits").as[Long].collect().head
    assert(row == 1L)
  }

  // ---- Drift.psi ------------------------------------------------------

  test("psi is zero for a stratum distributed like the population") {
    // two strata with IDENTICAL histograms: p == q in every bucket for
    // both strata (each is half of the population), so every term is 0.
    // Value derives from i/2 so consecutive (odd, even) pairs share a
    // value — stratum (i % 2) is independent of bucket ((i/2) % 4).
    val rows = (1L to 40L).map(i =>
      (if (i % 2 == 0) "a" else "b", ((i / 2) % 4) * 10 + 5))
    val got = graft.text.Drift.psi(rows.toDF("s", "v"), "v", "s",
      boundaries = Seq(0L, 10L, 20L, 30L))
      .select("s", "psi").as[(String, Double)].collect().toMap
    assert(got("a") == 0.0 && got("b") == 0.0)
  }

  test("psi matches a driver-side reference, eps-floored empty buckets included") {
    val bounds = Seq(0L, 10L, 20L)
    val eps = 1e-4
    // stratum a: all rows in bucket 0; b: spread — a misses buckets 1,2
    // entirely, exercising the eps floor on the p side
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 11L), ("b", 21L))
    def bucket(v: Long) = bounds.count(v >= _) - 1
    val cnt = rows.groupBy(r => (r._1, bucket(r._2)))
      .view.mapValues(_.size.toLong).toMap
    val perS = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val gN = rows.size.toLong
    def ref(s: String): Double = bounds.indices.map { b =>
      val p = math.max(cnt.getOrElse((s, b), 0L).toDouble / perS(s), eps)
      val gq = math.max(
        cnt.filter(_._1._2 == b).values.sum.toDouble / gN, eps)
      BigDecimal((p - gq) * math.log(p / gq))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val got = graft.text.Drift.psi(rows.toDF("s", "v"), "v", "s",
      bounds, eps)
      .select("s", "psi").as[(String, Double)].collect().toMap
    assert(math.abs(got("a") - ref("a")) < 1e-12, s"${got("a")} vs ${ref("a")}")
    assert(math.abs(got("b") - ref("b")) < 1e-12)
    assert(got("a") > 0.25, "a concentrates in one bucket: large PSI expected")
  }

  test("psi fails loudly on values below the histogram head") {
    val ex = intercept[Exception] {
      graft.text.Drift.psi(Seq(("a", -5L)).toDF("s", "v"), "v", "s",
        Seq(0L, 10L)).collect()
    }
    assert(ex.getMessage != null)
  }

  test("psiBetween: zero for identical sides, positive for a shifted stratum") {
    val bounds = Seq(0L, 10L, 20L)
    val a = Seq(("x", 1L), ("x", 11L), ("x", 21L), ("y", 1L), ("y", 1L))
      .toDF("s", "v")
    // identical snapshots → psi exactly 0 for every stratum
    val same = graft.text.Drift.psiBetween(a, a, "v", "s", bounds)
      .select("s", "psi").as[(String, Double)].collect().toMap
    assert(same("x") == 0.0 && same("y") == 0.0)
    // y shifts all its mass to the top bucket in the new snapshot
    val b = Seq(("x", 1L), ("x", 11L), ("x", 21L), ("y", 21L), ("y", 21L))
      .toDF("s", "v")
    val drift = graft.text.Drift.psiBetween(a, b, "v", "s", bounds)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(drift("x")._3 == 0.0)
    assert(drift("y")._3 > 1.0, s"shifted stratum must show large PSI: ${drift("y")}")
    assert(drift("y")._1 === 2L && drift("y")._2 === 2L)
  }

  test("psiBetween: a stratum absent from one side floors at eps, not dropped") {
    val bounds = Seq(0L, 10L)
    val a = Seq(("x", 1L), ("gone", 1L)).toDF("s", "v")
    val b = Seq(("x", 1L), ("new", 11L)).toDF("s", "v")
    val got = graft.text.Drift.psiBetween(a, b, "v", "s", bounds)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet === Set("x", "gone", "new"))
    // one-sided strata: every present-side bucket term compares against
    // the eps floor — a large positive signal, never silence
    assert(got("gone") > 1.0 && got("new") > 1.0)
    assert(got("x") == 0.0)
  }

  // ---- Anomaly.sigmaFlags --------------------------------------------

  test("sigmaFlags flags exactly the points beyond k sigma, per group") {
    // group a: 9 points at 100, one at 200 — mean 110, var 900, σ=30;
    // |200-110| = 90 = 3σ exactly, NOT > 3σ; at k=2 it flags.
    val a = (1 to 9).map(i => ("a", i.toLong, 100L)) :+ (("a", 10L, 200L))
    // group b: constant series — zero variance, nothing flags
    val b = (1 to 10).map(i => ("b", i.toLong, 7L))
    val df = (a ++ b).toDF("g", "bucket", "t")
    def flagged(k: Int) =
      graft.operators.Anomaly.sigmaFlags(df, Seq("g"), "t", k)
        .where($"is_anomaly").select("g", "bucket")
        .as[(String, Long)].collect().toSet
    assert(flagged(2) == Set(("a", 10L))) // strict > at the boundary
    assert(flagged(3) == Set.empty)       // 3σ exactly is not > 3σ
  }

  test("sigmaFlags fails loudly on null values and null group keys") {
    // a null value would count in H but not in the sums — corrupting
    // the variance for its whole group; a null key would vanish in the
    // stats join. Both must raise, not skew.
    val nullVal = Seq(("a", 1L, Some(10L)), ("a", 2L, None))
      .toDF("g", "bucket", "t")
    assertThrows[Exception] {
      graft.operators.Anomaly.sigmaFlags(nullVal, Seq("g"), "t", 3).collect()
    }
    val nullKey = Seq((Some("a"), 1L, 10L), (None: Option[String], 2L, 20L))
      .toDF("g", "bucket", "t")
    assertThrows[Exception] {
      graft.operators.Anomaly.sigmaFlags(nullKey, Seq("g"), "t", 3).collect()
    }
  }

  test("sigmaFlags groups are independent") {
    // identical spike in both groups, but b's baseline is noisy enough
    // to absorb it
    val a = (1 to 20).map(i => ("a", i.toLong, 100L)) :+ (("a", 21L, 160L))
    val bVals = Seq(40L, 160L, 40L, 160L, 40L, 160L, 40L, 160L, 40L, 160L)
    val b = bVals.zipWithIndex.map { case (v, i) => ("b", i.toLong, v) } :+
      (("b", 99L, 160L))
    val got = graft.operators.Anomaly.sigmaFlags(
      (a ++ b).toDF("g", "bucket", "t"), Seq("g"), "t", 3)
      .where($"is_anomaly").select("g", "bucket")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 21L)))
  }

  // ---- Drift streaming face ------------------------------------------

  test("streaming histogram in complete mode reproduces the batch PSI") {
    // the fixed-boundary histogram is a plain grouped count, hence a
    // valid incremental streaming aggregate: stream the rows in two
    // micro-batches, complete mode, and PSI over the final snapshot
    // must equal the one-shot batch psi()
    val bounds = Seq(0L, 10L, 20L, 30L)
    val rows = (1L to 60L).map(i => (s"s${i % 3}", (i * 7) % 40))
    val batch = graft.text.Drift.psi(rows.toDF("s", "v"), "v", "s", bounds)
      .select("s", "n_rows", "psi")
      .as[(String, Long, Double)].collect().toSet
    val dir = TestSpark.tempDir("graft_drift_src")
    rows.grouped(30).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = TestSpark.tempDir("graft_drift_stage")
      chunk.toSeq.toDF("s", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p, dir.resolve(s"part$i.parquet"))
          moved = true
        }
      }
      assert(moved)
    }
    import org.apache.spark.sql.types._
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("s", StringType),
        StructField("v", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val q = graft.text.Drift.histogram(stream, "v", "s", bounds)
      .writeStream.format("memory").queryName("drift_stream_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = graft.text.Drift.psiFromHistogram(
      spark.table("drift_stream_test"), bounds.size, stratumName = "s")
      .select("s", "n_rows", "psi")
      .as[(String, Long, Double)].collect().toSet
    q.stop()
    assert(got == batch)
  }

  // ---- Sampling.clusterSplit -----------------------------------------

  test("clusterSplit: clustered rows land in one split, singletons hash own id") {
    val df = (1L to 100L).toDF("id")
    // clusters: {1..10} -> 1, {20..24} -> 20
    val clusters = ((1L to 10L).map(_ -> 1L) ++ (20L to 24L).map(_ -> 20L))
      .toDF("doc_id", "cluster_id")
    val out = Sampling.clusterSplit(df, "id", clusters, 80, 10, "s1")
      .select("id", "rep_id", "split").as[(Long, Long, String)]
      .collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length == 100)
    // every member of a cluster shares the rep and the split
    assert((1L to 10L).map(byId(_)._2).toSet == Set(1L))
    assert((1L to 10L).map(byId(_)._3).toSet.size == 1)
    assert((20L to 24L).map(byId(_)._2).toSet == Set(20L))
    assert((20L to 24L).map(byId(_)._3).toSet.size == 1)
    // singletons: rep is the row id
    assert(byId(50L)._2 == 50L)
    // matches the plain split for singletons (same hash recipe)
    val plain = Sampling.hashBucket(col("id"), "s1")
    val plainBuckets = df.where($"id" > 24L)
      .select($"id", plain.as("b")).as[(Long, Long)].collect().toMap
    val outBuckets = Sampling.clusterSplit(df, "id", clusters, 80, 10, "s1")
      .where($"id" > 24L).select("id", "bucket")
      .as[(Long, Long)].collect().toMap
    assert(plainBuckets == outBuckets)
  }

  test("clusterSplit never lets a pair from the same cluster straddle splits") {
    // adversarial shape: many two-element clusters whose members' OWN
    // ids hash to different buckets — a row-hash split would separate
    // most of them
    val pairs = (1L to 50L).map(i => (i, i + 1000L))
    val df = pairs.flatMap(p => Seq(p._1, p._2)).toDF("id")
    val clusters = pairs.flatMap(p => Seq(p._1 -> p._1, p._2 -> p._1))
      .toDF("doc_id", "cluster_id")
    val split = Sampling.clusterSplit(df, "id", clusters, 60, 20, "s2")
      .select("id", "split").as[(Long, String)].collect().toMap
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b + 0L), s"pair ($a,$b) straddles splits")
    }
    // sanity: the row-hash split WOULD have straddled at least one pair
    val rowBucket = df.select($"id",
      Sampling.hashBucket(col("id"), "s2").as("b"))
      .as[(Long, Long)].collect().toMap
    def side(b: Long) = if (b < 60) "train" else if (b < 80) "val" else "test"
    assert(pairs.exists { case (a, b) =>
      side(rowBucket(a)) != side(rowBucket(b)) },
      "test shape too easy: row-hash split kept every pair together")
  }

  // ---- Sampling.budgetSelect -----------------------------------------

  /** The semantic spec: one global ordered cumulative sum. */
  private def naiveBudget(
      rows: Seq[(Long, Long, Double)], budget: Long): Seq[Long] = {
    val ordered = rows.filter(_._2 > 0)
      .sortBy { case (id, _, s) => (-s, id) }
    ordered.scanLeft((0L, 0L)) { case ((_, cum), (id, n, _)) =>
      (id, cum + n)
    }.drop(1).takeWhile(_._2 <= budget).map(_._1)
  }

  private lazy val budgetRows: Seq[(Long, Long, Double)] =
    (1L to 200L).map { i =>
      // scores collide across rows (i % 13) to exercise tie-breaks,
      // token counts vary 1..20
      (i, (i * 7) % 20 + 1, ((i * 31) % 13).toDouble / 13.0)
    }

  test("budgetSelect equals the global-cumsum spec, ties included") {
    val df = budgetRows.toDF("id", "toks", "score")
    for (budget <- Seq(50L, 500L, 1200L)) {
      val got = Sampling.budgetSelect(df, "id", "toks", "score", budget)
        .orderBy($"cum_tokens").select("id").as[Long].collect().toSeq
      assert(got == naiveBudget(budgetRows, budget), s"budget=$budget")
    }
  }

  test("budgetSelect boundary: a row landing exactly on the budget is kept") {
    val df = Seq((1L, 4L, 0.9), (2L, 6L, 0.5), (3L, 1L, 0.1))
      .toDF("id", "toks", "score")
    // cums: 4, 10, 11 — budget 10 keeps ids 1,2; budget 9 keeps only 1
    val at10 = Sampling.budgetSelect(df, "id", "toks", "score", 10L)
      .select("id").as[Long].collect().toSet
    assert(at10 == Set(1L, 2L))
    val at9 = Sampling.budgetSelect(df, "id", "toks", "score", 9L)
      .select("id").as[Long].collect().toSet
    assert(at9 == Set(1L))
  }

  test("budgetSelect result is bucketScale-independent") {
    val df = budgetRows.toDF("id", "toks", "score")
    def ids(scale: Int) =
      Sampling.budgetSelect(df, "id", "toks", "score", 700L, scale)
        .orderBy($"cum_tokens")
        .select("id", "cum_tokens").as[(Long, Long)].collect().toSeq
    // scale 1 collapses every score into one or two buckets (the
    // degenerate global-window case); 7, 1000 spread them — the kept
    // set and the running totals must not move
    assert(ids(1) == ids(1000) && ids(7) == ids(1000))
  }

  test("budgetSelect excludes null and non-positive token rows") {
    val df = Seq(
      (1L, Some(5L), 0.9), (2L, None, 0.8), (3L, Some(0L), 0.7),
      (4L, Some(-3L), 0.6), (5L, Some(5L), 0.5))
      .toDF("id", "toks", "score")
    val got = Sampling.budgetSelect(df, "id", "toks", "score", 100L)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 5L))
  }

  // ---- Relational.runningDistinct ------------------------------------

  test("runningDistinct counts first occurrences, repeats do not advance") {
    import graft.operators.Relational
    val e = Seq(
      (1L, "view", 10L), (1L, "view", 20L), (1L, "click", 30L),
      (1L, "view", 40L), (1L, "buy", 50L),
      (2L, "view", 15L))
      .toDF("u", "et", "t")
    val got = Relational.runningDistinct(e, Seq("u"), "et",
        Seq(col("t")))
      .select("u", "t", "n_distinct_so_far")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq((1L, 10L, 1L), (1L, 20L, 1L), (1L, 30L, 2L),
      (1L, 40L, 2L), (1L, 50L, 3L), (2L, 15L, 1L)))
    val plan = Relational.runningDistinct(e, Seq("u"), "et", Seq(col("t")))
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1,
      s"both windows must share one user-keyed exchange:\n$plan")
  }

  // ---- Relational.forwardFill / sequenceGaps -------------------------

  test("forwardFill carries the last observation, null before the first") {
    import graft.operators.Relational
    val t = Seq((1L, 10L, Option.empty[Long]), (1L, 20L, Some(5L)),
      (1L, 30L, None), (1L, 40L, Some(7L)), (1L, 50L, None),
      (2L, 10L, None)).toDF("k", "ts", "v")
    val got = Relational.forwardFill(t, Seq("k"), Seq(col("ts")), "v")
      .select("k", "ts", "v_filled")
      .as[(Long, Long, Option[Long])].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq((1L, 10L, None), (1L, 20L, Some(5L)),
      (1L, 30L, Some(5L)), (1L, 40L, Some(7L)), (1L, 50L, Some(7L)),
      (2L, 10L, None)))
  }

  test("sequenceGaps finds within-bucket, boundary, and whole-bucket holes") {
    import graft.operators.Relational
    // bucketSize 10: ids 1..35 minus {4}, {9,10,11} (straddles the
    // 9|10 boundary), all of 20..29 (a whole missing bucket)
    val present = (1L to 35L)
      .filterNot(i => i == 4L || (i >= 9 && i <= 11) || (i >= 20 && i <= 29))
    val got = Relational.sequenceGaps(present.toDF("id"), "id", 10L)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((4L, 4L), (9L, 11L), (20L, 29L)))
    // duplicates are benign
    val dup = Relational.sequenceGaps(
      Seq(1L, 2L, 2L, 3L, 7L).toDF("id"), "id", 10L)
      .as[(Long, Long)].collect().toSeq
    assert(dup == Seq((4L, 6L)))
  }

  // ---- Relational.modePerKey -----------------------------------------

  test("modePerKey picks the most frequent value, smallest on ties") {
    import graft.operators.Relational
    val t = Seq(("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "q"), ("b", "p"),          // tie: p wins (smallest)
      ("c", Option.empty[String].orNull))
      .toDF("g", "v")
    val got = Relational.modePerKey(t, Seq("g"), "v")
      .as[(String, String, Long)].collect().sortBy(_._1).toSeq
    // c had only nulls -> absent
    assert(got == Seq(("a", "x", 2L), ("b", "p", 1L)))
  }

  // ---- OrderStats.quantilesDisc --------------------------------------

  test("quantilesDisc selects the exact order statistics") {
    import graft.operators.OrderStats
    // group a: 1..10 -> p500 is rank ceil(5)=5 -> 5; p900 rank 9; p990
    // rank ceil(9.9)=10; group b: single value -> every p selects it
    val t = ((1 to 10).map(v => ("a", v.toLong)) :+ ("b", 42L))
      .toDF("g", "v")
    val got = OrderStats.quantilesDisc(t, Seq("g"), "v",
        Seq(500, 900, 990))
      .as[(String, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(("a", 500, 5L), ("a", 900, 9L), ("a", 990, 10L),
      ("b", 500, 42L), ("b", 900, 42L), ("b", 990, 42L)))
  }

  test("quantilesDisc: nulls excluded, ties benign, bad permilles refused") {
    import graft.operators.OrderStats
    val t = Seq(("a", Some(7L)), ("a", Some(7L)), ("a", Some(7L)),
      ("a", Option.empty[Long])).toDF("g", "v")
    val got = OrderStats.quantilesDisc(t, Seq("g"), "v", Seq(1000))
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(("a", 1000, 7L)))
    assertThrows[IllegalArgumentException] {
      OrderStats.quantilesDisc(t, Seq("g"), "v", Seq(0))
    }
    assertThrows[IllegalArgumentException] {
      OrderStats.quantilesDisc(t, Seq("g"), "v", Seq(500, 500))
    }
  }
}
