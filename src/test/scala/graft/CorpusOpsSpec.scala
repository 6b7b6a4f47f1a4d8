package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.{SemDedup, Similarity}
import graft.text.{DupSpans, Redaction, Sharding}

/** Round-4 corpus operators: semantic dedup, PII redaction, epoch
  * sharding, duplicate-span coverage, filtered vector search.
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- SemDedup -------------------------------------------------------

  private def unitVec(axis: Int, dims: Int = 8): Array[Float] =
    Array.tabulate(dims)(i => if (i == axis) 1f else 0f)

  /** Vectors along the same axis share every hyperplane sign; opposite
    * axes differ. Scaled copies are cosine-1 duplicates. */
  private lazy val vecs = Seq(
    (1L, unitVec(0)),
    (2L, unitVec(0).map(_ * 2f)), // cos=1 dup of 1, same cell
    (3L, unitVec(0).map(_ * 5f)), // cos=1 dup of 1, same cell
    (4L, unitVec(3)))             // orthogonal to all
    .toDF("id", "vec")

  test("semanticDedup keeps the lowest id of an in-cell duplicate group") {
    val kept = SemDedup.semanticDedup(vecs, "id", "vec",
      dims = 8, threshold = 0.9, cellBits = 3)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(1L))
    assert(!kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(4L)) // nothing similar to it
  }

  test("semanticDedup drop rule is against ALL lower ids, not survivors") {
    // chain: a~b (cos .95), b~c (cos .95), a~c (cos .81 < t) — one-pass
    // parallel rule drops BOTH b and c (c has lower-id near-dup b even
    // though b itself is dropped): the documented contract
    val a = Array(1f, 0f, 0f, 0f)
    val rot = math.Pi / 10 // 18° steps: cos 18° ≈ .951, cos 36° ≈ .809
    def rotated(t: Double) =
      Array(math.cos(t).toFloat, math.sin(t).toFloat, 0f, 0f)
    val chain = Seq((1L, a), (2L, rotated(rot)), (3L, rotated(2 * rot)))
      .toDF("id", "vec")
    val kept = SemDedup.semanticDedup(chain, "id", "vec",
      dims = 4, threshold = 0.9, cellBits = 1)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("semanticDedupBanded always drops positively-scaled duplicates") {
    // a positive scaling preserves every hyperplane sign, so an exact
    // (cos=1) duplicate shares ALL band buckets — banded dedup can never
    // miss it, whatever the plane geometry
    val kept = SemDedup.semanticDedupBanded(vecs, "id", "vec",
      dims = 8, threshold = 0.99, bands = 4, rowsPerBand = 2)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("banded dedup below the selectivity crossover (t=0.4): the math") {
    // q81 runs banding in the regime it is FOR (t = 0.8, 10 bands x 6
    // bits). This spec keeps the LOW-threshold regime honest. Pair
    // recall is 1 - (1 - p^r)^B with p = 1 - arccos(t)/pi:
    def recall(t: Double, r: Int, b: Int): Double = {
      val p = 1.0 - math.acos(t) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, r), b)
    }
    // at t = 0.4 the production 10x6 shape recalls under half the
    // qualifying pairs — useless for dedup...
    assert(recall(0.4, 6, 10) < 0.5)
    // ...while a shape with acceptable recall (15x4 ≈ 93%) has only
    // 2^4 = 16 buckets per band: ~n/16 vectors per bucket, so expected
    // candidates per band ≈ n²/16 and 15 bands regenerate ≈ all pairs —
    // banding costs MORE than the blocked exact scan
    // (Similarity.cosineNearDupPairs). That is the crossover: below
    // t ≈ 0.6, use the exact scan; banding pays at true near-dup
    // thresholds.
    assert(recall(0.4, 4, 15) > 0.9)
    assert(15.0 / 16.0 * 2 > 1.0) // 15 bands x n²/16 pairs ≥ all n²/2 pairs
    // and the low-threshold keep rule itself stays correct: with
    // all-band-colliding duplicates (cos = 1 scalings), banded t = 0.4
    // drops exactly the non-minimal ids
    val kept = SemDedup.semanticDedupBanded(vecs, "id", "vec",
      dims = 8, threshold = 0.4, bands = 15, rowsPerBand = 4)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("semanticDedup is independent of input partitioning") {
    val base = SemDedup.semanticDedup(vecs, "id", "vec",
      dims = 8, threshold = 0.9, cellBits = 3).orderBy("id").collect().toSeq
    val shuffled = SemDedup.semanticDedup(vecs.repartition(7), "id", "vec",
      dims = 8, threshold = 0.9, cellBits = 3).orderBy("id").collect().toSeq
    assert(base === shuffled)
  }

  // ---- Redaction ------------------------------------------------------

  private def redactOne(s: String): (String, Map[String, Long]) = {
    val df = Seq(Tuple1(s)).toDF("t")
    val counts = Redaction.matchCounts(col("t"))
    val row = df.select(
      Redaction.redact(col("t")).as("r") +:
        counts.map { case (n, c) => c.as(n) }: _*).head
    (row.getString(0),
      Redaction.Rules.map(r => r.name -> row.getAs[Long](r.name)).toMap)
  }

  test("redaction replaces each PII kind with its typed token") {
    val (r, c) = redactOne(
      "mail a.b-c%d@ex.co, call 555-123-4567, host 192.168.0.1 ok")
    assert(r === "mail <EMAIL>, call <PHONE>, host <IP> ok")
    assert(c === Map("email" -> 1L, "phone" -> 1L, "ipv4" -> 1L))
  }

  test("redaction rule order: text consumed by email is not re-counted as phone") {
    // a phone-shaped local part is spent by the email rule (which runs
    // first), so the phone count stays 0; an IP-hosted "email" does NOT
    // match the email pattern (alphabetic TLD required) and falls through
    // to the IP rule — both behaviors are the documented sequencing
    val (r1, c1) = redactOne("send to 555-123-4567@ex.co please")
    assert(r1 === "send to <EMAIL> please")
    assert(c1("email") === 1L && c1("phone") === 0L)
    val (r2, c2) = redactOne("from u@10.0.0.7 at 10.0.0.9")
    assert(r2 === "from u@<IP> at <IP>")
    assert(c2("email") === 0L && c2("ipv4") === 2L)
  }

  test("redaction placeholders are never re-matched and counts sum to replacements") {
    val (r, c) = redactOne("555-000-1111 555-222-3333 and 1.2.3.4")
    assert(r === "<PHONE> <PHONE> and <IP>")
    assert(c("phone") === 2L && c("ipv4") === 1L && c("email") === 0L)
  }

  test("phone boundaries: digits glued to a longer number do not match") {
    val (r, c) = redactOne("id 9555-123-45678 stays")
    assert(r === "id 9555-123-45678 stays")
    assert(c.values.sum === 0L)
  }

  // ---- Sharding -------------------------------------------------------

  private lazy val ids = (0L until 200L).toDF("doc_id")

  test("shuffleShards: shards in range, positions dense 1..count per shard") {
    val out = Sharding.shuffleShards(ids, "doc_id", nShards = 8, salt = "s1")
    val byShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"),
        countDistinct("pos").as("d"))
      .collect()
    assert(byShard.map(_.getAs[Long]("n")).sum === 200L)
    byShard.foreach { r =>
      assert(r.getAs[Long]("shard") >= 0 && r.getAs[Long]("shard") < 8)
      assert(r.getAs[Int]("lo") === 1)
      assert(r.getAs[Int]("hi").toLong === r.getAs[Long]("n"))
      assert(r.getAs[Long]("d") === r.getAs[Long]("n"))
    }
  }

  test("shuffleShards is deterministic and partitioning-independent") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Sharding.shuffleShards(df, "doc_id", 8, "s1")
        .select("doc_id", "shard", "pos").orderBy("doc_id").collect().toSeq
    assert(run(ids) === run(ids.repartition(13)))
  }

  test("a different salt reorders the corpus") {
    def order(salt: String) =
      Sharding.shuffleShards(ids, "doc_id", 8, salt)
        .orderBy("shard", "pos").select("doc_id").as[Long].collect().toSeq
    assert(order("epoch1") !== order("epoch2"))
  }

  test("shard order is uncorrelated with id order (it IS a shuffle)") {
    val firstShard = Sharding.shuffleShards(ids, "doc_id", 1, "s1")
      .orderBy("pos").select("doc_id").as[Long].collect().toSeq
    assert(firstShard !== firstShard.sorted)
  }

  // ---- DupSpans -------------------------------------------------------

  test("dup-span coverage unions overlapping spans and skips unique text") {
    // "a b c d e" in docs 1&2 -> every shingle of both duplicated;
    // doc 3 shares only its first shingle "a b c" (positions 0..2);
    // doc 4 is fully unique
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "a b c x y z w"),
      (4L, "p q r s t u"))
      .toDF("doc_id", "text")
    val out = DupSpans.coverage(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    // doc 1: 3 shingles all dup: starts 0,1,2 -> covered = 3+1+1 = 5 (all)
    assert(out(0).getAs[Long]("n_dup_shingles") === 3L)
    assert(out(0).getAs[Long]("covered_tokens") === 5L)
    assert(out(0).getAs[Double]("dup_frac") === 1.0)
    // doc 3: only "a b c" dup -> covered 3 of 7
    assert(out(2).getAs[Long]("n_dup_shingles") === 1L)
    assert(out(2).getAs[Long]("covered_tokens") === 3L)
    // doc 4: nothing duplicated
    assert(out(3).getAs[Long]("n_dup_shingles") === 0L)
    assert(out(3).getAs[Long]("covered_tokens") === 0L)
    assert(out(3).getAs[Double]("dup_frac") === 0.0)
  }

  test("dup-span coverage counts within-doc repetition too") {
    // "x y z x y z x y z": shingle "x y z" occurs 3 times in ONE doc
    val docs = Seq((1L, "x y z x y z x y z"), (2L, "totally other words here"))
      .toDF("doc_id", "text")
    val row = DupSpans.coverage(docs, "doc_id", "text", n = 3)
      .filter(col("doc_id") === 1).head
    // all 7 rolling shingles repeat ("x y z" ×3, "y z x" ×2, "z x y" ×2)
    assert(row.getAs[Long]("n_dup_shingles") === 7L)
    assert(row.getAs[Long]("covered_tokens") === 9L) // spans tile the doc
  }

  test("dup-span coverage matches hotN=0-free small-path across hotN settings") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "u v w x y")).toDF("doc_id", "text")
    def run(hotN: Int) = DupSpans.coverage(docs, "doc_id", "text", 3, hotN)
      .orderBy("doc_id").collect().toSeq
    assert(run(1) === run(1024)) // hot/tail split never changes the answer
  }

  // ---- CorpusReport ---------------------------------------------------

  test("corpus report: integer-exact counts, bins, fertility per source") {
    import graft.text.CorpusReport
    val docs = Seq(
      (1L, "a b c", "en", "s1"),        // 3 tokens
      (2L, ("x " * 60).trim, "en", "s1"), // 60 tokens
      (3L, "uno dos", "es", "s1"),      // 2 tokens
      (4L, "q r s t", "en", "s2"))      // 4 tokens
      .toDF("doc_id", "text", "lang", "source")
    val rows = CorpusReport.perSource(docs, "source", "text", "lang")
      .orderBy("source").collect()
    val s1 = rows(0)
    assert(s1.getAs[Long]("n_docs") === 3L)
    assert(s1.getAs[Long]("n_tokens") === 65L)
    assert(s1.getAs[Long]("n_langs") === 2L)
    assert(s1.getAs[Long]("bin_0_50") === 2L)   // 3- and 2-token docs
    assert(s1.getAs[Long]("bin_50_100") === 1L) // the 60-token doc
    // fertility: every token here is one letter-run subtoken
    assert(s1.getAs[Double]("fertility") === 1.0)
    assert(rows(1).getAs[Long]("n_docs") === 1L)
  }

  // ---- bigram surprise (q84 semantics) --------------------------------

  test("bigram surprise: deterministic continuations floor at 1e6, " +
    "common-prefix rare continuations score above") {
    val q = graft.queries.Registry.byName("q84_bigram_surprise")
    val dir = TestSpark.tempDir("graft_q84")
    Seq(
      (1L, "a b a b a b a b", "en", "s1"), // 'b' continues to 'a' 3 of 6 times
      (2L, "k l m n o p q r", "en", "s1"), // every continuation deterministic
      (3L, "a b c d a b c d", "en", "s1")) // 'b'->'c' is the rarer b-continuation
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val out = q.run(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("bigram_surprise")).toMap
    // tokens seen nowhere else have p(v|w) = 1: the backoff-free
    // conditional model's floor — the documented OOV property
    assert(out(2) === 1e6)
    // doc 3 mixes the common 'a b' with the rarer 'b c'/'d a' continuations
    assert(out(1) < out(3))
    assert(out.values.forall(_ >= 1e6))
  }

  // ---- filteredTopK ---------------------------------------------------

  test("filteredTopK never crosses the attribute boundary") {
    val emb = Seq(
      (1L, Array(1f, 0f), "en"), (2L, Array(0.9f, 0.1f), "en"),
      (3L, Array(1f, 0f), "de"), (4L, Array(0.95f, 0.05f), "de"),
      (5L, Array(0f, 1f), "en"))
      .toDF("id", "vec", "lang")
    val out = Similarity.filteredTopK(emb, emb.filter(col("id") <= 2),
      "id", "vec", matchCols = Seq("lang"), k = 2)
    val pairs = out.select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    // doc 3 is an EXACT match of doc 1's vector but in another lang:
    // must never appear
    assert(!pairs.exists(_._2 == 3L))
    assert(!pairs.exists(_._2 == 4L))
    // query 1's matched neighbors are exactly {2, 5}
    assert(pairs.filter(_._1 == 1L).map(_._2).toSet === Set(2L, 5L))
  }

  test("filteredTopK ranks by cosine with deterministic tie-break") {
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
      (3L, Array(1f, 0f), 0), (4L, Array(0f, 1f), 0))
      .toDF("id", "vec", "grp")
    val rows = Similarity.filteredTopK(emb, emb.filter(col("id") === 1),
      "id", "vec", Seq("grp"), k = 3)
      .orderBy("rank")
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
    // cos=1 ties broken by neighbor id; orthogonal vector ranks last
    assert(rows === Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  // ---- cross-corpus near-dup decontamination --------------------------

  test("crossCorpusNearDupNew drops near-dups of OLD docs only") {
    val mk = (words: Seq[String]) => words.mkString(" ")
    val base = (0 until 12).map(i => s"w${i * 7 % 11}")
    val oldDocs = Seq(
      (1L, mk(base)),
      (2L, mk(Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")))
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, mk(base)),                       // exact copy of old 1 → dropped
      (11L, mk(base :+ "tail")),             // near-dup of old 1 → dropped
      (12L, mk((0 until 12).map(i => s"x$i"))),  // novel → kept
      (13L, mk((0 until 12).map(i => s"x$i")))   // near-dup of NEW 12 → kept
    ).toDF("doc_id", "text")
    val kept = graft.dedup.Dedup
      .crossCorpusNearDupNew(newDocs, oldDocs, "doc_id", "text",
        threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(12L, 13L))
  }

  test("crossCorpusNearDupNew with an empty old corpus keeps everything") {
    val newDocs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"))
      .toDF("doc_id", "text")
    val oldDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val kept = graft.dedup.Dedup
      .crossCorpusNearDupNew(newDocs, oldDocs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L))
  }

  // ---- context-length planning sweep ----------------------------------

  test("planSweep: exact chunk counts, padding, and fill per candidate") {
    val docs = Seq(
      (1L, (1 to 5).map(i => s"t$i").mkString(" ")),   // 5 tokens
      (2L, (1 to 16).map(i => s"t$i").mkString(" ")),  // 16 tokens
      (3L, (1 to 17).map(i => s"t$i").mkString(" "))   // 17 tokens
    ).toDF("doc_id", "text")
    val rows = graft.text.Chunking.planSweep(docs, "text", Seq(16, 8))
      .orderBy("max_len")
      .select("max_len", "docs", "total_tokens", "total_chunks",
        "total_padding", "fill_frac")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    // max_len 8: chunks = 1 + 2 + 3 = 6, padding = 3 + 0 + 7 = 10
    // max_len 16: chunks = 1 + 1 + 2 = 4, padding = 11 + 0 + 15 = 26
    assert(rows === Seq(
      (8L, 3L, 38L, 6L, 10L, 38.0 / 48),
      (16L, 3L, 38L, 4L, 26L, 38.0 / 64)))
  }

  test("planSweep and chunk exclude null-text docs instead of -1 garbage") {
    // Spark's legacy sizeOfNull makes size(tokens(null)) = -1, which
    // would feed chunk counts and padding sums garbage; the operator
    // contract is that null-text docs contribute nothing
    val docs = Seq((1L, Option("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val sweep = graft.text.Chunking.planSweep(docs, "text", Seq(8))
      .select("docs", "total_tokens", "total_chunks", "total_padding")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(sweep === Seq((1L, 3L, 1L, 5L)))
    val chunks = graft.text.Chunking.chunk(docs, "doc_id", "text", 2, 2)
      .select("doc_id", "chunk_idx", "n_chunk_tokens")
      .as[(Long, Int, Long)].collect().toSet
    assert(chunks === Set((1L, 0, 2L), (1L, 1, 1L)))
  }

  // ---- BM25 retrieval -------------------------------------------------

  test("BM25 matches a driver-side reference; rarer terms score higher") {
    import graft.text.Bm25
    val docs = Seq(
      (1L, "spark shuffle join"),
      (2L, "spark spark spark broadcast"),
      (3L, "shuffle partition skew salt"),
      (4L, "join join shuffle spark"),
      (5L, "rareword spark")).toDF("doc_id", "text")
    val got = Bm25.topK(docs, docs.filter(col("doc_id") === 1L),
        "doc_id", "text", k = 4, excludeSelf = true)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // driver reference: same formula, same DECIMAL(18,9) quantization
    val corpus = Map(
      1L -> Seq("spark", "shuffle", "join"),
      2L -> Seq("spark", "spark", "spark", "broadcast"),
      3L -> Seq("shuffle", "partition", "skew", "salt"),
      4L -> Seq("join", "join", "shuffle", "spark"),
      5L -> Seq("rareword", "spark"))
    val n = corpus.size
    val total = corpus.values.map(_.size).sum
    val avgdl = total.toDouble / n
    val dfm = corpus.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    def q9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val queryTerms = corpus(1L).distinct
    val expected = corpus.filter(_._1 != 1L).map { case (d, toks) =>
      val score = queryTerms.flatMap { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) None else {
          val df = dfm(t)
          val idf = math.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))
          val norm = 1.2 * (0.25 + 0.75 * (toks.size.toDouble / avgdl))
          Some(q9(idf * ((tf.toDouble * 2.2) / (tf.toDouble + norm))))
        }
      }.sum
      d -> score.toDouble
    }
    val ranked = expected.toSeq.sortBy { case (d, s) => (-s, d) }
      .zipWithIndex.map { case ((d, s), i) => (i + 1, d, s) }
    assert(got.toSeq === ranked)
    // the doc containing the corpus-rare query term outranks one that
    // merely repeats a common term
    val rare = Bm25.topK(docs, docs.filter(col("doc_id") === 5L),
        "doc_id", "text", k = 4, excludeSelf = true)
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(rare.nonEmpty) // 'rareword' matches nothing else; spark does
    // self-exclusion: no query doc in its own results
    assert(!got.exists(_._2 == 1L))
  }

  test("BM25 stored-index round-trip: write + read + score == direct topK") {
    import graft.text.Bm25
    import graft.sources.ManifestCommit
    val docs = Seq(
      (1L, "spark shuffle join"),
      (2L, "spark spark spark broadcast"),
      (3L, "shuffle partition skew salt"),
      (4L, "join join shuffle spark"),
      (5L, "rareword spark")).toDF("doc_id", "text")
    val dir = TestSpark.tempDir("graft_bm25_idx").toString
    Bm25.writeIndex(docs, "doc_id", "text", dir)
    val stored = Bm25.topKFromIndex(ManifestCommit.read(spark, dir),
        docs.filter(col("doc_id") <= 2L), "doc_id", "text",
        k = 4, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val direct = Bm25.topK(docs, docs.filter(col("doc_id") <= 2L),
        "doc_id", "text", k = 4, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(stored === direct)
    // a rebuild publishes a NEW generation atomically
    Bm25.writeIndex(docs, "doc_id", "text", dir)
    assert(ManifestCommit.latest(dir).map(_._1) === Some(2L))
  }

  // ---- histogram quantile sketch ----------------------------------------

  test("HistogramSketch: est is the exact quantile's bucket floor") {
    import graft.operators.HistogramSketch
    // group A: values 1..100 -> p50 exact = 50 (bucket [32,64) -> est 32),
    // p90 = 90 -> bucket [64,128) -> est 64; group B: constant 7 -> est 4
    val rows = (1L to 100L).map(v => ("A", v)) ++ Seq.fill(10)(("B", 7L))
    val df = rows.toDF("grp", "v")
    val bounds = 0L +: (0 to 10).map(1L << _)
    val got = HistogramSketch.quantiles(df, "v", Seq("grp"),
        boundaries = bounds, permille = Seq(500, 900))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("A", 500)) === ((100L, 32L)))
    assert(got(("A", 900)) === ((100L, 64L)))
    assert(got(("B", 500)) === ((10L, 4L)))
    assert(got(("B", 900)) === ((10L, 4L)))
    // partitioning independence (exact integer counts)
    val shuffled = HistogramSketch.quantiles(df.repartition(7), "v",
        Seq("grp"), boundaries = bounds, permille = Seq(500, 900))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(shuffled === got)
    intercept[IllegalArgumentException] {
      HistogramSketch.quantiles(df, "v", Seq("grp"), Seq(4L, 2L), Seq(500))
    }
    intercept[IllegalArgumentException] {
      HistogramSketch.quantiles(df, "v", Seq("grp"), bounds, Seq(0))
    }
    // a value below boundaries.head (or null) fails LOUDLY at runtime
    // instead of silently shifting every estimate
    val bad = intercept[Exception] {
      HistogramSketch.quantiles(df, "v", Seq("grp"),
        boundaries = Seq(10L, 20L), permille = Seq(500)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(bad).exists(_.contains("below boundaries.head")))
  }

  // ---- TextRank / integer PageRank -------------------------------------

  test("pageRank: integer-exact vs driver power iteration; hub ranks first") {
    import graft.text.TextRank
    // star (hub-x/y/z) plus a 2-chain (p-q), symmetrized
    val raw = Seq(("hub", "x", 3L), ("hub", "y", 2L), ("hub", "z", 1L),
      ("p", "q", 5L))
    val edges = (raw ++ raw.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val got = TextRank.pageRank(edges, "src", "dst", "w", iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver-side replication of the exact floor arithmetic
    val adj = (raw ++ raw.map(e => (e._2, e._1, e._3)))
      .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    val wout = adj.view.mapValues(_.map(_._2).sum).toMap
    val nodes = adj.keySet
    val n = nodes.size
    val scale = 1000000000L
    val base = (3L * scale) / (20L * n)
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to 4) {
      val recv = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((u, outs) <- adj; (v, w) <- outs)
        recv(v) += (17L * ((w * r(u)) / wout(u))) / 20L
      r = nodes.map(v => v -> (base + recv(v))).toMap
    }
    assert(got === r)
    // the hub receives from three neighbors; chain nodes from one
    assert(got("hub") > got("x") && got("hub") > got("p"))
    // partitioning independence is trivial for integer math — pin it
    val shuffled = TextRank.pageRank(edges.repartition(7), "src", "dst", "w",
      iterations = 4).collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    assert(shuffled === got)
  }

  // ---- weighted sampling without replacement --------------------------

  private lazy val weighted = {
    val light = (1L to 200L).map(i => (i, 1L))
    (light :+ (999L, 100000L)).toDF("id", "w")
  }

  test("weightedSample matches driver-side re-ranking of the keyed frame") {
    import graft.text.Sampling
    val full = weighted
      .withColumn("es_key",
        pow((graft.functions.PolyHash.saltedHash(col("id"), "t1")
          .cast("double") + lit(0.5)) / lit(2147483647.0),
          lit(1.0) / col("w").cast("double")))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val want = full.sortBy { case (id, key) => (-key, id) }.take(10)
      .map(_._1).toSeq
    val got = Sampling.weightedSample(weighted, "id", "w", k = 10, salt = "t1")
      .orderBy(col("es_key").desc, col("id"))
      .select("id").as[Long].collect().toSeq
    assert(got === want)
  }

  test("weightedSample favors heavy rows and excludes non-positive weights") {
    import graft.text.Sampling
    for (salt <- Seq("a", "b", "c")) {
      val ids = Sampling.weightedSample(weighted, "id", "w", k = 10, salt)
        .select("id").as[Long].collect().toSet
      assert(ids.contains(999L), s"heavy row missed under salt $salt")
    }
    val withBad = weighted.union(Seq((500L, 0L), (501L, -3L)).toDF("id", "w"))
    val ids = Sampling.weightedSample(withBad, "id", "w", k = 300, salt = "a")
      .select("id").as[Long].collect().toSet
    assert(!ids.contains(500L) && !ids.contains(501L))
    assert(ids.size === 201)
  }

  test("weightedSample plans as TakeOrderedAndProject, not a full sort") {
    import graft.text.Sampling
    val plan = Sampling.weightedSample(weighted, "id", "w", k = 5, salt = "p")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }
}
