package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.multimodal.MultiModal
import graft.sim.Similarity
import graft.text.TextAnalysis
import graft.functions.PolyHashImpl
import org.apache.spark.unsafe.types.UTF8String

class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "der schnelle braune fuchs und die katze und das haus und der hund ist"),
    (4L, "completely different words about spark query engines and shuffles here"),
    (5L, "the quick brown fox jumps over the lazy dog again and again today")) // exact dup of 1
    .toDF("doc_id", "text")

  test("PolyHash matches a hand fold and is codegen-consistent") {
    // "ab" -> ((0*131+97)%M)*131+98 = 12805
    assert(PolyHashImpl.hash(UTF8String.fromString("ab"), 131L, 2147483647L) === 12805L)
    val viaSql = docs.select(TextAnalysis.fingerprint(lit("ab")).as("h")).head.getLong(0)
    assert(viaSql === 12805L)
  }

  test("exact dedup groups identical texts under one canonical id") {
    val d = Dedup.exactDedup(docs, "doc_id", "text")
    assert(d.count() === 4) // 5 docs, one exact pair
    val dup = d.filter(col("n_copies") === 2).head
    assert(dup.getAs[Long]("canonical_id") === 1L)
  }

  test("near-duplicate pairs finds the planted near-dup and the exact dup only") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("jaccard of identical docs is 1, disjoint docs is 0") {
    val j = docs.as("a").join(docs.as("b"),
        col("a.doc_id") === 1 && col("b.doc_id").isin(4, 5))
      .select(col("b.doc_id"), Dedup.jaccard(col("a.text"), col("b.text")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(j(5L) === 1.0)
    assert(j(4L) === 0.0)
  }

  test("simhash: near-dups are close in hamming distance, unrelated docs are far") {
    val sh = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(5L)) === 0)              // identical text
    assert(ham(sh(1L), sh(2L)) <= 6)               // near-dup
    assert(ham(sh(1L), sh(4L)) > ham(sh(1L), sh(2L))) // unrelated is farther
  }

  test("language id picks the language with the most stopword hits") {
    val langs = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) === "en")
    assert(langs(3L) === "de")
  }

  test("quality score stays in [0, 1] and rewards stopword-bearing prose") {
    val q = docs.select(
      TextAnalysis.qualityScore(col("text"), TextAnalysis.LangStopwords.head._2).as("q"))
      .collect().map(_.getDouble(0))
    assert(q.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("brute-force top-k is deterministic and self-excluding") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top1 = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(top1(1L) === 2L)
    assert(top1(2L) === 1L)
    assert(top1(4L) != 4L)
  }

  test("LSH ANN recall: top-1 neighbor is found for most vectors vs brute force") {
    val rnd = new scala.util.Random(7)
    val dims = 16
    // clustered vectors so true neighbors share hyperplane buckets
    val vecs = (0 until 60).map { i =>
      val center = Array.fill(dims)(if ((i % 3) == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.5f)
      (i.toLong, center.map(c => c + rnd.nextFloat() * 0.2f))
    }.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", dims, k = 1,
      bands = 4, rowsPerBand = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val recall = bf.count { case (v, n) => lsh.get(v).contains(n) }.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF top-k recovers true neighbors on clustered vectors") {
    val rnd = new scala.util.Random(9)
    val dims = 16
    val vecs = (0 until 90).map { i =>
      val c = Array.fill(dims)(if (i % 3 == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.3f)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.15f))
    }.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivf = Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding",
      k = 1, nlist = 4, nprobe = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val recall = bf.count { case (v, n) => ivf.get(v).contains(n) }.toDouble / bf.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("hash-cell IVF recovers true neighbors on clustered vectors") {
    val rnd = new scala.util.Random(13)
    val dims = 16
    val vecs = (0 until 90).map { i =>
      val c = Array.fill(dims)(if (i % 3 == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.3f)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.15f))
    }.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivf = Similarity.ivfHashTopK(vecs, vecs, "vec_id", "embedding",
      dims, k = 1, cellBits = 4, radius = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val recall = bf.count { case (v, n) => ivf.get(v).contains(n) }.toDouble / bf.size
    assert(recall >= 0.9, s"recall $recall")
    // probe masks: identity + one per bit
    assert(Similarity.hammingMasks(6, 1) === Seq(0L, 1L, 2L, 4L, 8L, 16L, 32L))
    assert(Similarity.hammingMasks(3, 2).toSet ===
      Set(0L, 1L, 2L, 4L, 3L, 5L, 6L))
  }

  test("product quantization: pivots self-encode at zero error, codes in range") {
    import graft.sim.ProductQuantize
    val rnd = new scala.util.Random(17)
    val dims = 8
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val cb = ProductQuantize.codebooks(vecs, "vec_id", "embedding",
      dims, subspaces = 4, codebookSize = 8)
    assert(cb.count() === 4L * 8) // one entry per (subspace, pivot)
    val codes = ProductQuantize.encode(vecs, cb, "vec_id", "embedding",
      dims, subspaces = 4).collect()
    assert(codes.length === 40 * 4) // one row per (vector, subspace)
    assert(codes.forall(r => {
      val c = r.getAs[Int]("code"); c >= 0 && c < 8
    }))
    // a pivot IS a codebook entry in every subspace, so its nearest
    // entry is itself at distance exactly 0 — all 4 of its codes agree
    val byVec = codes.groupBy(_.getAs[Long]("vec_id"))
    val zeroErrVecs = byVec.filter(_._2.forall(_.getAs[Double]("dist") == 0.0))
    assert(zeroErrVecs.size === 8, s"expected the 8 pivots, got ${zeroErrVecs.size}")
    // non-pivot vectors have positive reconstruction error
    assert(byVec.size === 40 && byVec.values.forall(_.length === 4))
  }

  test("PQ ADC with an all-pivot codebook reduces to exact L2 nearest neighbors") {
    import graft.sim.ProductQuantize
    val rnd = new scala.util.Random(19)
    val dims = 8
    val data = (0 until 30).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f)))
    val vecs = data.toDF("vec_id", "embedding")
    // codebookSize = n: every vector is a pivot, so each sub-vector
    // self-encodes at distance 0 and ADC(q, v) = ||q - v||^2 exactly
    val cb = ProductQuantize.codebooks(vecs, "vec_id", "embedding",
      dims, subspaces = 4, codebookSize = 30)
    val codes = ProductQuantize.encode(vecs, cb, "vec_id", "embedding", dims, 4)
    assert(codes.collect().forall(_.getAs[Double]("dist") === 0.0))
    val adc = ProductQuantize.adcTopK(codes, vecs, cb, "vec_id", "embedding",
      dims, subspaces = 4, k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    // driver-side exact L2 top-1 with the same (dist, id) tie-break
    val expected = data.map { case (qi, qv) =>
      qi -> data.filter(_._1 != qi).map { case (ni, nv) =>
        val d = qv.zip(nv).map { case (a, b) =>
          val x = a.toDouble - b.toDouble; x * x
        }.sum
        (d, ni)
      }.min._2
    }.toMap
    assert(adc === expected)
  }

  test("PQ wide path: encodeWide codes and adcTopKWide distances bit-match the long form") {
    import graft.sim.ProductQuantize
    val rnd = new scala.util.Random(23)
    val dims = 8
    val vecs = (0 until 35).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val model = ProductQuantize.fit(vecs, "vec_id", "embedding",
      dims, subspaces = 4, codebookSize = 8)
    val cb = ProductQuantize.codebooks(vecs, "vec_id", "embedding",
      dims, subspaces = 4, codebookSize = 8)
    // codes agree per (vector, subspace)
    val longCodes = ProductQuantize.encode(vecs, cb, "vec_id", "embedding", dims, 4)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("subspace")) ->
        r.getAs[Int]("code")).toMap
    val wide = ProductQuantize.encodeWide(vecs, "vec_id", "embedding", model)
    val wideCodes = wide.collect().flatMap(r =>
      r.getSeq[Int](r.fieldIndex("codes")).zipWithIndex.map { case (c, m) =>
        (r.getAs[Long]("vec_id"), m) -> c
      }).toMap
    assert(wideCodes === longCodes)
    // ADC results agree bit-for-bit (same argmin, same summation order)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toMap
    val longAdc = rows(ProductQuantize.adcTopK(
      ProductQuantize.encode(vecs, cb, "vec_id", "embedding", dims, 4),
      vecs, cb, "vec_id", "embedding", dims, 4, k = 3))
    val wideAdc = rows(ProductQuantize.adcTopKWide(
      wide, vecs, "vec_id", "embedding", model, k = 3))
    assert(wideAdc === longAdc)
  }

  test("IVF-PQ with full probe coverage equals plain ADC bit-for-bit") {
    // cellBits = 1, radius = 1 probes masks {0, 1} — BOTH cells — so the
    // coarse quantizer prunes nothing and ivfAdcTopKWide must reduce to
    // exactly adcTopKWide: same candidates, same distances, same ranks.
    // (Cell pruning itself — fewer candidates in unprobed cells — is
    // oracle-verified in q69/q97.)
    import graft.sim.ProductQuantize
    val rnd = new scala.util.Random(31)
    val dims = 8
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val model = ProductQuantize.fit(vecs, "vec_id", "embedding",
      dims, subspaces = 4, codebookSize = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toMap
    val plain = rows(ProductQuantize.adcTopKWide(
      ProductQuantize.encodeWide(vecs, "vec_id", "embedding", model),
      vecs, "vec_id", "embedding", model, k = 3))
    val ivf = rows(ProductQuantize.ivfAdcTopKWide(vecs, vecs,
      "vec_id", "embedding", model, k = 3, cellBits = 1, radius = 1))
    assert(ivf === plain)
  }

  test("IVF-PQ stored-index round-trip: write + read + score == direct, mixed cellBits fails") {
    import graft.sim.ProductQuantize
    import graft.sources.ManifestCommit
    val rnd = new scala.util.Random(47)
    val dims = 8
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val model = ProductQuantize.fit(vecs, "vec_id", "embedding",
      dims, subspaces = 4, codebookSize = 8)
    val path = TestSpark.tempDir("graft_ivfpq").toString
    ProductQuantize.writeIvfPqIndex(vecs, "vec_id", "embedding",
      model, cellBits = 2, path)
    // model table round-trips bit-exactly
    val model2 = ProductQuantize.modelFromTable(
      ManifestCommit.read(spark, s"$path/model"))
    assert(model2.dims === model.dims &&
      model2.subspaces === model.subspaces)
    assert(model2.entries.flatten.flatten.toSeq ===
      model.entries.flatten.flatten.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toMap
    val stored = rows(ProductQuantize.ivfAdcFromIndex(
      ManifestCommit.read(spark, s"$path/codes"), vecs,
      "vec_id", "embedding", model2, k = 3, cellBits = 2, radius = 1))
    val direct = rows(ProductQuantize.ivfAdcTopKWide(vecs, vecs,
      "vec_id", "embedding", model, k = 3, cellBits = 2, radius = 1))
    assert(stored === direct)
    // querying with the wrong cell geometry fails loudly
    val e = intercept[Exception] {
      ProductQuantize.ivfAdcFromIndex(
        ManifestCommit.read(spark, s"$path/codes"), vecs,
        "vec_id", "embedding", model2, k = 3, cellBits = 3, radius = 1)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("cell_bits")))
  }

  test("blocked exact near-dup pairs equal brute-force all-pairs, without broadcasting the corpus") {
    val rnd = new scala.util.Random(11)
    val dims = 16
    val vecs = (0 until 80).map { i =>
      val c = Array.fill(dims)(if (i % 4 == 0) 1.0f else rnd.nextFloat() - 0.5f)
      (i.toLong, c)
    }.toDF("vec_id", "embedding")
    val blocked = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.5, nBlocks = 5)
    // reference: plain all-pairs theta join (fine at test scale)
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val ref = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= 0.5)
      .select(col("id_a"), col("id_b"), col("cos"))
    assert(blocked.count() > 0)
    assert(blocked.except(ref).count() === 0)
    assert(ref.except(blocked).count() === 0)
    // scale contract: the pair generation is an equi-join on block keys —
    // no nested-loop join over a broadcast corpus anywhere in the plan
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"blocked pairs must not plan a broadcast theta-join:\n$plan")
  }

  test("banded near-dup pairs: perfect recall on high-cosine pairs, candidates pruned") {
    val rnd = new scala.util.Random(13)
    val dims = 16
    // 20 tight clusters of 4 (high intra-cluster cosine) + noise vectors
    val vecs = (0 until 80).map { i =>
      val center = Array.fill(dims)(math.sin(i / 4 * 2.7).toFloat + 1.5f)
      (i.toLong, center.map(c => c + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, nBlocks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.cosineNearDupPairsBanded(vecs, "vec_id", "embedding",
      threshold = 0.95, dims = dims)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(banded.subsetOf(exact), "banded must never emit a false pair (exact verify)")
    val recall = banded.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"recall $recall on ${exact.size} true pairs")
  }

  test("hash-mod split is disjoint, exhaustive, and partitioning-independent") {
    import graft.text.Sampling
    val df = (1L to 1000L).toDF("id")
    val (tr, va, te) = Sampling.split(df, "id", 80, 10, "s1")
    val (n1, n2, n3) = (tr.count(), va.count(), te.count())
    assert(n1 + n2 + n3 === 1000)
    assert(tr.intersect(va).count() === 0)
    assert(math.abs(n1 - 800L) < 60, s"train $n1") // hash-uniformity
    // identical membership after arbitrary repartitioning
    val tr2 = Sampling.split(df.repartition(13), "id", 80, 10, "s1")._1
    assert(tr.except(tr2).count() === 0)
    assert(tr2.except(tr).count() === 0)
  }

  test("repetition profile matches hand-computed fractions") {
    import graft.text.Repetition
    val df = Seq(
      (1L, "a a a b"),     // 4 toks, 2 distinct, top tok 3; bigrams: "a a"×2, "a b" -> top 2/3
      (2L, "only"))        // 1 tok: no bigrams -> NULL frac
      .toDF("doc_id", "text")
    val rows = Repetition.profile(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("n_tokens") === 4L)
    assert(rows(1L).getAs[Double]("distinct_frac") === 0.5)
    assert(rows(1L).getAs[Double]("top_token_frac") === 0.75)
    assert(rows(1L).getAs[Double]("top_bigram_frac") === 2.0 / 3.0)
    assert(rows(2L).getAs[Long]("n_tokens") === 1L)
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("top_bigram_frac")))
  }

  test("contamination overlap counts leaked trigrams per benchmark doc") {
    import graft.text.Contamination
    val train = Seq(
      (10L, "w1 w2 w3 zz zz zz"),          // contains bench trigram "w1 w2 w3"
      (11L, "totally unrelated training text here")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "w1 w2 w3 w4"),  // grams: "w1 w2 w3" (hit), "w2 w3 w4" (miss) -> 0.5
      (2L, "novel fresh eval content"),    // 2 grams, 0 hits
      (3L, "too short"))                   // < 3 tokens: omitted
      .toDF("doc_id", "text")
    val rows = Contamination.overlap(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet === Set(1L, 2L))
    assert(rows(1L).getAs[Long]("n_grams") === 2L)
    assert(rows(1L).getAs[Long]("n_hits") === 1L)
    assert(rows(1L).getAs[Double]("contamination") === 0.5)
    assert(rows(2L).getAs[Long]("n_hits") === 0L)
  }

  test("int8 quantization: hand-computed codes, zero-vector guard, top-1 fidelity") {
    import graft.sim.{Quantize, Similarity}
    // [1.0f, -0.5f, 0.25f] -> m=1.0: codes [127, floor(-63.5)=-64, floor(31.75)=31]
    val hand = Seq((1L, Array(1.0f, -0.5f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val s = Quantize.stats(hand, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(s(1L).getAs[Long]("q_sum") === 127L - 64L + 31L)
    assert(s(1L).getAs[Int]("q_min") === -64)
    assert(s(1L).getAs[Int]("q_max") === 127)
    assert(s(1L).getAs[Long]("n_sat") === 1L)
    assert(s(2L).getAs[Double]("scale") === 0.0)
    assert(s(2L).getAs[Long]("q_sum") === 0L)
    // dequantized cosine preserves the top-1 neighbor on real-ish vectors
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      i -> base.map(v => v + (i % 6).toFloat / 10f)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val deq = df.select(col("vec_id"),
      Quantize.dequantized(Quantize.quantized(col("embedding")),
        Quantize.scaleOf(col("embedding"))).cast("array<float>").as("embedding"))
    def top1(d: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(d, d, "vec_id", "embedding", k = 1)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    val (exact, approx) = (top1(df), top1(deq))
    val agree = exact.count { case (v, n) => approx.get(v).contains(n) }.toDouble / exact.size
    assert(agree >= 0.9, s"top-1 agreement $agree")
  }

  test("chunking: stride windows cover every token, final chunk clipped") {
    import graft.text.Chunking
    // 10 tokens, chunk 4, stride 3 -> ceil((10-4)/3)+1 = 3 chunks
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b"))
      .toDF("doc_id", "text")
    val rows = Chunking.chunk(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) -> r).toMap
    assert(rows.keys.count(_._1 == 1L) === 3)
    assert(rows((1L, 0)).getAs[String]("chunk_text") === "t1 t2 t3 t4")
    assert(rows((1L, 1)).getAs[String]("chunk_text") === "t4 t5 t6 t7")
    assert(rows((1L, 2)).getAs[String]("chunk_text") === "t7 t8 t9 t10")
    assert(rows((1L, 2)).getAs[Long]("n_chunk_tokens") === 4L)
    // short doc: one clipped chunk
    assert(rows.keys.count(_._1 == 2L) === 1)
    assert(rows((2L, 0)).getAs[String]("chunk_text") === "a b")
    assert(rows((2L, 0)).getAs[Long]("n_chunk_tokens") === 2L)
  }

  test("greedy packing: bins close on overflow, oversize docs get their own bin") {
    import graft.text.Packing
    // single bucket (nBuckets=1), capacity 5; token counts: 3, 3, 5, 7, 1
    val df = Seq(
      (1L, "a b c"), (2L, "d e f"), (3L, "g h i j k"),
      (4L, "l m n o p q r"), (5L, "s"))
      .toDF("doc_id", "text")
    val rows = Packing.greedyPack(df, "doc_id", "text",
      capacity = 5L, nBuckets = 1, salt = "t")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("bin_idx"), r.getAs[Long]("bin_offset"))).toMap
    assert(rows(1L) === (0, 0L)) // fill 3
    assert(rows(2L) === (1, 0L)) // 3+3 > 5 -> new bin
    assert(rows(3L) === (2, 0L)) // 3+5 > 5 -> new bin, fills it exactly
    assert(rows(4L) === (3, 0L)) // oversize doc: bin of its own
    assert(rows(5L) === (4, 0L)) // previous bin already over capacity
    // and a case that actually co-locates: capacity 6 packs (3,3) together
    val rows6 = Packing.greedyPack(df, "doc_id", "text",
      capacity = 6L, nBuckets = 1, salt = "t")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("bin_idx"), r.getAs[Long]("bin_offset"))).toMap
    assert(rows6(1L) === (0, 0L))
    assert(rows6(2L) === (0, 3L)) // shares bin 0 at offset 3
    assert(rows6(3L) === (1, 0L))
  }

  test("near-dup clusters: transitive chains collapse to the min id") {
    // components: {1,2,5,9} (chain 1-2, 2-5, 5-9) and {3,7}
    val pairs = Seq((1L, 2L), (2L, 5L), (5L, 9L), (3L, 7L))
      .toDF("doc_a", "doc_b")
    val c = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(c === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 9L -> 1L, 3L -> 3L, 7L -> 3L))
  }

  test("connected components: 1000-node chain converges in O(log n) rounds") {
    // worst-case topology for label propagation (diameter = n); the
    // alternating-star algorithm must collapse it in logarithmic rounds
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // the distributed gate mode forces the alternating-star rounds (999
    // edges would take the union-find shortcut under auto)
    val (m, rounds) = SizeGateModes.under("distributed") {
      val (labels, rounds) = Dedup.alternatingStarCC(pairs, maxIters = 50)
      (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    assert(m.size === 1000)
    assert(m.values.forall(_ == 1L))
    // ~log2(1000) productive rounds + the final no-change confirmation
    // round (vs ~999 rounds for min-label propagation)
    assert(rounds <= 12, s"chain took $rounds rounds")
  }

  test("incremental dedup: bloom prefilter moves work but the result is the exact delta") {
    // seen corpus: docs 1-3; new batch: 4 (dup of 3's text? no — craft dups)
    val seen = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta"), // exact dup of seen 1 -> dropped
      (11L, "brand new text"), // genuinely new
      (12L, "gamma delta"), // dup of seen 2 -> dropped
      (13L, "another new one")).toDF("doc_id", "text")
    val seenFps = seen.select(Dedup.contentFingerprint(trim(col("text"))).as("fp"))
    val out = Dedup.incrementalNew(batch, "doc_id", "text", seenFps)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(out === Array(11L, 13L))
    // empty seen set: everything is new, bloom skipped
    val none = seenFps.filter(lit(false))
    val all = Dedup.incrementalNew(batch, "doc_id", "text", none)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(all === Array(10L, 11L, 12L, 13L))
  }

  test("partitioned-bloom incremental dedup: exact parity with the plain anti-join") {
    // a bigger fixture with dups spread across fingerprint ranges, plus
    // a null-text row (new by contract on every path)
    val seenDocs = (1L to 40L).map(i => (i, s"seen document number $i"))
      .toDF("doc_id", "text")
    val seenFps = seenDocs
      .select(Dedup.contentFingerprint(trim(col("text"))).as("fp"))
    val batch = ((100L to 119L).map(i => (i, s"seen document number ${i - 95}")) ++ // dups of seen 5..24
      (200L to 214L).map(i => (i, s"fresh text $i")) :+ // new
      (300L, null.asInstanceOf[String])) // null text -> new
      .toDF("doc_id", "text")
    val plain = Dedup.incrementalNew(batch, "doc_id", "text", seenFps,
      expectedItems = 0) // bloom opt-out = the oracle anti-join
      .collect().map(_.getAs[Long]("doc_id")).sorted
    for (nRanges <- Seq(1, 2, 7)) {
      val part = Dedup.incrementalNewPartitioned(batch, "doc_id", "text",
        seenFps, nRanges = nRanges)
        .collect().map(_.getAs[Long]("doc_id")).sorted
      assert(part === plain, s"nRanges=$nRanges diverged from plain anti-join")
    }
    // sanity: the delta is exactly the fresh + null rows
    assert(plain === ((200L to 214L) :+ 300L).sorted.toArray)
  }

  test("connected components: driver union-find equals the distributed fixpoint") {
    // mixed topology: a chain, a triangle, an isolated pair
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)))
      .toDF("doc_a", "doc_b")
    def run = {
      val (labels, rounds) = Dedup.alternatingStarCC(pairs, 50)
      (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    val (viaDriver, viaDistributed) = SizeGateModes.both(run)
    assert(viaDriver._2 === 0) // took the shortcut
    assert(viaDistributed._2 > 0) // actually iterated
    assert(viaDriver._1 === viaDistributed._1)
  }

  test("connected components: non-convergence fails fast instead of mislabeling") {
    val pairs = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](SizeGateModes.under(
      "distributed")(Dedup.nearDupClusters(pairs, maxIters = 1).collect()))
    assert(e.getMessage.contains("did not converge"))
  }

  test("hotTailJoin equals the plain join under 50%-hot-key skew and broadcasts the head") {
    import graft.operators.Relational
    // one token carries half of all rows — the Zipf head in miniature
    val fact = ((1 to 500).map(i => (i.toLong, "the")) ++
      (1 to 500).map(i => (i.toLong, s"tok$i"))).toDF("doc_id", "tok")
    val dim = fact.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val split = Relational.hotTailJoin(fact, dim, "tok", "c", hotN = 8)
    val plain = fact.join(dim, "tok")
    assert(split.count() === 1000)
    assert(split.except(plain).count() === 0 && plain.except(split).count() === 0)
    // the hot keys take the broadcast path (no shuffle of their fact rows)
    assert(split.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("greedyPack rejects non-integral id columns instead of silently collapsing") {
    import graft.text.Packing
    val df = Seq(("a", "x y"), ("b", "z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Packing.greedyPack(df, "doc_id", "text", capacity = 5L, nBuckets = 1, salt = "t"))
    assert(e.getMessage.contains("integral id column"))
  }

  test("fillStats: exactly-full bins report mean fill 1.0; counts hand-check") {
    import graft.text.Packing
    val df = Seq((1L, "a b c d e"), (2L, "f g h i j"), (3L, "k l m n o"))
      .toDF("doc_id", "text")
    val packed = Packing.greedyPack(df, "doc_id", "text",
      capacity = 5L, nBuckets = 1, salt = "t")
    val s = Packing.fillStats(packed, capacity = 5L).head
    assert(s.getAs[Long]("n_bins") === 3L)
    assert(s.getAs[Long]("n_docs") === 3L)
    assert(s.getAs[Long]("total_tokens") === 15L)
    assert(s.getAs[Double]("mean_fill") === 1.0)
  }

  test("temperature mixture: rarest stratum keeps 1000 permille, ratios hand-check") {
    import graft.text.Sampling
    // 9 'a' docs vs 1 'b' doc at alpha=0.5: r_a = (0.9/0.1)^-0.5 = 1/3
    val df = ((1 to 9).map(i => (i.toLong, "a")) :+ (10L, "b"))
      .toDF("doc_id", "lang").withColumnRenamed("lang", "s")
    val r = Sampling.temperatureMixture(df, "s", alpha = 0.5)
      .collect().map(x => x.getAs[String]("s") ->
        (x.getAs[Long]("keep_permille"), x.getAs[Long]("expected_docs"))).toMap
    assert(r("b") === (1000L, 1L))
    assert(r("a") === (333L, 2L)) // floor(1000/3) = 333; 9*333 div 1000 = 2
  }

  test("multimodal decode stub: byte features are real, plumbing is typed") {
    val media = MultiModal.toMediaRecords(
      docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    val feats = MultiModal.decodeAndFeaturize(media).collect()
      .map(f => f.media_id -> f).toMap
    val d1 = docs.filter(col("doc_id") === 1).head.getString(1)
    assert(feats(1L).byte_len === d1.getBytes("UTF-8").length)
    assert(feats(1L).first_byte === 't'.toInt)
    assert(feats(1L).width === 64 + ('t'.toInt % 64))
    assert(feats(1L).byte_checksum === feats(5L).byte_checksum) // same bytes
  }
}
