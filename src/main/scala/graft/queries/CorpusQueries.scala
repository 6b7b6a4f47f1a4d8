package graft.queries
import graft.Materialize.MatOps

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sim.{SemDedup, Similarity}
import graft.text.{Dsir, DupSpans, QualityRules, Redaction, Sharding, TextAnalysis}
import PipelineQueries.{sqlCharFold, sqlContentFp, sqlInList, sqlSaltedHash, sqlShingles, sqlTokens}

/** Round-4 training-data operators: semantic dedup, per-source caps,
  * deterministic epoch sharding, PII redaction, duplicate-span
  * detection, filtered vector search. Same oracle discipline as
  * PipelineQueries — shared constants interpolated into both sides.
  */
object CorpusQueries {

  val all: Seq[Q] =
    Seq(q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88,
      q90, q91, q92, q93, q94, q95, q97, q98, q99, q100, q101, q136, q137,
      q138, q139, q185, q194, q204)

  /** Per-language quality-gate disparity (QualityRules.gopherFlags
    * sliced by lang): each slice's keep rate next to the corpus rate
    * and the exact disparity ratio — the fairness-style audit that
    * catches a "quality" gate that is really an English detector
    * (Gopher-rule stopword lists are language-biased by construction;
    * this row quantifies by how much). All integer: rate_ppm =
    * ⌊10⁶·keep/n⌋, disparity_ppm = ⌊10⁶·keep_l·n_tot/(n_l·keep_tot)⌋. */
  def q204: Q = Q(
    "q204_quality_gate_disparity",
    Some(s"""
      |WITH ${sqlGopherCtes("documents")},
      |j AS (
      |  SELECT d.lang, f85.keep FROM f85
      |  JOIN documents d ON d.doc_id = f85.doc_id),
      |slice AS (
      |  SELECT lang, count(*) AS n,
      |         sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
      |  FROM j GROUP BY lang),
      |tot AS (SELECT sum(n) AS n_tot, sum(n_keep) AS keep_tot FROM slice)
      |SELECT lang, CAST(n AS BIGINT) AS n,
      |       CAST(n_keep AS BIGINT) AS n_keep,
      |       CAST((1000000 * n_keep) // n AS BIGINT) AS keep_ppm,
      |       CAST(CASE WHEN n * keep_tot > 0 THEN
      |              (1000000 * CAST(n_keep AS HUGEINT) * n_tot)
      |                // (CAST(n AS HUGEINT) * keep_tot)
      |            END AS BIGINT) AS disparity_ppm
      |FROM slice CROSS JOIN tot
      |ORDER BY lang
      |""".stripMargin)) { (s, dir) =>
    import graft.text.QualityRules
    // q85's parameterization — sqlGopherCtes bakes these thresholds
    val flagged = QualityRules.gopherFlags(
      Tables.documents(s, dir), "text",
      QualityRules.GopherParams(minWords = 20, maxWords = 80,
        minMeanWordLen = 3, maxMeanWordLen = 8))
    val slice = flagged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .materialize() // slice dim feeds the totals and the output
    val tot = slice.agg(sum(col("n")).as("__n_tot"),
      sum(col("n_keep")).as("__keep_tot"))
    slice.crossJoin(broadcast(tot))
      .select(col("lang"), col("n"), col("n_keep"),
        expr("(1000000 * n_keep) div n").as("keep_ppm"),
        when(col("n") * col("__keep_tot") > 0,
          expr("""(1000000 * CAST(n_keep AS DECIMAL(38,0)) * __n_tot)
                 div (CAST(n AS DECIMAL(38,0)) * __keep_tot)"""))
          .cast("long").as("disparity_ppm"))
      .orderBy(col("lang"))
  }

  /** The shared IVF-PQ ADC oracle body (after sqlPqPrelude): probe
    * cells at Hamming radius 1, score candidates via the per-subspace
    * distance table, top-3 per query — q139 (stored full build) and
    * q194 (incremental appends) replay EXACTLY this chain, so fixes to
    * the fold/masks/tie-break land once. */
  private[queries] def sqlIvfAdcOracle(maxQid: Int): String =
    s"""codes AS (SELECT vec_id, m, k AS code FROM ranked WHERE rn = 1),
      |ccell AS (SELECT vec_id, ${sqlHyperplaneCell(6)} AS cell FROM embeddings),
      |qc AS (SELECT vec_id AS qid, ${sqlHyperplaneCell(6)} AS qcell
      |       FROM embeddings WHERE vec_id < $maxQid),
      |probes AS (
      |  SELECT qid, xor(qcell, u.mask) AS cell
      |  FROM qc, unnest([CAST(0 AS BIGINT), 1, 2, 4, 8, 16, 32]) AS u(mask)),
      |qs AS (
      |  SELECT vec_id AS qid, CAST(u.m AS INTEGER) AS m,
      |         list_slice(embedding, u.m * 8 + 1, u.m * 8 + 8) AS qvec
      |  FROM embeddings, unnest(range(0, 8)) AS u(m)
      |  WHERE vec_id < $maxQid),
      |qd AS (
      |  SELECT qid, m, k AS code,
      |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(range(1, 9), i ->
      |             (CAST(qvec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
      |             (CAST(qvec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)))),
      |           (a, b) -> a + b) AS qdst
      |  FROM qs JOIN cb USING (m)),
      |cand AS (
      |  SELECT p.qid, c.vec_id AS neighbor_id
      |  FROM probes p JOIN ccell c ON c.cell = p.cell
      |  WHERE c.vec_id != p.qid),
      |pairs AS (
      |  SELECT cand.qid, cand.neighbor_id, co.m, qd.qdst
      |  FROM cand
      |  JOIN codes co ON co.vec_id = cand.neighbor_id
      |  JOIN qd ON qd.qid = cand.qid AND qd.m = co.m AND qd.code = co.code),
      |adc AS (
      |  SELECT qid, neighbor_id,
      |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list(qdst ORDER BY m)), (a, b) -> a + b) AS adc_dist
      |  FROM pairs GROUP BY qid, neighbor_id),
      |rnk AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY qid ORDER BY adc_dist, neighbor_id) AS nn_rank
      |  FROM adc)
      |SELECT qid AS vec_id, nn_rank, neighbor_id, adc_dist
      |FROM rnk WHERE nn_rank <= 3 ORDER BY vec_id, nn_rank""".stripMargin

  /** INCREMENTALLY-maintained IVF-PQ ANN (ProductQuantize
    * .appendIvfPqCodes): the corpus ingested as two exactly-once code
    * generations against a frozen stored model, queried from storage —
    * q185's append-maintained ≡ rebuilt discipline for vectors. Code
    * rows are per-vector independent under a frozen model, so the
    * oracle is exactly q139's full-build replay. The model write is
    * guarded by presence; the code ingests are UNGUARDED (idempotent
    * by (appId, batchId)) so a crash between them self-heals. */
  def q194: Q = Q(
    "q194_ann_incremental",
    Some(s"""
      |WITH ${PipelineQueries.sqlPqPrelude},
      |${sqlIvfAdcOracle(40)}
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.ProductQuantize
    import graft.sources.{ManifestCommit, SpineCache}
    val emb = Tables.embeddings(s, dir)
    val idxPath = SpineCache.indexPath(s, dir, "ivfpq_inc", "embeddings")
    if (ManifestCommit.latest(s"$idxPath/model").isEmpty) {
      val model = ProductQuantize.fit(emb, "vec_id", "embedding",
        dims = 64, subspaces = 8, codebookSize = 16)
      ManifestCommit.writeVersioned(
        ProductQuantize.modelTable(s, model), s"$idxPath/model")
    }
    // ONE model read serves both ingests and the scoring pass
    val model = ProductQuantize.modelFromTable(
      ManifestCommit.read(s, s"$idxPath/model"))
    ProductQuantize.appendIvfPqCodes(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idxPath, "annq", 0L, cellBits = 6,
      preloadedModel = Some(model))
    ProductQuantize.appendIvfPqCodes(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", idxPath, "annq", 1L, cellBits = 6,
      preloadedModel = Some(model))
    ProductQuantize.ivfAdcFromIndex(
        ManifestCommit.read(s, s"$idxPath/codes"),
        emb.filter(col("vec_id") < 40), "vec_id", "embedding",
        model, k = 3, cellBits = 6, radius = 1)
      .withColumnRenamed("rank", "nn_rank")
      .orderBy(col("vec_id"), col("nn_rank"))
  }

  /** BM25 top-k oracle, scored from the raw corpus: the token sets of
    * docs with doc_id < nQuery query every other doc; each per-term
    * contribution is quantized to DECIMAL(18,9) before the exact sum
    * (q98's recipe — q137 and q185 replay it against their stored
    * indexes). */
  private def sqlBm25TopK(nQuery: Int, k: Int, k1: Double, b: Double)
      : String = s"""
    |WITH toks98 AS (
    |  SELECT doc_id, unnest(${sqlTokens("text")}) AS term FROM documents),
    |tf98 AS (
    |  SELECT doc_id, term, count(*) AS tf FROM toks98 GROUP BY 1, 2),
    |dl98 AS (SELECT doc_id, sum(tf) AS dl FROM tf98 GROUP BY 1),
    |st98 AS (SELECT count(*) AS n, sum(dl) AS total FROM dl98),
    |df98 AS (SELECT term, count(*) AS df FROM tf98 GROUP BY 1),
    |qt98 AS (
    |  SELECT DISTINCT doc_id AS query_id, term FROM toks98
    |  WHERE doc_id < $nQuery),
    |pairs AS (
    |  SELECT qt98.query_id, tf98.doc_id, tf98.term,
    |         ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5)
    |                   / (CAST(df AS DOUBLE) + 0.5))
    |         * ((CAST(tf AS DOUBLE) * ${k1 + 1.0})
    |            / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
    |               (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / n)))))
    |           AS contrib
    |  FROM qt98
    |  JOIN tf98 USING (term)
    |  JOIN df98 USING (term)
    |  JOIN dl98 ON dl98.doc_id = tf98.doc_id
    |  CROSS JOIN st98
    |  WHERE tf98.doc_id != qt98.query_id),
    |scores AS (
    |  SELECT query_id, doc_id,
    |         CAST(sum(CAST(contrib AS DECIMAL(18,9))) AS DOUBLE) AS score
    |  FROM pairs GROUP BY query_id, doc_id),
    |ranked AS (
    |  SELECT *, row_number() OVER (
    |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
    |  FROM scores)
    |SELECT query_id, rk, doc_id, score FROM ranked WHERE rk <= $k
    |ORDER BY query_id, rk
    |""".stripMargin

  /** INCREMENTALLY-maintained BM25 (Bm25.appendPostings →
    * indexFromPostings → topKFromIndex): the corpus ingested as two
    * exactly-once append generations of NORMALIZED postings (no baked
    * global stats — a new doc's rows are independent of every existing
    * row), stats re-derived at read time. The oracle scores the FULL
    * corpus from scratch, so hash-equality proves append-maintained ≡
    * rebuilt — q107's merged-equals-full discipline applied to a
    * search index. */
  def q185: Q = {
    val k1 = 1.2
    val b = 0.75
    Q("q185_bm25_incremental",
      Some(sqlBm25TopK(10, 4, k1, b))) { (s, dir) =>
      import graft.sources.{ManifestCommit, SpineCache}
      val docs = Tables.documents(s, dir)
      val idxPath = SpineCache.indexPath(s, dir, "bm25_pinc", "documents")
      // NO latest().isEmpty guard: appendBatch is idempotent by
      // (appId, batchId), so calling both ingests unconditionally is
      // self-healing — a crash between them leaves batch 0 committed
      // and the next run simply lands batch 1 (a presence guard would
      // wedge the half-built index forever)
      graft.text.Bm25.appendPostings(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", idxPath, "pinc", 0L)
      graft.text.Bm25.appendPostings(docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", idxPath, "pinc", 1L)
      graft.text.Bm25.topKFromIndex(
        graft.text.Bm25.indexFromPostings(ManifestCommit.read(s, idxPath)),
        docs.filter(col("doc_id") < 10), "doc_id", "text",
        k = 4, k1 = k1, b = b, excludeSelf = true)
        .orderBy(col("query_id"), col("rk"))
    }
  }

  /** DuckDB replay of SketchExprs.hyperplaneSig over `embeddings.embedding`
    * (64 dims): bit p set iff the LCG-plane projection is > 0 — the exact
    * fragment proven bit-identical by q69. */
  private[queries] def sqlHyperplaneCell(bits: Int): String = {
    val proj = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * " +
      "((CAST((1103515245 * (p * 64 + (i - 1)) + 12345) % 2147483648 AS DOUBLE) " +
      "/ 2147483648.0) - 0.5))), (a, b) -> a + b)"
    s"""CAST(list_sum(list_transform(range(0, $bits), p ->
       |  CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))
       |  AS BIGINT)""".stripMargin
  }

  private[queries] def sqlDot(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  private[queries] def sqlCosine(a: String, b: String) =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  /** banded_raw/banded CTE pair of the banded-LSH oracles over `sigs`
    * (vec_id, embedding, sig): `bands` bands of `rows` signature bits,
    * bucket = the band's bits, buckets over `maxBucket` rows dropped
    * (the bucket cap). */
  private[queries] def sqlBandedCtes(bands: Int, rows: Int,
      maxBucket: Int): String =
    s"""banded_raw AS (
       |  SELECT vec_id, embedding, u.b AS band, (sig >> (u.b * $rows)) % ${1 << rows} AS bucket
       |  FROM sigs, unnest(range(0, $bands)) AS u(b)),
       |banded AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
       |    FROM banded_raw)
       |  WHERE bsz <= $maxBucket)""".stripMargin

  /** sigs/losers CTE pair shared by q75 and q82 — cell assignment plus
    * the one-pass lower-id keep rule (SemDedup.semanticDedup). */
  private def sqlSemanticLosersCtes(bits: Int, threshold: Double) =
    s"""sigs AS (
       |  SELECT vec_id, embedding, ${sqlHyperplaneCell(bits)} AS cell
       |  FROM embeddings),
       |losers AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM sigs a JOIN sigs b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${sqlCosine("a.embedding", "b.embedding")} >= $threshold)""".stripMargin

  /** TextAnalysis.qualityScore replay (q23's proven fragment), expecting
    * `text` and `toks` in scope — shared by q76 and q82. */
  private[queries] def sqlQualityExpr(sw: String) =
    s"""least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
       |         + least(CAST(len(list_filter(toks, x -> x IN $sw)) AS DOUBLE)
       |                 / len(toks) * 5.0, 1.0) * 0.4
       |         + (1.0 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
       |                       AS DOUBLE) / length(text)) * 0.2""".stripMargin

  /** SemDeDup-style cell-bounded semantic dedup (SemDedup.semanticDedup):
    * 4 hyperplane bits = 16 cells (~31 vectors each at sf0.01); a vector
    * is dropped iff a lower-id same-cell vector sits at cos ≥ 0.4. The
    * oracle replays cells, in-cell pairs, and the keep rule exactly. */
  def q75: Q = Q(
    "q75_semantic_dedup",
    Some(s"""
      |WITH ${sqlSemanticLosersCtes(4, 0.4)}
      |SELECT vec_id, cell FROM sigs
      |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
      |ORDER BY vec_id
      |""".stripMargin)) { (s, dir) =>
    SemDedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
      dims = 64, threshold = 0.4, cellBits = 4)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }

  /** Per-source document caps — domain rate limiting (the crawl-pipeline
    * guard against any one domain dominating the mixture): keep the top
    * 10 docs per source by the q23 quality score, deterministic
    * (quality desc, doc_id) tie-break, via the native GroupedTopK
    * physical operator (heap per key, no full sort). */
  def q76: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    Q("q76_source_caps",
      Some(s"""
        |WITH t AS (
        |  SELECT source, doc_id, text, ${sqlTokens("text")} AS toks
        |  FROM documents),
        |m AS (
        |  SELECT source, doc_id,
        |         ${sqlQualityExpr(sw)} AS quality
        |  FROM t),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS rn
        |  FROM m)
        |SELECT source, doc_id, quality FROM ranked WHERE rn <= 10
        |ORDER BY source, quality DESC, doc_id
        |""".stripMargin)) { (s, dir) =>
      val sw0 = TextAnalysis.LangStopwords.head._2
      val scored = Tables.documents(s, dir).select(
        col("source"), col("doc_id"),
        TextAnalysis.qualityScore(col("text"), sw0).as("quality"))
      graft.plans.GroupedTopK.topKPerKey(
        scored,
        keyCols = Seq("source"),
        order = Seq("quality" -> false, "doc_id" -> true),
        k = 10)
        .orderBy(col("source"), col("quality").desc, col("doc_id"))
    }
  }

  /** Deterministic corpus shuffle + epoch sharding (Sharding.shuffleShards):
    * 8 shards, salt "ep1"; shard membership and within-shard order from
    * independently salted PolyHashes. The oracle replays both hashes and
    * the (ord, id) rank. */
  def q77: Q = Q(
    "q77_epoch_shards",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id,
      |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "ep1:shard")} % 8
      |           AS shard,
      |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "ep1:ord")}
      |           AS ord_key
      |  FROM documents)
      |SELECT doc_id, shard,
      |       row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
      |         AS pos
      |FROM t ORDER BY shard, pos
      |""".stripMargin)) { (s, dir) =>
    Sharding.shuffleShards(Tables.documents(s, dir), "doc_id",
      nShards = 8, salt = "ep1")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** PII redaction (Redaction.redact/matchCounts) over text carrying
    * deterministically derived identifiers — email, phone, IPv4 appended
    * from doc_id arithmetic IDENTICALLY on both sides, so the regexes are
    * exercised on real matches (the synthetic corpus itself contains
    * none) and the redacted text + per-rule counts hash-compare. */
  def q78: Q = {
    val Seq(email, phone, ipv4) = Redaction.Rules.map(_.pattern)
    Q("q78_pii_redaction",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id,
        |         text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail' ||
        |         CAST(doc_id % 7 AS VARCHAR) || '.org or call 555-' ||
        |         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
        |         CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |         CAST(doc_id % 250 AS VARCHAR) || ' now' AS pii
        |  FROM documents),
        |r1 AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(pii, '$email')) AS BIGINT) AS n_email,
        |         regexp_replace(pii, '$email', '<EMAIL>', 'g') AS t1
        |  FROM t),
        |r2 AS (
        |  SELECT doc_id, n_email,
        |         CAST(len(regexp_extract_all(t1, '$phone')) AS BIGINT) AS n_phone,
        |         regexp_replace(t1, '$phone', '<PHONE>', 'g') AS t2
        |  FROM r1),
        |r3 AS (
        |  SELECT doc_id, n_email, n_phone,
        |         CAST(len(regexp_extract_all(t2, '$ipv4')) AS BIGINT) AS n_ipv4,
        |         regexp_replace(t2, '$ipv4', '<IP>', 'g') AS redacted
        |  FROM r2)
        |SELECT doc_id, n_email, n_phone, n_ipv4, redacted
        |FROM r3 ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      val pii = concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".org or call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"), lit(" now"))
      val counts = Redaction.matchCounts(pii)
        .map { case (name, c) => c.as(s"n_$name") }
      Tables.documents(s, dir).select(
        col("doc_id") +: counts :+ Redaction.redact(pii).as("redacted"): _*)
        .orderBy(col("doc_id"))
    }
  }

  /** Duplicate n-gram span coverage (DupSpans.coverage): 3-gram shingles
    * counted corpus-wide (duplicated = count ≥ 2, within- or cross-doc),
    * flagged starts union'd into covered token spans via the lag-window
    * pass; the shingle-count join is the skew-proof hotTailJoin. Oracle
    * replays shingling, counts, and the interval union. */
  def q79: Q = Q(
    "q79_dup_spans",
    Some(s"""
      |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |         ${sqlShingles("toks")} AS shl
      |  FROM t),
      |p AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(shl) + 1),
      |           i -> {'p': i - 1, 'g': shl[i]})) AS u
      |  FROM s),
      |g AS (SELECT doc_id, u.p AS spos, u.g AS g FROM p),
      |cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g),
      |dup AS (SELECT doc_id, spos FROM g JOIN cnt USING (g) WHERE c >= 2),
      |cov AS (
      |  SELECT doc_id, coalesce(least(3, spos - lag(spos) OVER
      |           (PARTITION BY doc_id ORDER BY spos)), 3) AS contrib
      |  FROM dup),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_shingles,
      |         CAST(sum(contrib) AS BIGINT) AS covered_tokens
      |  FROM cov GROUP BY doc_id),
      |tot AS (
      |  SELECT doc_id, n_tokens, CAST(len(shl) AS BIGINT) AS n_shingles
      |  FROM s)
      |SELECT tot.doc_id, tot.n_tokens, tot.n_shingles,
      |       coalesce(a.n_dup_shingles, 0) AS n_dup_shingles,
      |       coalesce(a.covered_tokens, 0) AS covered_tokens,
      |       CAST(coalesce(a.covered_tokens, 0) AS DOUBLE) / tot.n_tokens
      |         AS dup_frac
      |FROM tot LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    DupSpans.coverage(Tables.documents(s, dir), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** Banded semantic dedup (SemDedup.semanticDedupBanded) in the regime
    * banding is FOR — a true near-dup threshold with bands coarse enough
    * to prune: 10 bands × 6 bits (64 buckets/band), drop iff a lower-id
    * vector sharing ANY band bucket is at cos ≥ 0.8. At t = 0.8
    * (p = 0.795) the 10×6 shape recovers 1 − (1 − p⁶)¹⁰ ≈ 94.5% of
    * qualifying pairs while random non-dup pairs collide per band at
    * only ~1/64 — the candidate set is a fraction of all-pairs, which is
    * the entire point of banding (below the documented selectivity
    * crossover, e.g. t = 0.4, the needed bands are so fine that
    * candidates ≈ all pairs and the blocked exact scan wins; that regime
    * lives in CorpusOpsSpec's crossover spec, not in the bench). The
    * oracle replays signatures, banding, the bucket cap, candidate
    * pairs, and the keep rule — the hash-exact CORRECTNESS row for the
    * banded near-dup path (q31 covers banded top-k). On this synthetic
    * corpus no pair reaches cos 0.8 (max ≈ 0.6), so the survivor set is
    * the whole corpus — the candidate machinery is still exercised and
    * replayed end-to-end on both engines. */
  def q81: Q = {
    Q("q81_semantic_dedup_banded",
      Some(s"""
        |WITH sigs AS (
        |  SELECT vec_id, embedding, ${sqlHyperplaneCell(60)} AS sig
        |  FROM embeddings),
        |${sqlBandedCtes(10, 6, 4096)},
        |losers AS (
        |  SELECT DISTINCT y.vec_id
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
        |  WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.8)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id
        |""".stripMargin)) { (s, dir) =>
      SemDedup.semanticDedupBanded(Tables.embeddings(s, dir),
        "vec_id", "embedding", dims = 64, threshold = 0.8,
        bands = 10, rowsPerBand = 6)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }
  }

  /** End-to-end corpus mixture prep — the round-4 operators composed the
    * way a production pipeline chains them: semantic-dedup survivors
    * (q75's cells + keep rule over the doc-aligned embeddings) → per-
    * source caps on quality rank (q76, cap 15) → deterministic epoch
    * shards (q77, 4 shards). One declarative plan; the oracle re-derives
    * every stage. */
  def q82: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    Q("q82_corpus_mixture_prep",
      Some(s"""
        |WITH ${sqlSemanticLosersCtes(4, 0.4)},
        |surv AS (
        |  SELECT vec_id AS doc_id FROM sigs
        |  WHERE vec_id NOT IN (SELECT vec_id FROM losers)),
        |t AS (
        |  SELECT d.source, d.doc_id, d.text, ${sqlTokens("d.text")} AS toks
        |  FROM documents d JOIN surv USING (doc_id)),
        |m AS (
        |  SELECT source, doc_id,
        |         ${sqlQualityExpr(sw)} AS quality
        |  FROM t),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS rn
        |  FROM m),
        |capped AS (SELECT source, doc_id FROM ranked WHERE rn <= 15),
        |sh AS (
        |  SELECT doc_id, source,
        |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "mix2:shard")} % 4
        |           AS shard,
        |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "mix2:ord")}
        |           AS ord_key
        |  FROM capped)
        |SELECT doc_id, source, shard,
        |       row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
        |         AS pos
        |FROM sh ORDER BY shard, pos
        |""".stripMargin)) { (s, dir) =>
      val sw0 = TextAnalysis.LangStopwords.head._2
      val survivors = SemDedup.semanticDedup(Tables.embeddings(s, dir),
        "vec_id", "embedding", dims = 64, threshold = 0.4, cellBits = 4)
        .select(col("id").as("doc_id"))
      val scored = Tables.documents(s, dir)
        .join(survivors, Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"),
          TextAnalysis.qualityScore(col("text"), sw0).as("quality"))
      val capped = graft.plans.GroupedTopK.topKPerKey(
        scored,
        keyCols = Seq("source"),
        order = Seq("quality" -> false, "doc_id" -> true),
        k = 15)
        .select(col("doc_id"), col("source"))
      Sharding.shuffleShards(capped, "doc_id", nShards = 4, salt = "mix2")
        .select(col("doc_id"), col("source"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }
  }

  /** Per-source corpus data card (CorpusReport.perSource): doc/token/
    * subtoken totals, tokenizer fertility (exact-sum division),
    * token-length histogram (contract bins), distinct-language spread.
    * Every aggregate is an exact integer; no double ever sums across
    * rows. */
  def q83: Q = {
    import graft.text.CorpusReport
    val n = s"CAST(len(${sqlTokens("text")}) AS BIGINT)"
    val binEdges = (None +: CorpusReport.TokenBins.map(Option(_))) zip
      (CorpusReport.TokenBins.map(Option(_)) :+ None)
    val binSelects = binEdges.map { case (lo, hi) =>
      val cond = (lo, hi) match {
        case (None, Some(h)) => s"tok_n < $h"
        case (Some(l), Some(h)) => s"tok_n >= $l AND tok_n < $h"
        case (Some(l), None) => s"tok_n >= $l"
        case _ => "TRUE"
      }
      val name = s"bin_${lo.getOrElse(0L)}_${hi.map(_.toString).getOrElse("inf")}"
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS $name"
    }.mkString(",\n         ")
    Q("q83_corpus_report",
      Some(s"""
        |WITH t AS (
        |  SELECT source, lang, $n AS tok_n,
        |         CAST(len(regexp_extract_all(text,
        |           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS sub_n
        |  FROM documents)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(tok_n) AS BIGINT) AS n_tokens,
        |       CAST(sum(sub_n) AS BIGINT) AS n_subtokens,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       $binSelects,
        |       CAST(sum(sub_n) AS DOUBLE) / sum(tok_n) AS fertility
        |FROM t GROUP BY source
        |ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      CorpusReport.perSource(Tables.documents(s, dir),
        "source", "text", "lang")
        .orderBy(col("source"))
    }
  }

  /** Bigram conditional surprise — the KenLM-lite perplexity filter one
    * order up from q67's unigram form: a document scores high when its
    * bigrams are IMPROBABLE CONTINUATIONS, i.e. mean over bigram
    * occurrences of ⌊1e6·C(w)/C(w,v)⌋ (the scaled-integer reciprocal of
    * the conditional probability p(v|w), q47's rational trick — every
    * intermediate an exact integer, one final exact-sum division).
    * High = common prefixes taking rare continuations (unusual word
    * ORDER); the floor 1e6 = every continuation deterministic — which
    * includes out-of-vocabulary salad whose bigrams are self-evident
    * (the backoff-free model's known blind spot; pair with q67, whose
    * rare-TOKEN density catches exactly that case). Both corpus-count
    * joins (bigram AND prefix) are Zipf-skew-proof via hotTailJoin;
    * bigram frequencies pre-aggregate per doc before anything joins
    * (q67's discipline). */
  def q84: Q = Q(
    "q84_bigram_surprise",
    Some(s"""
      |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(list_transform(
      |           range(1, greatest(len(toks) - 1, 0) + 1),
      |           i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM t),
      |bw AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w FROM b),
      |c2 AS (SELECT g, count(*) AS c2 FROM b GROUP BY g),
      |c1 AS (
      |  SELECT w, count(*) AS c1
      |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      |scored AS (
      |  SELECT bw.doc_id, ((1000000 * c1.c1) // c2.c2) AS s
      |  FROM bw JOIN c2 USING (g) JOIN c1 USING (w)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         CAST(sum(s) AS DOUBLE) / count(*) AS bigram_surprise
      |  FROM scored GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
      |       a.bigram_surprise
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    import graft.operators.Relational
    val docs = Tables.documents(s, dir)
    // stage boundaries (the Dsir discipline): ONLY the vocabulary-sized
    // count dims c2/c1 are materialized (each feeds three hotTailJoin
    // dim branches). bf — per-doc bigram frequencies, ~corpus-sized —
    // is NOT: storing a fan-out to block storage costs more than
    // re-deriving the explode+partial-agg from the pruned scan per
    // branch (VERDICT r5 #2: the bf checkpoint was a real ~10×
    // regression at sf0.1)
    val bf = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("bf"))
      .withColumn("w", element_at(split(col("g"), " "), 1))
    val c2 = bf.groupBy(col("g")).agg(sum(col("bf")).as("c2"))
      .materialize()
    val c1 = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .materialize()
    val perDoc = Relational.hotTailJoin(
        Relational.hotTailJoin(bf, c2, "g", "c2", hotN = 1024),
        c1, "w", "c1", hotN = 1024)
      .withColumn("s", expr("(1000000 * c1) div c2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"),
        (sum(col("bf") * col("s")).cast("double") / sum(col("bf")))
          .as("bigram_surprise"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_surprise"))
      .orderBy(col("doc_id"))
  }

  /** Metadata-filtered exact vector search (Similarity.filteredTopK):
    * top-3 cosine neighbors sharing the query's label — the attribute
    * match IS the join key, so no cross-label pair is ever scored. */
  def q80: Q = Q(
    "q80_filtered_ann",
    Some(s"""
      |WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      |q AS (SELECT vec_id, embedding AS qvec, label FROM e WHERE vec_id < 50),
      |scored AS (
      |  SELECT q.vec_id, q.label, e.vec_id AS neighbor_id,
      |         ${sqlCosine("q.qvec", "e.embedding")} AS cos
      |  FROM q JOIN e ON q.label = e.label AND q.vec_id != e.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, neighbor_id) AS nn_rank
      |  FROM scored)
      |SELECT vec_id, label, nn_rank, neighbor_id, cos
      |FROM ranked WHERE nn_rank <= 3
      |ORDER BY vec_id, nn_rank
      |""".stripMargin)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", matchCols = Seq("label"), k = 3)
      .withColumnRenamed("rank", "nn_rank")
      .orderBy(col("vec_id"), col("nn_rank"))
  }

  /** Gopher/C4-style document quality rules (QualityRules.gopherFlags):
    * every threshold an integer cross-multiplication, so all eight flag
    * bits and the keep conjunction hash-compare exactly. Demo thresholds
    * sized to THIS corpus's 10-99-token docs (words ∈ [20,80], mean word
    * length ∈ [3,8], ≥2 en stopwords); the rule STRUCTURE is Gopher's.
    * The line rules are degenerate here (no newlines in testdata — one
    * line per doc) but still exact; QualityRulesSpec exercises them on
    * real multi-line docs. */
  /** Gopher-flag CTE chain (t85/m85/f85) over `src` — f85 carries
    * doc_id, n_words, the eight flag bits, and the keep conjunction.
    * Shared by q85 (the flag report) and q95 (the curation gate) so the
    * thresholds exist once. */
  private[queries] def sqlGopherCtes(src: String): String = {
    val sw = sqlInList(Seq("the", "a", "and", "of", "is", "to", "in"))
    val bl = sqlInList(Seq("lorem", "javascript"))
    s"""t85 AS (
       |  SELECT doc_id, text, ${sqlTokens("text")} AS toks,
       |         string_split(text, chr(10)) AS lines
       |  FROM $src),
       |m85 AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(len(lines) AS BIGINT) AS n_lines,
       |         CAST(list_sum(list_transform(toks, x -> length(x)))
       |              AS BIGINT) AS total_chars,
       |         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
       |              AS BIGINT) AS symbols,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
       |              AS BIGINT) AS alpha_words,
       |         CAST(len(list_filter(toks, x -> x IN $sw)) AS BIGINT)
       |           AS stop_hits,
       |         CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]\\s')))
       |              AS BIGINT) AS bullet_lines,
       |         CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}')))
       |              AS BIGINT) AS ell_lines,
       |         CAST(len(list_filter(toks, x -> x IN $bl)) AS BIGINT)
       |           AS block_hits
       |  FROM t85),
       |f85 AS (
       |  SELECT *, (words_ok AND word_len_ok AND symbol_ok AND alpha_ok
       |             AND stopword_ok AND bullet_ok AND ellipsis_ok
       |             AND blocklist_ok) AS keep
       |  FROM (
       |    SELECT doc_id, n_words,
       |           (n_words >= 20 AND n_words <= 80) AS words_ok,
       |           (total_chars >= 3 * n_words AND total_chars <= 8 * n_words)
       |             AS word_len_ok,
       |           (symbols * 100 <= 10 * n_words) AS symbol_ok,
       |           (alpha_words * 100 >= 80 * n_words) AS alpha_ok,
       |           (stop_hits >= 2) AS stopword_ok,
       |           (bullet_lines * 100 <= 10 * n_lines) AS bullet_ok,
       |           (ell_lines * 100 <= 30 * n_lines) AS ellipsis_ok,
       |           (block_hits = 0) AS blocklist_ok
       |    FROM m85))""".stripMargin
  }

  def q85: Q = {
    Q("q85_gopher_rules",
      Some(s"""
        |WITH ${sqlGopherCtes("documents")}
        |SELECT * FROM f85 ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      QualityRules.gopherFlags(Tables.documents(s, dir), "text",
        QualityRules.GopherParams(minWords = 20, maxWords = 80,
          minMeanWordLen = 3, maxMeanWordLen = 8))
        .select(col("doc_id"), col("n_words"), col("words_ok"),
          col("word_len_ok"), col("symbol_ok"), col("alpha_ok"),
          col("stopword_ok"), col("bullet_ok"), col("ellipsis_ok"),
          col("blocklist_ok"), col("keep"))
        .orderBy(col("doc_id"))
    }
  }

  /** Duplicate-span REMOVAL (DupSpans.removeSpans): q79 detects, this
    * deletes — exactly the token positions covered by a corpus-
    * duplicated 3-shingle go, the unique remainder is reassembled in
    * order. The oracle replays flagged starts, the span fan-out, the
    * positional anti-join, and the ordered string_agg rebuild. */
  def q86: Q = Q(
    "q86_dup_span_removal",
    Some(s"""
      |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |s AS (SELECT doc_id, toks, ${sqlShingles("toks")} AS shl FROM t),
      |p AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(shl) + 1),
      |           i -> {'p': i - 1, 'g': shl[i]})) AS u
      |  FROM s),
      |g AS (SELECT doc_id, u.p AS spos, u.g AS g FROM p),
      |cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g),
      |dup AS (SELECT doc_id, spos FROM g JOIN cnt USING (g) WHERE c >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, spos + o.o AS tpos
      |  FROM dup CROSS JOIN (SELECT unnest([0, 1, 2]) AS o) o),
      |tokpos AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
      |           i -> {'p': i - 1, 'tok': toks[i]})) AS u
      |  FROM s),
      |tp AS (SELECT doc_id, u.p AS tpos, u.tok AS tok FROM tokpos),
      |kept AS (
      |  SELECT tp.doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
      |         string_agg(tp.tok, ' ' ORDER BY tp.tpos) AS clean_text
      |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.tpos = cov.tpos
      |  WHERE cov.doc_id IS NULL
      |  GROUP BY tp.doc_id),
      |tot AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM s)
      |SELECT tot.doc_id, tot.n_tokens,
      |       coalesce(k.kept_tokens, 0) AS kept_tokens,
      |       coalesce(k.clean_text, '') AS clean_text
      |FROM tot LEFT JOIN kept k USING (doc_id)
      |ORDER BY tot.doc_id
      |""".stripMargin)) { (s, dir) =>
    DupSpans.removeSpans(Tables.documents(s, dir), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** DSIR-lite importance scores (Dsir.importanceScores): likelihood
    * ratio of src1-domain vs whole-corpus unigram models, kept exact as
    * scaled-integer weights (q67's trick on the DSIR ratio). The oracle
    * replays smoothing, totals, integer division, and the per-doc sum. */
  /** DSIR CTE chain (toks87…sc87) over `src` (needs doc_id, text,
    * source): sc87 carries (doc_id, n_tokens, dsir_score). Shared by
    * q87 and q95 so the smoothing/scaling recipe exists once. */
  private def sqlDsirCtes(src: String): String =
    s"""toks87 AS (
       |  SELECT doc_id, (source = 'src1') AS is_target,
       |         unnest(${sqlTokens("text")}) AS tok
       |  FROM $src),
       |tf87 AS (
       |  SELECT doc_id, tok, count(*) AS c, bool_or(is_target) AS is_target
       |  FROM toks87 GROUP BY doc_id, tok),
       |raw87 AS (
       |  SELECT tok, sum(c) + 1 AS r,
       |         sum(CASE WHEN is_target THEN c ELSE 0 END) + 1 AS t
       |  FROM tf87 GROUP BY tok),
       |tot87 AS (SELECT sum(r) AS bigR, sum(t) AS bigT FROM raw87),
       |w87 AS (
       |  SELECT tok, ((1000000 * t * bigR) // (r * bigT)) AS w
       |  FROM raw87 CROSS JOIN tot87),
       |sc87 AS (
       |  SELECT tf87.doc_id, CAST(sum(tf87.c) AS BIGINT) AS n_tokens,
       |         CAST(sum(tf87.c * w87.w) AS BIGINT) AS dsir_score
       |  FROM tf87 JOIN w87 USING (tok) GROUP BY tf87.doc_id)""".stripMargin

  def q87: Q = Q(
    "q87_dsir_scores",
    Some(s"""
      |WITH ${sqlDsirCtes("documents")}
      |SELECT doc_id, n_tokens, dsir_score,
      |       CAST(dsir_score AS DOUBLE) / n_tokens AS dsir_per_token
      |FROM sc87 ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    Dsir.importanceScores(Tables.documents(s, dir), "doc_id", "text",
      targetPredicate = col("source") === "src1")
      .orderBy(col("doc_id"))
  }

  /** Cluster-balanced subsample (Sampling.cellBalancedSample over q69's
    * hyperplane cells): at most 5 vectors per 4-bit cell, picked by
    * deterministic salted hash — the diversity-preserving curation step.
    * The oracle replays cells, the pick hash, and the per-cell rank. */
  def q88: Q = Q(
    "q88_cell_balanced_sample",
    Some(s"""
      |WITH sigs AS (
      |  SELECT vec_id, ${sqlHyperplaneCell(4)} AS cell FROM embeddings),
      |p AS (
      |  SELECT vec_id, cell,
      |         ${sqlSaltedHash("CAST(vec_id AS VARCHAR)", "bal")}
      |           AS pick
      |  FROM sigs),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY cell
      |    ORDER BY pick, vec_id) AS rn
      |  FROM p)
      |SELECT cell, vec_id, pick FROM r WHERE rn <= 5
      |ORDER BY cell, pick, vec_id
      |""".stripMargin)) { (s, dir) =>
    val cells = Tables.embeddings(s, dir).select(col("vec_id"),
      graft.functions.SketchExprs.hyperplaneSig(col("embedding"), 4, 64)
        .as("cell"))
    graft.text.Sampling.cellBalancedSample(cells, "vec_id", "cell",
      perCell = 5, salt = "bal")
      .select(col("cell"), col("vec_id"), col("pick"))
      .orderBy(col("cell"), col("pick"), col("vec_id"))
  }

  /** Contrastive pair mining (Mining.contrastivePairs): per anchor, top
    * positives (cos ≥ 0.4) and top HARD negatives (cos ∈ [0.25, 0.4)) from
    * the same 4-bit hyperplane cell — the hard-negative-mining step of
    * embedding-model training as a corpus operator. Band thresholds sized
    * to THIS corpus (no pair exceeds cos 0.6); the structure is the
    * standard one. The oracle replays cells, the exact cosine fold, the
    * band split, and the per-(anchor, kind) hardest-first rank. */
  def q90: Q = Q(
    "q90_contrastive_pairs",
    Some(s"""
      |WITH e AS (
      |  SELECT vec_id, embedding, ${sqlHyperplaneCell(4)} AS cell
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS anchor_id, b.vec_id AS pair_id,
      |         ${sqlCosine("a.embedding", "b.embedding")} AS cos
      |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id != b.vec_id),
      |k AS (
      |  SELECT anchor_id, pair_id, cos,
      |         CASE WHEN cos >= 0.4 THEN 'pos'
      |              WHEN cos >= 0.25 THEN 'hard_neg' END AS kind
      |  FROM p WHERE cos >= 0.25),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY anchor_id, kind
      |    ORDER BY cos DESC, pair_id) AS rn
      |  FROM k)
      |SELECT anchor_id, kind, pair_id, cos FROM r WHERE rn <= 3
      |ORDER BY anchor_id, kind, cos DESC, pair_id
      |""".stripMargin)) { (s, dir) =>
    graft.sim.Mining.contrastivePairs(Tables.embeddings(s, dir),
      "vec_id", "embedding", dims = 64,
      tPos = 0.4, hardLo = 0.25, hardHi = 0.4, cellBits = 4, k = 3)
      .orderBy(col("anchor_id"), col("kind"), col("cos").desc, col("pair_id"))
  }

  /** Cross-corpus near-dup decontamination (Dedup.crossCorpusNearDupNew):
    * an incoming batch (sources src0–src4) is admitted only where it does
    * NOT near-duplicate (Jaccard ≥ 0.8) the already-ingested corpus (the
    * other sources). New-vs-new near-dups are kept by contract — within-
    * batch dedup is q28/q65's job. The oracle is ground-truth all-pairs
    * Jaccard (banding's miss rate at 0.8 with 16×2 is ~1e-7, same
    * argument as q28), so hash-equality proves the banded path misses
    * nothing. */
  def q91: Q = {
    val newSrc = "('src0', 'src1', 'src2', 'src3', 'src4')"
    Q("q91_cross_corpus_dedup",
      Some(s"""
        |WITH nw AS (
        |  SELECT doc_id, source,
        |         list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
        |  FROM documents WHERE source IN $newSrc),
        |old AS (
        |  SELECT doc_id, list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
        |  FROM documents WHERE source NOT IN $newSrc)
        |SELECT nw.doc_id, nw.source FROM nw
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM old
        |  WHERE CAST(len(list_intersect(nw.sh, old.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(nw.sh, old.sh))) >= 0.8)
        |ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val isNew = col("source").isin("src0", "src1", "src2", "src3", "src4")
      graft.dedup.Dedup.crossCorpusNearDupNew(
        docs.where(isNew), docs.where(!isNew), "doc_id", "text",
        threshold = 0.8)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }
  }

  /** Context-length planning sweep (Chunking.planSweep): chunk count and
    * padding waste per candidate max_len — the sizing table read before
    * committing a corpus to a context length. Candidates sized to this
    * corpus's 10–99-token docs. All integer-exact except the final
    * division of two exact sums. */
  def q92: Q = Q(
    "q92_packing_plan",
    Some(s"""
      |WITH t AS (
      |  SELECT CAST(len(${sqlTokens("text")}) AS BIGINT) AS n FROM documents
      |  WHERE text IS NOT NULL),
      |c AS (SELECT n, unnest([16, 32, 64, 128]) AS max_len FROM t)
      |SELECT CAST(max_len AS BIGINT) AS max_len,
      |       count(*) AS docs,
      |       CAST(sum(n) AS BIGINT) AS total_tokens,
      |       CAST(sum((n + max_len - 1) // max_len) AS BIGINT) AS total_chunks,
      |       CAST(sum(((n + max_len - 1) // max_len) * max_len - n) AS BIGINT)
      |         AS total_padding,
      |       CAST(sum(n) AS DOUBLE)
      |         / (CAST(sum((n + max_len - 1) // max_len) AS BIGINT) * max_len)
      |         AS fill_frac
      |FROM c GROUP BY max_len ORDER BY max_len
      |""".stripMargin)) { (s, dir) =>
    graft.text.Chunking.planSweep(Tables.documents(s, dir), "text",
      candidates = Seq(16, 32, 64, 128))
      .orderBy(col("max_len"))
  }

  /** Weighted sampling without replacement (Sampling.weightedSample):
    * Efraimidis–Spirakis keys u^(1/w) from the deterministic salted
    * hash, w = n_chars, global top-60. pow is the only transcendental
    * crossing engines (q66's precedent); the oracle replays hash → u →
    * key → rank exactly. */
  def q93: Q = Q(
    "q93_weighted_sample",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, source, n_chars,
      |         pow((${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "es")} + 0.5)
      |               / 2147483647.0,
      |             1.0 / CAST(n_chars AS DOUBLE)) AS es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
      |SELECT doc_id, source, n_chars, es_key FROM t
      |ORDER BY es_key DESC, doc_id LIMIT 60
      |""".stripMargin)) { (s, dir) =>
    graft.text.Sampling.weightedSample(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = 60, salt = "es")
      .orderBy(col("es_key").desc, col("doc_id"))
  }

  /** Count-Min sketch token counts (operators/CountMin): depth 4 ×
    * width 256 — sketch-sized (≤ 1024 counters) state regardless of
    * corpus size. Output pairs each token's exact count with its CMS
    * estimate; est ≥ exact always (collisions only add). Unlike HLL
    * (q38 rows-only), the sketch is deterministic given its hash rows,
    * so the oracle replays build + estimate exactly. */
  def q94: Q = {
    val d = 4
    val w = 256
    def arm(r: Int) =
      s"{'r': $r, 'b': (${sqlSaltedHash("tok", s"cms$r")}) % $w}"
    val arms = (0 until d).map(arm).mkString("[", ", ", "]")
    Q("q94_cms_token_counts",
      Some(s"""
        |WITH toks AS (
        |  SELECT unnest(${sqlTokens("text")}) AS tok FROM documents),
        |b AS (SELECT tok, unnest($arms) AS u FROM toks),
        |sketch AS (
        |  SELECT u.r AS row, u.b AS bucket, count(*) AS c
        |  FROM b GROUP BY 1, 2),
        |exact AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok),
        |qb AS (SELECT tok, exact_cnt, unnest($arms) AS u FROM exact)
        |SELECT qb.tok, qb.exact_cnt,
        |       min(coalesce(s.c, CAST(0 AS BIGINT))) AS cms_est
        |FROM qb LEFT JOIN sketch s ON s.row = qb.u.r AND s.bucket = qb.u.b
        |GROUP BY 1, 2 ORDER BY tok
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.CountMin
      val toks = Tables.documents(s, dir).select(
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      val sketch = CountMin.build(toks, "tok", d, w)
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      CountMin.estimate(sketch, exact, "tok", d, w)
        .select(col("tok"), col("exact_cnt"), col("cms_est"))
        .orderBy(col("tok"))
    }
  }

  /** IVF-PQ composed ANN (ProductQuantize.ivfAdcTopKWide) — the
    * canonical big-corpus vector-search layout: q69's deterministic
    * hash-cell coarse quantizer prunes candidates to the query's
    * Hamming-1 probed cells FIRST, then q72's PQ-ADC scores only those
    * candidates from the query's distance table — no distance math on
    * unprobed cells, no corpus float read. The oracle replays cells,
    * probe masks, codes, distance tables, and the m-ordered ADC fold. */
  def q97: Q = Q(
    "q97_ivf_pq_ann",
    Some(s"""
      |WITH ${PipelineQueries.sqlPqPrelude},
      |${sqlIvfAdcOracle(50)}
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.ProductQuantize
    val emb = Tables.embeddings(s, dir)
    val model = ProductQuantize.fit(emb, "vec_id", "embedding",
      dims = 64, subspaces = 8, codebookSize = 16)
    ProductQuantize.ivfAdcTopKWide(emb, emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", model, k = 3, cellBits = 6, radius = 1)
      .withColumnRenamed("rank", "nn_rank")
      .orderBy(col("vec_id"), col("nn_rank"))
  }

  /** IVF-PQ index BUILD face (sim/ProductQuantize.buildIvfPqIndex): the
    * stored ANN artifact q139 queries — per vector, its hyperplane cell
    * (coarse quantizer) and its PQ code per subspace, emitted long-form
    * for the oracle (the stored table keeps codes wide). Every step —
    * LCG pivot choice, slicing, argmin with (dist, k) tie-break, cell
    * bits — replays exactly in DuckDB (q71/q97's proven fragments). */
  def q138: Q = Q(
    "q138_ivfpq_index",
    Some(s"""
      |WITH ${PipelineQueries.sqlPqPrelude},
      |codes AS (SELECT vec_id, m, k AS code FROM ranked WHERE rn = 1),
      |ccell AS (SELECT vec_id, ${sqlHyperplaneCell(6)} AS cell FROM embeddings)
      |SELECT c.vec_id, CAST(c.m AS INTEGER) AS subspace,
      |       CAST(c.code AS INTEGER) AS code, ccell.cell
      |FROM codes c JOIN ccell USING (vec_id)
      |ORDER BY c.vec_id, subspace
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.ProductQuantize
    val emb = Tables.embeddings(s, dir)
    val model = ProductQuantize.fit(emb, "vec_id", "embedding",
      dims = 64, subspaces = 8, codebookSize = 16)
    ProductQuantize.buildIvfPqIndex(emb, "vec_id", "embedding",
        model, cellBits = 6)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")),
        col("cell"))
      .select(col("vec_id"), col("subspace"), col("code"), col("cell"))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** IVF-PQ QUERY face over a STORED index
    * (ProductQuantize.ivfAdcFromIndex): cells + codes come from the
    * ManifestCommit-published index (model table + cell-partitioned
    * codes), not the embeddings — no corpus float is read on the query
    * path. The oracle rebuilds from raw embeddings (q97's exact CTEs),
    * so the hash match proves stored-index ANN ≡ direct ANN. */
  def q139: Q = Q(
    "q139_ann_stored_query",
    Some(s"""
      |WITH ${PipelineQueries.sqlPqPrelude},
      |${sqlIvfAdcOracle(50)}
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.ProductQuantize
    import graft.sources.{ManifestCommit, SpineCache}
    val emb = Tables.embeddings(s, dir)
    // publish once per (format version, source-content fingerprint)
    // in the process; later runs only read — the stored-index
    // discipline (q137's pattern). The fingerprint covers the source
    // file's length+mtime, so regenerated testdata can never silently
    // feed a stale index.
    val idxPath = SpineCache.indexPath(s, dir, "ivfpq_idx", "embeddings")
    if (ManifestCommit.latest(s"$idxPath/codes").isEmpty) {
      val model = ProductQuantize.fit(emb, "vec_id", "embedding",
        dims = 64, subspaces = 8, codebookSize = 16)
      ProductQuantize.writeIvfPqIndex(emb, "vec_id", "embedding",
        model, cellBits = 6, idxPath)
    }
    val model = ProductQuantize.modelFromTable(
      ManifestCommit.read(s, s"$idxPath/model"))
    ProductQuantize.ivfAdcFromIndex(
        ManifestCommit.read(s, s"$idxPath/codes"),
        emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        model, k = 3, cellBits = 6, radius = 1)
      .withColumnRenamed("rank", "nn_rank")
      .orderBy(col("vec_id"), col("nn_rank"))
  }

  /** Flat BM25 index (term, doc_id, tf, dl, df, n, total) as a
    * SpineCache SPINE (round 12): q136 emits it verbatim and q98's
    * one-shot retrieval scored it from scratch per query — one corpus
    * tokenization + postings build per process instead of two
    * (guide §6). Written term-hash-partitioned across the session's
    * shuffle-partition count so the scoring expansion stays parallel
    * (the writeIndex layout rule); every column is integer-exact, so
    * the parquet round-trip is exact and the oracle's inline CTEs
    * still prove spine ≡ from-scratch. */
  private def bm25Spine(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.sources.SpineCache.table(s, dir, "bm25_index", "documents") {
      val n = s.sessionState.conf.numShufflePartitions
      graft.text.Bm25.buildIndexTable(Tables.documents(s, dir),
          "doc_id", "text")
        .repartition(n, col("term"))
    }

  /** BM25 retrieval (text.Bm25.topK): more-like-this over the documents
    * table — each query doc's distinct tokens retrieve the top-5
    * other docs by the standard BM25 ranking function (k1 = 1.2,
    * b = 0.75). idf crosses ln, whose last ulp is NOT cross-engine
    * portable (JVM intrinsic vs libm — measured on this corpus), so
    * each per-term contribution is quantized to DECIMAL(18,9) and the
    * cross-term sum is an exact decimal sum (NOTES rule 4) — the oracle
    * then replays every score bit-for-bit. The exact float constants
    * (k1+1 etc.) are interpolated from the same Scala values the
    * operator uses — shortest-decimal round-trip, the q66/q74
    * precedent. */
  def q98: Q = {
    val k1 = 1.2
    val b = 0.75
    Q("q98_bm25_topk",
      Some(sqlBm25TopK(20, 5, k1, b))) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // topK ≡ topKFromIndex over buildIndexTable (its own definition);
      // the index now comes from the shared spine
      graft.text.Bm25.topKFromIndex(bm25Spine(s, dir),
        docs.filter(col("doc_id") < 20),
        "doc_id", "text", k = 5, k1 = k1, b = b, excludeSelf = true)
        .orderBy(col("query_id"), col("rk"))
    }
  }

  /** BM25 index BUILD face (text.Bm25.buildIndexTable): the flat
    * posting-list dataset q137 scores from — (term, doc_id, tf, dl,
    * df, n, total), term-major. This is the expensive half of
    * retrieval (corpus tokenization + postings shuffle), paid once per
    * corpus generation; every count is integer-exact so the oracle
    * replays it verbatim (HUGEINT sums pinned to BIGINT). */
  def q136: Q = Q(
    "q136_bm25_index",
    Some(s"""
      |WITH toks AS (
      |  SELECT doc_id, unnest(${sqlTokens("text")}) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(dl) AS BIGINT) AS total FROM dl),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
      |SELECT term, tf.doc_id, tf, dl, df, n, total
      |FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN st
      |ORDER BY term, tf.doc_id
      |""".stripMargin)) { (s, dir) =>
    bm25Spine(s, dir)
      .orderBy(col("term"), col("doc_id"))
  }

  /** BM25 QUERY face over a STORED index (text.Bm25.topKFromIndex):
    * scores come from the ManifestCommit-persisted posting lists, not
    * the corpus — the first run of a generation publishes the index,
    * every later run reads it back (build-once / query-many; at 100 TB
    * the query path re-reads the index, never the corpus). The oracle
    * rebuilds from the raw corpus, so the hash match proves
    * stored-index scoring ≡ direct scoring. */
  def q137: Q = {
    val k1 = 1.2
    val b = 0.75
    Q("q137_bm25_stored_query",
      Some(sqlBm25TopK(20, 5, k1, b))) { (s, dir) =>
      import graft.sources.{ManifestCommit, SpineCache}
      val docs = Tables.documents(s, dir)
      // one stored index per (format version, source-content
      // fingerprint) per process; the first run publishes it, later
      // runs only read. v1 = layout version (bump on schema change);
      // the fingerprint covers the source file's length+mtime, so
      // neither a layout change NOR regenerated testdata can feed a
      // stale survivor to the reader
      val idxPath = SpineCache.indexPath(s, dir, "bm25_idx", "documents")
      if (ManifestCommit.latest(idxPath).isEmpty)
        graft.text.Bm25.writeIndex(docs, "doc_id", "text", idxPath)
      graft.text.Bm25.topKFromIndex(ManifestCommit.read(s, idxPath),
        docs.filter(col("doc_id") < 20), "doc_id", "text",
        k = 5, k1 = k1, b = b, excludeSelf = true)
        .orderBy(col("query_id"), col("rk"))
    }
  }

  /** TextRank keywords (text.TextRank.keywords): damped PageRank over
    * the symmetrized token co-occurrence graph, 5 power-iteration
    * rounds, top-30 tokens. Ranks are SCALED INTEGERS (q67's trick on
    * power iteration: teleport (3·1e9) div (20·N), damped contribution
    * (17·((w·r) div W)) div 20), so the whole ITERATION — not just the
    * ranking — is integer-exact and the oracle replays all five rounds
    * as unrolled CTEs, where float PageRank could never hash-compare. */
  def q99: Q = {
    val iters = 5
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |         sum((17 * ((e.w * r.rank) // outw.wout)) // 20) AS s
         |  FROM e JOIN outw USING (src) JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT nodes.node,
         |         ((3 * CAST(1000000000 AS BIGINT)) // (20 * n))
         |           + coalesce(s, 0) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.node = nodes.node)"""
        .stripMargin
    }.mkString(",\n")
    Q("q99_textrank_keywords",
      Some(s"""
        |WITH t AS (SELECT ${sqlTokens("text")} AS toks FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(
        |           range(1, greatest(len(toks) - 1, 0) + 1),
        |           i -> {'a': toks[i], 'b': toks[i+1]})) AS u
        |  FROM t),
        |p AS (SELECT u.a AS a, u.b AS b FROM bg WHERE u.a != u.b),
        |e0 AS (SELECT a, b, count(*) AS c FROM p GROUP BY 1, 2),
        |e AS (
        |  SELECT src, dst, sum(c) AS w FROM (
        |    SELECT a AS src, b AS dst, c FROM e0
        |    UNION ALL SELECT b, a, c FROM e0)
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (
        |  SELECT node, (1000000000 // n) AS rank
        |  FROM nodes CROSS JOIN nn),
        |$iterCtes
        |SELECT node AS token, CAST(rank AS BIGINT) AS rank FROM r$iters
        |ORDER BY rank DESC, token LIMIT 30
        |""".stripMargin)) { (s, dir) =>
      graft.text.TextRank.keywords(Tables.documents(s, dir), "text",
        iterations = iters, k = 30)
        .select(col("node").as("token"), col("rank"))
        .orderBy(col("rank").desc, col("token"))
    }
  }

  /** Histogram quantile sketch (operators/HistogramSketch): per-source
    * p50/p90/p99 of document length in |sources| × |boundaries|
    * integers of state — the bounded-memory distribution profile
    * (where to put a length cutoff) that Spark's approx_percentile
    * cannot oracle-check (its sketch merge is partitioning-dependent).
    * Fixed power-of-2 boundaries make the histogram a plain grouped
    * count and the quantile pick pure integer arithmetic — hash-exact. */
  def q100: Q = {
    val bounds = 0L +: (0 to 20).map(1L << _)
    val permille = Seq(500, 900, 990)
    val caseChain = bounds.map(b =>
      s"CASE WHEN n_chars >= $b THEN 1 ELSE 0 END").mkString(" + ")
    val bArr = bounds.mkString("[", ", ", "]")
    Q("q100_length_quantile_sketch",
      Some(s"""
        |WITH h AS (
        |  SELECT source, ($caseChain) - 1 AS bucket FROM documents),
        |hist AS (SELECT source, bucket, count(*) AS cnt FROM h GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |         sum(cnt) OVER (PARTITION BY source) AS n
        |  FROM hist),
        |${permille.map(p => s"""p$p AS (
        |  SELECT source, CAST($p AS INTEGER) AS permille,
        |         CAST(n AS BIGINT) AS n_rows,
        |         CAST(list_extract($bArr, min(bucket) + 1) AS BIGINT) AS est
        |  FROM cum WHERE cum * 1000 >= n * $p GROUP BY source, n)""")
          .mkString(",\n")}
        |SELECT * FROM p500 UNION ALL SELECT * FROM p900
        |UNION ALL SELECT * FROM p990
        |ORDER BY source, permille
        |""".stripMargin)) { (s, dir) =>
      graft.operators.HistogramSketch.quantiles(
        Tables.documents(s, dir), "n_chars", Seq("source"),
        boundaries = bounds, permille = permille)
        .orderBy(col("source"), col("permille"))
    }
  }

  /** Banded semantic dedup with GUARANTEED drops in the correctness
    * gate: the corpus is augmented with ×2-scaled copies of the first
    * 30 vectors (positive scaling preserves every hyperplane sign, so
    * a copy shares ALL band buckets with its original and sits at
    * cosine ≈ 1 — it MUST drop under any correct keep rule, whatever
    * the plane geometry). q81 runs the production regime where this
    * corpus yields no qualifying pairs; THIS row proves the drop path
    * itself cross-engine — the oracle replays the augmented corpus,
    * signatures, banding, cap, exact cosine, and the lower-id keep
    * rule, and must agree on exactly which 30 rows disappear. */
  def q101: Q = {
    Q("q101_banded_dedup_drops",
      Some(s"""
        |WITH allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_transform(embedding,
        |           x -> CAST(x * CAST(2 AS FLOAT) AS FLOAT))
        |  FROM embeddings WHERE vec_id < 30),
        |sigs AS (
        |  SELECT vec_id, embedding, ${sqlHyperplaneCell(60)} AS sig
        |  FROM allv),
        |${sqlBandedCtes(10, 6, 4096)},
        |losers AS (
        |  SELECT DISTINCT y.vec_id
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
        |  WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.9)
        |SELECT vec_id FROM allv
        |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id
        |""".stripMargin)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val copies = emb.where(col("vec_id") < 30)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      SemDedup.semanticDedupBanded(emb.unionByName(copies),
        "vec_id", "embedding", dims = 64, threshold = 0.9,
        bands = 10, rowsPerBand = 6)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }
  }

  /** End-to-end curation capstone for the round-4 wave, as ONE
    * declarative plan: Gopher quality gate (q85's thresholds) → exact
    * dedup to the canonical copy (q26's fingerprint, min-id keep) →
    * DSIR importance scores toward src1 (q87's recipe) → weighted
    * sampling without replacement by DSIR score (q93's keys) → epoch
    * shard assignment. Every stage's constants live in the shared
    * fragment that its standalone query proves; the capstone checks the
    * COMPOSITION hash-exactly. Scale shape: scan-stage gate, ids-only
    * dedup shuffle, skew-proof DSIR joins, sketch-sized top-k, one
    * final scan-stage shard tag. */
  def q95: Q = Q(
    "q95_curated_corpus",
    Some(s"""
      |WITH ${sqlGopherCtes("documents")},
      |kept95 AS (
      |  SELECT d.doc_id, d.text, d.source
      |  FROM documents d JOIN f85 USING (doc_id) WHERE f85.keep),
      |fp95 AS (
      |  SELECT doc_id, text, source, ${sqlContentFp("trim(text)")} AS fp
      |  FROM kept95),
      |canon95 AS (SELECT min(doc_id) AS doc_id FROM fp95 GROUP BY fp),
      |base95 AS (
      |  SELECT f.doc_id, f.text, f.source FROM fp95 f
      |  JOIN canon95 USING (doc_id)),
      |${sqlDsirCtes("base95")},
      |keyed95 AS (
      |  SELECT b.doc_id, b.source, sc87.dsir_score,
      |         pow((${sqlSaltedHash("CAST(b.doc_id AS VARCHAR)", "cur")} + 0.5)
      |               / 2147483647.0,
      |             1.0 / CAST(sc87.dsir_score AS DOUBLE)) AS es_key
      |  FROM base95 b JOIN sc87 USING (doc_id)
      |  WHERE sc87.dsir_score > 0)
      |SELECT doc_id, source, dsir_score, es_key,
      |       (${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "sh95")}) % 4 AS shard
      |FROM keyed95 ORDER BY es_key DESC, doc_id LIMIT 120
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val docs = Tables.documents(s, dir)
    // stage boundaries: `kept` feeds the dedup fingerprint AND the canon
    // re-join; `base` feeds DSIR's tokenizer AND the weighted-sample
    // join. Without the checkpoints every downstream branch re-runs the
    // gate from the raw corpus scan — 36 scans of documents in the
    // un-materialized physical plan; with them the corpus is read ONCE
    // and each later stage starts from the previous stage's rows, the
    // way a production curation pipeline materializes between stages.
    val kept = QualityRules.gopherFlags(docs, "text",
      QualityRules.GopherParams(minWords = 20, maxWords = 80,
        minMeanWordLen = 3, maxMeanWordLen = 8))
      .where(col("keep")).select("doc_id", "text", "source")
      .materialize()
    val canon = Dedup.exactDedup(kept, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    val base = kept.join(canon, Seq("doc_id")).materialize()
    val scores = Dsir.importanceScores(base, "doc_id", "text",
      targetPredicate = col("source") === "src1")
    val weighted = base.select("doc_id", "source")
      .join(scores.select(col("doc_id"), col("dsir_score")), Seq("doc_id"))
    graft.text.Sampling.weightedSample(weighted, "doc_id", "dsir_score",
      k = 120, salt = "cur")
      .withColumn("shard",
        graft.functions.PolyHash.saltedHash(col("doc_id"), "sh95") % 4)
      .select("doc_id", "source", "dsir_score", "es_key", "shard")
      .orderBy(col("es_key").desc, col("doc_id"))
  }
}
