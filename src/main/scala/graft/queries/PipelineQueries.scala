package graft.queries
import graft.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.MultiModal
import graft.sim.Similarity
import graft.text.TextAnalysis

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal plumbing, event-time analytics) over
  * documents/embeddings/events. Oracle SQL is GENERATED from the same
  * constants the Scala operators use (hash parameters, stopword lists,
  * weights), so the two sides cannot drift.
  */
object PipelineQueries {

  // ---- shared DuckDB fragments, mirroring graft.functions/graft.text ----

  /** ≙ TextAnalysis.tokens */
  private[queries] def sqlTokens(src: String) = s"regexp_split_to_array(trim($src), '\\s+')"

  /** ≙ PolyHashImpl.hash (fold over code points, mult 131 mod 2^31-1). */
  private[queries] def sqlCharFold(src: String): String = sqlCharFold(src, 131L)

  private[queries] def sqlCharFold(src: String, mult: Long) =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |               list_transform(string_split($src, ''), c -> ord(c))),
       |  (a, c) -> (a * $mult + c) % 2147483647)""".stripMargin

  /** ≙ Dedup.contentFingerprint: h131 · (2^31-1) + h137. */
  private[queries] def sqlContentFp(src: String) =
    s"(${sqlCharFold(src, 131L)}) * 2147483647 + (${sqlCharFold(src, 137L)})"

  /** ≙ PolyHash.saltedHash: the double-fold salted mixing hash (outer
    * fold over `salt:` + the inner hash's decimal digits). */
  private[queries] def sqlSaltedHash(expr: String, salt: String): String =
    sqlCharFold(
      s"('$salt:' || CAST((${sqlCharFold(s"($expr || ':$salt')")}) AS VARCHAR))")

  /** Pearson correlation from exact moment sums, floor-quantized to
    * milli and variance-guarded (NULL when either variance is zero):
    * (n·Σxy − Σx·Σy) / √((n·Σxx − Σx²)(n·Σyy − Σy²)). ONE text valid
    * in both DuckDB and Spark SQL, shared by every oracle/Spark call
    * site (q302 Spearman-on-midranks, q303 assortativity) so the
    * hash-gated copies can never drift — the KmvSketch.sqlEstimate
    * discipline. */
  private[queries] def sqlPearsonMilli(n: String, sx: String, sy: String,
      sxx: String, syy: String, sxy: String): String =
    s"""CASE WHEN $n * $sxx - $sx * $sx > 0 AND $n * $syy - $sy * $sy > 0
       |THEN CAST(floor(CAST(
       |  (CAST($n AS DOUBLE) * CAST($sxy AS DOUBLE)
       |   - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))
       |  / sqrt((CAST($n AS DOUBLE) * CAST($sxx AS DOUBLE)
       |          - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
       |         * (CAST($n AS DOUBLE) * CAST($syy AS DOUBLE)
       |            - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)))
       |AS DECIMAL(18,9)) * 1000) AS BIGINT) END""".stripMargin

  /** Oracle CTEs `cx`..`agg` over v(x, y): the doubled mid-ranks
    * rx2/ry2 of x and y (ties share 2·(#below) + c + 1) and their exact
    * sums n, sx, sy, sxx, syy, sxy — Spearman's ρ is
    * [[sqlPearsonMilli]] over `agg`. */
  private[queries] def sqlSpearmanSums: String =
    """cx AS (SELECT x, count(*) AS c FROM v GROUP BY x),
      |rx AS (
      |  SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + c + 1 AS rx2
      |  FROM cx),
      |cy AS (SELECT y, count(*) AS c FROM v GROUP BY y),
      |ry AS (
      |  SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + c + 1 AS ry2
      |  FROM cy),
      |j AS (
      |  SELECT CAST(rx.rx2 AS HUGEINT) AS rx2,
      |         CAST(ry.ry2 AS HUGEINT) AS ry2
      |  FROM v JOIN rx ON v.x = rx.x JOIN ry ON v.y = ry.y),
      |agg AS (
      |  SELECT count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy,
      |         sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
      |         sum(rx2 * ry2) AS sxy
      |  FROM j)""".stripMargin

  /** Spark side of [[sqlSpearmanSums]]: the one `agg` row, from v(x, y)
    * (v is read three times; the caller materializes it). */
  private[queries] def spearmanSums(v: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    def rankDim(c: String, out: String) = {
      val wC = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      v.groupBy(col(c)).agg(count(lit(1)).as("__c"))
        .withColumn(out,
          lit(2L) * coalesce(sum(col("__c")).over(wC), lit(0L)) +
            col("__c") + 1L)
        .select(col(c), col(out))
    }
    v
      .join(broadcast(rankDim("x", "rx2")), Seq("x"))
      .join(broadcast(rankDim("y", "ry2")), Seq("y"))
      .select(col("rx2").cast(d38).as("rx2"), col("ry2").cast(d38).as("ry2"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx2")).cast(d38).as("sx"),
        sum(col("ry2")).cast(d38).as("sy"),
        sum(col("rx2") * col("rx2")).cast(d38).as("sxx"),
        sum(col("ry2") * col("ry2")).cast(d38).as("syy"),
        sum(col("rx2") * col("ry2")).cast(d38).as("sxy"))
  }

  /** ≙ Dedup.shingles(n=3) on pre-tokenized list `toks`. */
  private[queries] def sqlShingles(toks: String) =
    s"""list_transform(range(1, greatest(len($toks) - 2, 0) + 1),
       |  i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])""".stripMargin

  private[queries] def sqlInList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  val all: Seq[Q] =
    Seq(q23, q24, q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q43, q45,
      q46, q47, q51, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69,
      q70, q71, q72, q73, q74)

  /** Embedding-cosine near-duplicate pairs (the fifth dedup mode): all
    * pairs at cos ≥ 0.4 (the synthetic embeddings top out near 0.5-0.6,
    * so this is the "suspiciously similar" band for this corpus). */
  def q51: Q = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
    Q("q51_embedding_neardup",
      Some(s"""
        |WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         ${dot("a.embedding", "b.embedding")}
        |           / (sqrt(${dot("a.embedding", "a.embedding")})
        |              * sqrt(${dot("b.embedding", "b.embedding")})) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.4
        |ORDER BY id_a, id_b
        |""".stripMargin)) { (s, dir) =>
      Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** TF-IDF top terms per document. The idf uses a SCALED-INTEGER inverse
    * frequency (⌊1e6·N / doc_freq⌋) instead of ln(N/df): Java Math.log
    * and DuckDB ln disagree in the last ulp on some inputs, while this
    * rational form keeps every intermediate an exact integer < 2^53 —
    * bit-portable with identical ordering behavior. Top-5 per doc with
    * deterministic tie-break. */
  def q47: Q = Q(
    "q47_tfidf_top_terms",
    Some("""
      |WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY tok),
      |n AS (SELECT count(*) AS total FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok AS token,
      |         CAST(tf.cnt * ((1000000 * n.total) // df.dfreq) AS DOUBLE)
      |           / doclen.dl AS tfidf
      |  FROM tf JOIN doclen USING (doc_id) JOIN df ON tf.tok = df.tok CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS trank
      |  FROM scored)
      |SELECT doc_id, trank, token, tfidf FROM ranked WHERE trank <= 5
      |ORDER BY doc_id, trank
      |""".stripMargin)) { (s, dir) =>
    // stage boundary: every downstream table (doc lengths, document
    // frequencies, the scored join's fact side) is derivable from the
    // per-doc term frequencies — checkpoint tf once and derive the rest
    // (dl = Σ cnt per doc; dfreq = tf rows per token), so the corpus is
    // tokenized once instead of once per branch (was 4 scans)
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .materialize()
    val doclen = tf.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
    // N rides the plan as a broadcast 1-row aggregate (same shape as the
    // oracle's CROSS JOIN n) — no separate driver count() job, and the
    // plan re-optimizes with the real N under AQE instead of a baked
    // literal
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("total"))
    tf.join(doclen, "doc_id")
      .join(broadcast(df), "token")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        (col("cnt") * expr("(1000000 * total) div dfreq")).cast("double") / col("dl"))
      .drop("total")
      .transform(graft.plans.GroupedTopK.topKPerKey(_, Seq("doc_id"),
        Seq("tfidf" -> false, "token" -> true), k = 5, rankCol = Some("trank")))
      .select(col("doc_id"), col("trank"), col("token"), col("tfidf"))
      .orderBy(col("doc_id"), col("trank"))
  }

  /** Deterministic hash-mod stratified sampling (graft.text.Sampling):
    * per-language keep rates, reproducible on any engine/partitioning —
    * the 100 TB-safe corpus-sampling practice. */
  def q45: Q = Q(
    "q45_stratified_sample",
    Some(s"""
      |WITH b AS (
      |  SELECT doc_id, lang,
      |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "corpus_v1")} % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, bucket FROM b
      |WHERE bucket < CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 80 ELSE 50 END
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Sampling
    val docs = Tables.documents(s, dir).select("doc_id", "lang")
    Sampling.stratifiedHashSample(docs, "doc_id", "lang",
      pcts = Map("en" -> 30, "zh" -> 80), defaultPct = 50, salt = "corpus_v1")
      .withColumn("bucket", Sampling.hashBucket(col("doc_id"), "corpus_v1"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary (the explode→count wordcount shape feeding
    * tokenizer/BPE training): top tokens by document-level frequency with
    * deterministic tie-break. */
  def q46: Q = Q(
    "q46_vocabulary",
    Some("""
      |SELECT u.tok AS token, count(*) AS freq,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |      FROM documents) u(doc_id, tok)
      |GROUP BY u.tok
      |ORDER BY freq DESC, token
      |LIMIT 100
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)
  }

  /** Token counting + quality scoring (length/stopword/punctuation
    * components with fixed weights) — pure column expressions. */
  def q23: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    Q("q23_token_quality",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
        |           AS n_subtokens,
        |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(toks, x -> length(x))), (a,b) -> a + b) AS DOUBLE)
        |           / len(toks) AS avg_token_len,
        |         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |           / length(text) AS punct_ratio,
        |         CAST(len(list_filter(toks, x -> x IN $sw)) AS DOUBLE)
        |           / len(toks) AS stop_ratio,
        |         least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
        |  FROM t)
        |SELECT doc_id, n_tokens, n_subtokens, avg_token_len, punct_ratio,
        |       len_score * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.4
        |         + (1.0 - punct_ratio) * 0.2 AS quality
        |FROM m ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      val sw0 = TextAnalysis.LangStopwords.head._2
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeIshCount(col("text")).as("n_subtokens"),
        TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text"), sw0).as("quality"))
        .orderBy(col("doc_id"))
    }
  }

  /** Stopword-hit language ID with deterministic argmax. */
  def q24: Q = {
    val hits = TextAnalysis.LangStopwords.map { case (lang, words) =>
      s"len(list_filter(toks, x -> x IN ${sqlInList(words)})) AS s_$lang"
    }.mkString(",\n         ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l2 => s"s_$lang >= s_$l2")
      val cond = (s"s_$lang > 0" +: later).mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString("\n         ")
    Q("q24_language_id",
      Some(s"""
        |WITH t AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |         $hits
        |  FROM t)
        |SELECT doc_id, lang AS declared_lang,
        |       CASE $cases
        |         ELSE 'und' END AS lang_pred
        |FROM h ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        col("lang").as("declared_lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }
  }

  /** Rolling-hash document fingerprint via the native codegen'd PolyHash
    * Catalyst expression. */
  def q25: Q = Q(
    "q25_fingerprint",
    Some(s"""
      |SELECT doc_id, ${sqlCharFold("trim(text)")} AS fp
      |FROM documents ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup on the ~62-bit composite content fingerprint (shuffle
    * the fingerprint, never the text). */
  def q26: Q = Q(
    "q26_exact_dedup",
    Some(s"""
      |SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_copies
      |FROM (SELECT doc_id, ${sqlContentFp("trim(text)")} AS fp FROM documents)
      |GROUP BY fp ORDER BY fp
      |""".stripMargin)) { (s, dir) =>
    Dedup.exactDedup(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("fp"))
  }

  /** MinHash signatures (32 LCG permutations over 3-gram shingle hashes):
    * emits a checksum of the signature + shingle count per doc. */
  def q27: Q = {
    val perms = (0 until 32).map(p => s"[${Dedup.permA(p)}, ${Dedup.permB(p)}]")
      .mkString("[", ", ", "]")
    Q("q27_minhash_signatures",
      Some(s"""
        |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |sh AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM t),
        |hh AS (SELECT doc_id, len(shingles) AS n_shingles,
        |              list_transform(shingles, s0 -> ${sqlCharFold("s0")}) AS hashes
        |       FROM sh),
        |sig AS (SELECT doc_id, n_shingles,
        |               list_transform($perms, ab ->
        |                 coalesce(list_min(list_transform(hashes,
        |                   h -> (h * ab[1] + ab[2]) % ${Dedup.Mod})), ${Dedup.Mod})) AS sg
        |        FROM hh)
        |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), sg),
        |                   (a, v) -> (a * 31 + v) % ${Dedup.Mod}) AS sig_checksum
        |FROM sig ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      val sig = Dedup.minHashSignature(col("text"), perms = 32)
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(Dedup.shingles(col("text"))).cast("long").as("n_shingles"),
        aggregate(sig, lit(0L), (a, v) => (a * 31L + v) % Dedup.Mod).as("sig_checksum"))
        .orderBy(col("doc_id"))
    }
  }

  /** Near-duplicate pairs: MinHash-LSH banding (16 bands × 2 rows) +
    * exact 3-gram Jaccard ≥ 0.8 verification of candidates. The oracle
    * brute-forces ALL pairs — LSH recall at J ≥ 0.8 is 1 − (1−J²)¹⁶
    * ≈ 1 − 1e-7, so the outputs coincide. */
  def q28: Q = Q(
    "q28_neardup_pairs",
    Some(s"""
      |WITH t AS (SELECT doc_id,
      |                  list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
      |           FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY doc_a, doc_b
      |""".stripMargin)) { (s, dir) =>
    Dedup.nearDuplicatePairs(Tables.documents(s, dir), "doc_id", "text", threshold = 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash signatures (32-bit, ±1 votes per token-hash bit). */
  /** ≙ Dedup.simHash over pre-hashed token list `hs` (32-bit majority
    * vote per bit). Shared by q29 and the Hamming-join oracle. */
  private[queries] def sqlSimhash(hs: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(0, 32), b ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform($hs, h -> CASE WHEN (h >> b) % 2 = 1
       |                                        THEN 1 ELSE -1 END)),
       |           (a, v) -> a + v) > 0
       |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)),
       |  (a, v) -> a + v)""".stripMargin

  def q29: Q = Q(
    "q29_simhash",
    Some(s"""
      |WITH t AS (SELECT doc_id,
      |                  list_transform(${sqlTokens("text")}, w -> ${sqlCharFold("w")}) AS hs
      |           FROM documents)
      |SELECT doc_id,
      |       ${sqlSimhash("hs")} AS simhash
      |FROM t ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      Dedup.simHash(col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Oracle tail of the brute-force cosine top-3 (q30, q62): `pairs`
    * scores each `q` row against every other row of `corpus` (a
    * relation aliased or named `c`) on vector column `v` (left-fold
    * double dots, bit-identical on both engines), then `ranked` keeps
    * the best 3 per query. */
  private def sqlCosineTop3(corpus: String, v: String): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
         |  (x, y) -> x + y)""".stripMargin
    s"""pairs AS (
      |  SELECT q.vec_id, c.vec_id AS neighbor_id,
      |         ${dot(s"q.$v", s"c.$v")}
      |           / (sqrt(${dot(s"q.$v", s"q.$v")})
      |              * sqrt(${dot(s"c.$v", s"c.$v")})) AS cos
      |  FROM q JOIN $corpus ON q.vec_id != c.vec_id),
      |ranked AS (SELECT *, row_number() OVER (
      |             PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS nn_rank
      |           FROM pairs)
      |SELECT vec_id, nn_rank, neighbor_id, cos
      |FROM ranked WHERE nn_rank <= 3 ORDER BY vec_id, nn_rank""".stripMargin
  }

  /** Spark side of [[sqlCosineTop3]]: exact cosine top-3 of the
    * vec_id < 50 queries over `corpus`'s (vec_id, embedding). */
  private def cosineTop3(corpus: DataFrame): DataFrame =
    Similarity.bruteForceTopK(
      corpus = corpus, queries = corpus.filter(col("vec_id") < 50),
      idCol = "vec_id", vecCol = "embedding", k = 3)
      .withColumnRenamed("rank", "nn_rank")
      .orderBy(col("vec_id"), col("nn_rank"))

  /** Brute-force exact cosine top-3 (ANN baseline): queries = vec_id < 50,
    * corpus = all. Left-fold double dot products — bit-identical on both
    * engines. */
  def q30: Q = {
    Q("q30_cosine_topk",
      Some(s"""
        |WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id, embedding FROM embeddings),
        |${sqlCosineTop3("c", "embedding")}
        |""".stripMargin)) { (s, dir) =>
      cosineTop3(Tables.embeddings(s, dir))
    }
  }

  /** LSH-bucketed approximate NN (the O(n·bands) scale path). The oracle
    * replays the ENTIRE pipeline — LCG hyperplane signatures (left-fold
    * projections), band buckets, the bucket-size cap, candidate join and
    * exact cosine ranking — so even the "approximate" operator is
    * hash-checked; recall vs brute force is additionally unit-tested. */
  def q31: Q = {
    val proj = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * " +
      "((CAST((1103515245 * (p * 64 + (i - 1)) + 12345) % 2147483648 AS DOUBLE) " +
      "/ 2147483648.0) - 0.5))), (a, b) -> a + b)"
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
    Q("q31_lsh_ann",
      Some(s"""
        |WITH sigs AS (
        |  SELECT vec_id, embedding,
        |         list_sum(list_transform(range(0, 32), p ->
        |           CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS sig
        |  FROM embeddings),
        |banded_raw AS (
        |  SELECT vec_id, embedding, u.b AS band, (sig >> (u.b * 8)) % 256 AS bucket
        |  FROM sigs, unnest(range(0, 4)) AS u(b)),
        |banded AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded_raw)
        |  WHERE bsz <= 128),
        |cand AS (
        |  SELECT DISTINCT x.vec_id, x.embedding AS qvec,
        |                  y.vec_id AS neighbor_id, y.embedding AS nvec
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id != y.vec_id),
        |scored AS (
        |  SELECT vec_id, neighbor_id,
        |         ${dot("qvec", "nvec")}
        |           / (sqrt(${dot("qvec", "qvec")}) * sqrt(${dot("nvec", "nvec")})) AS cos
        |  FROM cand),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS nn_rank
        |  FROM scored)
        |SELECT vec_id, nn_rank, neighbor_id, cos FROM ranked WHERE nn_rank <= 3
        |ORDER BY vec_id, nn_rank
        |""".stripMargin)) { (s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        dims = 64, k = 3, bands = 4, rowsPerBand = 8)
        .withColumnRenamed("rank", "nn_rank")
        .orderBy(col("vec_id"), col("nn_rank"))
    }
  }

  /** Event-time tumbling-hour analytics (the batch face of the streaming
    * operator; exact integer bucket arithmetic on epoch nanos). */
  def q32: Q = Q(
    "q32_event_hour_stats",
    Some("""
      |SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY hour_bucket, event_type
      |ORDER BY hour_bucket, event_type
      |""".stripMargin)) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(
        expr("ts div 3600000000000").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 6))).cast("double").as("total_value"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  /** Multimodal payload plumbing: binary payload + typed metadata,
    * partition-wise decode/feature-extract (codec STUBBED — see
    * graft.multimodal.MultiModal; byte-level features are real). */
  def q33: Q = Q(
    "q33_multimodal_features",
    Some(s"""
      |SELECT doc_id AS media_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |       ord(substring(text, 1, 1)) AS first_byte,
      |       CAST(64 + ord(substring(text, 1, 1)) % 64 AS INTEGER) AS width,
      |       CAST(64 + octet_length(encode(text)) % 64 AS INTEGER) AS height,
      |       CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS n_frames,
      |       ${sqlCharFold("text")} AS byte_checksum
      |FROM documents ORDER BY media_id
      |""".stripMargin)) { (s, dir) =>
    MultiModal.decodeAndFeaturize(
      MultiModal.toMediaRecords(Tables.documents(s, dir)))
      .toDF()
      .orderBy(col("media_id"))
  }

  /** Video-style frame sampling: each media row fans out into n_frames
    * frame rows with chained checksums — the generator/explode shape,
    * verified end-to-end against the byte-level oracle. */
  def q43: Q = Q(
    "q43_frame_sample",
    Some(s"""
      |WITH f AS (
      |  SELECT doc_id AS media_id,
      |         CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS n_frames,
      |         ${sqlCharFold("text")} AS byte_checksum
      |  FROM documents)
      |SELECT media_id, CAST(u.i AS INTEGER) AS frame_idx,
      |       (byte_checksum * 31 + u.i) % 2147483647 AS frame_checksum
      |FROM f, unnest(range(0, n_frames)) AS u(i)
      |ORDER BY media_id, frame_idx
      |""".stripMargin)) { (s, dir) =>
    MultiModal.sampleFrames(
      MultiModal.decodeAndFeaturize(
        MultiModal.toMediaRecords(Tables.documents(s, dir))))
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** End-to-end corpus cleaning: quality gate + near-dup removal
    * (keep-lowest-id) via left_anti join — the composed training-data
    * pipeline. */
  def q34: Q = Q(
    "q34_clean_corpus",
    Some(s"""
      |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks, text FROM documents),
      |q AS (
      |  SELECT doc_id,
      |         least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
      |           + least(CAST(len(list_filter(toks,
      |               x -> x IN ${sqlInList(TextAnalysis.LangStopwords.head._2)}))
      |               AS DOUBLE) / len(toks) * 5.0, 1.0) * 0.4
      |           + (1.0 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
      |               AS DOUBLE) / length(text)) * 0.2 AS quality
      |  FROM t),
      |sh AS (SELECT doc_id, list_distinct(${sqlShingles("toks")}) AS sh FROM t),
      |dupes AS (
      |  SELECT b.doc_id
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
      |SELECT doc_id, quality FROM q
      |WHERE quality >= 0.5 AND doc_id NOT IN (SELECT doc_id FROM dupes)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val quality = docs.select(
      col("doc_id"),
      TextAnalysis.qualityScore(col("text"), TextAnalysis.LangStopwords.head._2)
        .as("quality"))
      .filter(col("quality") >= 0.5)
    val losers = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    quality.join(losers, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination overlap (graft.text.Contamination): the corpus
    * is hash-split ~10/90 into an eval sample and a training set, and each
    * eval doc is scored by the fraction of its distinct trigram shingles
    * that also occur in the training side — the published n-gram
    * decontamination test. The train side is only ever scanned + broadcast-
    * filtered; its gram set is never globally distinct'd. */
  def q59: Q = Q(
    "q59_contamination",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh,
      |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "contam_v1")} % 100 AS bucket
      |  FROM documents),
      |bench AS (SELECT doc_id, unnest(sh) AS gram FROM t WHERE bucket < 10),
      |tg AS (SELECT DISTINCT gram
      |       FROM (SELECT unnest(sh) AS gram FROM t WHERE bucket >= 10) u),
      |hits AS (
      |  SELECT b.doc_id, count(*) AS n_grams,
      |         CAST(sum(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_hits
      |  FROM bench b LEFT JOIN tg USING (gram) GROUP BY b.doc_id)
      |SELECT doc_id, n_grams, n_hits,
      |       CAST(n_hits AS DOUBLE) / n_grams AS contamination
      |FROM hits ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.text.{Contamination, Sampling}
    val docs = Tables.documents(s, dir)
    val bucket = Sampling.hashBucket(col("doc_id"), "contam_v1")
    Contamination.overlap(
      train = docs.filter(bucket >= 10),
      bench = docs.filter(bucket < 10),
      idCol = "doc_id", textCol = "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** Repetition-ratio quality flags (graft.text.Repetition): distinct-token
    * fraction, most-frequent-token fraction, most-frequent-bigram fraction —
    * the MassiveText-style "repetitious document" signals as exact
    * int/int divisions. */
  def q60: Q = Q(
    "q60_repetition_flags",
    Some(s"""
      |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |tc AS (
      |  SELECT doc_id, g, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(toks) AS g FROM t) u GROUP BY doc_id, g),
      |tp AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |         count(*) AS n_distinct, max(cnt) AS top_cnt
      |  FROM tc GROUP BY doc_id),
      |bc AS (
      |  SELECT doc_id, g, count(*) AS cnt
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
      |            i -> toks[i] || ' ' || toks[i+1])) AS g
      |        FROM t) u GROUP BY doc_id, g),
      |bp AS (SELECT doc_id, max(cnt) AS top_bi_cnt FROM bc GROUP BY doc_id)
      |SELECT tp.doc_id, n_tokens,
      |       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_frac,
      |       CAST(top_cnt AS DOUBLE) / n_tokens AS top_token_frac,
      |       CAST(top_bi_cnt AS DOUBLE) / (n_tokens - 1) AS top_bigram_frac
      |FROM tp LEFT JOIN bp USING (doc_id) ORDER BY tp.doc_id
      |""".stripMargin)) { (s, dir) =>
    graft.text.Repetition.profile(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** int8 embedding quantization profile (graft.sim.Quantize): floor-based
    * symmetric codes with per-vector scale — the 4×-smaller ANN
    * storage/shuffle form — verified down to exact integer code sums. */
  def q61: Q = Q(
    "q61_quantize_embeddings",
    Some("""
      |WITH e AS (
      |  SELECT vec_id, embedding,
      |         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, m, CAST(len(embedding) AS BIGINT) AS n_dims,
      |         list_transform(embedding, x -> CAST(
      |           CASE WHEN m = 0 THEN 0
      |                ELSE floor(CAST(x AS DOUBLE) * 127.0 / m) END AS INTEGER)) AS qv
      |  FROM e)
      |SELECT vec_id, n_dims, m / 127.0 AS scale,
      |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(qv, v -> CAST(v AS BIGINT))), (a, b) -> a + b)
      |         AS BIGINT) AS q_sum,
      |       list_min(qv) AS q_min, list_max(qv) AS q_max,
      |       CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat
      |FROM q ORDER BY vec_id
      |""".stripMargin)) { (s, dir) =>
    graft.sim.Quantize.stats(Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"))
  }

  /** Quantized retrieval end-to-end: brute-force cosine top-k over the
    * int8 CODES (per-vector scales cancel inside cosine, so quantized
    * cosine is pure integer dot products — exact in both engines, and the
    * shuffle/broadcast payload is 4× smaller than floats). Same shape as
    * q30; the oracle replays quantization + integer dots + ranking. */
  def q62: Q = {
    Q("q62_quantized_ann",
      Some(s"""
        |WITH e AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(
        |    CASE WHEN m = 0 THEN 0
        |         ELSE floor(CAST(x AS DOUBLE) * 127.0 / m) END AS INTEGER)) AS qa
        |  FROM e),
        |q AS (SELECT vec_id, qa FROM qv WHERE vec_id < 50),
        |${sqlCosineTop3("qv c", "qa")}
        |""".stripMargin)) { (s, dir) =>
      cosineTop3(graft.sim.Quantize.quantizedCodes(
        Tables.embeddings(s, dir), "vec_id", "embedding"))
    }
  }

  /** Context-window chunking (graft.text.Chunking): 32-token chunks every
    * 24 tokens (8-token overlap), final chunk clipped — a shuffle-free
    * per-row fan-out verified down to the chunk text. */
  def q63: Q = Q(
    "q63_chunk_windows",
    Some(s"""
      |WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
      |           WHERE text IS NOT NULL),
      |c AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |         CASE WHEN len(toks) <= 32 THEN 1
      |              ELSE CAST((len(toks) - 32 + 24 - 1) // 24 AS INTEGER) + 1
      |         END AS n_chunks
      |  FROM t),
      |x AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
      |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
      |       CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_chunk_tokens,
      |       array_to_string(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ')
      |         AS chunk_text
      |FROM x ORDER BY doc_id, chunk_idx
      |""".stripMargin)) { (s, dir) =>
    graft.text.Chunking.chunk(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Greedy sequence packing (graft.text.Packing on OrderedFold.scanGroups):
    * documents hash into 8 independent packing buckets and stream in doc-id
    * order into 256-token bins. The oracle replays the exact greedy fold
    * with the q21 list_reduce pattern — the accumulator list carries each
    * doc's (bin, offset, running fill), all integer math. */
  def q64: Q = Q(
    "q64_sequence_packing",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n,
      |         ${sqlCharFold("(CAST(doc_id AS VARCHAR) || ':pack_v1')")} % 8 AS bucket
      |  FROM documents),
      |folded AS (
      |  SELECT bucket,
      |         list_reduce(
      |           list([{'d': doc_id, 'n': n, 'b': CAST(0 AS BIGINT),
      |                  'o': CAST(0 AS BIGINT), 'cur': n}] ORDER BY doc_id),
      |           (acc, e) -> list_append(acc,
      |             CASE WHEN acc[-1].cur + e[1].n > 256 AND acc[-1].cur > 0
      |                  THEN {'d': e[1].d, 'n': e[1].n, 'b': acc[-1].b + 1,
      |                        'o': CAST(0 AS BIGINT), 'cur': e[1].n}
      |                  ELSE {'d': e[1].d, 'n': e[1].n, 'b': acc[-1].b,
      |                        'o': acc[-1].cur, 'cur': acc[-1].cur + e[1].n}
      |             END)) AS state
      |  FROM t GROUP BY bucket)
      |SELECT u.s.d AS doc_id, CAST(u.bucket AS INTEGER) AS bucket,
      |       u.s.n AS n_tokens, CAST(u.s.b AS INTEGER) AS bin_idx,
      |       u.s.o AS bin_offset
      |FROM (SELECT bucket, unnest(state) AS s FROM folded) u(bucket, s)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    graft.text.Packing.greedyPack(Tables.documents(s, dir), "doc_id", "text",
      capacity = 256L, nBuckets = 8, salt = "pack_v1")
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        col("bin_idx"), col("bin_offset"))
      .orderBy(col("doc_id"))
  }

  /** Shared near-dup connected-components oracle chain (t/p/e/reach/
    * lbl over `documents` at Jaccard ≥ 0.8): `lbl` carries (doc_id,
    * cluster_id). The ground-truth cluster definition exists ONCE —
    * q65, q106 and q205 all interpolate this block (the sqlGopherCtes
    * discipline applied to clustering). Callers open WITH RECURSIVE. */
  private[queries] def sqlNearDupCcCtes: String =
    s"""t AS (SELECT doc_id, list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
       |      FROM documents),
       |p AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
       |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
       |reach(n, m) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM e) nn(u)
       |  UNION
       |  SELECT e.v, r.m FROM reach r JOIN e ON e.u = r.n),
       |lbl AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n)""".stripMargin

  /** Near-duplicate CLUSTERS (Dedup.nearDupClusters): connected components
    * over the q28 pairs via alternating large-star/small-star (O(log n)
    * rounds on any topology); the oracle computes the same components with
    * a recursive CTE. cluster_id = min doc id of the component —
    * deterministic on any partitioning. */
  def q65: Q = Q(
    "q65_neardup_clusters",
    Some(s"""
      |WITH RECURSIVE
      |$sqlNearDupCcCtes
      |SELECT doc_id, cluster_id,
      |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM lbl ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.nearDuplicatePairs(
      Tables.documents(s, dir), "doc_id", "text", threshold = 0.8)
    Dedup.nearDupClusters(pairs)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled language-mixture rates (Sampling.temperatureMixture,
    * α = 0.7): per-language keep permille ∝ p^(α−1), rarest language keeps
    * 1000‰. The Σp^α normalizer cancels in the ratio, so the only
    * transcendental is pow in identical op order on both engines. */
  def q66: Q = Q(
    "q66_mixture_rates",
    // exponent interpolated from the SAME Scala arithmetic the operator
    // runs (alpha - 1.0): the hand-written literal -0.3 is a different
    // double than 0.7 - 1.0 (one ulp), and pow at a floor boundary could
    // flip keep_permille between engines
    Some(s"""
      |WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |t AS (SELECT sum(n_docs) AS total FROM c),
      |w AS (SELECT lang, n_docs,
      |             pow(CAST(n_docs AS DOUBLE) / total, ${0.7 - 1.0}) AS w
      |      FROM c CROSS JOIN t),
      |m AS (SELECT max(w) AS mw FROM w)
      |SELECT lang, n_docs,
      |       CAST(floor(1000.0 * (w / mw)) AS BIGINT) AS keep_permille,
      |       (n_docs * CAST(floor(1000.0 * (w / mw)) AS BIGINT)) // 1000
      |         AS expected_docs
      |FROM w CROSS JOIN m ORDER BY lang
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Sampling
    Sampling.temperatureMixture(Tables.documents(s, dir), "lang", alpha = 0.7)
      .orderBy(col("lang"))
  }

  /** Unigram-surprise quality score: mean scaled-integer inverse corpus
    * frequency of a document's tokens — the "rare-token density" proxy for
    * perplexity-style filtering, with q47's rational trick (⌊1e6·T/cnt⌋)
    * instead of log so every intermediate is an exact integer and the
    * final mean is one exact-int/int division. Common-token documents
    * score low, rare-token ones high. The token join is Zipf-skew-proof
    * by construction (Relational.hotTailJoin): the hottest tokens — stop
    * words, which concentrate a large share of all rows on a few keys —
    * join via broadcast and never shuffle; only the tail vocabulary rides
    * the shuffle join (a corpus-wide vocabulary must not broadcast);
    * per-doc partial sums combine map-side. */
  def q67: Q = Q(
    "q67_unigram_surprise",
    Some("""
      |WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |t AS (SELECT count(*) AS total FROM toks),
      |scored AS (
      |  SELECT toks.doc_id, ((1000000 * t.total) // cnt.c) AS s
      |  FROM toks JOIN cnt USING (tok) CROSS JOIN t)
      |SELECT doc_id, count(*) AS n_tokens,
      |       CAST(sum(s) AS DOUBLE) / count(*) AS surprise
      |FROM scored GROUP BY doc_id ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    // pre-aggregate term frequencies before anything joins: the fact side
    // shrinks from total-tokens rows to distinct (doc, tok) rows with
    // map-side combine, and the corpus counts derive from tf instead of a
    // second token pass — sum(tf·s)/sum(tf) is integer-exact and equal to
    // the per-token-row mean. Stage boundaries (the Dsir discipline): tf
    // feeds the vocab count AND hotTailJoin's two fact branches, cnt
    // feeds its three dim branches — checkpoint both so the corpus is
    // tokenized once (was 6 scans of documents in the physical plan)
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .materialize()
    val cnt = tf.groupBy(col("tok")).agg(sum(col("tf")).as("c"))
      .materialize()
    val total = cnt.agg(sum(col("c")).as("total"))
    graft.operators.Relational.hotTailJoin(tf, cnt, "tok", "c", hotN = 1024)
      .crossJoin(broadcast(total))
      .withColumn("s", expr("(1000000 * total) div c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf") * col("s")).cast("double") / sum(col("tf"))).as("surprise"))
      .orderBy(col("doc_id"))
  }

  /** IVF-shaped ANN with the DETERMINISTIC hash-cell coarse quantizer
    * (Similarity.ivfHashTopK): 6 hyperplane-sign bits = 64 cells, each
    * query probing its cell + all 6 Hamming-1 neighbors. Unlike q55's
    * KMeans cells (inherently rows-only), the LCG cell assignment replays
    * exactly in DuckDB, so IVF-shaped retrieval gets a hash-exact oracle.
    */
  def q69: Q = {
    val proj = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * " +
      "((CAST((1103515245 * (p * 64 + (i - 1)) + 12345) % 2147483648 AS DOUBLE) " +
      "/ 2147483648.0) - 0.5))), (a, b) -> a + b)"
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
    val masks = Similarity.hammingMasks(6, 1).mkString("[", ", ", "]")
    Q("q69_ivf_hash_ann",
      Some(s"""
        |WITH sigs AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_sum(list_transform(range(0, 6), p ->
        |           CASE WHEN $proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))
        |           AS BIGINT) AS cell
        |  FROM embeddings),
        |q AS (SELECT vec_id, embedding AS qvec, cell AS qcell
        |      FROM sigs WHERE vec_id < 50),
        |probes AS (
        |  SELECT vec_id, qvec, xor(qcell, CAST(u.m AS BIGINT)) AS cell
        |  FROM q, unnest($masks) AS u(m)),
        |cand AS (
        |  SELECT p.vec_id, p.qvec, s.vec_id AS neighbor_id, s.embedding AS nvec
        |  FROM probes p JOIN sigs s USING (cell)
        |  WHERE p.vec_id != s.vec_id),
        |scored AS (
        |  SELECT vec_id, neighbor_id,
        |         ${dot("qvec", "nvec")}
        |           / (sqrt(${dot("qvec", "qvec")}) * sqrt(${dot("nvec", "nvec")})) AS cos
        |  FROM cand),
        |ranked AS (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS nn_rank
        |           FROM scored)
        |SELECT vec_id, nn_rank, neighbor_id, cos FROM ranked WHERE nn_rank <= 3
        |ORDER BY vec_id, nn_rank
        |""".stripMargin)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfHashTopK(emb, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", dims = 64, k = 3, cellBits = 6, radius = 1)
        .withColumnRenamed("rank", "nn_rank")
        .orderBy(col("vec_id"), col("nn_rank"))
    }
  }

  /** Packing-quality metric (Packing.fillStats over the q64 pack): bin
    * count, doc count, total tokens, and mean bin fill fraction — exact
    * integer sums with one final int/int double division, replayed by the
    * oracle on top of the q64 fold. */
  def q70: Q = Q(
    "q70_packing_fill",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n,
      |         ${sqlCharFold("(CAST(doc_id AS VARCHAR) || ':pack_v1')")} % 8 AS bucket
      |  FROM documents),
      |folded AS (
      |  SELECT bucket,
      |         list_reduce(
      |           list([{'d': doc_id, 'n': n, 'b': CAST(0 AS BIGINT),
      |                  'o': CAST(0 AS BIGINT), 'cur': n}] ORDER BY doc_id),
      |           (acc, e) -> list_append(acc,
      |             CASE WHEN acc[-1].cur + e[1].n > 256 AND acc[-1].cur > 0
      |                  THEN {'d': e[1].d, 'n': e[1].n, 'b': acc[-1].b + 1,
      |                        'o': CAST(0 AS BIGINT), 'cur': e[1].n}
      |                  ELSE {'d': e[1].d, 'n': e[1].n, 'b': acc[-1].b,
      |                        'o': acc[-1].cur, 'cur': acc[-1].cur + e[1].n}
      |             END)) AS state
      |  FROM t GROUP BY bucket),
      |packed AS (
      |  SELECT u.bucket, u.s.d AS doc_id, u.s.n AS n_tokens, u.s.b AS bin_idx
      |  FROM (SELECT bucket, unnest(state) AS s FROM folded) u(bucket, s)),
      |bins AS (
      |  SELECT bucket, bin_idx, sum(n_tokens) AS bin_tokens, count(*) AS n_docs
      |  FROM packed GROUP BY bucket, bin_idx)
      |SELECT count(*) AS n_bins,
      |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
      |       CAST(sum(least(bin_tokens, 256)) AS DOUBLE) / (count(*) * 256)
      |         AS mean_fill
      |FROM bins
      |""".stripMargin)) { (s, dir) =>
    graft.text.Packing.fillStats(
      graft.text.Packing.greedyPack(Tables.documents(s, dir), "doc_id", "text",
        capacity = 256L, nBuckets = 8, salt = "pack_v1"),
      capacity = 256L)
  }

  /** Shared PQ oracle prelude ≙ ProductQuantize.codebooks + encode over
    * embeddings (64 dims, 8 subspaces, 16 LCG pivots): WITH-clause body
    * ending in `ranked` (argmin rows have rn = 1). */
  private[queries] def sqlPqPrelude: String = {
    def sqDist(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(range(1, 9), i ->
         |             (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |             (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
         |           (a, b) -> a + b)""".stripMargin
    s"""h AS (
       |  SELECT vec_id, embedding,
       |         (1103515245 * vec_id + 12345) % 2147483648 AS h
       |  FROM embeddings),
       |piv AS (
       |  SELECT vec_id, embedding,
       |         CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS k
       |  FROM h QUALIFY k < 16),
       |cb AS (
       |  SELECT CAST(u.m AS INTEGER) AS m, k,
       |         list_slice(embedding, u.m * 8 + 1, u.m * 8 + 8) AS cvec
       |  FROM piv, unnest(range(0, 8)) AS u(m)),
       |sub AS (
       |  SELECT vec_id, CAST(u.m AS INTEGER) AS m,
       |         list_slice(embedding, u.m * 8 + 1, u.m * 8 + 8) AS svec
       |  FROM embeddings, unnest(range(0, 8)) AS u(m)),
       |d AS (
       |  SELECT vec_id, m, k,
       |         ${sqDist("svec", "cvec")} AS dist
       |  FROM sub JOIN cb USING (m)),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |  FROM d)""".stripMargin
  }

  /** Product quantization (sim.ProductQuantize): 64-dim float embeddings →
    * 8 sub-vector codes against deterministic LCG-pivot codebooks of 16
    * entries. The oracle replays pivot selection, slicing and the squared-
    * L2 argmin with (dist, code) tie-break — hash-exact where KMeans-coded
    * PQ could never be. */
  def q71: Q = Q(
    "q71_product_quantization",
    Some(s"""
      |WITH $sqlPqPrelude
      |SELECT vec_id, m AS subspace, k AS code, dist
      |FROM ranked WHERE rn = 1 ORDER BY vec_id, subspace
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.ProductQuantize
    val emb = Tables.embeddings(s, dir)
    val cb = ProductQuantize.codebooks(emb, "vec_id", "embedding",
      dims = 64, subspaces = 8, codebookSize = 16)
    ProductQuantize.encode(emb, cb, "vec_id", "embedding",
      dims = 64, subspaces = 8)
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** ADC retrieval over PQ codes, WIDE plan (ProductQuantize.encodeWide +
    * adcTopKWide): corpus floats never read; encoding is one shuffle-free
    * projection; each query broadcasts its nested distance table and the
    * per-pair cost is 8 array lookups + a fixed-order sum — no
    * per-(pair, subspace) fan-out, no aggregation exchange. Bit-matches
    * the long adcTopK form (spec-pinned), so the oracle's sorted-fold
    * replay is unchanged. */
  def q72: Q = Q(
    "q72_pq_adc_topk",
    Some(s"""
      |WITH $sqlPqPrelude,
      |codes AS (SELECT vec_id, m, k AS code FROM ranked WHERE rn = 1),
      |qs AS (
      |  SELECT vec_id AS qid, CAST(u.m AS INTEGER) AS m,
      |         list_slice(embedding, u.m * 8 + 1, u.m * 8 + 8) AS qvec
      |  FROM embeddings, unnest(range(0, 8)) AS u(m)
      |  WHERE vec_id < 50),
      |qd AS (
      |  SELECT qid, m, k AS code,
      |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(range(1, 9), i ->
      |             (CAST(qvec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
      |             (CAST(qvec[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)))),
      |           (a, b) -> a + b) AS qdst
      |  FROM qs JOIN cb USING (m)),
      |pairs AS (
      |  SELECT qd.qid, c.vec_id AS neighbor_id, qd.m, qd.qdst
      |  FROM codes c JOIN qd ON c.m = qd.m AND c.code = qd.code
      |  WHERE c.vec_id != qd.qid),
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
      |FROM rnk WHERE nn_rank <= 3 ORDER BY vec_id, nn_rank
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.ProductQuantize
    val emb = Tables.embeddings(s, dir)
    val model = ProductQuantize.fit(emb, "vec_id", "embedding",
      dims = 64, subspaces = 8, codebookSize = 16)
    val codes = ProductQuantize.encodeWide(emb, "vec_id", "embedding", model)
    ProductQuantize.adcTopKWide(codes, emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", model, k = 3)
      .withColumnRenamed("rank", "nn_rank")
      .orderBy(col("vec_id"), col("nn_rank"))
  }

  /** Incremental corpus delta (Dedup.incrementalNew): docs arriving after
    * the first half of the corpus was ingested, minus content dups of the
    * seen half. The bloom prefilter moves work (definitely-new rows skip
    * the anti-join shuffle) but never changes the answer — the oracle is
    * the plain fingerprint anti-join. */
  def q73: Q = Q(
    "q73_incremental_dedup",
    Some(s"""
      |WITH half AS (SELECT max(doc_id) // 2 AS mid FROM documents),
      |seen AS (
      |  SELECT ${sqlContentFp("trim(text)")} AS fp
      |  FROM documents, half WHERE doc_id <= mid),
      |nw AS (
      |  SELECT doc_id, ${sqlContentFp("trim(text)")} AS fp
      |  FROM documents, half WHERE doc_id > mid)
      |SELECT doc_id, fp FROM nw
      |WHERE fp NOT IN (SELECT fp FROM seen)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val mid = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
    val seenFps = docs.filter(col("doc_id") <= mid)
      .select(Dedup.contentFingerprint(trim(col("text"))).as("fp"))
    Dedup.incrementalNew(
      docs.filter(col("doc_id") > mid), "doc_id", "text", seenFps)
      .orderBy(col("doc_id"))
  }

  /** Mixture rates APPLIED (Sampling.applyMixture): the q66 temperature
    * rates sample the actual corpus via deterministic permille hash-mod —
    * broadcast rate join + scan-stage filter, no shuffle; the oracle
    * replays rates and membership bit-for-bit. */
  def q74: Q = Q(
    "q74_mixture_sampled",
    Some(s"""
      |WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |t AS (SELECT sum(n_docs) AS total FROM c),
      |w AS (SELECT lang, pow(CAST(n_docs AS DOUBLE) / total, ${0.7 - 1.0}) AS w
      |      FROM c CROSS JOIN t),
      |m AS (SELECT max(w) AS mw FROM w),
      |rates AS (
      |  SELECT lang, CAST(floor(1000.0 * (w / mw)) AS BIGINT) AS keep_permille
      |  FROM w CROSS JOIN m)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN rates USING (lang)
      |WHERE ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "mix_v1")} % 1000
      |        < keep_permille
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Sampling
    val docs = Tables.documents(s, dir)
    val rates = Sampling.temperatureMixture(docs, "lang", alpha = 0.7)
    Sampling.applyMixture(docs, "doc_id", "lang", rates, salt = "mix_v1")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end training-ready corpus — the operators composed the way a
    * real prep pipeline chains them: keep only near-dup CLUSTER canonicals
    * (q65 components, not just pairwise losers), gate on the repetition
    * signal (q60), and emit each survivor's context-window chunk count
    * (q63 arithmetic). One declarative plan; the oracle re-derives every
    * stage. */
  def q68: Q = Q(
    "q68_training_corpus",
    Some(s"""
      |WITH RECURSIVE
      |t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |sh AS (SELECT doc_id, list_distinct(${sqlShingles("toks")}) AS sh FROM t),
      |tc AS (
      |  SELECT doc_id, g, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(toks) AS g FROM t) u GROUP BY doc_id, g),
      |tp AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |         count(*) AS n_distinct
      |  FROM tc GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
      |reach(n, m) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM e) nn(u)
      |  UNION
      |  SELECT e.v, r.m FROM reach r JOIN e ON e.u = r.n),
      |losers AS (
      |  SELECT n AS doc_id FROM reach GROUP BY n HAVING n != min(m)),
      |kept AS (
      |  SELECT doc_id, n_tokens FROM tp
      |  WHERE CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
      |    AND doc_id NOT IN (SELECT doc_id FROM losers))
      |SELECT doc_id, n_tokens,
      |       CASE WHEN n_tokens <= 32 THEN CAST(1 AS BIGINT)
      |            ELSE (n_tokens - 32 + 24 - 1) // 24 + 1 END AS n_chunks
      |FROM kept ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.8)
    val losers = Dedup.nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    graft.text.Repetition.profile(docs, "doc_id", "text")
      .filter(col("distinct_frac") >= 0.3)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") <= 32, lit(1L))
          .otherwise(expr("(n_tokens - 32 + 24 - 1) div 24") + 1L).as("n_chunks"))
      .orderBy(col("doc_id"))
  }
}
