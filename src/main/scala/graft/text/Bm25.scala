package graft.text
import graft.Materialize.MatOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 text retrieval (Robertson & Zaragoza 2009, "The Probabilistic
  * Relevance Framework: BM25 and Beyond") as a relational operator — the
  * inverted-index ranking function every search engine runs, expressed
  * as the three dataflow stages a distributed engine wants:
  *
  *   1. postings: per-doc term frequencies, pre-aggregated BEFORE any
  *      join (one row per distinct (doc, term) — the q67 discipline);
  *   2. term statistics: document frequency → IDF per term (vocab-sized)
  *      and the one-row (N, total-length) corpus aggregate;
  *   3. scoring: query terms join the postings on the term key, each
  *      (query, doc, term) contributes idf·(tf·(k1+1))/(tf + k1·(1−b +
  *      b·dl/avgdl)), and the per-(query, doc) sum folds in TERM ORDER.
  *
  * Scale shape: build-once / query-many. [[buildIndexTable]] pays the
  * corpus tokenization + postings shuffle ONCE and (via [[writeIndex]])
  * persists a flat posting-list dataset through ManifestCommit
  * generations; [[topKFromIndex]] is the cheap half — the query-term
  * set is small and broadcasts, so the stored index never shuffles for
  * the match join; the per-(query, doc) aggregation is the one wide
  * exchange; top-k rides the native [[graft.plans.GroupedTopK]]
  * operator (bounded heap per query, no full sort). Nothing
  * corpus-sized is ever broadcast or collected. Re-running queries
  * against a 100 TB corpus re-reads the (much smaller) index, not the
  * corpus.
  *
  * Determinism: idf and the tf fraction are fixed IEEE expression
  * trees, but idf crosses a transcendental (ln) whose last ulp is NOT
  * portable across engines (JVM intrinsic vs libm disagree on ~1 in 6
  * of this corpus's inputs — measured, not hypothetical). So each
  * per-term contribution is quantized to DECIMAL(18,9) — seven decimal
  * digits of slack above the 1-ulp disagreement — and the cross-term
  * sum is an exact decimal sum: order-independent on any partitioning
  * and bit-identical across engines (the established rule for sums of
  * transcendental outputs; see q36/NOTES). The DuckDB oracle replays
  * scores exactly (q98).
  */
object Bm25 {

  /** The stored inverted index: one flat posting-list table
    * (term-major), denormalized so a single dataset carries everything
    * scoring needs — (term, doc_id, tf, dl, df, n, total). The
    * constant (n, total) corpus stats repeat per row; columnar
    * encoding stores the repetition in a handful of bytes. Built once
    * per corpus generation, re-scored per query batch — the
    * build-once/query-many split a search index IS. */
  def buildIndexTable(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    // ONE definition of the index math: the flat shape is exactly the
    // normalized postings + read-time stats (keeping a second copy of
    // the tf/dl derivation here would let the two paths drift and
    // silently break q185's append-maintained ≡ rebuilt invariant)
    indexFromPostings(postingsTable(corpus, idCol, textCol))

  /** Persist the index as a ManifestCommit dataset (atomic generations
    * — a re-build publishes a new generation, readers never see a
    * half-written index). The index is term-hash-partitioned across
    * `nFiles` files: a small index would otherwise AQE-coalesce into
    * ONE file, and the scoring expansion over a 1-file index runs
    * single-threaded (measured 4× on the whole query path). Term-hash
    * layout also keeps each term's posting list in one file — the
    * skip-friendly layout for a future term-pruned read. */
  def writeIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      path: String, nFiles: Int = 32): Unit =
    graft.sources.ManifestCommit.writeVersioned(
      buildIndexTable(corpus, idCol, textCol)
        .repartition(nFiles, col("term")), path)

  /** Score query docs against a stored index (the cheap half: no
    * corpus scan, no tokenization of anything but the queries).
    * `index` is [[buildIndexTable]]'s shape, read back from storage or
    * passed through directly. */
  def topKFromIndex(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1 && k1 > 0 && b >= 0 && b <= 1, s"bad params k=$k k1=$k1 b=$b")
    val qt = queries.select(col(idCol).as("query_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
      .materialize()
    // idf and the length norm are fixed expression trees — the oracle
    // replays this exact op order. The flat index carries df/dl/n/total
    // on every posting row, so the match join (query-vocab broadcast
    // against the term-keyed postings) is the ONLY join in the query
    // path — the index never shuffles.
    val idf = log(lit(1.0) +
      ((col("n") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val avgdl = col("total").cast("double") / col("n")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) *
      (col("dl").cast("double") / avgdl))
    val contrib = idf * ((col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + norm))
    val matched = index
      .join(broadcast(qt), Seq("term"))
    val pairs = (if (excludeSelf)
        matched.where(col("doc_id") =!= col("query_id"))
      else matched)
      .select(col("query_id"), col("doc_id"), col("term"),
        contrib.as("contrib"))
    // quantize each contribution, then sum EXACTLY: decimal sums are
    // associative, so the score is partition-order-independent and the
    // non-portable last ulp of ln never reaches the comparison
    val scores = pairs
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
        .cast("double").as("score"))
    graft.plans.GroupedTopK.topKPerKey(scores,
        keyCols = Seq("query_id"),
        order = Seq("score" -> false, "doc_id" -> true),
        k = k, rankCol = Some("rk"))
      .select(col("query_id"), col("rk"), col("doc_id"), col("score"))
  }

  /** Top-k corpus docs per query doc, scored by BM25 over whitespace
    * tokens — the one-shot form: [[buildIndexTable]] then
    * [[topKFromIndex]]. `queries` needs (`idCol`, `textCol`) like
    * `corpus`; query term sets are DISTINCT tokens (binary query
    * weights — the common retrieval form). Output: (query_id, rk,
    * doc_id, score), rank 1 = best, ties broken by doc id.
    *
    * @param excludeSelf drop corpus docs whose id equals the query id
    *                    (for more-like-this over the same table)
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    // spread the in-memory index by term with an EXPLICIT partition
    // count before scoring: AQE otherwise coalesces the small index to
    // ~1 partition and the (postings × queries) scoring expansion —
    // the expensive part — runs single-threaded (the same failure the
    // stored path fixes with term-bucketed files; measured 2.4× on the
    // one-shot path at sf0.1)
    val n = corpus.sparkSession.sessionState.conf.numShufflePartitions
    topKFromIndex(
      buildIndexTable(corpus, idCol, textCol).repartition(n, col("term")),
      queries, idCol, textCol, k, k1, b, excludeSelf)
  }

  /** NORMALIZED postings — (term, doc_id, tf, dl) without the baked
    * df/n/total snapshot — the shape that supports INCREMENTAL index
    * maintenance: a new document's posting rows are independent of
    * every existing row (its dl is its own length), so appending docs
    * is a pure append, while the flat [[buildIndexTable]] shape would
    * need every row rewritten (df/n/total change globally with each
    * ingest). Corpus-level stats are re-derived at read time by
    * [[indexFromPostings]] — dim-sized aggregations over the stored
    * postings, paid once per query session, not once per ingest.
    * Append-only contract: updating or deleting a document requires a
    * rebuild (or [[graft.sources.ManifestCommit.deleteWhere]] on its
    * doc_id before re-appending). */
  def postingsTable(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = corpus.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .materialize()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    tf.join(dl, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
  }

  /** Exactly-once incremental ingest: the new docs' normalized
    * postings appended as one ManifestCommit generation keyed by
    * (appId, batchId) — [[graft.sources.ManifestCommit.appendBatch]]'s
    * replay protection makes a foreachBatch pipeline of this an
    * exactly-once index maintainer. Term-bucketed across `nFiles` so
    * reads stay parallel (the stored-index layout rule). */
  def appendPostings(
      newDocs: DataFrame, idCol: String, textCol: String,
      path: String, appId: String, batchId: Long,
      nFiles: Int = 32): Option[Long] =
    graft.sources.ManifestCommit.appendBatch(
      postingsTable(newDocs, idCol, textCol)
        .repartition(nFiles, col("term")),
      path, appId, batchId)

  /** Rebuild the flat scoring shape from stored normalized postings:
    * df per term, corpus n/total from the per-doc lengths — the same
    * schema [[buildIndexTable]] emits, so [[topKFromIndex]] runs
    * unchanged on top. */
  def indexFromPostings(postings: DataFrame): DataFrame = {
    val p = postings.materialize()
    val docs = p.select(col("doc_id"), col("dl")).distinct()
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
    val df = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    p.join(df, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("df"), col("n"), col("total"))
  }
}
