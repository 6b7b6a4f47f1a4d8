package graft.dedup
import graft.Materialize.MatOps
import graft.SizeGate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash
import graft.functions.PolyHash.polyHash
import graft.functions.SketchExprs
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact dedup: one shuffle on a 64-bit content fingerprint (never on
  *    the full text — at scale the key must be small);
  *  - MinHash + LSH near-dedup: per-doc profiles (distinct shingles +
  *    signature) computed ONCE in the scan stage via native one-pass
  *    sketch expressions, then candidate generation by banding — shuffle
  *    cost O(docs × bands), never O(docs²); exact verification touches
  *    only the candidate pairs and only precomputed arrays;
  *  - SimHash: 32-bit signatures, same scan-stage pattern.
  *
  * All hashing is the deterministic PolyHash/LCG family, so results are
  * partition-count-independent and replayable by the DuckDB oracle.
  */
object Dedup {

  /** Word n-gram shingles as strings ("w1 w2 w3"); empty when the doc has
    * fewer than n tokens. Native one-pass kernel (SketchExprs.Shingles). */
  def shingles(text: Column, n: Int = 3): Column =
    SketchExprs.shingles(text, n)

  /** LCG-derived permutation parameters — reproducible everywhere,
    * including SQL: a_p = (1103515245·(p+1) + 12345) mod M (forced odd),
    * b_p = (1103515245·(p+101) + 12345) mod M. */
  val Mod: Long = 2147483647L
  def permA(p: Int): Long = ((1103515245L * (p + 1) + 12345L) % Mod) | 1L
  def permB(p: Int): Long = (1103515245L * (p + 101) + 12345L) % Mod

  /** MinHash signature (native one-pass kernel): for each of `perms`
    * permutations, min over shingles of (PolyHash(s)·a_p + b_p) mod M;
    * docs with zero shingles get M (= "empty" sentinel).
    */
  def minHashSignature(text: Column, perms: Int = 32, n: Int = 3): Column =
    minHashFromShingles(shingles(text, n), perms)

  def minHashFromShingles(sh: Column, perms: Int): Column =
    SketchExprs.minHashSig(sh, perms, PolyHash.DefaultMult, Mod,
      (0 until perms).map(permA).toArray, (0 until perms).map(permB).toArray)

  /** Per-doc near-dup profile: distinct shingle set + MinHash signature,
    * both computed in one scan pass. */
  def shingleProfiles(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, perms: Int = 32): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      array_distinct(shingles(col(textCol), n)).as("sh"))
      .withColumn("sig", minHashFromShingles(col("sh"), perms))

  /** Band-bucket keys from a signature: band b hashes its `rowsPerBand`
    * signature values (+ band index) into one 64-bit bucket key. */
  private def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      polyHash(concat_ws(",",
        (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1).cast("string")) :+
          lit(b.toString): _*))
    }: _*)

  /** Candidate near-duplicate id pairs by LSH banding over `profiles`
    * (from [[shingleProfiles]]): one explode (docs × bands rows) + one
    * shuffle on the bucket key; self-join inside buckets only; ids-only
    * rows through the shuffle and distinct.
    */
  def lshCandidatePairs(
      profiles: DataFrame,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    val banded = profiles.select(
      col("doc_id"),
      posexplode(bandBuckets(col("sig"), bands, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard over precomputed DISTINCT shingle arrays — native
    * array set ops, integer-cardinality division (exact both engines). */
  def jaccardArrays(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact Jaccard from raw texts (convenience for tests/small inputs). */
  def jaccard(textA: Column, textB: Column, n: Int = 3): Column =
    jaccardArrays(array_distinct(shingles(textA, n)), array_distinct(shingles(textB, n)))

  /** Near-duplicate pairs: LSH candidates filtered by exact Jaccard ≥
    * `threshold`, with per-doc profiles computed once and joined back by
    * id. With 16 bands × 2 rows, a pair at J=0.8 is missed with
    * probability (1−0.8²)¹⁶ ≈ 1e-7.
    */
  def nearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame =
    // profiles feed three plan branches (banding + both pair sides):
    // materialize once instead of recomputing shingles per branch
    nearDuplicatePairsFromProfiles(
      shingleProfiles(df, idCol, textCol, perms = bands * rowsPerBand)
        .materialize(),
      threshold, bands, rowsPerBand)

  /** [[nearDuplicatePairs]] over PRE-COMPUTED (and ideally
    * materialized) [[shingleProfiles]] — the form callers that also
    * need the profiles for another pass (e.g.
    * [[incrementalClusters]]'s cross-corpus leg) use, so each doc is
    * shingled and minhashed exactly once per batch. */
  def nearDuplicatePairsFromProfiles(
      prof: DataFrame,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    val sets = prof.select(col("doc_id"), col("sh"))
    lshCandidatePairs(prof, bands, rowsPerBand)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", jaccardArrays(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** ~62-bit content fingerprint: two independent PolyHash folds (mult
    * 131 and 137, both mod 2^31-1) composed as `h131·(2^31-1) + h137`.
    * A single 31-bit fold collides with ~50% probability by ~77k distinct
    * docs (birthday bound) — far below the target corpus scale; the
    * composite pushes the 50% point past 2·10^9 docs while every
    * intermediate stays an exact 64-bit integer the DuckDB oracle can
    * replay (max value ≈ 2^62, no overflow in `h·137 + cp` since
    * h < 2^31).
    */
  def contentFingerprint(text: Column): Column =
    polyHash(text, 131L, PolyHash.DefaultMod) * PolyHash.DefaultMod +
      polyHash(text, 137L, PolyHash.DefaultMod)

  /** Exact dedup: keep the lowest id per content fingerprint. Shuffles the
    * ~62-bit fingerprint + id only, never the text.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), contentFingerprint(trim(col(textCol))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** SimHash signature (native one-pass kernel): per token-hash bit b,
    * votes +1/−1; bit set iff the vote sum is > 0. Order-independent.
    */
  def simHash(text: Column, bits: Int = 32): Column =
    SketchExprs.simHash64(TextAnalysis.tokens(text), bits, PolyHash.DefaultMult, Mod)

  /** SimHash Hamming-distance join (Manku et al. 2007 — the web-crawl
    * dedup design): all pairs whose 32-bit SimHash signatures differ
    * in ≤ `maxDist` bits. Pigeonhole-EXACT candidate generation: the
    * signature splits into maxDist+1 equal bands, and two signatures
    * within Hamming maxDist MUST agree exactly on at least one band —
    * so banding here is lossless (unlike MinHash banding, which is
    * probabilistic). The verify is one codegen'd
    * bit_count(xor) per candidate. This is the near-dup join to reach
    * for when documents are long and shingle sets are too heavy to
    * ship: the WHOLE document becomes 4 bytes, and the join shuffles
    * only (band, 8-bit value, id) rows.
    *
    * `maxDist + 1` must divide 32 (use 1, 3, 7, 15). Output: (a, b,
    * hamming), a < b, ordered nowhere (orderBy downstream).
    *
    * Scale shape: one scan → signature (native kernel, scan-stage) →
    * (maxDist+1)-way band explode of ids-only rows → band-bucket
    * equi-join → distinct pairs → one bit-op verify. Hot buckets
    * (identical near-empty docs) fan out quadratically — the same
    * contract as every banding join here; cap upstream if the corpus
    * has giant identical-signature classes. */
  def simHashHammingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && 32 % (maxDist + 1) == 0,
      s"maxDist+1 must divide 32: $maxDist")
    val bands = maxDist + 1
    val bandBits = 32 / bands
    val mask = (1L << bandBits) - 1
    val sig = df.select(col(idCol).as("__id"),
      simHash(col(textCol)).as("__sig"))
    val banded = sig.select(col("__id"), col("__sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("__b"))
      .withColumn("__bv",
        expr(s"shiftright(__sig, $bandBits * __b)").bitwiseAND(lit(mask)))
      .select("__id", "__sig", "__b", "__bv")
    banded.as("x").join(banded.as("y"),
        col("x.__b") === col("y.__b") && col("x.__bv") === col("y.__bv") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
        col("x.__sig").as("__sa"), col("y.__sig").as("__sb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Streaming (cross-micro-batch) exact dedup for incremental corpus
    * ingestion: keep the FIRST-arriving row per content fingerprint.
    * `dropDuplicatesWithinWatermark` bounds the dedup state to the
    * watermark horizon over `eventTimeCol` — the honest contract at
    * 100 TB: a duplicate arriving more than `watermark` after the
    * original may be re-admitted, in exchange for state that does not
    * grow with the corpus. (Unbounded `dropDuplicates` state on an
    * infinite stream is the alternative, and it OOMs eventually.)
    */
  def exactDedupStream(
      df: DataFrame,
      textCol: String,
      eventTimeCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withColumn("fp", contentFingerprint(trim(col(textCol))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Incremental exact dedup — the cross-SNAPSHOT face of [[exactDedup]]:
    * which documents of a new ingest batch are genuinely new against an
    * already-ingested corpus of content fingerprints? The naive plan
    * anti-joins the whole batch against the seen set — every batch row
    * shuffles. Here a Bloom filter over the seen fingerprints (Spark's
    * own sketch, ~1.2 bytes/item at 1% fpp; built once per batch)
    * prefilters in the scan stage: definitely-new rows (no false
    * negatives) bypass the shuffle entirely, and only maybe-seen rows —
    * true duplicates plus the fpp sliver of false positives — ride the
    * exact anti-join verify. The result is EXACT, so the DuckDB oracle
    * is the plain anti-join (q73); the bloom only moves work, never
    * changes the answer.
    *
    * Scale honesty: the sketch must fit driver + broadcast — fine to
    * ~10^9 seen items (~1.2 GB at 1% fpp); beyond that, partition the
    * seen set and bloom per partition-range, or pass `expectedItems = 0`
    * to skip the bloom and take the plain anti-join. The default
    * `expectedItems = -1` sizes the sketch with one count() pass over
    * the (ids-only) seen frame; pass a positive estimate to skip it.
    * With dup rate d and false-positive rate p, the verify join carries
    * (d + (1-d)·p) of the batch — at d = 1%, p = 1%, a 50× shuffle
    * reduction.
    */
  def incrementalNew(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      seenFps: DataFrame,
      fpCol: String = "fp",
      fpp: Double = 0.01,
      expectedItems: Long = -1L): DataFrame = {
    // ids-only frames: lazy-checkpoint both so the bloom build, the
    // prefilter branches and the verify join don't re-run the upstream
    // plans (the batch would otherwise be re-fingerprinted per branch)
    val withFp = newDocs.select(
      col(idCol).as("doc_id"),
      contentFingerprint(trim(col(textCol))).as("fp"))
      .materialize(eager = false)
    val seen = seenFps.select(col(fpCol).as("seen_fp")).materialize(eager = false)
    val antiJoin = (df: DataFrame) =>
      df.join(seen, col("fp") === col("seen_fp"), "left_anti")
    if (expectedItems == 0) return antiJoin(withFp) // explicit bloom opt-out
    val nSeen = if (expectedItems > 0) expectedItems else seen.count()
    if (nSeen <= 0) return withFp
    bloomPrefilteredNew(withFp, seen, nSeen, fpp)
  }

  /** The bloom-prefiltered verified anti-join shared by
    * [[incrementalNew]] and [[incrementalNewPartitioned]]: build a
    * bloom over `seen` (`seen_fp`), route definitely-new `batch` rows
    * (`fp`) past the shuffle, verify the maybe-seen sliver exactly.
    * Null fingerprints (null text) must behave exactly like the plain
    * anti-join: null === seen_fp never matches, so null-fp rows are NEW
    * — routed down the definitely-new branch, not into oblivion.
    * `nSeen` must be the (estimated) seen count, > 0.
    */
  private def bloomPrefilteredNew(
      batch: DataFrame,
      seen: DataFrame,
      nSeen: Long,
      fpp: Double): DataFrame = {
    val bloom = seen.stat.bloomFilter("seen_fp", nSeen, fpp)
    val bits = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val maybeSeen = SketchExprs.bloomMightContainLong(col("fp"), bits)
    batch.filter(coalesce(!maybeSeen, lit(true)))
      .unionByName(batch.filter(coalesce(maybeSeen, lit(false)))
        .join(seen, col("fp") === col("seen_fp"), "left_anti"))
  }

  /** [[incrementalNew]] without the single-sketch driver-memory cap: the
    * fingerprint space splits into `nRanges` disjoint ranges
    * (`pmod(fp, nRanges)`), and each range runs the bloom-prefiltered
    * anti-join as its OWN eagerly-materialized job — build range r's
    * bloom from range r's seen fingerprints, prefilter range r's batch
    * rows, verify the maybe-seen sliver, localCheckpoint the survivors,
    * and release the sketch before range r+1 begins. Peak driver (and
    * plan-closure) memory is ONE range's sketch ≈ total/nRanges, so the
    * seen corpus can grow past the ~10^9-item single-sketch ceiling by
    * raising nRanges; the trade is nRanges sequential jobs (each over
    * 1/nRanges of both sides — total work unchanged). The eager
    * checkpoint is what makes the memory claim true: a lazy union of all
    * range plans would embed every range's bloom bits in one plan and
    * re-create the single-sketch footprint.
    *
    * Exact like the parent: blooms have no false negatives, maybe-seen
    * rows are verified, null-fp rows are new (spec-pinned parity with
    * the plain anti-join, including across range boundaries).
    */
  def incrementalNewPartitioned(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      seenFps: DataFrame,
      fpCol: String = "fp",
      fpp: Double = 0.01,
      nRanges: Int = 4): DataFrame = {
    require(nRanges >= 1, s"nRanges must be >= 1: $nRanges")
    val withFp = newDocs.select(
      col(idCol).as("doc_id"),
      contentFingerprint(trim(col(textCol))).as("fp"))
      .materialize(eager = false)
    val seen = seenFps.select(col(fpCol).as("seen_fp")).materialize(eager = false)
    def range(c: Column): Column = pmod(c, lit(nRanges.toLong))
    val nullFp = withFp.filter(col("fp").isNull) // new by contract
    val parts = (0 until nRanges).map { r =>
      val batchR = withFp.filter(range(col("fp")) === r)
      val seenR = seen.filter(range(col("seen_fp")) === r)
      val nSeen = seenR.count()
      val part =
        if (nSeen <= 0) batchR
        else bloomPrefilteredNew(batchR, seenR, nSeen, fpp)
      // eager: run range r NOW so its sketch can be released (see scaladoc)
      part.materialize()
    }
    (parts :+ nullFp).reduce(_ unionByName _)
  }

  /** Cross-corpus decontamination at NEAR-dup granularity: drop every
    * `newDocs` row whose text is a near-duplicate (exact Jaccard ≥
    * `threshold` over `n`-shingles) of ANY `oldDocs` row — deduping an
    * incoming crawl snapshot against the already-ingested corpus, the
    * fuzzy counterpart of [[incrementalNew]]'s exact-fingerprint gate.
    *
    * New docs that near-duplicate OTHER NEW docs are kept: within-batch
    * dedup is a separate pass ([[nearDuplicatePairs]] +
    * [[nearDupClusters]]) with its own canonical-choice policy; this
    * operator's contract is only "nothing already represented in the
    * corpus re-enters it".
    *
    * Shape: signatures on both sides (at scale the old side's profiles
    * are computed once at ingest and stored — recomputing here is the
    * self-contained form), band buckets joined new×old only (never
    * old×old, the quadratic side), ids-only through the candidate
    * distinct, exact-Jaccard verify on shingle sets attached by id, and
    * a final left_anti on the new side. Banding miss probability at
    * J = threshold is (1−t^r)^b — ~1e-7 at 0.8 with 16×2, which is why
    * the all-pairs oracle matches it hash-exactly (q91).
    */
  def crossCorpusNearDupNew(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    val contaminated =
      crossCorpusNearDupPairs(newDocs, oldDocs, idCol, textCol,
          threshold, bands, rowsPerBand)
        .select(col("doc_a").as(idCol))
        .distinct()
    newDocs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The pair face of [[crossCorpusNearDupNew]]: every verified
    * (new, old) near-dup pair as (doc_a = new id, doc_b = old id,
    * jaccard) — same new×old-only banding (never the quadratic
    * old×old side), same exact-Jaccard verify. This is the edge feed
    * [[incrementalClusters]] needs; the anti-join face above is the
    * decontamination policy applied to it. */
  def crossCorpusNearDupPairs(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame =
    // each profile feeds two branches (banding + verify side): checkpoint
    // so shingling/minhashing runs once per side, not per branch
    crossCorpusNearDupPairsFromProfiles(
      shingleProfiles(newDocs, idCol, textCol,
        perms = bands * rowsPerBand).materialize(),
      shingleProfiles(oldDocs, idCol, textCol,
        perms = bands * rowsPerBand).materialize(),
      threshold, bands, rowsPerBand)

  /** [[crossCorpusNearDupPairs]] over pre-computed profiles (same
    * contract as [[nearDuplicatePairsFromProfiles]]). */
  def crossCorpusNearDupPairsFromProfiles(
      newProf: DataFrame,
      oldProf: DataFrame,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    def banded(p: DataFrame) = p.select(col("doc_id"),
        posexplode(bandBuckets(col("sig"), bands, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
    val candidates = banded(newProf).as("x")
      .join(banded(oldProf).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    candidates
      .join(newProf.select(col("doc_id").as("new_id"), col("sh").as("sh_n")),
        "new_id")
      .join(oldProf.select(col("doc_id").as("old_id"), col("sh").as("sh_o")),
        "old_id")
      .withColumn("jaccard", jaccardArrays(col("sh_n"), col("sh_o")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"),
        col("jaccard"))
  }

  /** Incremental near-dup CLUSTER maintenance: fold a batch of new
    * docs into an existing label map without re-clustering the corpus.
    * The full rebuild's pair set decomposes as old×old ∪ new×new ∪
    * new×old; the old×old term is already summarized by `oldLabels` —
    * replacing those edges with each component's spanning star
    * (doc → cluster_id) preserves connectivity EXACTLY, so
    * CC(star(oldLabels) ∪ pairs(new×new) ∪ pairs(new×old)) has the
    * same components as CC over the full rebuild's pairs. Nothing
    * old×old is ever banded or verified again: per-batch cost is
    * O(new×corpus banding + |labels| star edges), not O(corpus²).
    * Labels stay component-min on the UNION, so a new doc bridging two
    * old clusters merges them under the smaller cluster_id — exactly
    * what the rebuild would produce (proven hash-exact vs the
    * all-pairs oracle in q221).
    */
  def incrementalClusters(
      oldLabels: DataFrame,
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    val star = oldLabels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    // the batch is shingled+minhashed ONCE; both pair legs (within-
    // batch and against-corpus) read the same materialized profiles
    val newProf = shingleProfiles(newDocs, idCol, textCol,
      perms = bands * rowsPerBand).materialize()
    val oldProf = shingleProfiles(oldDocs, idCol, textCol,
      perms = bands * rowsPerBand).materialize()
    incrementalClustersFromProfiles(star, newProf, oldProf,
      threshold, bands, rowsPerBand)
  }

  /** [[incrementalClusters]] over STORED profiles — the sustainable
    * form of the maintenance loop: at 100 TB the corpus's shingle
    * profiles are computed once AT INGEST and persisted (they are the
    * dedup index), so folding a batch in re-reads the profile table
    * and never re-tokenizes a single old document. `starEdges` is the
    * (doc_a = member, doc_b = cluster_id) spanning-star form of the
    * existing labels (pass
    * `labels.filter(id =!= cid).select(id as doc_a, cid as doc_b)`).
    * q254 proves the stored-profile loop ≡ the full rebuild. */
  def incrementalClustersFromProfiles(
      starEdges: DataFrame,
      newProf: DataFrame,
      oldProf: DataFrame,
      threshold: Double = 0.8,
      bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    val newNew = nearDuplicatePairsFromProfiles(newProf,
      threshold, bands, rowsPerBand).select("doc_a", "doc_b")
    val newOld = crossCorpusNearDupPairsFromProfiles(newProf, oldProf,
      threshold, bands, rowsPerBand).select("doc_a", "doc_b")
    nearDupClusters(starEdges.unionByName(newNew).unionByName(newOld))
  }

  /** Connected components over near-duplicate pairs — the transitive
    * closure that turns pairwise matches into dedup CLUSTERS (A~B and B~C
    * must dedup together even when A~C was never scored). Alternating
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each round rewires every node's
    * neighborhood toward its neighborhood minimum, and the edge set
    * converges to one star per component, centered at the component's
    * minimum id — in O(log n) rounds on ANY topology. (The previous
    * min-label propagation needed O(component diameter) rounds: fine for
    * near-clique dup clusters, pathological for chain-shaped components
    * such as mirror-of-mirror crawls. A 1000-node chain now converges in
    * ~11 rounds instead of ~1000 — pinned in PipelineOpsSpec.)
    *
    * Per round: two grouped min-aggregates + two ids-only equi-joins
    * (O(E) shuffle work each), `localCheckpoint` to cut lineage, and the
    * only driver-side values are the convergence scalars. The high-degree
    * star centers this creates are exactly what AQE's skew-join split
    * handles; the min-aggregates combine map-side. cluster_id = the
    * component's minimum doc id — deterministic on any partitioning.
    *
    * Non-convergence within `maxIters` throws (the bound is generous:
    * 50 rounds covers n ≈ 2^50 nodes) — a partially-converged label map
    * is silently WRONG downstream, so failing fast beats returning it.
    *
    * Adaptive small-graph path — the broadcast-join-threshold analogue
    * for graph fixpoints: the candidate-pair graph that reaches CC is
    * orders of magnitude smaller than the corpus (only pairs that
    * SURVIVED banding + exact-Jaccard verification), and a distributed
    * fixpoint round costs ~10 stages of fixed scheduling/planning
    * overhead regardless of size. At or under `SizeGate.EdgeRows`
    * edges (2^20 ≈ 16 MB of id pairs — the same order as a broadcast
    * side) the transitive closure runs as driver union-find in
    * microseconds off the edge count the loop needs anyway; bigger
    * graphs, and every graph under the `distributed` gate mode, take
    * the distributed loop. Labels are identical on both paths
    * (component-min), so results don't depend on which one ran.
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    alternatingStarCC(pairs, maxIters)._1

  /** [[nearDupClusters]] plus the distributed round count (0 on the
    * driver path; exposed for specs/ops). */
  private[graft] def alternatingStarCC(
      pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    // canonical edge representation throughout: (u, v) with u > v
    val init = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().materialize()
    var edges = init
    var cnt = edges.count()
    // driver shortcut only for integral ids (union-find runs on longs;
    // a lossy cast would corrupt string/decimal ids) — and its output is
    // cast back to the input id type so BOTH paths return one schema
    val idType = init.schema("u").dataType
    val integral = Seq(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType).contains(idType)
    if (SizeGate.local(init.sparkSession, SizeGate.EdgeRows)(cnt) && integral)
      return (driverUnionFind(init).select(
        col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id")), 0)
    val nodes = init.select(col("u")).union(init.select(col("v")))
      .distinct().withColumnRenamed("u", "node").materialize()
    var iter = 0
    var converged = cnt == 0L
    while (!converged && iter < maxIters) {
      // lazy checkpoint between the half-rounds: small-star reads its
      // input in two branches (min-aggregate + join) whose exchanges have
      // DIFFERENT children (partial agg vs raw), so ReusedExchange cannot
      // dedupe them — without the checkpoint the large-star sub-plan
      // would execute twice per round. Lazy (not eager) so no standalone
      // materialization job runs: the count() below materializes the
      // whole chain, keeping a round at two jobs (count, except-check)
      val next = smallStar(
          largeStar(edges).materialize(eager = false, truncate = true))
        .materialize(eager = false, truncate = true) // per-round: constant depth
      val nextCnt = next.count()
      // exact set-equality check on distinct'd frames: same cardinality
      // plus next ⊆ edges ⇒ equal — and the anti-join job only runs once
      // the cardinality is already stable (early rounds shrink the edge
      // set, so they cost one job, not two)
      converged = nextCnt == cnt && next.except(edges).count() == 0
      edges = next; cnt = nextCnt
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds — " +
          "returning partial labels would mislabel clusters silently")
    // fixpoint edges are stars (child -> component-min root); roots have
    // no outgoing edge and label themselves
    val labels = nodes
      .join(edges.select(col("u").as("node"), col("v").as("lbl")),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("lbl"), col("node")).as("cluster_id"))
    (labels, iter)
  }

  /** Driver union-find for the small-graph path: standard DSU with path
    * compression, then every node labeled with its component's MINIMUM
    * id — the same labels the distributed fixpoint converges to. */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // union by MIN: the larger root always points at the smaller, so a
    // component's final root IS its minimum id — find() returns the label
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    nodes.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster_id")
  }

  /** Large-star round: every node u connects its LARGER neighbors to
    * m = min(Γ(u) ∪ {u}). Input/output edges oriented (big, small). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star round: every node u connects its SMALLER neighbors (and
    * itself) to m = min of those neighbors. Input (big, small) oriented,
    * so the smaller neighbors of u are exactly its out-edges. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("u")).agg(min(col("v")).as("m"))
    edges.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
