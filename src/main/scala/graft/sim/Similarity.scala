package graft.sim
import graft.Materialize.MatOps
import graft.plans.GroupedTopK

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Scale design: brute-force cosine top-k is the exact baseline — O(n·m)
  * pairs via a broadcast of the (small) query side, each pair a pure
  * column-expression fold, no UDF. The LSH variant buckets by
  * random-hyperplane signatures first so candidate generation is
  * O(n·bands) shuffle instead of O(n²) — the 100 TB path where the probe
  * side is also huge. Hyperplane components come from a deterministic LCG
  * (no RNG state), so results are reproducible and oracle-replayable.
  */
object Similarity {

  /** Left-fold dot product over double-cast elements: bit-deterministic
    * (fixed order, no SIMD/tree reassociation). Declarative reference
    * form; the hot path uses the native one-pass kernel below. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Native one-pass cosine (graft.functions.SketchExprs.CosineSim) —
    * bit-identical to dot(a,b)/(√dot(a,a)·√dot(b,b)) in the lambda form,
    * but one virtual call per pair instead of one per element. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.SketchExprs.cosineSim(a, b)

  /** The k best (vec_id, neighbor_id, cos) pairs per `vec_id` by
    * (cos DESC, neighbor_id), with their 1-based `rank` appended. */
  private def ranked(k: Int)(pairs: DataFrame): DataFrame =
    GroupedTopK.topKPerKey(pairs, Seq("vec_id"),
      Seq("cos" -> false, "neighbor_id" -> true), k, rankCol = Some("rank"))

  /** [[ranked]] as (vec_id, rank, neighbor_id, cos). */
  private def nearest(k: Int)(pairs: DataFrame): DataFrame =
    ranked(k)(pairs)
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("cos"))

  /** Exact top-k cosine neighbors for every vector of `queries` among
    * `corpus` (both with (`idCol`, `vecCol`)). The queries side is
    * broadcast; ranking uses a deterministic (−cos, neighbor id)
    * tie-break. Self-pairs are excluded.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qvec"))
    val pairs = c.join(broadcast(q), col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    pairs
      .transform(nearest(k))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * cos ≥ threshold — EXACT, via blocked pair generation (the
    * 1-bucket-theta shape) instead of a corpus broadcast:
    *
    * ids hash into `nBlocks` blocks; each unordered block pair {i ≤ j}
    * is one equi-join task on the (i, j) key. A row in block b is
    * replicated to tasks (b, j≥b) on the left and (i≤b, b) on the right,
    * so every vector pair meets in exactly one task (same-block tasks
    * dedupe with id_a < id_b). Compare cost stays O(n²) — irreducible for
    * an exact low-threshold scan — but per-task memory is 2n/P vectors,
    * the shuffle moves n·(P+1)/2 rows per side, and NOTHING broadcasts,
    * so the operator survives a corpus that no executor could hold.
    *
    * Cosine is argument-order bit-symmetric (IEEE multiply is
    * commutative, fold order is element order), so emitting
    * (least, greatest) ids matches the id-ordered oracle exactly.
    *
    * For true near-dup thresholds (t ≥ ~0.9) prefer
    * [[cosineNearDupPairsBanded]], which prunes candidates before the
    * exact verify instead of comparing everything.
    */
  def cosineNearDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBlocks: Int = 16): DataFrame = {
    val v = vectors.select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      pmod(xxhash64(col(idCol)), lit(nBlocks.toLong)).cast("int").as("blk"))
    val taskIdx = array((0 until nBlocks).map(lit): _*)
    val sideA = v.select(
        col("id").as("id_a"), col("vec").as("vec_a"), col("blk").as("ti"),
        explode(taskIdx).as("tj"))
      .filter(col("tj") >= col("ti"))
    val sideB = v.select(
        col("id").as("id_b"), col("vec").as("vec_b"), col("blk").as("tj"),
        explode(taskIdx).as("ti"))
      .filter(col("ti") <= col("tj"))
    sideA.join(sideB, Seq("ti", "tj"))
      .filter(col("ti") =!= col("tj") || col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("cos"))
  }

  /** Near-duplicate pairs with hyperplane-LSH candidate generation + exact
    * cosine verification — the scale path for HIGH thresholds.
    *
    * Recall for a pair at cosine t: a hyperplane bit agrees with
    * probability p = 1 − arccos(t)/π, a band of r bits matches with p^r,
    * and the pair is missed with (1 − p^r)^B over B bands. At t = 0.95
    * (p = 0.899), 15 bands × 4 rows (60 planes — the signature long holds
    * at most 63) miss ≈ (1−0.654)^15 ≈ 1e-7; at t = 0.9 (p = 0.856) the
    * same shape misses ≈ 1e-5.
    *
    * Selectivity crossover, stated honestly: at LOW thresholds
    * (t ≲ 0.6 ⇒ p ≲ 0.7) the band count needed for high recall makes the
    * buckets so coarse that candidates approach all-pairs — there banding
    * costs more than [[cosineNearDupPairs]]'s blocked exact scan. Banding
    * pays off in the regime near-dup detection actually runs in (t ≥ 0.9).
    */
  def cosineNearDupPairsBanded(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dims: Int,
      bands: Int = 15,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 4096): DataFrame = {
    // stage boundary: (id, vec) feeds the signature build plus BOTH
    // payload re-attaches below — checkpoint so the corpus is scanned
    // once, not once per branch (see SemDedup.semanticDedup's rationale)
    val vecs = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .materialize()
    val banded = bandedBuckets(vecs, dims, bands, rowsPerBand, maxBucketSize)
    val candIds = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    candIds
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** IVF (inverted-file) approximate top-k — the other scale path: a
    * coarse k-means quantizer (fit on the corpus with a fixed seed)
    * partitions vectors into `nlist` cells; each query probes only its
    * `nprobe` nearest cells. Candidate cost is O(n·nprobe/nlist) per
    * query. Composes existing ops: MLlib KMeans + broadcast joins +
    * native cosine.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 3,
      nlist: Int = 16,
      nprobe: Int = 3,
      seed: Long = 42L,
      kmeansMaxIter: Int = 10): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .withColumn("features", array_to_vector(col("nvec").cast("array<double>")))
    // a COARSE quantizer: cells only need to be stable, not optimal —
    // half the default iteration budget changes recall negligibly
    // (pinned >= 0.9 in spec) at half the fit cost
    val km = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .setMaxIter(kmeansMaxIter)
      .setPredictionCol("cell")
    val model = km.fit(c)
    val assigned = model.transform(c).select(col("neighbor_id"), col("nvec"), col("cell"))
    // nprobe nearest cells per query via cosine to the centroids (tiny, broadcast)
    val centroids = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i, v.toArray.map(_.toFloat))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = centroids.toSeq.toDF("cell", "cvec")
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qvec"))
    val probed = GroupedTopK.topKPerKey(
        q.crossJoin(broadcast(centDf))
          .withColumn("ccos", cosine(col("qvec"), col("cvec"))),
        Seq("vec_id"), Seq("ccos" -> false, "cell" -> true), nprobe)
      .select(col("vec_id"), col("qvec"), col("cell"))
    probed.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
      .transform(nearest(k))
  }

  /** IVF-shaped ANN with a DETERMINISTIC coarse quantizer: the cell is
    * the vector's `cellBits`-plane hyperplane sign pattern (2^cellBits
    * cells) instead of a fitted KMeans centroid, so cell assignment is
    * pure LCG arithmetic the DuckDB oracle replays bit-exactly — and the
    * quantizer costs zero fit passes. [[ivfTopK]] stays as the
    * cell-quality variant (learned centroids adapt to the data); this is
    * the verifiable/cheap one.
    *
    * Probing: each query searches its own cell plus every cell within
    * Hamming distance `radius` of it — the hyperplane analogue of
    * nprobe-nearest-centroids, since each flipped bit is one
    * near-boundary plane. probes = Σ_{r≤radius} C(cellBits, r); candidate
    * cost per query ≈ n · probes / 2^cellBits. Corpus rows shuffle once
    * on the cell key; queries replicate `probes` times (ids+vector only).
    */
  def ivfHashTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 3,
      cellBits: Int = 6,
      radius: Int = 1): DataFrame = {
    require(cellBits >= 1 && cellBits <= 62, s"cellBits=$cellBits out of range")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .withColumn("cell", hyperplaneSignature(col("nvec"), cellBits, dims))
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qvec"))
      .withColumn("qcell", hyperplaneSignature(col("qvec"), cellBits, dims))
    val probes = q.select(col("vec_id"), col("qvec"),
      explode(array(hammingMasks(cellBits, radius).map(m =>
        col("qcell").bitwiseXOR(lit(m))): _*)).as("cell"))
    // no dedup needed: every corpus vector lives in exactly one cell and
    // the probe masks are distinct, so each (query, neighbor) pair can
    // meet at most once
    probes.join(c, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
      .transform(nearest(k))
  }

  /** Metadata-filtered exact top-k — the "filtered vector search" shape
    * every production vector store exposes (top-k among only the
    * neighbors satisfying an attribute predicate). The filter is an
    * EQUI-MATCH on `matchCols` expressed as the join key itself, so
    * candidate generation never materializes a non-matching pair and no
    * cosine is ever computed on one — filter-before-distance, the plan
    * property that distinguishes real filtered search from
    * post-filtering (which silently returns < k when the filter is
    * selective). Queries broadcast (small side); ranking uses the same
    * deterministic (−cos, neighbor id) tie-break as [[bruteForceTopK]].
    *
    * At scale, compose with a cell quantizer ([[ivfHashTopK]]'s cell as
    * an extra join key) when the corpus side outgrows a per-attribute
    * scan.
    */
  def filteredTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      matchCols: Seq[String],
      k: Int = 3): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id") +: col(vecCol).as("nvec") +:
        matchCols.map(col): _*)
    val q = queries.select(
      col(idCol).as("vec_id") +: col(vecCol).as("qvec") +:
        matchCols.map(col): _*)
    c.join(broadcast(q), matchCols)
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
      .transform(ranked(k))
      .select(col("vec_id") +: matchCols.map(col) :+ col("rank") :+
        col("neighbor_id") :+ col("cos"): _*)
  }

  /** XOR masks enumerating all bit patterns of weight ≤ radius over
    * `bits` bits (radius ≤ 2 keeps the probe count polynomial). */
  private[graft] def hammingMasks(bits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"radius=$radius not in [0, 2]")
    val r0 = Seq(0L)
    val r1 = if (radius >= 1) (0 until bits).map(b => 1L << b) else Seq.empty
    val r2 = if (radius >= 2)
      for (a <- 0 until bits; b <- (a + 1) until bits)
        yield (1L << a) | (1L << b)
    else Seq.empty
    r0 ++ r1 ++ r2
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * LCG over p·dim+i, scaled to (−0.5, 0.5). */
  def planeComponent(p: Int, i: Int, dims: Int): Double = {
    val x = (1103515245L * (p.toLong * dims + i) + 12345L) % 2147483648L
    x.toDouble / 2147483648.0 - 0.5
  }

  /** Random-hyperplane signature: bit p = sign(v · plane_p). Native
    * one-pass kernel over planes × dims. Returns a long column (up to 63
    * planes). */
  def hyperplaneSignature(vec: Column, planes: Int, dims: Int): Column =
    graft.functions.SketchExprs.hyperplaneSig(vec, planes, dims)

  /** Band-bucket assignment shared by the LSH operators: hyperplane
    * signature → one (id, band, bucket) row per band, with oversized
    * buckets dropped.
    *
    * Skew guard rationale: a bucket holding b vectors yields b² candidate
    * pairs, so one degenerate bucket dominates the whole job; buckets past
    * the cap carry little signal (the stop-word analogue) and are dropped.
    */
  private def bandedBuckets(
      vecs: DataFrame,
      dims: Int,
      bands: Int,
      rowsPerBand: Int,
      maxBucketSize: Int): DataFrame = {
    val planes = bands * rowsPerBand
    // materialize (id, sig) once: every caller feeds this table into a
    // self-join (two branches) plus the bucket-size count — without the
    // cache the signature kernel (planes × dims mults per row) runs once
    // PER BRANCH. ids+one long per row, so the materialization obeys the
    // ids-only-through-shuffles discipline at any scale. persist (not
    // localCheckpoint): lazy, lineage preserved — a lost executor
    // recomputes its partitions instead of failing the query
    val sigs = vecs
      .withColumn("sig", hyperplaneSignature(col("vec"), planes, dims))
      .select(col("id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandedRaw = sigs
      .select(col("id"),
        posexplode(array((0 until bands).map { b =>
          // band value = bits [b*rowsPerBand, (b+1)*rowsPerBand)
          (shiftrightunsigned(col("sig"), b * rowsPerBand) %
            (1L << rowsPerBand)).cast("long")
        }: _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val smallBuckets = bandedRaw.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
    bandedRaw.join(broadcast(smallBuckets), Seq("band", "bucket"))
  }

  /** LSH-bucketed approximate top-k: vectors sharing a hyperplane-signature
    * band become candidates; exact cosine ranks within candidates. Probes
    * `bands` bands of `rowsPerBand` bits each.
    */
  def lshTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 128): DataFrame = {
    // stage boundary: (id, vec) feeds the signature build plus both
    // payload re-attaches — checkpoint so the corpus is scanned once
    // (see cosineNearDupPairsBanded)
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .materialize()
    val banded = bandedBuckets(vecs, dims, bands, rowsPerBand, maxBucketSize)
    // ids-only through the bucket join + distinct; vectors re-attached after
    val candIds = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.id") =!= col("y.id"))
      .select(col("x.id").as("vec_id"), col("y.id").as("neighbor_id"))
      .distinct()
    val cand = candIds
      .join(vecs.select(col("id").as("vec_id"), col("vec").as("qvec")), "vec_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("vec").as("nvec")), "neighbor_id")
    cand
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
      .transform(nearest(k))
  }
}
