package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import graft.plans.GroupedTopK
import org.apache.spark.sql.functions._

/** Product quantization — the next 4-16× compression step after int8
  * scalar quantization (graft.sim.Quantize) when ANN storage dominates:
  * the d-dim vector splits into `subspaces` contiguous sub-vectors, each
  * encoded as the index of its nearest codebook entry, so a 64-dim float
  * vector becomes `subspaces` small integers.
  *
  * Codebooks are DETERMINISTIC by construction (the q69 philosophy, not
  * KMeans): the `codebookSize` corpus vectors with the smallest LCG hash
  * of their id are the pivots, and pivot k's m-th slice is codebook entry
  * (m, k). That costs one TakeOrdered pass, needs no training, and every
  * step — pivot choice, slicing, squared-L2 argmin with (dist, k)
  * tie-break — replays exactly in DuckDB (q71 is hash-exact, where
  * KMeans-coded PQ could never be). Data-adapted codebooks can be
  * swapped in later without touching [[encode]].
  *
  * Scale shape: the codebook is a model artifact (subspaces ×
  * codebookSize × slice floats — KBs), collected driver-side exactly
  * like MLlib's clusterCenters and broadcast back; encoding is one
  * scan-stage explode (subspaces rows per vector) + broadcast join +
  * windowed argmin partitioned by (vec_id, m) — no corpus-sized shuffle
  * beyond the per-subspace argmin, which combines map-side poorly but
  * carries ids+code+dist only.
  */
object ProductQuantize {

  private def lcgHash(id: Column): Column =
    (lit(1103515245L) * id + lit(12345L)) % lit(2147483648L)

  /** Left-fold squared L2 — THE op-order contract: (a-b)*(a-b)
    * accumulated in element order from a 0.0 seed. The long-form
    * operators ([[encode]], [[adcTopK]]) evaluate it declaratively; the
    * wide path runs the SAME sequence inside the native
    * SketchExprs.sqDistSlice kernel (the wide≡long equality spec pins
    * the two against each other bit-for-bit); the DuckDB oracle replays
    * it with list_reduce. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** The k nearest (qid, vec_id) pairs per `qid` by (adc_dist, vec_id),
    * as (vec_id = qid, rank, neighbor_id, adc_dist). */
  private def nearest(k: Int)(scored: DataFrame): DataFrame =
    GroupedTopK.topKPerKey(scored, Seq("qid"),
        Seq("adc_dist" -> true, "vec_id" -> true), k, rankCol = Some("rank"))
      .select(col("qid").as("vec_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adc_dist"))

  /** Codebook rows (m, k, cvec) derived from [[fit]]'s model — one
    * pivot-selection implementation, two faces. */
  def codebooks(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int,
      codebookSize: Int): DataFrame = {
    val model = fit(vectors, idCol, vecCol, dims, subspaces, codebookSize)
    val spark = vectors.sparkSession
    import spark.implicits._
    (for {
      m <- 0 until model.subspaces
      k <- 0 until model.codebookSize
    } yield (m, k, model.entries(m)(k))).toDF("m", "k", "cvec")
  }

  /** PQ-encode every vector: one row per (vec_id, subspace) with the
    * nearest codebook entry's index and its squared L2 distance (the
    * per-subspace reconstruction error). Ties break on the smaller code.
    */
  def encode(
      vectors: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int): DataFrame = {
    val sub = dims / subspaces
    val subvecs = vectors.select(col(idCol).as("vec_id"),
      posexplode(array((0 until subspaces).map(m =>
        slice(col(vecCol), m * sub + 1, sub)): _*)))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("svec"))
    val dist = sqDist(col("svec"), col("cvec"))
    GroupedTopK.topKPerKey(
        subvecs.join(broadcast(codebook), Seq("m")).withColumn("dist", dist),
        Seq("vec_id", "m"), Seq("dist" -> true, "k" -> true), k = 1)
      .select(col("vec_id"), col("m").as("subspace"),
        col("k").as("code"), col("dist"))
  }

  /** Driver-side PQ model: codebook entries as [subspace][code][dim]
    * floats — KBs, the clusterCenters analogue. Lets the wide operators
    * inline entries as literals so encoding/scoring stay in the scan
    * stage with zero shuffles. */
  final case class PqModel(
      dims: Int, subspaces: Int, entries: Array[Array[Array[Float]]]) {
    def sub: Int = dims / subspaces
    def codebookSize: Int = entries(0).length
  }

  /** Fit = deterministic pivot selection: TakeOrdered(K) by LCG id-hash
    * — scale-safe, and K pivot rows to the driver is a MODEL artifact
    * (like KMeans centers), not a data collect. The single pivot
    * implementation behind both [[codebooks]] and the wide path. */
  def fit(
      vectors: DataFrame, idCol: String, vecCol: String,
      dims: Int, subspaces: Int, codebookSize: Int): PqModel = {
    require(dims % subspaces == 0, s"dims=$dims not divisible by subspaces=$subspaces")
    val sub = dims / subspaces
    val pivots = vectors
      .select(col(idCol).cast("long").as("pid"), col(vecCol).as("pvec"))
      .withColumn("h", lcgHash(col("pid")))
      .orderBy(col("h"), col("pid"))
      .limit(codebookSize)
      .select("pvec")
      .collect()
    val entries = Array.tabulate(subspaces)(m =>
      pivots.map(_.getSeq[Float](0).slice(m * sub, (m + 1) * sub).toArray))
    PqModel(dims, subspaces, entries)
  }

  /** Scan-stage PQ encoding: (vec_id, codes array) with codes[m] the
    * argmin entry of subspace m — the same (dist, code) tie-break as
    * [[encode]] via strict-less scan, but as ONE projection: no explode,
    * no codebook join, no argmin window shuffle. The plan a 100 TB
    * encode wants: the codebook rides the closure inside the native
    * [[graft.functions.SketchExprs.PqEncode]] kernel — one virtual call
    * per row with a tight argmin loop, vs the subspaces × codebookSize
    * interpreted fold evaluations (~1k lambda calls/row at 8×16) the
    * declarative array_min formulation costs. Distances and tie-breaks
    * are bit-identical to [[encode]]'s (spec-pinned). */
  def encodeWide(
      vectors: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    vectors.select(col(idCol).as("vec_id"),
      graft.functions.SketchExprs.pqEncode(col(vecCol), model.entries)
        .as("codes"))

  /** ADC top-k over WIDE codes — the 100 TB ADC plan: each query row
    * carries its full distance table as a nested literal-built array
    * (qd[m][k], subspaces × codebookSize doubles, computed once per
    * query in its own projection), the query side broadcasts, and the
    * corpus-side cost per pair is `subspaces` array lookups + a
    * FIXED-ORDER sum — no per-(pair, subspace) row fan-out and no
    * aggregation exchange at all, unlike [[adcTopK]]'s long form whose
    * pair table is subspaces× larger and must re-group it. The only
    * shuffle left is the final per-query top-k window.
    */
  def adcTopKWide(
      codesWide: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      k: Int = 3): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      graft.functions.SketchExprs.pqDistTable(col(vecCol), model.entries)
        .as("qd"))
    // Σ_m qd[m][codes[m]]: literal m-order addition chain — the same
    // summation order as adcTopK's sorted fold, so results bit-match
    val adc = (0 until model.subspaces).map(m =>
      element_at(element_at(col("qd"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    codesWide.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adc_dist", adc)
      .transform(nearest(k))
  }

  /** IVF-PQ — the canonical large-corpus ANN layout, composed from the
    * two oracle-able pieces this library already proves separately: the
    * deterministic hash-cell coarse quantizer ([[Similarity.ivfHashTopK]]'s
    * hyperplane cells + Hamming-radius probing) PRUNES candidates to the
    * probed cells, then ADC over wide PQ codes ([[adcTopKWide]]) SCORES
    * only those candidates from each query's distance table — cell-first,
    * so no distance arithmetic ever runs on an unprobed-cell vector and
    * no corpus float is ever read.
    *
    * Scale shape: the corpus side is ONE scan-stage projection emitting
    * (id, cell, codes) — signature kernel + PQ-encode kernel, no shuffle;
    * queries replicate `probes` times (Σ_{r≤radius} C(cellBits, r) rows,
    * each carrying its KB-sized distance table) and broadcast. Candidate
    * cost per query ≈ n · probes / 2^cellBits pairs, each costing
    * `subspaces` array lookups + a fixed-order add chain. The only
    * exchange in the plan is the final per-query top-k window. For a
    * query side too large to broadcast, drop the hint and the cell key
    * becomes a plain shuffled equi-join — still never all-pairs.
    *
    * Determinism: cells, probes, codes, and the m-ordered ADC sum all
    * replay exactly in DuckDB (q97) — each (query, neighbor) pair meets
    * at most once because a vector lives in exactly one cell and probe
    * masks are distinct.
    */
  def ivfAdcTopKWide(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      k: Int = 3,
      cellBits: Int = 6,
      radius: Int = 1): DataFrame =
    ivfAdcFromIndex(
      buildIvfPqIndex(corpus, idCol, vecCol, model, cellBits),
      queries, idCol, vecCol, model, k, cellBits, radius)

  /** The stored IVF-PQ index: one scan-stage projection emitting
    * (vec_id, cell, codes, cell_bits) — hyperplane cell for coarse
    * pruning, wide PQ codes for ADC scoring, and the cell geometry
    * carried as a column so a stored index is self-describing (the
    * query face validates its cellBits against it and fails loudly on
    * a mismatch instead of probing garbage cells). */
  def buildIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      cellBits: Int = 6): DataFrame = {
    require(cellBits >= 1 && cellBits <= 62, s"cellBits=$cellBits out of range")
    corpus.select(col(idCol).as("vec_id"),
      Similarity.hyperplaneSignature(col(vecCol), cellBits, model.dims)
        .as("cell"),
      graft.functions.SketchExprs.pqEncode(col(vecCol), model.entries)
        .as("codes"),
      lit(cellBits).as("cell_bits"))
  }

  /** The PQ model as a table — (m, k, cvec) codebook rows, the storable
    * twin of the driver-side [[PqModel]] (KBs; ManifestCommit'd next to
    * the codes by [[writeIvfPqIndex]]). */
  def modelTable(spark: org.apache.spark.sql.SparkSession,
      model: PqModel): DataFrame = {
    import spark.implicits._
    (for {
      m <- 0 until model.subspaces
      k <- 0 until model.codebookSize
    } yield (m, k, model.entries(m)(k).toSeq)).toDF("m", "k", "cvec")
  }

  /** Rebuild the driver-side model from a [[modelTable]] read. */
  def modelFromTable(df: DataFrame): PqModel = {
    val rows = df.select(col("m"), col("k"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, "empty PQ model table")
    val subspaces = rows.map(_._1).max + 1
    val codebookSize = rows.map(_._2).max + 1
    val entries = Array.ofDim[Array[Float]](subspaces, codebookSize)
    rows.foreach { case (m, k, v) => entries(m)(k) = v }
    PqModel(subspaces * rows.head._3.length, subspaces,
      entries.map(_.toArray))
  }

  /** Persist model + codes as ManifestCommit datasets (`path/model`,
    * `path/codes`). Codes are cell-hash-partitioned across `nFiles`:
    * each cell's posting of codes lands in one file — the IVF layout,
    * and the same small-index parallelism guard as Bm25.writeIndex. */
  def writeIvfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel, cellBits: Int, path: String,
      nFiles: Int = 32): Unit = {
    graft.sources.ManifestCommit.writeVersioned(
      modelTable(corpus.sparkSession, model), s"$path/model")
    graft.sources.ManifestCommit.writeVersioned(
      buildIvfPqIndex(corpus, idCol, vecCol, model, cellBits)
        .repartition(nFiles, col("cell")), s"$path/codes")
  }

  /** Incremental ANN ingest — new vectors encoded against the STORED
    * model and appended to the cell-partitioned codes table as one
    * exactly-once generation ([[graft.sources.ManifestCommit
    * .appendBatch]]'s replay ledger makes a foreachBatch pipeline of
    * this an exactly-once index maintainer, the Bm25.appendPostings
    * pattern for vectors). Code rows are per-vector independent once
    * the model is frozen, so appending is sound by construction; the
    * model does NOT retrain on ingest — the standard IVF practice —
    * and the moment frozen-model drift costs recall is exactly what
    * the embedding-drift gate (q163) and recall calibration (q103)
    * measure. `cell_bits` is read from the model path's sibling codes
    * table contract via the `cellBits` param (must match the stored
    * layout — the self-describing column is validated by the reader).
    */
  def appendIvfPqCodes(
      newVectors: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      appId: String,
      batchId: Long,
      cellBits: Int = 6,
      nFiles: Int = 32,
      preloadedModel: Option[PqModel] = None): Option[Long] = {
    val spark = newVectors.sparkSession
    // the model is identical for every batch of a maintenance run —
    // pass it preloaded to skip a storage read + driver collect per
    // ingest (it only ever changes on an explicit refit/rebuild)
    val model = preloadedModel.getOrElse(modelFromTable(
      graft.sources.ManifestCommit.read(spark, s"$path/model")))
    graft.sources.ManifestCommit.appendBatch(
      buildIvfPqIndex(newVectors, idCol, vecCol, model, cellBits)
        .repartition(nFiles, col("cell")),
      s"$path/codes", appId, batchId)
  }

  /** IVF-PQ scoring over a prebuilt index ([[buildIvfPqIndex]]'s shape,
    * in-memory or read back from [[writeIvfPqIndex]] storage): probe
    * cells within Hamming `radius` of each query's cell, ADC-score only
    * the probed candidates from the query's distance table. No corpus
    * float is ever read — the entire point of querying from stored
    * codes. The `cell_bits` column is validated against `cellBits`
    * inside the scan (no extra job) and mismatches fail loudly. */
  def ivfAdcFromIndex(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      k: Int = 3,
      cellBits: Int = 6,
      radius: Int = 1): DataFrame = {
    require(cellBits >= 1 && cellBits <= 62, s"cellBits=$cellBits out of range")
    val c = index.withColumn("__cb_ok",
        when(col("cell_bits") === lit(cellBits), lit(true))
          .otherwise(raise_error(concat(
            lit("ivfAdcFromIndex: index built with cell_bits="),
            col("cell_bits"),
            lit(s", queried with cellBits=$cellBits"))).cast("boolean")))
      .where(col("__cb_ok"))
    val q = queries.select(col(idCol).as("qid"),
      Similarity.hyperplaneSignature(col(vecCol), cellBits, model.dims)
        .as("qcell"),
      graft.functions.SketchExprs.pqDistTable(col(vecCol), model.entries)
        .as("qd"))
    val probes = q.select(col("qid"), col("qd"),
      explode(array(Similarity.hammingMasks(cellBits, radius).map(m =>
        col("qcell").bitwiseXOR(lit(m))): _*)).as("cell"))
    // Σ_m qd[m][codes[m]]: literal m-order addition chain (adcTopKWide's
    // exact contract, same IEEE sequence as the oracle's ordered fold)
    val adc = (0 until model.subspaces).map(m =>
      element_at(element_at(col("qd"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)
    c.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adc_dist", adc)
      .transform(nearest(k))
  }

  /** ADC (asymmetric distance computation) top-k — retrieval where the
    * corpus exists ONLY as PQ codes: each query precomputes its distance
    * table (subspace × codebook entry → squared L2 against the query's
    * slice; queries × subspaces × codebookSize rows — KBs, broadcast),
    * and ranking is then a code LOOKUP join + per-pair sum: no corpus
    * float is ever read, which is the entire storage win of PQ.
    *
    * Determinism: per-pair distances accumulate in SUBSPACE order via an
    * explicit sorted fold (collect_list → array_sort → aggregate), not a
    * bare sum(double) whose partial-aggregation order floats — so the
    * ADC distance is bit-stable on any partitioning and the DuckDB
    * oracle replays it with `list(... ORDER BY m)`.
    */
  def adcTopK(
      codes: DataFrame,
      queries: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      subspaces: Int,
      k: Int = 3): DataFrame = {
    val sub = dims / subspaces
    val qsub = queries.select(col(idCol).as("qid"),
      posexplode(array((0 until subspaces).map(m =>
        slice(col(vecCol), m * sub + 1, sub)): _*)))
      .select(col("qid"), col("pos").as("m"), col("col").as("qvec"))
    val qdst = sqDist(col("qvec"), col("cvec"))
    val qd = qsub.join(broadcast(codebook), Seq("m"))
      .withColumn("qdst", qdst)
      .select(col("qid"), col("m").as("subspace"), col("k").as("code"), col("qdst"))
    codes.join(broadcast(qd), Seq("subspace", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("subspace"), col("qdst")))),
        lit(0.0), (acc, x) => acc + x.getField("qdst")).as("adc_dist"))
      .transform(nearest(k))
  }
}
