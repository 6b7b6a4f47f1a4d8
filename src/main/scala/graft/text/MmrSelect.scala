package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SizeGate

/** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998) —
  * pick k documents that are individually high-quality AND mutually
  * diverse: each greedy step takes
  * argmax( λ·quality − (1−λ)·max-similarity-to-selected ). The
  * demonstration-set / eval-set / few-shot-pool builder, where pure
  * top-k by quality returns k near-copies of the same best document.
  *
  * Division of labor at 100 TB: the DISTRIBUTED part is the prefilter
  * (GroupedTopK / ordered limit reduces the corpus to an N-candidate
  * pool); the greedy loop is inherently sequential (step t depends on the
  * t−1 choices) and runs over the prefiltered pool on the driver — a
  * deliberate, documented collect of N candidate rows (the M3
  * scalar-collect rule stretched to a bounded pool: a pool above
  * [[graft.SizeGate.PoolRows]] runs the k-round distributed greedy
  * instead, with the same rows). Everything is integer arithmetic:
  * quality is a caller-scaled permille, similarity is exact Jaccard
  * permille (integer division), score = λ100·q − (100−λ100)·maxSim, ties
  * break by id — so an oracle replays the selection verbatim.
  */
object MmrSelect {

  /** Both selectors key their driver-side state by the LONG id, so a
    * null id (or a duplicate after the long cast) would silently merge
    * or drop pool rows — fail fast instead. One tiny aggregate over
    * the already-bounded pool, whose row count sizes the pool gate. */
  private def requireCleanIds(df: DataFrame, idCol: String): Long = {
    val r = df.select(col(idCol).cast("long").as("__id"))
      .agg(count(lit(1)).as("n"), count(col("__id")).as("nn"),
        countDistinct(col("__id")).as("nd"))
      .head()
    require(r.getLong(0) == r.getLong(1),
      s"$idCol contains nulls (or values casting to null) — " +
        "driver-side selection state would merge those rows")
    require(r.getLong(1) == r.getLong(2),
      s"$idCol contains duplicates after the long cast — " +
        "driver-side selection state would drop rows silently")
    r.getLong(0)
  }

  /** Greedy-select `k` rows from a PREFILTERED candidate pool.
    * `df` columns: idCol (long), qualityCol (integer permille),
    * setCol (array of DISTINCT elements for the Jaccard metric).
    * Output: (idCol, sel_rank, quality, max_sim_permille) — the score
    * components at selection time (first pick has max_sim 0).
    * A pool above [[graft.SizeGate.PoolRows]] candidates runs
    * [[selectDistributed]] (same rows). */
  def select(
      df: DataFrame,
      idCol: String,
      qualityCol: String,
      setCol: String,
      k: Int,
      lam100: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lam100 >= 0 && lam100 <= 100, s"lam100 in [0,100]: $lam100")
    val n = requireCleanIds(df, idCol)
    if (SizeGate.local(df.sparkSession, SizeGate.PoolRows)(n)) {
      val spark = df.sparkSession
      import spark.implicits._
      val pool = df
        .select(col(idCol).cast("long"), col(qualityCol).cast("long"),
          col(setCol))
        .as[(Long, Long, Seq[String])]
        .collect()
      val sets = pool.map { case (id, _, s) => id -> s.toSet }.toMap
      def simPermille(a: Set[String], b: Set[String]): Long = {
        val inter = (a & b).size.toLong
        val uni = a.size + b.size - inter
        if (uni == 0) 0L else inter * 1000L / uni
      }
      val remaining = scala.collection.mutable.Map(
        pool.map(p => p._1 -> p._2): _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[
        (Long, Long, Long, Long)] // (id, rank, q, maxSim)
      val maxSim = scala.collection.mutable.Map(
        pool.map(p => p._1 -> 0L): _*)
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val pick = remaining.keys.minBy { id =>
          val score = lam100 * remaining(id) - (100L - lam100) * maxSim(id)
          (-score, id) // max score, then smallest id
        }
        selected += ((pick, rank.toLong, remaining(pick), maxSim(pick)))
        remaining.remove(pick)
        val ps = sets(pick)
        remaining.keys.foreach { id =>
          val s = simPermille(sets(id), ps)
          if (s > maxSim(id)) maxSim(id) = s
        }
        rank += 1
      }
      selected.toSeq
        .toDF(idCol, "sel_rank", "quality", "max_sim_permille")
    } else selectDistributed(df, idCol, qualityCol, setCol, k, lam100)
  }

  /** Greedy maximum-coverage selection — [[select]]'s submodular
    * sibling: each step picks the row adding the most NEW elements to
    * the covered set (ties by id), the classic (1−1/e)-approximate
    * set-cover greedy. The "which k documents teach the tokenizer the
    * most vocabulary" / "which k tests cover the most branches"
    * selector. Same bounded-pool contract as MMR: distributed
    * prefilter first, then a deliberate driver loop over at most
    * [[graft.SizeGate.PoolRows]] candidates, [[coverSelectDistributed]]
    * above that (step t depends on the union of steps 1..t−1 — not a
    * parallel shape). Output: (idCol, sel_rank, gain, covered_total),
    * all integers, ties by id — an oracle replays every pick. */
  def coverSelect(
      df: DataFrame,
      idCol: String,
      setCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val n = requireCleanIds(df, idCol)
    if (SizeGate.local(df.sparkSession, SizeGate.PoolRows)(n)) {
      val spark = df.sparkSession
      import spark.implicits._
      val pool = df
        .select(col(idCol).cast("long"), col(setCol))
        .as[(Long, Seq[String])]
        .collect()
      val sets = pool.map { case (id, s) => id -> s.toSet }.toMap
      val remaining =
        scala.collection.mutable.Set(pool.map(_._1): _*)
      var covered = Set.empty[String]
      val selected = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)] // (id, rank, gain, total)
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val pick = remaining.minBy { id =>
          (-(sets(id) -- covered).size.toLong, id) // max gain, then min id
        }
        val gain = (sets(pick) -- covered).size.toLong
        covered = covered ++ sets(pick)
        selected += ((pick, rank.toLong, gain, covered.size.toLong))
        remaining.remove(pick)
        rank += 1
      }
      selected.toSeq.toDF(idCol, "sel_rank", "gain", "covered_total")
    } else coverSelectDistributed(df, idCol, setCol, k)
  }

  /** [[select]] with NO pool ceiling — the k-round DISTRIBUTED greedy:
    * each round scores every remaining candidate in parallel
    * (λ100·q − (100−λ100)·maxSim over the candidate table), takes the
    * argmax with a distributed top-1 (TakeOrdered — no global sort),
    * broadcasts the pick's element set, and folds it into each
    * candidate's running max-similarity column with one exact
    * integer-Jaccard map pass. Driver state is the k picked rows plus
    * one document's set per round — bounded by the SELECTION, never
    * the pool. Cost is k passes over the candidate table (inherent:
    * step t's scores depend on picks 1..t−1); the pool table is
    * materialized once and the per-round state rewrite is materialized
    * to keep lineage constant-depth. Bit-identical to [[select]]
    * (same integer arithmetic, same id tie-breaks — spec-pinned). */
  private[graft] def selectDistributed(
      df: DataFrame,
      idCol: String,
      qualityCol: String,
      setCol: String,
      k: Int,
      lam100: Int): DataFrame = {
    val spark = df.sparkSession
    import graft.Materialize.MatOps
    var state = df
      .select(col(idCol).cast("long").as("__id"),
        col(qualityCol).cast("long").as("__q"),
        array_distinct(col(setCol)).as("__set"))
      .withColumn("__maxsim", lit(0L))
      .materialize()
    val n = state.count()
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)] // (id, rank, q, maxSim)
    var rank = 1
    while (rank <= k && selected.size < n) {
      val pickedIds = selected.map(_._1).toSeq
      val top = state
        .where(!col("__id").isin(pickedIds: _*))
        .withColumn("__score",
          lit(lam100.toLong) * col("__q") -
            lit(100L - lam100) * col("__maxsim"))
        .orderBy(col("__score").desc, col("__id").asc)
        .limit(1)
        .select(col("__id"), col("__q"), col("__maxsim"), col("__set"))
        .head()
      val pick = top.getLong(0)
      selected += ((pick, rank.toLong, top.getLong(1), top.getLong(2)))
      val pickSet = top.getSeq[String](3)
      // fold the pick into every candidate's running max-sim: exact
      // integer Jaccard permille, one scan, no shuffle
      state = state
        .withColumn("__inter",
          size(array_intersect(col("__set"), typedlit(pickSet))).cast("long"))
        .withColumn("__uni",
          size(col("__set")) + lit(pickSet.size.toLong) - col("__inter"))
        .withColumn("__maxsim", greatest(col("__maxsim"),
          when(col("__uni") === 0L, 0L)
            .otherwise(expr("(__inter * 1000) div __uni"))))
        .drop("__inter", "__uni")
        // truncate=true: a per-round state rewrite is EXACTLY the
        // iterative call site Materialize documents as superlinear
        // under plain persist — lineage must cut every round
        .materialize(truncate = true)
      rank += 1
    }
    import spark.implicits._
    selected.toSeq.toDF(idCol, "sel_rank", "quality", "max_sim_permille")
  }

  /** [[coverSelect]] with NO pool ceiling — distributed greedy
    * max-coverage: per round, each candidate's marginal gain is
    * counted in parallel (explode its elements, broadcast-anti-mark
    * against the covered dim, count the misses), argmax via
    * distributed top-1, and the pick's elements join the covered set.
    * Driver state is the covered-element set — bounded by what the k
    * SELECTED documents contain, not by the pool. Same
    * (1−1/e)-greedy, same tie-breaks, spec-pinned ≡ [[coverSelect]]. */
  private[graft] def coverSelectDistributed(
      df: DataFrame,
      idCol: String,
      setCol: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import graft.Materialize.MatOps
    val cands = df
      .select(col(idCol).cast("long").as("__id"),
        array_distinct(col(setCol)).as("__set"))
      .materialize()
    val n = cands.count()
    val covered = scala.collection.mutable.Set.empty[String]
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)] // (id, rank, gain, total)
    var rank = 1
    while (rank <= k && selected.size < n) {
      val pickedIds = selected.map(_._1).toSeq
      val coveredDf = covered.toSeq.toDF("__e").withColumn("__c", lit(1))
      val top = cands
        .where(!col("__id").isin(pickedIds: _*))
        .select(col("__id"), explode_outer(col("__set")).as("__e"))
        .join(broadcast(coveredDf), Seq("__e"), "left")
        .groupBy(col("__id"))
        .agg(sum(when(col("__c").isNull && col("__e").isNotNull, 1L)
          .otherwise(0L)).as("__gain"))
        .orderBy(col("__gain").desc, col("__id").asc)
        .limit(1)
        .head()
      val pick = top.getLong(0)
      val gain = top.getLong(1)
      covered ++= cands.where(col("__id") === pick)
        .select(explode(col("__set"))).as[String].collect()
      selected += ((pick, rank.toLong, gain, covered.size.toLong))
      rank += 1
    }
    selected.toSeq.toDF(idCol, "sel_rank", "gain", "covered_total")
  }
}
