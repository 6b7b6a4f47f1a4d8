package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GroupedTopK

/** Reusable relational operator shapes from the reference's inventory
  * (SURVEY.md §2), generalized over key/order/value columns. All are
  * declarative DataFrame compositions — Catalyst plans them, so filter
  * pushdown / column pruning / AQE join planning come for free, and each
  * shape costs at most one shuffle.
  */
object Relational {

  /** Keep the most recent row per group — reference `src/features/massey.py:52-59`
    * (latest ranking per system) and `jobs/06_build_silver_rolling.py:51-57`
    * (end-of-season snapshot), which keep `row_number() == 1` over a
    * descending order. Here: the row with the greatest `orderDesc`
    * columns (compared in turn, nulls last) per `keys` value, on
    * [[graft.plans.GroupedTopK]] with k = 1; same columns as `df`. One
    * shuffle on the keys, none when `df` is already clustered on them.
    * The caller must make `orderDesc` a total order for determinism.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderDesc: Seq[String]): DataFrame =
    GroupedTopK.topKPerKey(df, keys, orderDesc.map(_ -> false), k = 1)

  /** Trailing-window averages that EXCLUDE the current row (anti-leakage
    * "causal rolling momentum") — reference `src/features/rolling.py:79-93`:
    * frame `rowsBetween(-n, -1)`, null when the frame is empty (first row of
    * a group). Emits one `roll<Name>` column per (name -> value expr).
    */
  def trailingAvg(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      n: Int,
      values: Seq[(String, Column)]): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(-n, -1)
    values.foldLeft(df) { case (d, (name, v)) =>
      d.withColumn(name, avg(v).over(w))
    }
  }

  /** Two-sided feature attach — the reference's dominant join pattern
    * (`src/features/basketball_features_plus.py:91-98`): one per-entity
    * feature table left-joined twice onto a fact, once per role column.
    * `featurePrefixes` renames feature cols to `<prefix><col>` per side.
    * Small feature tables broadcast (AQE or explicit); at 100 TB the fact
    * side never shuffles when both attaches broadcast.
    */
  def twoSidedAttach(
      fact: DataFrame,
      features: DataFrame,
      commonKeys: Seq[String],
      entityKey: String,
      side1: (String, String),
      side2: (String, String),
      broadcastFeatures: Boolean = true): DataFrame = {
    val featCols = features.columns.filterNot(c => commonKeys.contains(c) || c == entityKey)
    def sided(roleCol: String, prefix: String): DataFrame = {
      val renamed = featCols.foldLeft(features)((d, c) => d.withColumnRenamed(c, prefix + c))
        .withColumnRenamed(entityKey, roleCol)
      if (broadcastFeatures) broadcast(renamed) else renamed
    }
    fact
      .join(sided(side1._1, side1._2), commonKeys :+ side1._1, "left")
      .join(sided(side2._1, side2._2), commonKeys :+ side2._1, "left")
  }

  /** Skew-safe two-phase aggregation (salting): when one group key holds
    * a disproportionate share of rows, a direct groupBy sends them all to
    * one reducer. Phase 1 groups on (keys, salt) — spreading the hot key
    * over `saltBuckets` reducers with map-side partial aggregation —
    * phase 2 merges partials per key. Only sum-mergeable aggregates
    * (count/sum) qualify; results are exact (integer/decimal sums) and
    * identical to the direct groupBy.
    *
    * The salt is a deterministic row hash (over every column), not
    * spark_partition_id/monotonically_increasing_id: those change when a
    * stage is recomputed (fetch failure, speculation), re-salting rows
    * between the original and retried attempts and corrupting phase-1
    * partials. A content hash reproduces identical groups on any retry;
    * identical rows sharing a bucket is harmless since partials merge.
    */
  def saltedCountSum(
      df: DataFrame,
      keys: Seq[String],
      sumCols: Seq[String],
      saltBuckets: Int = 32): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(saltBuckets.toLong)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        sumCols.map(c => sum(col(c)).as(s"__sum_$c")): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"__sum_$c")).as(s"sum_$c")): _*)
  }

  /** Skew-proof equi-join of a fact frame against a per-key dimension
    * whose key distribution is Zipfian (tokens, URLs, user ids): the
    * `hotN` heaviest keys — by the dimension's `weight` column — join via
    * BROADCAST, so the fact rows carrying them never shuffle and no
    * reducer inherits a stop-word-sized key; only the long tail takes the
    * shuffle join, and after the anti-join its per-key row counts are
    * tail-sized by construction. Skew-proof by construction rather than
    * by AQE's runtime grace (AQE splits oversized sort-merge partitions,
    * but only after the skewed map output exists; here it never exists).
    *
    * Requirements: `dim` has one row per key (it's an aggregate), and
    * `hotN` rows of it fit comfortably in a broadcast (thousands — the
    * head of a Zipf distribution is small by definition). Result equals
    * `fact.join(dim, key)` exactly: the hot/tail split is a disjoint
    * partition of the keys, reassembled by unionByName.
    *
    * Cost note: `fact` is consumed by two branches and `dim` by three
    * (hot head, anti-join key set, tail join) — when either derives from
    * an expensive sub-plan, persist/checkpoint it first; the branches
    * re-evaluate their inputs (scan-stage work, the cheap axis — reducer
    * skew is the expensive one this operator removes).
    */
  def hotTailJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      weight: String,
      hotN: Int = 1024): DataFrame = {
    val hot = broadcast(
      dim.orderBy(col(weight).desc, col(key)).limit(hotN))
    val hotSide = fact.join(hot, Seq(key))
    val tailSide = fact
      .join(broadcast(hot.select(col(key))), Seq(key), "left_anti")
      .join(dim, Seq(key))
    hotSide.unionByName(tailSide)
  }

  /** Symmetric union — reference `jobs/03_build_gold_training_set.py:39-60`:
    * each fact row emitted from both perspectives (label 1 / label 0) so a
    * downstream model can't learn column-order bias. Narrow op: no shuffle.
    */
  def symmetricUnion(
      df: DataFrame,
      perspective1: DataFrame => DataFrame,
      perspective2: DataFrame => DataFrame): DataFrame =
    perspective1(df).unionByName(perspective2(df))

  /** Forward fill (last observation carried forward): per key, nulls
    * in `valueCol` take the most recent non-null value in `order` —
    * the standard imputation for sparse observations on a dense
    * timeline (a price known only at trades, a setting known only at
    * changes). Rows before the first observation stay null. Emits
    * `<valueCol>_filled`; one exchange, one window pass.
    *
    * `order` must totally order rows within a key — with ties the
    * "last" observation is undefined and the fill nondeterministic.
    */
  def forwardFill(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${valueCol}_filled",
      last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Sequence gap detection: the missing ranges of an integral
    * `seqCol` expected dense over the whole input — each output row a
    * hole `(gap_start, gap_end)` inclusive. The data-quality check
    * behind "did we drop messages", WITHOUT the naive global sort or
    * a join against a generated ideal sequence (a second corpus at
    * 100 TB).
    *
    * Scale shape: ids bucket by `seq div bucketSize`; within-bucket
    * holes come from a lead window PARTITIONED BY BUCKET (distributed,
    * spill-safe), and holes that cross or swallow bucket boundaries
    * come from a lead over the per-bucket (min, max) summaries —
    * |ids|/bucketSize rows, the only single-partition pass. Duplicate
    * sequence values are benign (difference 0 is no hole).
    */
  def sequenceGaps(
      df: DataFrame,
      seqCol: String,
      bucketSize: Long = 1L << 20): DataFrame = {
    require(bucketSize >= 2, s"bucketSize must be >= 2: $bucketSize")
    val ids = df.select(col(seqCol).as("__seq"))
      .where(col("__seq").isNotNull)
      .withColumn("__b", graft.operators.RangeJoin.floorDiv(
        col("__seq"), bucketSize))
    val within = ids
      .withColumn("__next",
        lead(col("__seq"), 1).over(
          Window.partitionBy(col("__b")).orderBy(col("__seq"))))
      .where(col("__next") > col("__seq") + 1)
      .select((col("__seq") + 1).as("gap_start"),
        (col("__next") - 1).as("gap_end"))
    val summaries = ids.groupBy(col("__b"))
      .agg(min(col("__seq")).as("__mn"), max(col("__seq")).as("__mx"))
    val across = summaries
      .withColumn("__nextMn",
        lead(col("__mn"), 1).over(Window.orderBy(col("__b"))))
      .where(col("__nextMn") > col("__mx") + 1)
      .select((col("__mx") + 1).as("gap_start"),
        (col("__nextMn") - 1).as("gap_end"))
    within.unionByName(across)
  }

  /** Per-key mode: the most frequent `valueCol` per key, smallest
    * value winning ties (a deterministic contract — "the" mode is
    * meaningless without one). The raw rows see ONE aggregation
    * (count per (key, value), map-side combined); the top-1 pick
    * ([[graft.plans.GroupedTopK]], ordered by count descending, then
    * value) then runs over the already-|key×value|-reduced counts,
    * never over data rows. Output: keys…, mode_value, mode_count. Null
    * values are excluded (SQL aggregate convention); keys with only
    * nulls emit nothing.
    */
  def modePerKey(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val counts = df
      .where(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__c"))
    GroupedTopK.topKPerKey(counts, keys, Seq("__c" -> false, valueCol -> true), k = 1)
      .select((keys.map(col) :+ col(valueCol).as("mode_value") :+
        col("__c").as("mode_count")): _*)
  }

  /** Unpivot / melt: widen-by-column → lengthen-by-row, turning each
    * input row into one row per value column — the inverse of pivot
    * and the shape feeding "metric as data" consumers (dashboards,
    * per-metric thresholds, the [[Profile]] report). A NARROW
    * operation: the struct-array explode fans out inside the scan
    * stage, no shuffle, no per-column re-scan (melting N columns with
    * N selects reads the table N times).
    *
    * All `valueCols` must share (or be castable to) one type — the
    * melted `value` column has a single schema slot. Nulls pass
    * through as null values (the row is kept, like SQL UNPIVOT
    * INCLUDE NULLS), so row count is exactly |df| · |valueCols|.
    */
  def melt(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      varName: String = "metric",
      valName: String = "value"): DataFrame = {
    require(valueCols.nonEmpty, "at least one value column")
    require(valueCols.distinct.size == valueCols.size,
      s"duplicate value columns: $valueCols")
    // temp name chosen to never collide with an idCol; fields read via
    // getField, so a varName/valName holding dots or backticks is fine
    val tmp = Iterator.from(0).map(i => s"__melt_$i")
      .find(n => !idCols.contains(n)).get
    val arms = valueCols.map(c =>
      struct(lit(c).as(varName), col(c).as(valName)))
    df.select(idCols.map(col) :+ explode(array(arms: _*)).as(tmp): _*)
      .select(idCols.map(col) :+ col(tmp).getField(varName).as(varName) :+
        col(tmp).getField(valName).as(valName): _*)
  }

  /** Running distinct count: per key, how many DISTINCT `itemCol`
    * values have appeared up to and including each row in `order` —
    * "how many event types has this user touched so far". The naive
    * form accumulates a set per row (quadratic state); this is the
    * linear formulation: flag each (key, item)'s FIRST occurrence via
    * one window, prefix-sum the flags via another. Emits
    * `n_distinct_so_far`.
    *
    * Both windows cluster by `keys` (the item window merely refines
    * the key), so Spark plans ONE exchange with two sort passes —
    * `order` must totally order rows within a key for determinism.
    */
  def runningDistinct(
      df: DataFrame,
      keys: Seq[String],
      itemCol: String,
      order: Seq[Column]): DataFrame = {
    val perItem = Window
      .partitionBy((keys.map(col) :+ col(itemCol)): _*).orderBy(order: _*)
    val perKey = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // hash(keys) satisfies BOTH windows' clustering ({keys} ⊆
    // {keys, item}), but Catalyst only reuses it if the keys-grained
    // partitioning already exists when the refined window plans —
    // repartition first, or the item window demands its own exchange
    // and the key window re-shuffles right after
    df.repartition(keys.map(col): _*)
      .withColumn("__first",
        when(row_number().over(perItem) === 1, 1L).otherwise(0L))
      .withColumn("n_distinct_so_far", sum(col("__first")).over(perKey))
      .drop("__first")
  }

  /** Join-skew pre-flight report: the top-k join keys by OUTPUT
    * fan-out (left count × right count) with both side counts — the
    * table you read BEFORE launching a big join, because one hot key
    * producing 10¹⁰ output rows is invisible in input sizes and fatal
    * at runtime (it is also exactly what AQE's skew split and the
    * salting operators here exist to absorb; this report tells you
    * WHICH keys need them). Two grouped counts + a key-dim full
    * join — never touches the joined output it predicts. Keys present
    * on only one side product to 0 (they emit nothing in an inner
    * join) but still report their one-sided counts. */
  def joinSkewReport(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val l = left.groupBy(col(leftKey).cast("string").as("key"))
      .agg(count(lit(1)).as("l_count"))
    val r = right.groupBy(col(rightKey).cast("string").as("key"))
      .agg(count(lit(1)).as("r_count"))
    l.join(r, Seq("key"), "full")
      .select(col("key"),
        coalesce(col("l_count"), lit(0L)).as("l_count"),
        coalesce(col("r_count"), lit(0L)).as("r_count"))
      .withColumn("output_rows", col("l_count") * col("r_count"))
      .orderBy(col("output_rows").desc, col("key"))
      .limit(topK)
  }
}
