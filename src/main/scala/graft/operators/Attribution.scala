package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Marketing-style conversion attribution over an event log — "which
  * channel gets credit for this conversion?" — the event-stream rollup
  * behind campaign reporting and training-data labeling of conversion
  * sessions.
  *
  * Last-touch semantics, computed with ONE per-entity window — never a
  * conversions×touches self-join (which re-shuffles the log twice and
  * explodes on active entities): sort each entity's events once by
  * (ts, id) and carry the most recent touch forward with
  * `last(..., ignoreNulls)` over the strictly-preceding frame. The two
  * carried columns (touch time, touch channel) null out on exactly the
  * same rows, so they always describe the same touch — no struct
  * shipping needed. Scale shape: one exchange keyed on the entity, a
  * spill-safe in-group sort, then a channel-sized aggregate; cost is
  * O(events), independent of touches-per-conversion.
  *
  * Eligibility is "sorts strictly before the conversion under
  * (ts, id)" — a same-timestamp touch with a smaller id counts, one
  * with a larger id does not (deterministic, and exactly replayable by
  * any engine stating the same frame). A preceding CONVERSION is never
  * a touch unless its type is listed in `touchTypes`.
  */
object Attribution {

  /** The argument contract every attribution model shares. */
  private def requireArgs(convType: String, touchTypes: Seq[String],
      lookback: Long): Unit = {
    require(lookback > 0, "lookback must be positive")
    require(!touchTypes.contains(convType),
      "convType in touchTypes would let a conversion credit itself")
  }

  /** Each conversion event with its attributed channel.
    *
    * @param events     event log
    * @param entityCol  attribution scope (user / session)
    * @param tsCol      integral event time (epoch-ns per repo contract)
    * @param idCol      unique event id — the same-ts tie-break
    * @param typeCol    event type / channel column
    * @param convType   the conversion event type
    * @param touchTypes channels eligible for credit
    * @param lookback   max `tsCol` age of the credited touch (same unit
    *                   as tsCol); older touches yield `'(none)'`
    * @return conversion rows + (attributed_channel, touch_ts) where
    *         touch_ts is null for '(none)'
    */
  def lastTouch(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      lookback: Long): DataFrame = {
    requireArgs(convType, touchTypes, lookback)
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol).isin(touchTypes: _*)
    // NULL entities drop in BOTH attribution models (a window would
    // lump them into one pseudo-entity; the join would drop them —
    // aligning on drop keeps lastTouch and linearTouch comparable)
    val attributed = events.where(col(entityCol).isNotNull)
      .withColumn("__lt",
        last(when(isTouch, col(tsCol)), ignoreNulls = true).over(w))
      .withColumn("__lc",
        last(when(isTouch, col(typeCol)), ignoreNulls = true).over(w))
      .where(col(typeCol) === convType)
      .withColumn("__ok",
        col("__lt").isNotNull && col(tsCol) - col("__lt") <= lookback)
    attributed
      .withColumn("attributed_channel",
        when(col("__ok"), col("__lc")).otherwise(lit("(none)")))
      .withColumn("touch_ts", when(col("__ok"), col("__lt")))
      .drop("__lt", "__lc", "__ok")
  }

  /** The multi-touch models' shared frames: the conversions
    * (__e, __cts, conversion_id) and their eligible touches — the
    * entity-keyed join, each touch sorting strictly before its
    * conversion under (ts, id) and within `lookback`, adding
    * (__tts, __tid, channel). NULL entities drop (the
    * lastTouch-aligned contract — see above). */
  private def eligibleTouches(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      lookback: Long): (DataFrame, DataFrame) = {
    requireArgs(convType, touchTypes, lookback)
    val convs = events.where(col(typeCol) === convType &&
        col(entityCol).isNotNull)
      .select(col(entityCol).as("__e"), col(tsCol).as("__cts"),
        col(idCol).as("conversion_id"))
    val touches = events.where(col(typeCol).isin(touchTypes: _*))
      .select(col(entityCol).as("__e"), col(tsCol).as("__tts"),
        col(idCol).as("__tid"), col(typeCol).as("channel"))
    val eligible = convs.join(touches, Seq("__e"))
      .where((col("__tts") < col("__cts") ||
          (col("__tts") === col("__cts") &&
            col("__tid") < col("conversion_id"))) &&
        col("__cts") - col("__tts") <= lookback)
    (convs, eligible)
  }

  /** Linear (multi-touch) attribution — every eligible touch shares
    * the conversion's credit equally, the model marketing teams run
    * next to [[lastTouch]] when a single-touch story under-credits
    * upper-funnel channels. Eligibility is the same contract as
    * lastTouch (sorts strictly before the conversion under (ts, id),
    * within `lookback`), so the two models are directly comparable.
    *
    * Shape: conversions join touches ON THE ENTITY KEY with the
    * window predicate — per-entity cost conv_e·touch_e, which is the
    * honest cost of any multi-touch model (each conversion must SEE
    * each of its touches to credit it); globally this is Σ_e of
    * bounded per-entity products, keyed and partitioned by entity,
    * never a cross join. Credits are exact rationals quantized to
    * DECIMAL(18,9) per (conversion, channel) — n_ch/n_total — so the
    * per-channel sums are order-free exact decimal sums (the PSI
    * discipline), and a conversion's credits always total ~1 (±1e-9
    * per channel from the quantization floor).
    *
    * Output: one row per (conversion, channel) with n_channel_touches,
    * n_total_touches, credit DECIMAL(18,9); conversions with NO
    * eligible touch emit a single ('(none)', 0, 0, 1.0) row.
    */
  def linearTouch(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      lookback: Long): DataFrame = {
    val (convs, eligible) = eligibleTouches(events, entityCol, tsCol,
      idCol, typeCol, convType, touchTypes, lookback)
    val perChannel = eligible
      .groupBy(col("conversion_id"), col("channel"))
      .agg(count(lit(1)).as("n_channel_touches"))
    val totals = perChannel.groupBy(col("conversion_id"))
      .agg(sum(col("n_channel_touches")).as("n_total_touches"))
    val credited = perChannel.join(totals, Seq("conversion_id"))
      .withColumn("credit",
        (col("n_channel_touches").cast("double") /
          col("n_total_touches").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
    val uncredited = convs.select(col("conversion_id"))
      .join(totals, Seq("conversion_id"), "left_anti")
      .select(col("conversion_id"), lit("(none)").as("channel"),
        lit(0L).as("n_channel_touches"), lit(0L).as("n_total_touches"),
        lit(1).cast(org.apache.spark.sql.types.DecimalType(18, 9))
          .as("credit"))
    credited
      .select(col("conversion_id"), col("channel"),
        col("n_channel_touches"), col("n_total_touches"), col("credit"))
      .unionByName(uncredited)
  }

  /** U-shaped (position-based) attribution — 40% of the credit to the
    * FIRST touch, 40% to the LAST, the middle touches sharing the
    * remaining 20% equally; the model that rewards both discovery and
    * closing. Same eligibility contract as [[linearTouch]].
    *
    * Credits are exact integer MICRO units (1 conversion = 1 000 000):
    * 1 touch → 1 000 000; 2 → 500 000 each; m ≥ 3 → 400 000 / 400 000 /
    * ⌊200 000 / (m−2)⌋ per middle (the ≤(m−3) leftover micros are
    * dropped, both engines identically — integer division, no doubles
    * anywhere). Conversions with no eligible touch emit
    * ('(none)', 1 000 000).
    *
    * Shape: the entity-keyed conversions×touches join (the honest
    * multi-touch cost, never a cross join), then ONE per-conversion
    * window for position; the per-channel rollup is channel-sized.
    *
    * Output: (conversion_id, channel, position, credit_micro).
    */
  def uShapedTouch(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      lookback: Long): DataFrame = {
    val (convs, eligible) = eligibleTouches(events, entityCol, tsCol,
      idCol, typeCol, convType, touchTypes, lookback)
    val w = Window.partitionBy(col("conversion_id"))
      .orderBy(col("__tts"), col("__tid"))
    val positioned = eligible
      .withColumn("position", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(
        Window.partitionBy(col("conversion_id"))))
    val credited = positioned.withColumn("credit_micro",
      when(col("__m") === 1, lit(1000000L))
        .when(col("__m") === 2, lit(500000L))
        .when(col("position") === 1 || col("position") === col("__m"),
          lit(400000L))
        .otherwise(expr("200000 div (__m - 2)")))
    val uncredited = convs.select(col("conversion_id"))
      .join(credited.select(col("conversion_id")),
        Seq("conversion_id"), "left_anti")
      .select(col("conversion_id"), lit("(none)").as("channel"),
        lit(0).as("position"), lit(1000000L).as("credit_micro"))
    credited
      .select(col("conversion_id"), col("channel"), col("position"),
        col("credit_micro"))
      .unionByName(uncredited)
  }
}
