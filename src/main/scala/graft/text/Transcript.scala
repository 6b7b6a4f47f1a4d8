package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GroupedTopK

/** Conversation/transcript assembly — the SFT-data preparation step:
  * turn events become ordered, role-tagged turns with EXACT character
  * offsets into the assembled transcript, which is what loss masking
  * needs (mask prompt spans, train on completion spans) without ever
  * re-tokenizing to find turn boundaries. Keeping only the trailing k
  * turns is the context-window truncation rule (drop the oldest, never
  * the newest).
  *
  * Everything is deterministic string arithmetic: rendered turn =
  * `<role>content`, separator = one newline, offsets = running sum of
  * rendered lengths (+1 per separator) — all integers, all
  * oracle-replayable.
  *
  * Scale shape: ONE exchange — the trailing-k pick (GroupedTopK) and
  * both windows (turn index, offset prefix sum) partition by the
  * conversation key, so Catalyst reuses a single hash exchange; no
  * joins, no second pass. State per conversation is its ≤ k surviving
  * turns.
  */
object Transcript {

  /** Assemble per-conversation turns: keep the LAST `lastK` turns by
    * (tsCol, tieCol), emit (convCol, turn_idx, role, content,
    * start_off, end_off) with offsets into the `\n`-joined rendered
    * transcript. turn_idx is 1-based in chronological order. */
  def turns(
      df: DataFrame,
      convCol: String,
      tsCol: String,
      tieCol: String,
      role: Column,
      content: Column,
      lastK: Int): DataFrame = {
    require(lastK >= 1, s"lastK must be >= 1: $lastK")
    val wAsc = Window.partitionBy(col(convCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val wPrev = wAsc.rowsBetween(Window.unboundedPreceding, -1)
    val turns = df.select(col(convCol), col(tsCol), col(tieCol),
      role.as("role"), content.as("content"))
    // the last `lastK` turns of each conversation, latest first
    GroupedTopK.topKPerKey(turns, Seq(convCol),
        Seq(tsCol -> false, tieCol -> false), lastK)
      .withColumn("turn_idx", row_number().over(wAsc).cast("long"))
      .withColumn("__len",
        (length(col("role")) + lit(2) + length(col("content"))).cast("long"))
      .withColumn("start_off",
        coalesce(sum(col("__len") + 1L).over(wPrev), lit(0L)))
      .withColumn("end_off", col("start_off") + col("__len"))
      .select(col(convCol), col("turn_idx"), col("role"), col("content"),
        col("start_off"), col("end_off"))
  }
}
