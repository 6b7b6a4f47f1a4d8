package graft.marchmania

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable
import graft.operators.OrderedFold

/** Season-reset ELO ratings — the reference's single non-relational
  * operator (`src/features/elo.py:33-121`): within each season, fold games
  * in chronological order; every team starts at `initialRating`; after each
  * game `expected_w = 1 / (1 + 10^((r_l - r_w)/400))` and
  * `r_w += k·(1 - expected_w)`, `r_l -= k·(1 - expected_w)` (zero-sum).
  * Emits the final per-team rating per season.
  *
  * Implemented on the secondary-sort OrderedFold (one shuffle on Season,
  * streaming fold, state = one Double per distinct team — bounded by team
  * count, not game count, so a 100 TB season streams through a single
  * executor core with a tiny heap). The reference pays a JVM↔Python Arrow
  * hop per season for the same computation; here it is JVM-native.
  *
  * Ordering is total: (DayNum, GameId) — see SURVEY §7.4 risk 1.
  */
object Elo {
  val OutputSchema: StructType = StructType(Seq(
    StructField("Season", IntegerType, nullable = false),
    StructField("TeamID", IntegerType, nullable = false),
    StructField("Elo", DoubleType, nullable = false)))

  /** Margin-of-victory + home-advantage variant. Same season-reset fold,
    * with two refinements real rating systems layer on the plain update
    * (the reference's ELO is unweighted — `src/features/elo.py:33-53`;
    * these are the standard extensions real systems add on top):
    *
    *   - expected score sees `homeAdvantage` added to the home side's
    *     rating (`homeCode` = 0 winner home, 1 winner away, else neutral);
    *   - the update is scaled by `ln(1 + margin)` so blowouts move
    *     ratings more than one-point wins.
    *
    * `delta = k · ln(1+margin) · (1 − 1/(1+10^((r_l_eff − r_w_eff)/400)))`
    *
    * Input needs WScore/LScore/HomeCode beside the plain fold's columns.
    * State and shuffle shape identical to [[perSeason]].
    */
  def perSeasonMovHome(
      games: DataFrame,
      kFactor: Double = 20.0,
      initialRating: Double = 1500.0,
      homeAdvantage: Double = 100.0): DataFrame =
    fold(games, Seq(col("WScore").cast("int"), col("LScore").cast("int"),
        col("HomeCode").cast("int")), kFactor, initialRating, homeAdvantage)(
      weight = r => math.log(1.0 + (r.getInt(5) - r.getInt(6)).toDouble),
      homeCode = _.getInt(7))

  def perSeason(
      games: DataFrame,
      kFactor: Double = 20.0,
      initialRating: Double = 1500.0): DataFrame =
    fold(games, Nil, kFactor, initialRating, homeAdvantage = 0.0)(
      weight = _ => 1.0, homeCode = _ => Neutral)

  /** Expected score of a side rated `r` against a side rated `opp`. */
  private def expected(r: Double, opp: Double): Double =
    1.0 / (1.0 + math.pow(10.0, (opp - r) / 400.0))

  /** Home code of a neutral-site game: no side gets the home bonus. */
  private final val Neutral = 2

  /** The one season fold. Input columns 0-4 are Season, DayNum, GameId,
    * WTeamID, LTeamID, then `extra`; per game the winner gains
    * `k · weight · (1 − expected)` and the loser loses it, with
    * `homeAdvantage` added to the home side's rating in `expected`
    * (home code 0 winner home, 1 winner away, else neutral). Weight 1.0
    * and bonus 0.0 leave the plain update's arithmetic unchanged. */
  private def fold(games: DataFrame, extra: Seq[Column], kFactor: Double,
      initialRating: Double, homeAdvantage: Double)(
      weight: InternalRow => Double, homeCode: InternalRow => Int): DataFrame = {
    val in = games.select(Seq(
      col("Season").cast("int"),
      col("DayNum").cast("int"),
      col("GameId"),
      col("WTeamID").cast("int"),
      col("LTeamID").cast("int")) ++ extra: _*)
    OrderedFold.foldGroups[mutable.LinkedHashMap[Int, Double]](
      in,
      keyCols = Seq("Season"),
      orderCols = Seq(col("DayNum"), col("GameId")),
      outSchema = OutputSchema)(
      init = _ => mutable.LinkedHashMap.empty[Int, Double],
      step = (ratings, r) => {
        val w = r.getInt(3); val l = r.getInt(4)
        val rw = ratings.getOrElse(w, initialRating)
        val rl = ratings.getOrElse(l, initialRating)
        val code = homeCode(r)
        val expectedW = expected(rw + (if (code == 0) homeAdvantage else 0.0),
          rl + (if (code == 1) homeAdvantage else 0.0))
        val delta = kFactor * weight(r) * (1.0 - expectedW)
        ratings(w) = rw + delta
        ratings(l) = rl - delta
        ratings
      },
      emit = (key, ratings) => {
        val season = key.getInt(0)
        ratings.toSeq.sortBy(_._1).iterator.map { case (team, elo) =>
          new GenericInternalRow(Array[Any](season, team, elo))
        }
      })
  }
}
