package graft.queries
import graft.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.marchmania._

/** March-mania domain operator coverage (SURVEY.md §2.13) over a games
  * table derived deterministically from `orders` (so the DuckDB oracle can
  * derive the identical table). Construction guarantees WTeamID ∈ [0,40) ≠
  * LTeamID ∈ [50,90) and WScore ∈ [60,101) > LScore ∈ [30,60).
  */
object DomainQueries {

  /** Synthetic Kaggle-shaped games table. Keep in sync with [[GamesSql]]. */
  def games(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      year(col("o_orderdate")).as("Season"),
      dayofyear(col("o_orderdate")).as("DayNum"),
      col("o_orderkey").as("GameId"),
      (col("o_custkey") % 40).cast("int").as("WTeamID"),
      (lit(50) + col("o_orderkey") % 40).cast("int").as("LTeamID"),
      (lit(60) + col("o_orderkey") % 41).cast("int").as("WScore"),
      (lit(30) + col("o_custkey") % 30).cast("int").as("LScore"))

  /** DuckDB CTEs mirroring [[games]] + the long (two-perspective) view. */
  private[queries] val GamesSql: String = """
    |WITH games AS (
    |  SELECT CAST(year(o_orderdate) AS INTEGER) AS Season,
    |         CAST(dayofyear(o_orderdate) AS INTEGER) AS DayNum,
    |         o_orderkey AS GameId,
    |         CAST(o_custkey % 40 AS INTEGER) AS WTeamID,
    |         CAST(50 + o_orderkey % 40 AS INTEGER) AS LTeamID,
    |         CAST(60 + o_orderkey % 41 AS INTEGER) AS WScore,
    |         CAST(30 + o_custkey % 30 AS INTEGER) AS LScore
    |  FROM orders),
    |long AS (
    |  SELECT Season, DayNum, GameId, WTeamID AS TeamID, LTeamID AS OpponentID,
    |         WScore AS PointsFor, LScore AS PointsAgainst, 1 AS Win
    |  FROM games
    |  UNION ALL
    |  SELECT Season, DayNum, GameId, LTeamID, WTeamID, LScore, WScore, 0
    |  FROM games),
    |stats AS (
    |  SELECT Season, TeamID,
    |         count(*) AS Games,
    |         CAST(sum(Win) AS BIGINT) AS Wins,
    |         CAST(count(*) - sum(Win) AS BIGINT) AS Losses,
    |         CAST(sum(Win) AS DOUBLE) / count(*) AS WinRate,
    |         avg(PointsFor) AS AvgPointsFor,
    |         avg(PointsAgainst) AS AvgPointsAgainst,
    |         avg(PointsFor - PointsAgainst) AS AvgPointDiff
    |  FROM long GROUP BY Season, TeamID)
    |""".stripMargin

  val all: Seq[Q] = Seq(q16, q17, q18, q19, q20, q21, q22, q54, q58)

  /** §2.13-1: team-season stats (U2+A1). */
  def q16: Q = Q(
    "q16_team_season_stats",
    Some(GamesSql + "SELECT * FROM stats ORDER BY Season, TeamID")) { (s, dir) =>
    TeamSeasonStats.build(games(s, dir))
      .withColumn("Wins", col("Wins").cast("long"))
      .withColumn("Losses", col("Losses").cast("long"))
      .orderBy(col("Season"), col("TeamID"))
  }

  /** §2.13-3: causal rolling momentum (W1) over the long game table,
    * trailing 3 games, excluding the current row; null on season's first
    * game. */
  def q17: Q = Q(
    "q17_rolling_momentum",
    Some(GamesSql + """
      |SELECT Season, TeamID, DayNum, GameId, Win,
      |       avg(Win) OVER w AS RollWinRate,
      |       avg(PointsFor - PointsAgainst) OVER w AS RollAvgPointDiff
      |FROM long
      |WINDOW w AS (PARTITION BY Season, TeamID ORDER BY DayNum, GameId
      |             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
      |ORDER BY Season, TeamID, DayNum, GameId
      |""".stripMargin)) { (s, dir) =>
    Rolling.features(LongGames.build(games(s, dir)), n = 3)
      .select(
        col("Season"), col("TeamID"), col("DayNum"), col("GameId"), col("Win"),
        col("RollWinRate"), col("RollAvgPointDiff"))
      .orderBy(col("Season"), col("TeamID"), col("DayNum"), col("GameId"))
  }

  /** §2.13-5: seed parsing (F2) on synthesized seed strings ("W01".."Z16",
    * play-in 'a' suffix on every 7th). */
  def q18: Q = Q(
    "q18_seed_parse",
    Some("""
      |WITH seeds AS (
      |  SELECT 2024 AS Season, CAST(p_partkey AS INTEGER) AS TeamID,
      |         substring('WXYZ', CAST(p_partkey % 4 AS INTEGER) + 1, 1)
      |           || lpad(CAST(p_size % 16 + 1 AS VARCHAR), 2, '0')
      |           || CASE WHEN p_partkey % 7 = 0 THEN 'a' ELSE '' END AS Seed
      |  FROM part)
      |SELECT Season, TeamID, Seed,
      |       regexp_extract(Seed, '^([A-Z])([0-9]{2})', 1) AS SeedRegion,
      |       CAST(regexp_extract(Seed, '^([A-Z])([0-9]{2})', 2) AS INTEGER) AS SeedNum
      |FROM seeds ORDER BY TeamID
      |""".stripMargin)) { (s, dir) =>
    val seeds = Tables.part(s, dir).select(
      lit(2024).as("Season"),
      col("p_partkey").cast("int").as("TeamID"),
      concat(
        expr("substring('WXYZ', cast(p_partkey % 4 as int) + 1, 1)"),
        lpad((col("p_size") % 16 + 1).cast("string"), 2, "0"),
        when(col("p_partkey") % 7 === 0, lit("a")).otherwise(lit(""))).as("Seed"))
    Seeds.parse(seeds).orderBy(col("TeamID"))
  }

  /** §2.13-6: Massey-style ranking consensus (W2+A2): latest ranking per
    * (team, system) then mean/median/count across systems. Ordinals derived
    * from events (system := event_type). */
  def q19: Q = Q(
    "q19_massey_consensus",
    Some("""
      |WITH ord AS (
      |  SELECT 2024 AS Season, CAST(user_id AS INTEGER) AS TeamID,
      |         event_type AS SystemName,
      |         CAST(event_id % 100 AS INTEGER) AS RankingDayNum,
      |         CAST(event_id % 200 + 1 AS INTEGER) AS OrdinalRank,
      |         event_id
      |  FROM events),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY Season, TeamID, SystemName
      |      ORDER BY RankingDayNum DESC, event_id DESC) AS rn
      |    FROM ord) WHERE rn = 1)
      |SELECT Season, TeamID,
      |       CAST(sum(OrdinalRank) AS DOUBLE) / count(*) AS MasseyMeanRank,
      |       quantile_cont(OrdinalRank, 0.5) AS MasseyMedianRank,
      |       count(*) AS Systems
      |FROM latest GROUP BY Season, TeamID ORDER BY TeamID
      |""".stripMargin)) { (s, dir) =>
    val ordinals = Tables.events(s, dir).select(
      lit(2024).as("Season"),
      col("user_id").cast("int").as("TeamID"),
      col("event_type").as("SystemName"),
      (col("event_id") % 100).cast("int").as("RankingDayNum"),
      (col("event_id") % 200 + 1).cast("int").as("OrdinalRank"),
      col("event_id"))
    Massey.consensus(ordinals, tieBreak = Seq("event_id"))
      .orderBy(col("TeamID"))
  }

  /** §2.13-7: strength of schedule (J7+A3) — mean opponent WinRate and
    * AvgPointDiff per team-season. */
  def q20: Q = Q(
    "q20_strength_of_schedule",
    Some(GamesSql + """
      |SELECT g.Season, g.TeamID,
      |       CAST(sum(CAST(st.WinRate AS DECIMAL(18,9))) AS DOUBLE)
      |         / count(st.WinRate) AS SosOppWinRate,
      |       CAST(sum(CAST(st.AvgPointDiff AS DECIMAL(18,9))) AS DOUBLE)
      |         / count(st.AvgPointDiff) AS SosOppAvgPointDiff
      |FROM long g
      |LEFT JOIN stats st ON g.Season = st.Season AND g.OpponentID = st.TeamID
      |GROUP BY g.Season, g.TeamID
      |ORDER BY g.Season, g.TeamID
      |""".stripMargin)) { (s, dir) =>
    val g = games(s, dir)
    // stage boundary: the per-team stats aggregate is the broadcast dim —
    // checkpoint it so its games scan + aggregation runs once
    Sos.build(
      LongGames.build(g),
      TeamSeasonStats.build(g).materialize(),
      Seq("SosOppWinRate" -> "WinRate", "SosOppAvgPointDiff" -> "AvgPointDiff"))
      .orderBy(col("Season"), col("TeamID"))
  }

  /** §2.13-4: season-reset ELO via the secondary-sort ordered fold (A6).
    * Oracle: DuckDB list_reduce with a struct-list state — each game is
    * encoded as a single-element struct list so accumulator and element
    * types unify, and the lambda replays the exact update
    * r_w += 20·(1 − 1/(1+10^((r_l−r_w)/400))) in (DayNum, GameId) order.
    * pow/division are bit-identical across engines on these inputs, so
    * the fold matches hash-exactly (verified; plus the hand-computed
    * fixture, zero-sum and season-reset tests in MarchManiaSpec).
    */
  def q21: Q = {
    val delta = "20.0 * (1.0 - 1.0/(1.0 + pow(10.0, " +
      "((list_filter(acc, y -> y.t = CAST(gm[1].r AS INTEGER))[1].r) - " +
      "(list_filter(acc, y -> y.t = gm[1].t)[1].r))/400.0)))"
    Q("q21_season_elo",
      Some(GamesSql + s"""
        |, teams AS (
        |  SELECT Season, list_sort(list_distinct(flatten(list([WTeamID, LTeamID])))) AS tl
        |  FROM games GROUP BY Season),
        |folded AS (
        |  SELECT g.Season,
        |         list_reduce(
        |           list_prepend(
        |             list_transform(t.tl, x -> {'t': x, 'r': CAST(1500 AS DOUBLE)}),
        |             list([{'t': g.WTeamID, 'r': CAST(g.LTeamID AS DOUBLE)}]
        |                  ORDER BY g.DayNum, g.GameId)),
        |           (acc, gm) -> list_transform(acc, x ->
        |             CASE WHEN x.t = gm[1].t
        |                    THEN {'t': x.t, 'r': x.r + $delta}
        |                  WHEN x.t = CAST(gm[1].r AS INTEGER)
        |                    THEN {'t': x.t, 'r': x.r - $delta}
        |                  ELSE x END)) AS state
        |  FROM games g JOIN teams t ON g.Season = t.Season
        |  GROUP BY g.Season, t.tl)
        |SELECT Season, u.s.t AS TeamID, u.s.r AS Elo
        |FROM (SELECT Season, unnest(state) AS s FROM folded) u(Season, s)
        |ORDER BY Season, TeamID
        |""".stripMargin)) { (s, dir) =>
      Elo.perSeason(games(s, dir))
        .orderBy(col("Season"), col("TeamID"))
    }
  }

  /** ELO variant: margin-of-victory scaling + home-court advantage (the
    * two standard refinements the reference's plain fold lacks — see
    * [[graft.marchmania.Elo.perSeasonMovHome]]). HomeCode is derived
    * deterministically as GameId % 3 (0 winner home, 1 winner away,
    * 2 neutral). Oracle replays the fold via the q21 list_reduce pattern;
    * the game struct's double slot packs (LTeamID, margin, homeCode) as
    * LTeamID·10000 + margin·10 + code — all integer-valued, so the double
    * encoding and BIGINT decode are exact.
    */
  def q58: Q = {
    val enc = "CAST(gm[1].r AS BIGINT)"
    val delta =
      s"""20.0 * ln(1.0 + CAST(($enc // 10) % 1000 AS DOUBLE)) *
         | (1.0 - 1.0/(1.0 + pow(10.0,
         |   (((list_filter(acc, y -> y.t = CAST($enc // 10000 AS INTEGER))[1].r)
         |       + CASE WHEN $enc % 10 = 1 THEN 100.0 ELSE 0.0 END)
         |    - ((list_filter(acc, y -> y.t = gm[1].t)[1].r)
         |       + CASE WHEN $enc % 10 = 0 THEN 100.0 ELSE 0.0 END))/400.0)))"""
        .stripMargin.replace("\n", " ")
    Q("q58_elo_mov_home",
      Some(GamesSql + s"""
        |, teams AS (
        |  SELECT Season, list_sort(list_distinct(flatten(list([WTeamID, LTeamID])))) AS tl
        |  FROM games GROUP BY Season),
        |folded AS (
        |  SELECT g.Season,
        |         list_reduce(
        |           list_prepend(
        |             list_transform(t.tl, x -> {'t': x, 'r': CAST(1500 AS DOUBLE)}),
        |             list([{'t': g.WTeamID,
        |                    'r': CAST(g.LTeamID * 10000 + (g.WScore - g.LScore) * 10
        |                              + g.GameId % 3 AS DOUBLE)}]
        |                  ORDER BY g.DayNum, g.GameId)),
        |           (acc, gm) -> list_transform(acc, x ->
        |             CASE WHEN x.t = gm[1].t
        |                    THEN {'t': x.t, 'r': x.r + $delta}
        |                  WHEN x.t = CAST($enc // 10000 AS INTEGER)
        |                    THEN {'t': x.t, 'r': x.r - $delta}
        |                  ELSE x END)) AS state
        |  FROM games g JOIN teams t ON g.Season = t.Season
        |  GROUP BY g.Season, t.tl)
        |SELECT Season, u.s.t AS TeamID, u.s.r AS Elo
        |FROM (SELECT Season, unnest(state) AS s FROM folded) u(Season, s)
        |ORDER BY Season, TeamID
        |""".stripMargin)) { (s, dir) =>
      Elo.perSeasonMovHome(
        games(s, dir).withColumn("HomeCode", (col("GameId") % 3).cast("int")))
        .orderBy(col("Season"), col("TeamID"))
    }
  }

  /** §2.13-8/9: symmetric labeled matchups (U3) + two-sided feature attach
    * (J1-J6) + delta features (P3) + essential-feature dropna (P5) — the
    * reference's Gold training table shape. */
  def q22: Q = Q(
    "q22_matchup_features",
    Some(GamesSql + """
      |, matchups AS (
      |  SELECT Season, GameId, WTeamID AS Team1, LTeamID AS Team2, 1 AS label
      |  FROM games
      |  UNION ALL
      |  SELECT Season, GameId, LTeamID, WTeamID, 0 FROM games)
      |SELECT m.Season, m.GameId, m.Team1, m.Team2, m.label,
      |       s1.WinRate AS T1_WinRate, s2.WinRate AS T2_WinRate,
      |       s1.AvgPointDiff AS T1_AvgPointDiff, s2.AvgPointDiff AS T2_AvgPointDiff,
      |       s1.WinRate - s2.WinRate AS WinRateDiff,
      |       s1.AvgPointDiff - s2.AvgPointDiff AS AvgPointDiffDiff
      |FROM matchups m
      |LEFT JOIN stats s1 ON m.Season = s1.Season AND m.Team1 = s1.TeamID
      |LEFT JOIN stats s2 ON m.Season = s2.Season AND m.Team2 = s2.TeamID
      |WHERE s1.WinRate - s2.WinRate IS NOT NULL
      |  AND s1.AvgPointDiff - s2.AvgPointDiff IS NOT NULL
      |ORDER BY m.Season, m.GameId, m.label
      |""".stripMargin)) { (s, dir) =>
    val g = games(s, dir)
    // stage boundary: the per-(Season, TeamID) stats table is a small
    // aggregate read by BOTH broadcast attach sides — checkpoint it so
    // the games scan + aggregation behind it runs once, not per side
    val stats = TeamSeasonStats.build(g)
      .select("Season", "TeamID", "WinRate", "AvgPointDiff")
      .materialize()
    val attached = Matchups.attachFeatures(
      Matchups.buildLabeled(g), stats, diffCols = Seq("WinRate", "AvgPointDiff"))
    Matchups.dropIncomplete(attached, Seq("WinRateDiff", "AvgPointDiffDiff"))
      .select(
        col("Season"), col("GameId"), col("Team1"), col("Team2"), col("label"),
        col("T1_WinRate"), col("T2_WinRate"),
        col("T1_AvgPointDiff"), col("T2_AvgPointDiff"),
        col("WinRateDiff"), col("AvgPointDiffDiff"))
      .orderBy(col("Season"), col("GameId"), col("label"))
  }

  /** (name, mult, mod, base) for the 13 synthetic per-side box-score
    * stats: stat = (key·mult + c) % mod + base, base >= 1 so every
    * DetailedStats denominator is positive. Winner stats derive from
    * o_orderkey (c=7), loser stats from o_custkey (c=11). */
  // lazy: `val all` above initializes first and reaches here through q54
  private lazy val DetailedStatSpec: Seq[(String, Int, Int, Int)] = Seq(
    ("FGM", 3, 20, 15), ("FGA", 5, 25, 45), ("FGM3", 7, 10, 3),
    ("FGA3", 11, 12, 15), ("FTM", 13, 12, 5), ("FTA", 17, 10, 18),
    ("OR", 19, 10, 5), ("DR", 23, 15, 15), ("Ast", 29, 15, 8),
    ("TO", 31, 12, 6), ("Stl", 37, 8, 3), ("Blk", 41, 6, 1),
    ("PF", 43, 10, 12))

  /** Synthetic detailed-results table (13 W/L box-score columns,
    * FIXTURES.md §A shape) derived from orders. Keep in sync with the
    * generated SQL in [[q54]]. */
  def detailedGames(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      Seq(
        year(col("o_orderdate")).as("Season"),
        dayofyear(col("o_orderdate")).as("DayNum"),
        (col("o_custkey") % 40).cast("int").as("WTeamID"),
        (lit(50) + col("o_orderkey") % 40).cast("int").as("LTeamID")) ++
        DetailedStatSpec.map { case (n, m, md, b) =>
          ((col("o_orderkey") * m + 7) % md + b).cast("int").as(s"W$n")
        } ++
        DetailedStatSpec.map { case (n, m, md, b) =>
          ((col("o_custkey") * m + 11) % md + b).cast("int").as(s"L$n")
        }: _*)

  /** §2.13 tier-3: box-score efficiency profile (DetailedStats.build) —
    * every rate a single division of exact integer sums, so the double
    * results are bit-identical on both engines. Stat columns are quoted
    * in the SQL ("OR"/"TO" are keywords). */
  def q54: Q = {
    val wCols = DetailedStatSpec.map { case (n, m, md, b) =>
      s"""CAST((o_orderkey * $m + 7) % $md + $b AS INTEGER) AS "W$n""""
    }.mkString(",\n    |         ")
    val lCols = DetailedStatSpec.map { case (n, m, md, b) =>
      s"""CAST((o_custkey * $m + 11) % $md + $b AS INTEGER) AS "L$n""""
    }.mkString(",\n    |         ")
    val wLong = DetailedStatSpec.map { case (n, _, _, _) => s""""W$n" AS "$n"""" }
      .mkString(", ")
    val wOpp = DetailedStatSpec.map { case (n, _, _, _) => s""""L$n" AS "Opp$n"""" }
      .mkString(", ")
    val lLong = DetailedStatSpec.map { case (n, _, _, _) => s""""L$n" AS "$n"""" }
      .mkString(", ")
    val lOpp = DetailedStatSpec.map { case (n, _, _, _) => s""""W$n" AS "Opp$n"""" }
      .mkString(", ")
    Q("q54_detailed_efficiency",
      Some(s"""
        |WITH det AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS Season,
        |         CAST(dayofyear(o_orderdate) AS INTEGER) AS DayNum,
        |         CAST(o_custkey % 40 AS INTEGER) AS WTeamID,
        |         CAST(50 + o_orderkey % 40 AS INTEGER) AS LTeamID,
        |         $wCols,
        |         $lCols
        |  FROM orders),
        |long AS (
        |  SELECT Season, DayNum, WTeamID AS TeamID, 1 AS Win, $wLong, $wOpp FROM det
        |  UNION ALL
        |  SELECT Season, DayNum, LTeamID, 0, $lLong, $lOpp FROM det)
        |SELECT Season, TeamID, count(*) AS Games,
        |       sum("FGM") / sum("FGA") AS FgPct,
        |       sum("FGM3") / sum("FGA3") AS Fg3Pct,
        |       sum("FTM") / sum("FTA") AS FtPct,
        |       sum("Ast") / sum("TO") AS AstToRatio,
        |       (sum("OR") + sum("DR")) / count(*) AS ReboundsPerGame,
        |       sum("OR") / (sum("OR") + sum("OppDR")) AS OffRebRate,
        |       sum("Stl") / count(*) AS StealsPerGame,
        |       sum("Blk") / count(*) AS BlocksPerGame,
        |       sum("PF") / count(*) AS FoulsPerGame,
        |       (sum("FGA") - sum("OR") + sum("TO")) + 0.475 * sum("FTA")
        |         AS PossessionsEst
        |FROM long GROUP BY Season, TeamID
        |ORDER BY Season, TeamID
        |""".stripMargin)) { (s, dir) =>
      DetailedStats.build(detailedGames(s, dir))
        .orderBy(col("Season"), col("TeamID"))
    }
  }
}
