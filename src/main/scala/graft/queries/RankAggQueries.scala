package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-9 rank-aggregation / social-choice wave: the five customer
  * regions "vote" by ranking the 25 part brands on revenue; the wave
  * computes the Copeland pairwise tournament, the Kendall-tau and
  * Spearman-footrule distance matrices between regional ballots, the
  * Borda aggregate ranking, and the plurality/Borda/Copeland winner
  * agreement row.
  *
  * Scale: one fact pass (lineitem⋈orders⋈customer, nation/part-brand
  * broadcast-shaped) reduces to the 5×25 region×brand dim; all
  * tournament/distance computations are dim×dim joins (≤3k tuples at
  * any sf). Rankings are strict (revenue desc, brand asc tie-break),
  * so every count is an exact integer. */
object RankAggQueries {

  val all: Seq[Q] = Seq(q826, q827, q828, q829, q830)

  /** Oracle body of the `rb(r, b, rev)` CTE: exact revenue cents per
    * (customer region, part brand) — the ballots' input. */
  private[queries] def sqlRegionBrandRev: String =
    """  SELECT n.n_regionkey AS r, p.p_brand AS b,
      |         sum(CAST(l.l_extendedprice * 100 AS BIGINT)) AS rev
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |       JOIN customer c ON c.c_custkey = o.o_custkey
      |       JOIN nation n ON n.n_nationkey = c.c_nationkey
      |       JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2""".stripMargin

  private def sqlRk: String = s"""
    |rb AS (
    |$sqlRegionBrandRev),
    |rk AS (SELECT r, b, row_number() OVER (PARTITION BY r
    |         ORDER BY rev DESC, b) AS rnk FROM rb)""".stripMargin

  /** Spark ballot dim (r, b, rnk): one fact pass then a 125-row
    * partitioned window. */
  private[queries] def rkBase(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
          .as("v"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey").as("r"))),
        col("n_nationkey") === col("c_nationkey"))
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand").as("b")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("r"), col("b"))
      .agg(sum(col("v").cast("decimal(38,0)")).as("rev"))
      .select(col("r"), col("b"), row_number().over(
        Window.partitionBy(col("r")).orderBy(col("rev").desc, col("b")))
        .as("rnk"))

  /** Ballot-pair frame (ra, rb, b, k1, k2): each brand's rank under
    * each ordered region pair. */
  private def prBase(rk: DataFrame): DataFrame =
    rk.join(rk.select(col("r").as("r2"), col("b").as("b2"),
        col("rnk").as("k2")),
      col("b") === col("b2") && col("r2") > col("r"))
      .select(col("r").as("ra"), col("r2").as("rb"), col("b"),
        col("rnk").as("k1"), col("k2"))

  /** Copeland tournament: per brand the number of rivals beaten in a
    * strict majority of regional ballots, plus total pairwise wins. */
  def q826: Q = Q(
    "q826_copeland_tournament",
    Some(s"""
      |WITH ${sqlRk},
      |pw AS (
      |  SELECT a.b AS ba, c2.b AS bb,
      |         sum(CASE WHEN a.rnk < c2.rnk THEN 1 ELSE 0 END) AS wins,
      |         count(*) AS nv
      |  FROM rk a JOIN rk c2 ON c2.r = a.r AND c2.b != a.b
      |  GROUP BY 1, 2)
      |SELECT ba AS brand,
      |       CAST(sum(CASE WHEN 2 * wins > nv THEN 1 ELSE 0 END)
      |            AS BIGINT) AS copeland_score,
      |       CAST(sum(wins) AS BIGINT) AS total_wins
      |FROM pw GROUP BY 1 ORDER BY brand
      |""".stripMargin)) { (s, dir) =>
    val rk = rkBase(s, dir).materialize()
    val pw = rk.join(
      rk.select(col("r").as("r2"), col("b").as("bb"), col("rnk").as("rnk2")),
      col("r") === col("r2") && col("bb") =!= col("b"))
      .groupBy(col("b").as("ba"), col("bb"))
      .agg(sum(when(col("rnk") < col("rnk2"), 1).otherwise(0)).as("wins"),
        count(lit(1)).as("nv"))
    pw.groupBy(col("ba").as("brand"))
      .agg(sum(when(col("wins") * 2 > col("nv"), 1).otherwise(0))
        .as("cs"), sum(col("wins")).as("tw"))
      .select(col("brand"), col("cs").cast("long").as("copeland_score"),
        col("tw").cast("long").as("total_wins"))
      .orderBy(col("brand"))
  }

  /** Kendall-tau distance matrix between regional ballots: discordant
    * brand pairs per region pair, with tau-a in milli. */
  def q827: Q = Q(
    "q827_kendall_ballot_matrix",
    Some(s"""
      |WITH ${sqlRk},
      |pr AS (SELECT a.r AS ra, b2.r AS rb, a.b, a.rnk AS k1,
      |              b2.rnk AS k2
      |       FROM rk a JOIN rk b2 ON b2.b = a.b AND b2.r > a.r),
      |dm AS (
      |  SELECT x.ra, x.rb,
      |         sum(CASE WHEN (x.k1 - y.k1) * (x.k2 - y.k2) < 0
      |                  THEN 1 ELSE 0 END) AS disc,
      |         count(*) AS np
      |  FROM pr x JOIN pr y ON y.ra = x.ra AND y.rb = x.rb
      |       AND y.b > x.b
      |  GROUP BY 1, 2)
      |SELECT CAST(ra AS BIGINT) AS ra, CAST(rb AS BIGINT) AS rb,
      |       CAST(disc AS BIGINT) AS discordant,
      |       CAST(1000 - (2000 * disc) // np AS BIGINT) AS tau_milli
      |FROM dm ORDER BY ra, rb
      |""".stripMargin)) { (s, dir) =>
    val pr = prBase(rkBase(s, dir)).materialize()
    val y = pr.select(col("ra").as("ra2"), col("rb").as("rb2"),
      col("b").as("b2"), col("k1").as("k1b"), col("k2").as("k2b"))
    pr.join(y, col("ra") === col("ra2") && col("rb") === col("rb2")
        && col("b2") > col("b"))
      .groupBy(col("ra"), col("rb"))
      .agg(sum(when((col("k1") - col("k1b")) * (col("k2") - col("k2b")) < 0,
        1).otherwise(0)).as("disc"), count(lit(1)).as("np"))
      .select(col("ra").cast("long").as("ra"),
        col("rb").cast("long").as("rb"),
        col("disc").cast("long").as("discordant"),
        expr("CAST(1000 - (2000 * disc) div np AS BIGINT)")
          .as("tau_milli"))
      .orderBy(col("ra"), col("rb"))
  }

  /** Spearman footrule distance matrix: Σ|rank difference| per region
    * pair, with the max-displacement normalization (m²−1)/2 → milli. */
  def q828: Q = Q(
    "q828_footrule_matrix",
    Some(s"""
      |WITH ${sqlRk},
      |pr AS (SELECT a.r AS ra, b2.r AS rb, abs(a.rnk - b2.rnk) AS d,
      |              count(*) OVER (PARTITION BY a.r, b2.r) AS m
      |       FROM rk a JOIN rk b2 ON b2.b = a.b AND b2.r > a.r)
      |SELECT CAST(ra AS BIGINT) AS ra, CAST(rb AS BIGINT) AS rb,
      |       CAST(sum(d) AS BIGINT) AS footrule,
      |       CAST((2000 * sum(d)) // (max(m) * max(m) - 1) AS BIGINT)
      |         AS norm_milli
      |FROM pr GROUP BY ra, rb ORDER BY ra, rb
      |""".stripMargin)) { (s, dir) =>
    prBase(rkBase(s, dir))
      .groupBy(col("ra"), col("rb"))
      .agg(sum(abs(col("k1") - col("k2"))).as("fr"),
        count(lit(1)).as("m"))
      .select(col("ra").cast("long").as("ra"),
        col("rb").cast("long").as("rb"),
        col("fr").cast("long").as("footrule"),
        expr("CAST((2000 * fr) div (m * m - 1) AS BIGINT)")
          .as("norm_milli"))
      .orderBy(col("ra"), col("rb"))
  }

  /** Borda aggregate ranking: score = Σ_regions (m − rank), full
    * 25-brand consensus order. */
  def q829: Q = Q(
    "q829_borda_aggregate",
    Some(s"""
      |WITH ${sqlRk},
      |m AS (SELECT count(DISTINCT b) AS m FROM rk),
      |bs AS (SELECT b, sum(m.m - rnk) AS score
      |       FROM rk CROSS JOIN m GROUP BY 1)
      |SELECT b AS brand, CAST(score AS BIGINT) AS borda_score,
      |       CAST(row_number() OVER (ORDER BY score DESC, b) AS BIGINT)
      |         AS consensus_rank
      |FROM bs ORDER BY consensus_rank
      |""".stripMargin)) { (s, dir) =>
    val rk = rkBase(s, dir).materialize()
    val m = rk.agg(countDistinct(col("b")).as("m"))
    rk.crossJoin(broadcast(m))
      .groupBy(col("b").as("brand"))
      .agg(sum(col("m") - col("rnk")).as("score"))
      .select(col("brand"), col("score").cast("long").as("borda_score"),
        row_number().over(Window.orderBy(col("score").desc, col("brand")))
          .cast("long").as("consensus_rank"))
      .orderBy(col("consensus_rank"))
  }

  /** Winner agreement: the plurality (most first-place ballots,
    * brand-asc tie-break), Borda, and Copeland winners side by side. */
  def q830: Q = Q(
    "q830_winner_agreement",
    Some(s"""
      |WITH ${sqlRk},
      |m AS (SELECT count(DISTINCT b) AS m FROM rk),
      |plu AS (SELECT b FROM rk WHERE rnk = 1
      |        GROUP BY 1 ORDER BY count(*) DESC, b LIMIT 1),
      |bor AS (SELECT b FROM (
      |        SELECT b, sum(m.m - rnk) AS score FROM rk CROSS JOIN m
      |        GROUP BY 1) ORDER BY score DESC, b LIMIT 1),
      |pw AS (
      |  SELECT a.b AS ba, c2.b AS bb,
      |         sum(CASE WHEN a.rnk < c2.rnk THEN 1 ELSE 0 END) AS w,
      |         count(*) AS nv
      |  FROM rk a JOIN rk c2 ON c2.r = a.r AND c2.b != a.b
      |  GROUP BY a.b, c2.b),
      |cop AS (SELECT ba AS b FROM pw
      |        GROUP BY 1 ORDER BY sum(CASE WHEN 2 * w > nv THEN 1
      |        ELSE 0 END) DESC, ba LIMIT 1)
      |SELECT plu.b AS plurality_winner, bor.b AS borda_winner,
      |       cop.b AS copeland_winner,
      |       CAST(CASE WHEN plu.b = bor.b AND bor.b = cop.b THEN 1
      |            ELSE 0 END AS BIGINT) AS all_agree
      |FROM plu CROSS JOIN bor CROSS JOIN cop
      |""".stripMargin)) { (s, dir) =>
    val rk = rkBase(s, dir).materialize()
    val m = rk.agg(countDistinct(col("b")).as("m"))
    val plu = rk.where(col("rnk") === 1)
      .groupBy(col("b")).agg(count(lit(1)).as("v"))
      .orderBy(col("v").desc, col("b")).limit(1)
      .select(col("b").as("plurality_winner"))
    val bor = rk.crossJoin(broadcast(m))
      .groupBy(col("b")).agg(sum(col("m") - col("rnk")).as("score"))
      .orderBy(col("score").desc, col("b")).limit(1)
      .select(col("b").as("borda_winner"))
    val cop = rk.join(
      rk.select(col("r").as("r2"), col("b").as("bb"), col("rnk").as("rnk2")),
      col("r") === col("r2") && col("bb") =!= col("b"))
      .groupBy(col("b"), col("bb"))
      .agg(sum(when(col("rnk") < col("rnk2"), 1).otherwise(0)).as("w"),
        count(lit(1)).as("nv"))
      .groupBy(col("b"))
      .agg(sum(when(col("w") * 2 > col("nv"), 1).otherwise(0)).as("cs"))
      .orderBy(col("cs").desc, col("b")).limit(1)
      .select(col("b").as("copeland_winner"))
    plu.crossJoin(broadcast(bor)).crossJoin(broadcast(cop))
      .select(col("plurality_winner"), col("borda_winner"),
        col("copeland_winner"),
        when(col("plurality_winner") === col("borda_winner")
          && col("borda_winner") === col("copeland_winner"), 1L)
          .otherwise(0L).as("all_agree"))
  }
}
