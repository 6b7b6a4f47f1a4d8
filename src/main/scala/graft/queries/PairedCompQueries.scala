package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate

/** Round-9 paired-comparison wave on the region×brand revenue
  * tournament (the q826 ballots): Bradley-Terry strengths via FIVE
  * unrolled MM iterations in exact scaled-integer arithmetic
  * (identical per-step floors in both engines), BT-vs-Copeland rank
  * agreement, Luce choice probabilities among the top three, implied
  * Elo-scale ratings, and the Kendall cyclic-triad transitivity
  * audit.
  *
  * Scale: the tournament is the 25-brand / 600-ordered-pair dim built
  * by one fact pass; each MM iteration is a dim×dim join. Win counts
  * are add-one smoothed (W+1 over the hypothetical extra round) so a
  * winless competitor keeps a positive strength. The iteration count
  * is FIXED (5), so the oracle unrolls plain CTE stages — no
  * aggregation-in-recursion. */
object PairedCompQueries {

  val all: Seq[Q] = Seq(q876, q877, q878, q879, q880)

  /** Oracle ballots + both-direction pair wins (5 voters per pair). */
  private def sqlPw: String = s"""
    |rb AS MATERIALIZED (
    |${RankAggQueries.sqlRegionBrandRev}),
    |rk AS MATERIALIZED (SELECT r, b, row_number() OVER (PARTITION BY r
    |         ORDER BY rev DESC, b) AS rnk FROM rb),
    |pw AS MATERIALIZED (
    |  SELECT a.b AS ba, c2.b AS bb,
    |         sum(CASE WHEN a.rnk < c2.rnk THEN 1 ELSE 0 END) AS wins,
    |         count(*) AS nv
    |  FROM rk a JOIN rk c2 ON c2.r = a.r AND c2.b != a.b
    |  GROUP BY 1, 2),
    |wn AS MATERIALIZED (SELECT ba AS b, sum(wins) + 1 AS w1 FROM pw GROUP BY 1),
    |it0 AS MATERIALIZED (SELECT b, CAST(1000000 AS HUGEINT) AS p FROM wn)"""
    .stripMargin

  /** One oracle MM stage: d → raw → normalized. */
  private def sqlIter(k: Int): String = {
    val prev = if (k == 0) "it0" else s"it$k"
    val next = s"it${k + 1}"
    s"""
      |d$k AS MATERIALIZED (
      |  SELECT pw.ba AS b,
      |         sum((CAST(pw.nv AS HUGEINT) * 1000000000000)
      |             // (pa.p + pb.p)) AS d
      |  FROM pw JOIN $prev pa ON pa.b = pw.ba
      |       JOIN $prev pb ON pb.b = pw.bb
      |  GROUP BY 1),
      |pr$k AS MATERIALIZED (
      |  SELECT wn.b, (CAST(wn.w1 AS HUGEINT) * 1000000000000) // d$k.d
      |           AS praw
      |  FROM wn JOIN d$k ON d$k.b = wn.b),
      |s$k AS MATERIALIZED (SELECT sum(praw) AS s, count(*) AS nb FROM pr$k),
      |$next AS MATERIALIZED (SELECT b, (praw * nb * 1000000) // s AS p
      |          FROM pr$k CROSS JOIN s$k)""".stripMargin
  }

  private def sqlBt: String =
    sqlPw + (0 until 5).map(sqlIter).mkString(",", ",", "")

  /** q876–q880 all consume the same 600-ordered-pair tournament dim,
    * and four of them the same 5-iteration MM fixpoint — previously
    * rebuilt per query (4× btBase + 2× pwBase ≈ 14.7 s of the sf0.1
    * bench). Both are tiny exact-integer dims, so they are SpineCache
    * tables now: built once per process/pass, read by every consumer
    * (longs/decimal(38,0) round-trip parquet exactly; oracle re-proven
    * unchanged). */
  private val spineSrc =
    Seq("lineitem", "orders", "customer", "nation", "part")

  private def pwSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "bt_pw", spineSrc)(
      pwBase(s, dir))

  private def btSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "bt_it5", spineSrc)(
      btBase(s, dir))

  /** Spark ballots → both-direction pair wins dim. */
  private def pwBase(s: SparkSession, dir: String): DataFrame = {
    val rk = RankAggQueries.rkBase(s, dir)
    rk.join(rk.select(col("r").as("r2"), col("b").as("bb"),
        col("rnk").as("rnk2")),
      col("r") === col("r2") && col("bb") =!= col("b"))
      .groupBy(col("b").as("ba"), col("bb"))
      .agg(sum(when(col("rnk") < col("rnk2"), 1).otherwise(0)).as("wins"),
        count(lit(1)).as("nv"))
  }

  /** Spark BT strengths after 5 MM iterations (b, p micro, w1, wins).
    * Size-gated like the SupplierGraph fixpoints: under the bound the
    * 5-round trajectory folds inside ONE task, where floor division is
    * identical to the dataframe loop's decimal(38,0) `x - x % y) / y`
    * chain, and the output re-casts to the same decimal type; above
    * it the per-round loop runs as before. */
  private def btBase(s: SparkSession, dir: String): DataFrame =
    btFrom(pwSpine(s, dir))

  /** [[btBase]] over a given pair-wins dim pw(ba, bb, wins, nv): at
    * most [[SizeGate.EdgeRows]] pairs whose magnitudes fit the Long
    * fold run in one task, anything else runs the dataframe loop.
    * The magnitude bound (one aggregate, taken only when the row
    * bound passes): Σ|nv| ≤ L and 1 + Σ|wins| ≤ L with
    * L = Long.MaxValue / 10¹², so every nv·10¹², every per-brand
    * denominator Σ nv·10¹² div (pa + pb) and every w·10¹² (hence
    * praw ≤ w·10¹²) fits a Long; the renormalization praw·nb·10⁶ div
    * Σpraw outgrows Long on its own and runs in BigInt. */
  private[graft] def btFrom(pw: DataFrame): DataFrame = {
    val s = pw.sparkSession
    val lim = Long.MaxValue / 1000000000000L
    def fitsLong: Boolean = {
      val m = pw.agg(coalesce(sum(abs(col("nv").cast("long"))), lit(0L)),
          coalesce(sum(abs(col("wins").cast("long"))), lit(0L)))
        .head()
      m.getLong(0) <= lim && m.getLong(1) < lim
    }
    if (SizeGate.local(pw, SizeGate.EdgeRows) && fitsLong) {
      import s.implicits._
      pw.select(col("ba"), col("bb"), col("wins").cast("long"),
          col("nv").cast("long"))
        .as[(String, String, Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val pairs = it.toArray
          val w0 = scala.collection.mutable.HashMap.empty[String, Long]
          pairs.foreach { case (ba, _, wins, _) =>
            w0.update(ba, w0.getOrElse(ba, 0L) + wins)
          }
          val w1 = w0.map { case (b, w) => (b, w + 1L) }
          var p: Map[String, Long] =
            w1.map { case (b, _) => b -> 1000000L }.toMap
          for (_ <- 0 until 5) {
            val den = scala.collection.mutable.HashMap.empty[String, Long]
            pairs.foreach { case (ba, bb, _, nv) =>
              for (pa <- p.get(ba); pb <- p.get(bb))
                den.update(ba,
                  den.getOrElse(ba, 0L) + (nv * 1000000000000L) / (pa + pb))
            }
            val praw = w1.iterator.flatMap { case (b, w) =>
              den.get(b).map(d => b -> (w * 1000000000000L) / d)
            }.toMap
            val sSum = praw.valuesIterator.map(BigInt(_)).sum
            val nb = praw.size.toLong
            p = praw.map { case (b, pr) =>
              b -> (BigInt(pr) * nb * 1000000L / sSum).toLong
            }
          }
          p.iterator.map { case (b, pv) => (b, pv, w1(b), w0(b)) }
        }
        .toDF("b", "p", "w1", "w0")
        .select(col("b"), col("p").cast("decimal(38,0)").as("p"),
          col("w1"), col("w0"))
    } else btBaseDistributed(pw)
  }

  private def btBaseDistributed(pw: DataFrame): DataFrame = {
    val wn = pw.groupBy(col("ba").as("b"))
      .agg((sum(col("wins")) + 1).as("w1"), sum(col("wins")).as("w0"))
      .materialize()
    var it = wn.select(col("b"),
      lit(1000000L).cast("decimal(38,0)").as("p"))
    for (_ <- 0 until 5) {
      val pa = it.select(col("b").as("ba"), col("p").as("p_a"))
      val pb = it.select(col("b").as("bb"), col("p").as("p_b"))
      val d = pw.join(pa, Seq("ba")).join(pb, Seq("bb"))
        .groupBy(col("ba").as("b"))
        .agg(sum(expr("CAST((CAST(nv AS DECIMAL(38,0)) * 1000000000000" +
          " - (CAST(nv AS DECIMAL(38,0)) * 1000000000000) % (p_a + p_b))" +
          " / (p_a + p_b) AS DECIMAL(38,0))")).as("d"))
      val pr = wn.join(d, Seq("b"))
        .select(col("b"),
          expr("CAST((CAST(w1 AS DECIMAL(38,0)) * 1000000000000" +
            " - (CAST(w1 AS DECIMAL(38,0)) * 1000000000000) % d) / d" +
            " AS DECIMAL(38,0))").as("praw"))
      val sN = pr.agg(sum(col("praw")).as("s"), count(lit(1)).as("nb"))
      it = pr.crossJoin(broadcast(sN))
        .select(col("b"),
          expr("CAST((praw * nb * 1000000" +
            " - (praw * nb * 1000000) % s) / s AS DECIMAL(38,0))")
            .as("p"))
        .materialize()
    }
    it.join(wn, Seq("b"))
  }

  /** Bradley-Terry MM strengths (micro, sum-normalized to n·10⁶). */
  def q876: Q = Q(
    "q876_bradley_terry",
    Some(s"""
      |WITH ${sqlBt}
      |SELECT b AS brand, CAST(p AS BIGINT) AS bt_strength_micro
      |FROM it5 ORDER BY brand
      |""".stripMargin)) { (s, dir) =>
    btSpine(s, dir)
      .select(col("b").as("brand"),
        col("p").cast("long").as("bt_strength_micro"))
      .orderBy(col("brand"))
  }

  /** Spearman agreement between the BT-strength ranking and the
    * Copeland majority ranking — exact 1 − 6Σd²/(n(n²−1)). */
  def q877: Q = Q(
    "q877_bt_copeland_agreement",
    Some(s"""
      |WITH ${sqlBt},
      |cop AS (SELECT ba AS b,
      |               sum(CASE WHEN 2 * wins > nv THEN 1 ELSE 0 END)
      |                 AS cs
      |        FROM pw GROUP BY 1),
      |r1 AS (SELECT b, row_number() OVER (ORDER BY p DESC, b) AS ra
      |       FROM it5),
      |r2 AS (SELECT b, row_number() OVER (ORDER BY cs DESC, b) AS rb
      |       FROM cop),
      |dd AS (SELECT count(*) AS n,
      |              sum(CAST(r1.ra - r2.rb AS HUGEINT)
      |                  * (r1.ra - r2.rb)) AS sd2
      |       FROM r1 JOIN r2 ON r2.b = r1.b)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |       CAST(1000 - (6000 * sd2) // (n * (n * n - 1)) AS BIGINT)
      |         AS spearman_milli
      |FROM dd
      |""".stripMargin)) { (s, dir) =>
    val bt = btSpine(s, dir)
    val pw = pwSpine(s, dir)
    val cop = pw.groupBy(col("ba").as("b"))
      .agg(sum(when(col("wins") * 2 > col("nv"), 1).otherwise(0)).as("cs"))
    val r1 = bt.select(col("b"),
      row_number().over(Window.orderBy(col("p").desc, col("b"))).as("ra"))
    val r2 = cop.select(col("b").as("b2"),
      row_number().over(Window.orderBy(col("cs").desc, col("b"))).as("rb"))
    r1.join(r2, col("b") === col("b2"))
      .agg(count(lit(1)).as("n"),
        sum(((col("ra") - col("rb")) * (col("ra") - col("rb")))
          .cast("decimal(38,0)")).as("sd2"))
      .select(col("n").cast("long").as("n_brands"),
        expr("CAST(1000 - (6000 * sd2) div (n * (n * n - 1)) AS BIGINT)")
          .as("spearman_milli"))
  }

  /** Luce choice probabilities among the top-3 BT brands. */
  def q878: Q = Q(
    "q878_luce_top3",
    Some(s"""
      |WITH ${sqlBt},
      |top3 AS (SELECT b, p, row_number() OVER (ORDER BY p DESC, b)
      |           AS r FROM it5 QUALIFY r <= 3)
      |SELECT a.b AS brand_a, c.b AS brand_b,
      |       CAST((1000 * a.p) // (a.p + c.p) AS BIGINT)
      |         AS p_a_beats_b_milli
      |FROM top3 a JOIN top3 c ON c.r > a.r
      |ORDER BY brand_a, brand_b
      |""".stripMargin)) { (s, dir) =>
    val top3 = btSpine(s, dir)
      .select(col("b"), col("p"),
        row_number().over(Window.orderBy(col("p").desc, col("b"))).as("r"))
      .where(col("r") <= 3).materialize()
    top3.join(top3.select(col("b").as("b2"), col("p").as("p2"),
        col("r").as("r2")), col("r2") > col("r"))
      .select(col("b").as("brand_a"), col("b2").as("brand_b"),
        expr("CAST((1000 * p) div (p + p2) AS BIGINT)")
          .as("p_a_beats_b_milli"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** Implied Elo-scale ratings: 400/ln10 · ln(p/10⁶) around the
    * normalized mean. */
  def q879: Q = Q(
    "q879_implied_elo",
    Some(s"""
      |WITH ${sqlBt}
      |SELECT b AS brand,
      |       CAST(floor(400.0 / ln(10.0)
      |            * ln(CAST(p AS DOUBLE) / 1000000.0)) AS BIGINT)
      |         AS implied_elo_delta
      |FROM it5 ORDER BY brand
      |""".stripMargin)) { (s, dir) =>
    btSpine(s, dir)
      .select(col("b").as("brand"),
        expr("""CAST(floor(400.0 / ln(10.0)
          |  * ln(CAST(p AS DOUBLE) / 1000000.0)) AS BIGINT)"""
          .stripMargin).as("implied_elo_delta"))
      .orderBy(col("brand"))
  }

  /** Kendall transitivity audit: cyclic triads = C(n,3) − ΣC(dᵢ,2)
    * over majority out-degrees (5 voters ⇒ no ties). */
  def q880: Q = Q(
    "q880_cyclic_triads",
    Some(s"""
      |WITH ${sqlPw},
      |dg AS (SELECT ba AS b,
      |              sum(CASE WHEN 2 * wins > nv THEN 1 ELSE 0 END)
      |                AS d
      |       FROM pw GROUP BY 1),
      |ag AS (SELECT count(*) AS n, sum(d * (d - 1) // 2) AS sc2
      |       FROM dg)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |       CAST(n * (n - 1) * (n - 2) // 6 - sc2 AS BIGINT)
      |         AS cyclic_triads,
      |       CAST(n * (n - 1) * (n - 2) // 6 AS BIGINT) AS total_triads
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    pwSpine(s, dir)
      .groupBy(col("ba").as("b"))
      .agg(sum(when(col("wins") * 2 > col("nv"), 1).otherwise(0)).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(expr("d * (d - 1) div 2")).as("sc2"))
      .select(col("n").cast("long").as("n_brands"),
        expr("CAST(n * (n - 1) * (n - 2) div 6 - sc2 AS BIGINT)")
          .as("cyclic_triads"),
        expr("CAST(n * (n - 1) * (n - 2) div 6 AS BIGINT)")
          .as("total_triads"))
  }
}
