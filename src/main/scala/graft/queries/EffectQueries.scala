package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 effect-size wave: Tukey HSD post-hoc pairs, the
  * Mann–Kendall trend test, Lin's concordance correlation, Cohen's
  * d / Hedges' g, and absorbing-Markov-chain expected steps to
  * conversion. Same float discipline as the whole registry: exact
  * integer moments, group means permille-quantized where squared
  * deviations are needed, pinned-order double expressions only at the
  * end, and the Markov iteration a fixed-count fold of IEEE +,×
  * (bit-identical in `aggregate` and `list_reduce`). */
object EffectQueries {

  val all: Seq[Q] = Seq(q486, q487, q488, q489, q490)

  /** Tukey-HSD-style post-hoc screen after the price-by-brand ANOVA:
    * the ten largest pairwise studentized differences
    * q = |m_i − m_j| / √(MSE·(1/n_i + 1/n_j)/2), with MSE from
    * permille-quantized group means (q471's convention). The table a
    * reviewer reads to see WHICH brands differ once the omnibus F
    * fires. Brand dim bounded ⇒ the pair pass is 25². */
  def q486: Q = {
    val qstat = "abs(CAST(mi - mj AS DOUBLE)) / sqrt(" +
      "CAST(s2 AS DOUBLE) * (1.0 / CAST(ni AS DOUBLE)" +
      " + 1.0 / CAST(nj AS DOUBLE)) / 2.0)"
    Q("q486_tukey_hsd_pairs",
      Some(s"""
        |WITH x AS (
        |  SELECT p_brand AS g,
        |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM part),
        |gs AS (SELECT g, count(*) AS ng, sum(c) AS sg,
        |              sum(CAST(c AS HUGEINT) * c) AS qg,
        |              (1000 * sum(c)) // count(*) AS mg
        |       FROM x GROUP BY 1),
        |tot AS (SELECT count(*) AS k, sum(ng) AS n FROM gs),
        |mse AS (
        |  SELECT sum(1000000 * qg - 2000 * CAST(mg AS HUGEINT) * sg
        |             + CAST(ng AS HUGEINT) * mg * mg)
        |           / (max(tot.n) - max(tot.k)) AS s2
        |  FROM gs CROSS JOIN tot),
        |pr AS (
        |  SELECT a.g AS brand_a, b.g AS brand_b, a.mg AS mi, b.mg AS mj,
        |         a.ng AS ni, b.ng AS nj, mse.s2
        |  FROM gs a JOIN gs b ON a.g < b.g CROSS JOIN mse)
        |SELECT brand_a, brand_b,
        |       CAST(mi - mj AS BIGINT) AS mean_diff_milli,
        |       CAST(floor(CAST($qstat AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS q_milli
        |FROM pr ORDER BY q_milli DESC, brand_a, brand_b LIMIT 10
        |""".stripMargin)) { (s, dir) =>
      val x = Tables.part(s, dir)
        .select(col("p_brand").as("g"),
          expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("c"))
      val gs = x.groupBy(col("g"))
        .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("qg"),
          expr("(1000 * sum(c)) div count(1)").as("mg"))
        .materialize() // brand dim
      val tot = gs.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"))
      val mse = gs.crossJoin(broadcast(tot))
        .agg((sum(expr("1000000 * qg - 2000 * CAST(mg AS DECIMAL(38,0))" +
          " * sg + CAST(ng AS DECIMAL(38,0)) * mg * mg"))
          / (max(col("n")) - max(col("k")))).as("s2"))
      val b = gs.select(col("g").as("bg"), col("mg").as("mj"),
        col("ng").as("nj"))
      gs.join(broadcast(b), col("g") < col("bg"))
        .crossJoin(broadcast(mse))
        .select(col("g").as("brand_a"), col("bg").as("brand_b"),
          col("mg").as("mi"), col("mj"), col("ng").as("ni"), col("nj"),
          col("s2"))
        .select(col("brand_a"), col("brand_b"),
          (col("mi") - col("mj")).cast("long").as("mean_diff_milli"),
          expr(s"CAST(floor(CAST($qstat AS DECIMAL(28,6)) * 1000)" +
            " AS BIGINT)").as("q_milli"))
        .orderBy(col("q_milli").desc, col("brand_a"), col("brand_b"))
        .limit(10)
    }
  }

  /** Mann–Kendall trend test on monthly revenue: S = Σ sign(x_j − x_i)
    * over ordered month pairs, Var(S) = n(n−1)(2n+5)/18 (no-ties
    * contract — revenue sums collide with probability ~0, and a tie
    * just contributes 0 to S identically in both engines), Z with the
    * ±1 continuity correction. The nonparametric mate to the shipped
    * Theil–Sen slope (q327). Month dim ⇒ dim² pairs. */
  def q487: Q = Q(
    "q487_mann_kendall_monthly",
    Some("""
      |WITH m AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mo,
      |         CAST(sum(CAST(o_totalprice * 100 AS HUGEINT)) // 100
      |              AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |pc AS (
      |  SELECT count(*) AS np,
      |         sum(CASE WHEN b.x > a.x THEN 1
      |                  WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
      |  FROM m a JOIN m b ON a.mo < b.mo),
      |n AS (SELECT count(*) AS n FROM m),
      |z AS (
      |  SELECT n.n, pc.s,
      |         CAST(n.n AS HUGEINT) * (n.n - 1) * (2 * n.n + 5) AS v
      |  FROM pc CROSS JOIN n)
      |SELECT CAST(n AS BIGINT) AS n_months, CAST(s AS BIGINT) AS s_stat,
      |       CASE WHEN s > 0 THEN 'rising' WHEN s < 0 THEN 'falling'
      |            ELSE 'flat' END AS trend,
      |       CAST(floor(CAST(
      |           CAST(s - (CASE WHEN s > 0 THEN 1
      |                    WHEN s < 0 THEN -1 ELSE 0 END) AS DOUBLE)
      |             * sqrt(18.0) / sqrt(CAST(v AS DOUBLE))
      |         AS DECIMAL(28,6)) * 1000) AS BIGINT) AS z_milli
      |FROM z
      |""".stripMargin)) { (s, dir) =>
    val m = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mo"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0)))" +
        " div 100 AS BIGINT)").as("x"))
      .materialize() // month dim
    val b = m.select(col("mo").as("bmo"), col("x").as("bx"))
    val pc = m.join(broadcast(b), col("mo") < col("bmo"))
      .agg(count(lit(1)).as("np"),
        sum(when(col("bx") > col("x"), 1L)
          .when(col("bx") < col("x"), -1L).otherwise(0L)).as("s"))
    val n = m.agg(count(lit(1)).as("n"))
    pc.crossJoin(broadcast(n))
      .select(col("n").as("n_months"), col("s").as("s_stat"),
        when(col("s") > 0, "rising").when(col("s") < 0, "falling")
          .otherwise("flat").as("trend"),
        expr("""CAST(floor(CAST(
            CAST(s - (CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1
                      ELSE 0 END) AS DOUBLE)
              * sqrt(18.0) / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1)
                     * (2 * n + 5) AS DOUBLE))
          AS DECIMAL(28,6)) * 1000) AS BIGINT)""").as("z_milli"))
  }

  /** Lin's concordance correlation between each order's header total
    * and the sum of its line prices — the AGREEMENT statistic (not
    * just correlation: penalizes scale and location shift), the right
    * tool for a reconciliation audit. n²-scaled closed form keeps
    * everything exact DECIMAL until one pinned division; Pearson r
    * reported alongside to show the precision-vs-accuracy split. */
  def q488: Q = Q(
    "q488_lin_ccc_reconciliation",
    Some("""
      |WITH v AS (
      |  SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
      |              AS BIGINT) AS y
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY o.o_orderkey, o.o_totalprice),
      |mo AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx,
      |         sum(CAST(y AS HUGEINT) * y) AS syy,
      |         sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM v),
      |fr AS (
      |  SELECT n,
      |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS kxy,
      |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy,
      |         CAST(sx - sy AS HUGEINT) * (sx - sy) AS dm
      |  FROM mo)
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |       CAST(floor(CAST(
      |           CAST(kxy AS DOUBLE)
      |             / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      |         AS DECIMAL(28,9)) * 1000000) AS BIGINT) AS pearson_micro,
      |       CAST(floor(CAST(
      |           2.0 * CAST(kxy AS DOUBLE)
      |             / (CAST(dx AS DOUBLE) + CAST(dy AS DOUBLE)
      |                + CAST(dm AS DOUBLE))
      |         AS DECIMAL(28,9)) * 1000000) AS BIGINT) AS ccc_micro
      |FROM fr
      |""".stripMargin)) { (s, dir) =>
    val v = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(expr("CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("y"))
      .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        .as("x"), col("y"))
    val mo = v.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
    mo.select(col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0))" +
          " * sy").as("kxy"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0))" +
          " * sx").as("dx"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0))" +
          " * sy").as("dy"),
        expr("CAST(sx - sy AS DECIMAL(38,0)) * (sx - sy)").as("dm"))
      .select(col("n").as("n_orders"),
        expr("""CAST(floor(CAST(
            CAST(kxy AS DOUBLE)
              / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
          AS DECIMAL(28,9)) * 1000000) AS BIGINT)""").as("pearson_micro"),
        expr("""CAST(floor(CAST(
            2.0 * CAST(kxy AS DOUBLE)
              / (CAST(dx AS DOUBLE) + CAST(dy AS DOUBLE)
                 + CAST(dm AS DOUBLE))
          AS DECIMAL(28,9)) * 1000000) AS BIGINT)""").as("ccc_micro"))
  }

  /** Oracle CTE `ord(grp, t)`: per order, grp 1 for '1-URGENT' and 2
    * otherwise, t = days from order date to its last ship date,
    * inclusive (orders whose lines all ship earlier are dropped). */
  private[queries] def sqlUrgencyTimes: String =
    """ord AS (
      |  SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 2
      |         END AS grp,
      |         max(epoch_us(l.l_shipdate) // 86400000000)
      |           - epoch_us(o.o_orderdate) // 86400000000 + 1 AS t
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
      |  HAVING max(epoch_us(l.l_shipdate) // 86400000000)
      |         >= epoch_us(o.o_orderdate) // 86400000000)""".stripMargin

  /** Spark side of [[sqlUrgencyTimes]]: (grp, t), uncached. */
  private[queries] def urgencyTimes(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("id"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(2L)
          .as("grp"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("a"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 86400000000").as("sd")),
        col("id") === col("l_orderkey"))
      .groupBy(col("id"), col("grp"), col("a"))
      .agg(max(col("sd")).as("done"))
      .where(col("done") >= col("a"))
      .select(col("grp"), (col("done") - col("a") + 1).as("t"))

  /** Oracle CTE `mo` over `src(grp, t)`: count, sum and sum of squares
    * of t per group, as (n1, s1, q1, n2, s2_, q2). */
  private[queries] def sqlGroupMoments(src: String): String =
    s"""mo AS (
      |  SELECT sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN grp = 1 THEN t ELSE 0 END) AS s1,
      |         sum(CASE WHEN grp = 1 THEN t * t ELSE 0 END) AS q1,
      |         sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS n2,
      |         sum(CASE WHEN grp = 2 THEN t ELSE 0 END) AS s2_,
      |         sum(CASE WHEN grp = 2 THEN t * t ELSE 0 END) AS q2
      |  FROM $src)""".stripMargin

  /** Spark side of [[sqlGroupMoments]]. */
  private[queries] def groupMoments(ord: DataFrame): DataFrame =
    ord.agg(
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("grp") === 1, col("t")).otherwise(0L)).as("s1"),
      sum(when(col("grp") === 1, col("t") * col("t")).otherwise(0L))
        .as("q1"),
      sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("grp") === 2, col("t")).otherwise(0L)).as("s2_"),
      sum(when(col("grp") === 2, col("t") * col("t")).otherwise(0L))
        .as("q2"))

  /** Cohen's d (and the small-sample Hedges' g correction) for urgent
    * vs non-urgent order fulfillment spans — the effect SIZE the
    * shipped log-rank (q444) and z-tests don't report. Pooled variance
    * from exact integer moments; one pinned double expression each. */
  def q489: Q = {
    val s2 = "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)" +
      " * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))" +
      " + (CAST(q2 AS DOUBLE) - CAST(s2_ AS DOUBLE)" +
      " * CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE)))" +
      " / CAST(n1 + n2 - 2 AS DOUBLE)"
    val d = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
      " - CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE))" +
      s" / sqrt($s2)"
    val g = s"($d) * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0))"
    Q("q489_cohens_d_urgency",
      Some(s"""
        |WITH ${sqlUrgencyTimes},
        |${sqlGroupMoments("ord")}
        |SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_other,
        |       CAST(floor(CAST(
        |           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |             - CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE)
        |         AS DECIMAL(28,6)) * 1000) AS BIGINT) AS mean_diff_milli,
        |       CAST(floor(CAST($d AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS cohens_d_milli,
        |       CAST(floor(CAST($g AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS hedges_g_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      val mo = groupMoments(urgencyTimes(s, dir))
      mo.select(col("n1").as("n_urgent"), col("n2").as("n_other"),
        expr("""CAST(floor(CAST(
            CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE)
          AS DECIMAL(28,6)) * 1000) AS BIGINT)""").as("mean_diff_milli"),
        expr(s"CAST(floor(CAST($d AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("cohens_d_milli"),
        expr(s"CAST(floor(CAST($g AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("hedges_g_milli"))
    }
  }

  private def transient = Seq("click", "error", "signup", "view")

  /** Expected events until purchase from each non-purchase state, via
    * the absorbing-chain fixed point v = 1 + Q·v iterated 60 times
    * (geometric convergence; the FIXED iteration count is the
    * determinism contract) — per-user event transitions feed the
    * 4×5 probability matrix, pivoted wide so the whole iteration is a
    * constant-size `aggregate`/`list_reduce` fold of IEEE +,×. The
    * "how far is each state from converting" number behind funnel
    * prioritization. */
  def q490: Q = {
    val k = transient.size
    def vStep(p: Int => String): Seq[String] =
      (0 until k).map { i =>
        s"1.0 + " + (0 until k).map(j =>
          s"${p(i * k + j)} * acc.v${j + 1}").mkString(" + ")
      }
    // Spark aggregate fold text
    val sparkStep = vStep(idx => s"p$idx")
    val duckStep = vStep(idx => s"p$idx")
    val pivotCols = (0 until k).flatMap { i =>
      (0 until k).map { j =>
        (i * k + j,
          s"CASE WHEN rf = ${i + 1} AND rt = ${j + 1} THEN 1 ELSE 0 END")
      }
    }
    val fromCase = "CASE pf " + transient.zipWithIndex.map {
      case (t, i) => s"WHEN '$t' THEN ${i + 1}" }.mkString(" ") +
      " ELSE 0 END"
    val toCase = "CASE pt " + transient.zipWithIndex.map {
      case (t, i) => s"WHEN '$t' THEN ${i + 1}" }.mkString(" ") +
      " ELSE 0 END"
    val cntCols = pivotCols.map { case (idx, cse) =>
      s"sum($cse) AS c$idx" }.mkString(", ")
    val rowSums = (0 until k).map(i =>
      s"sum(CASE WHEN rf = ${i + 1} THEN 1 ELSE 0 END) AS r${i + 1}")
      .mkString(", ")
    val pCols = pivotCols.map { case (idx, _) =>
      s"CAST(c$idx AS DOUBLE) / CAST(r${idx / k + 1} AS DOUBLE) AS p$idx"
    }.mkString(", ")
    val toPurch = (0 until k).map { i =>
      s"(1000 * (r${i + 1} - ${(0 until k).map(j => s"c${i * k + j}")
        .mkString(" - ")})) // r${i + 1} AS pp${i + 1}"
    }.mkString(", ")
    val duckFold =
      s"""list_reduce(
         |    list_prepend([{${(1 to k).map(i => s"'v$i': CAST(0.0 AS DOUBLE)")
           .mkString(", ")}}],
         |      list_transform(range(1, 61),
         |        q -> [{${(1 to k).map(i => s"'v$i': CAST(0.0 AS DOUBLE)")
           .mkString(", ")}}])),
         |    (accl, e) -> [{${(1 to k).map(i =>
             s"'v$i': ${duckStep(i - 1).replace("acc.", "accl[1].")}")
           .mkString(", ")}}])""".stripMargin
    val unionRows = transient.zipWithIndex.map { case (t, i) =>
      s"SELECT '$t' AS state, r${i + 1} AS n_out, " +
        s"CAST(pp${i + 1} AS BIGINT) AS p_purchase_milli, " +
        s"CAST(floor(CAST(st[1].v${i + 1} AS DECIMAL(28,6)) * 1000)" +
        s" AS BIGINT) AS exp_steps_milli FROM f"
    }.mkString(" UNION ALL ")
    Q("q490_absorbing_chain_steps",
      Some(s"""
        |WITH ev AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts), event_id) AS pf
        |  FROM events),
        |tr AS (
        |  SELECT $fromCase AS rf,
        |         (CASE event_type ${transient.zipWithIndex.map {
                   case (t, i) => s"WHEN '$t' THEN ${i + 1}" }
                   .mkString(" ")} ELSE 0 END) AS rt
        |  FROM (SELECT pf, event_type FROM ev WHERE pf IS NOT NULL
        |        AND pf != 'purchase') x(pf, event_type)),
        |cnt AS (SELECT $cntCols, $rowSums FROM tr),
        |pm AS (SELECT *, $pCols, $toPurch FROM cnt),
        |f AS (SELECT *, $duckFold AS st FROM pm)
        |SELECT state, CAST(n_out AS BIGINT) AS n_out, p_purchase_milli,
        |       exp_steps_milli
        |FROM ($unionRows) u ORDER BY state
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("pf", lag(col("event_type"), 1).over(w))
        .where(col("pf").isNotNull && col("pf") =!= "purchase")
      val rfCol = transient.zipWithIndex.foldLeft(lit(0)) {
        case (acc, (t, i)) =>
          when(col("pf") === t, i + 1).otherwise(acc)
      }
      val rtCol = transient.zipWithIndex.foldLeft(lit(0)) {
        case (acc, (t, i)) =>
          when(col("event_type") === t, i + 1).otherwise(acc)
      }
      val tr = ev.select(rfCol.as("rf"), rtCol.as("rt"))
      val cnt = tr.agg(
        expr(s"sum(${pivotCols.head._2})").as(s"c${pivotCols.head._1}"),
        pivotCols.tail.map { case (idx, cse) =>
          expr(s"sum($cse)").as(s"c$idx") } ++
          (0 until k).map(i =>
            expr(s"sum(CASE WHEN rf = ${i + 1} THEN 1 ELSE 0 END)")
              .as(s"r${i + 1}")): _*)
      val pm = cnt.select(col("*") +:
        (pivotCols.map { case (idx, _) =>
          expr(s"CAST(c$idx AS DOUBLE) / CAST(r${idx / k + 1} AS DOUBLE)")
            .as(s"p$idx") } ++
          (0 until k).map { i =>
            expr(s"(1000 * (r${i + 1} - ${(0 until k)
              .map(j => s"c${i * k + j}").mkString(" - ")})) div r${i + 1}")
              .as(s"pp${i + 1}")
          }): _*)
      val sparkFold =
        s"""aggregate(sequence(1, 60),
           |  named_struct(${(1 to k).map(i =>
             s"'v$i', CAST(0.0 AS DOUBLE)").mkString(", ")}),
           |  (acc, q) -> named_struct(${(1 to k).map(i =>
             s"'v$i', ${sparkStep(i - 1)}").mkString(", ")}))""".stripMargin
      val f = pm.withColumn("st", expr(sparkFold)).materialize()
      transient.zipWithIndex.map { case (t, i) =>
        f.select(lit(t).as("state"), col(s"r${i + 1}").as("n_out"),
          col(s"pp${i + 1}").cast("long").as("p_purchase_milli"),
          expr(s"CAST(floor(CAST(st.v${i + 1} AS DECIMAL(28,6)) * 1000)" +
            " AS BIGINT)").as("exp_steps_milli"))
      }.reduce(_ unionAll _).orderBy(col("state"))
    }
  }
}
