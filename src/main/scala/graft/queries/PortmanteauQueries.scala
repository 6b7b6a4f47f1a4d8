package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 portmanteau wave: zero-inflated Poisson moments, Kendall's
  * coefficient of concordance, Benford second-digit conformity (with
  * Scala-embedded Benford probabilities), upper-tail dependence
  * between the two biggest brands, and the Ljung–Box portmanteau test
  * (the TEST the shipped ACF/PACF diagnostics stop short of). */
object PortmanteauQueries {

  val all: Seq[Q] = Seq(q556, q557, q558, q559, q560)

  /** Zero-inflated Poisson method-of-moments fit of per-customer-
    * quarter order counts (1998, zeros materialized via the grid):
    * λ̂ = (v+m²−m)/m, π̂₀ = 1−m/λ̂, with the observed zero share vs the
    * plain-Poisson e^(−m) prediction — the "are the zeros structural"
    * screen behind q474's dispersion test. */
  def q556: Q = {
    val m = "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    val v = s"CAST(q AS DOUBLE) / CAST(n AS DOUBLE) - ($m) * ($m)"
    val lam = s"(($v) + ($m) * ($m) - ($m)) / ($m)"
    val pi0 = s"1.0 - ($m) / ($lam)"
    def qz(e: String, name: String) =
      s"CAST(floor(CAST($e AS DECIMAL(28,6)) * 1000) AS BIGINT) AS $name"
    Q("q556_zero_inflated_poisson",
      Some(s"""
        |WITH cq AS (
        |  SELECT o_custkey AS k, quarter(o_orderdate) AS qq,
        |         count(*) AS c
        |  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1, 2),
        |grid AS (
        |  SELECT c.c_custkey, q.qq, coalesce(cq.c, 0) AS c
        |  FROM customer c
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS qq) q
        |  LEFT JOIN cq ON cq.k = c.c_custkey AND cq.qq = q.qq),
        |mo AS (SELECT count(*) AS n, sum(c) AS sx, sum(c * c) AS q,
        |              sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS z
        |       FROM grid)
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |       ${qz(m, "mean_milli")},
        |       ${qz(v, "var_milli")},
        |       ${qz(lam, "zip_lambda_milli")},
        |       ${qz(pi0, "zip_pi0_milli")},
        |       CAST((1000 * z) // n AS BIGINT) AS obs_zero_milli,
        |       ${qz(s"exp(-($m))", "poisson_zero_milli")}
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val cq = Tables.orders(s, dir)
        .where(year(col("o_orderdate")) === 1998)
        .groupBy(col("o_custkey").as("k"),
          quarter(col("o_orderdate")).as("cqq"))
        .agg(count(lit(1)).as("c"))
      val grid = Tables.customer(s, dir).select(col("c_custkey"))
        .crossJoin(broadcast(Seq(1, 2, 3, 4).toDF("qq")))
        .join(cq, col("k") === col("c_custkey")
          && col("cqq") === col("qq"), "left")
        .select(coalesce(col("c"), lit(0L)).as("c"))
      val mo = grid.agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("q"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("z"))
      mo.select(col("n").as("n_obs"),
        expr(qz(m, "mean_milli")), expr(qz(v, "var_milli")),
        expr(qz(lam, "zip_lambda_milli")),
        expr(qz(pi0, "zip_pi0_milli")),
        expr("(1000 * z) div n").as("obs_zero_milli"),
        expr(qz(s"exp(-($m))", "poisson_zero_milli")))
    }
  }

  /** Kendall's W across the four 1998 quarters ranking brands by
    * revenue: W = 12ΣD²/(m²(n³−n)) on exact integer rank sums — do the
    * quarters agree on the brand leaderboard? (The m-judge
    * generalization of the pairwise rank correlations q302/q360/q478.)
    * Ranks run inside per-quarter windows over the brand dim. */
  def q557: Q = Q(
    "q557_kendall_w_quarters",
    Some("""
      |WITH r AS (
      |  SELECT p.p_brand AS brand, quarter(l.l_shipdate) AS qq,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
      |              AS BIGINT) AS rev
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE year(l.l_shipdate) = 1998
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT brand, qq,
      |         row_number() OVER (PARTITION BY qq
      |           ORDER BY rev DESC, brand) AS rnk
      |  FROM r),
      |rs AS (SELECT brand, sum(rnk) AS rsum, count(*) AS m
      |       FROM rk GROUP BY 1 HAVING count(*) = 4),
      |st AS (
      |  SELECT count(*) AS n, sum(rsum) AS tot,
      |         sum(CAST(rsum AS HUGEINT) * rsum) AS sq
      |  FROM rs)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |       CAST((12000 * (n * sq - CAST(tot AS HUGEINT) * tot))
      |            // (CAST(n AS HUGEINT) * 16 * (n * n * n - n))
      |            AS BIGINT) AS kendall_w_milli
      |FROM st
      |""".stripMargin)) { (s, dir) =>
    val r = Tables.lineitem(s, dir)
      .where(year(col("l_shipdate")) === 1998)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"), quarter(col("l_shipdate")).as("qq"))
      .agg(expr("CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("rev"))
    val w = Window.partitionBy(col("qq"))
      .orderBy(col("rev").desc, col("brand"))
    val rs = r.withColumn("rnk", row_number().over(w))
      .groupBy(col("brand"))
      .agg(sum(col("rnk")).as("rsum"), count(lit(1)).as("m"))
      .where(col("m") === 4)
    rs.agg(count(lit(1)).as("n"), sum(col("rsum")).as("tot"),
        sum(col("rsum").cast("decimal(38,0)") * col("rsum")).as("sq"))
      .select(col("n").as("n_brands"),
        expr("CAST((12000 * (n * sq - CAST(tot AS DECIMAL(38,0)) * tot))" +
          " div (CAST(n AS DECIMAL(38,0)) * 16 * (n * n * n - n))" +
          " AS BIGINT)").as("kendall_w_milli"))
  }

  /** Benford SECOND-digit conformity of order totals (the forensic
    * follow-up to the first-digit face q180 — second digits catch
    * rounding and invented numbers the first digit misses): χ² against
    * the exact Benford second-digit law, whose probabilities are
    * Scala-computed and embedded micro integers. */
  def q558: Q = {
    val probs = (0 to 9).map { d =>
      val p = (1 to 9).map(k => math.log10(1.0 + 1.0 / (10 * k + d))).sum
      (d, math.floor(p * 1000000).toLong)
    }
    val sqlProbs = probs.map { case (d, p) => s"($d, $p)" }.mkString(", ")
    Q("q558_benford_second_digit",
      Some(s"""
        |WITH v AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |           AS BIGINT) AS VARCHAR), 2, 1) AS BIGINT) AS d2
        |  FROM orders WHERE o_totalprice >= 0.10),
        |ob AS (SELECT d2, count(*) AS o FROM v GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM ob),
        |bp(d, p) AS (VALUES $sqlProbs),
        |chi AS (
        |  SELECT sum((1000 * CAST(1000000 * ob.o - n.n * bp.p
        |                      AS HUGEINT))
        |             * (1000000 * ob.o - n.n * bp.p)
        |             // (1000000 * CAST(n.n AS HUGEINT) * bp.p)) AS c2
        |  FROM bp JOIN ob ON ob.d2 = bp.d CROSS JOIN n)
        |SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_orders,
        |       CAST((SELECT c2 FROM chi) AS BIGINT) AS chi2_milli
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val v = Tables.orders(s, dir)
        .where(col("o_totalprice") >= 0.10)
        .select(expr("CAST(substring(CAST(CAST(floor(o_totalprice * 100" +
          " + 0.5) AS BIGINT) AS STRING), 2, 1) AS BIGINT)").as("d2"))
      val ob = v.groupBy(col("d2")).agg(count(lit(1)).as("o"))
        .materialize()
      val n = ob.agg(sum(col("o")).as("n"))
      val bp = probs.toDF("d", "p")
      ob.join(broadcast(bp), col("d") === col("d2"))
        .crossJoin(broadcast(n))
        .agg(sum(expr("(1000 * CAST(1000000 * o - n * p" +
          " AS DECIMAL(38,0))) * (1000000 * o - n * p)" +
          " div (1000000 * CAST(n AS DECIMAL(38,0)) * p)")).as("c2"),
          max(col("n")).as("n"))
        .select(col("n").as("n_orders"),
          expr("CAST(c2 AS BIGINT)").as("chi2_milli"))
    }
  }

  /** Per (part brand, ship day number) revenue in whole dollars,
    * (brand, d, x), uncached — the two-brand day grids' input. */
  private[queries] def brandDayDollars(s: SparkSession, dir: String)
      : DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
          " div 86400000000").as("d"))
      .agg(expr("CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0)))" +
        " div 100 AS BIGINT)").as("x"))

  /** Upper-tail dependence between the two largest brands' daily
    * revenue series: λ_U ≈ P(X > q95(X) | Y > q95(Y)) both ways —
    * do their extreme days coincide (copula tail behavior the Pearson
    * faces can't see)? Exact order-stat thresholds, exact counts;
    * the independence baseline is 5%. */
  def q559: Q = Q(
    "q559_tail_dependence",
    Some("""
      |WITH br AS (
      |  SELECT p.p_brand AS brand, epoch_us(l.l_shipdate) // 86400000000
      |           AS d,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) // 100
      |              AS BIGINT) AS x
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |top2 AS (
      |  SELECT brand, row_number() OVER (ORDER BY s DESC, brand) AS r
      |  FROM (SELECT brand, sum(x) AS s FROM br GROUP BY 1) t
      |  QUALIFY r <= 2),
      |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM br),
      |grid AS (
      |  SELECT g.d,
      |         coalesce(max(CASE WHEN t.r = 1 THEN br.x END), 0) AS x1,
      |         coalesce(max(CASE WHEN t.r = 2 THEN br.x END), 0) AS x2
      |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
      |  LEFT JOIN (br JOIN top2 t ON br.brand = t.brand)
      |    ON br.d = g.d
      |  GROUP BY 1),
      |qs AS (
      |  SELECT max(CASE WHEN rn1 = (950 * n + 999) // 1000 THEN v1 END)
      |           AS q1,
      |         max(CASE WHEN rn2 = (950 * n + 999) // 1000 THEN v2 END)
      |           AS q2
      |  FROM (SELECT x1 AS v1, x2 AS v2,
      |               row_number() OVER (ORDER BY x1) AS rn1,
      |               row_number() OVER (ORDER BY x2) AS rn2,
      |               count(*) OVER () AS n
      |        FROM grid) r),
      |ct AS (
      |  SELECT sum(CASE WHEN x1 > q1 THEN 1 ELSE 0 END) AS e1,
      |         sum(CASE WHEN x2 > q2 THEN 1 ELSE 0 END) AS e2,
      |         sum(CASE WHEN x1 > q1 AND x2 > q2 THEN 1 ELSE 0 END)
      |           AS njoint
      |  FROM grid CROSS JOIN qs)
      |SELECT CAST(e1 AS BIGINT) AS n_extreme_1,
      |       CAST(e2 AS BIGINT) AS n_extreme_2,
      |       CAST(njoint AS BIGINT) AS n_joint,
      |       CAST(CASE WHEN e2 = 0 THEN 0 ELSE (1000 * njoint) // e2 END
      |            AS BIGINT) AS lambda_u_milli
      |FROM ct
      |""".stripMargin)) { (s, dir) =>
    val br = brandDayDollars(s, dir).materialize()
    val top2 = br.groupBy(col("brand")).agg(sum(col("x")).as("s"))
      .orderBy(col("s").desc, col("brand")).limit(2)
      .withColumn("r", row_number().over(
        Window.orderBy(col("s").desc, col("brand")))) // 2-row frame
      .select(col("brand").as("tb"), col("r"))
    val mm = br.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val grid = mm.select(explode(sequence(col("lo"), col("hi"))).as("gd"))
      .join(br.join(broadcast(top2), col("brand") === col("tb")),
        col("d") === col("gd"), "left")
      .groupBy(col("gd"))
      .agg(coalesce(max(when(col("r") === 1, col("x"))), lit(0L)).as("x1"),
        coalesce(max(when(col("r") === 2, col("x"))), lit(0L)).as("x2"))
      .materialize() // day dim
    val q1 = graft.operators.OrderStats.quantilesDisc(
        grid.withColumn("k", lit(0L)), Seq("k"), "x1", Seq(950))
      .select(col("value").as("q1"))
    val q2 = graft.operators.OrderStats.quantilesDisc(
        grid.withColumn("k", lit(0L)), Seq("k"), "x2", Seq(950))
      .select(col("value").as("q2"))
    grid.crossJoin(broadcast(q1)).crossJoin(broadcast(q2))
      .agg(sum(when(col("x1") > col("q1"), 1L).otherwise(0L)).as("e1"),
        sum(when(col("x2") > col("q2"), 1L).otherwise(0L)).as("e2"),
        sum(when(col("x1") > col("q1") && col("x2") > col("q2"), 1L)
          .otherwise(0L)).as("both"))
      .select(col("e1").as("n_extreme_1"), col("e2").as("n_extreme_2"),
        col("both").as("n_joint"),
        expr("CASE WHEN e2 = 0 THEN 0 ELSE (1000 * both) div e2 END")
          .as("lambda_u_milli"))
  }

  /** Ljung–Box portmanteau test over lags 1..10 of daily revenue:
    * Q = n(n+2)Σ r_k²/(n−k) with each autocorrelation milli-quantized
    * from exact centered cross-products (value joins on the calendar
    * grid — the gotcha-list rule) — the white-noise TEST the shipped
    * ACF/PACF diagnostics (q189/q396) describe but don't decide. */
  def q560: Q = Q(
    "q560_ljung_box",
    Some(s"""
      |WITH ${Scaffolds.sqlDailyDollars},
      |ct AS (SELECT count(*) AS n, sum(x) // count(*) AS m FROM grid),
      |cx AS (SELECT day, x - ct.m AS e, ct.n FROM grid CROSS JOIN ct),
      |c0 AS (SELECT sum(CAST(e AS HUGEINT) * e) AS c FROM cx),
      |lags AS (
      |  SELECT k.k,
      |         (SELECT sum(CAST(a.e AS HUGEINT) * b.e)
      |          FROM cx a JOIN cx b ON b.day = a.day - k.k) AS ck
      |  FROM (SELECT unnest(range(1, 11)) AS k) k),
      |rk AS (
      |  SELECT k, CAST(floor(CAST(CAST(ck AS DOUBLE)
      |            / CAST((SELECT c FROM c0) AS DOUBLE)
      |          AS DECIMAL(28,6)) * 1000) AS BIGINT) AS r
      |  FROM lags),
      |lb AS (
      |  SELECT sum((1000000 * r * r)
      |             // ((SELECT max(n) FROM cx) - k)) AS s
      |  FROM rk)
      |SELECT (SELECT CAST(max(n) AS BIGINT) FROM cx) AS n_days,
      |       CAST((1000 * (SELECT CAST(max(n) AS HUGEINT) FROM cx)
      |             * ((SELECT max(n) FROM cx) + 2) * (SELECT s FROM lb))
      |            // 1000000000000 AS BIGINT) AS lb_q_milli
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val grid = Scaffolds.dailyDollars(s, dir)
    val ct = grid.agg(count(lit(1)).as("n"),
      expr("sum(x) div count(1)").as("m"))
    val cx = grid.crossJoin(broadcast(ct))
      .select(col("day"), (col("x") - col("m")).as("e"), col("n"))
      .materialize() // day dim: feeds c0 and all ten lag joins
    val c0 = cx.agg(sum(col("e").cast("decimal(38,0)") * col("e"))
      .as("c"))
    val ks = (1 to 10).toDF("k")
    val lags = cx.crossJoin(broadcast(ks))
      .join(cx.select(col("day").as("bday"), col("e").as("be")),
        col("bday") === col("day") - col("k"))
      .groupBy(col("k"))
      .agg(sum(col("e").cast("decimal(38,0)") * col("be")).as("ck"))
    val rk = lags.crossJoin(broadcast(c0))
      .select(col("k"),
        expr("CAST(floor(CAST(CAST(ck AS DOUBLE) / CAST(c AS DOUBLE)" +
          " AS DECIMAL(28,6)) * 1000) AS BIGINT)").as("r"))
    val nn = cx.agg(max(col("n")).as("n"))
    rk.crossJoin(broadcast(nn))
      .agg(sum(expr("(1000000 * r * r) div (n - k)")).as("s"),
        max(col("n")).as("n"))
      .select(col("n").as("n_days"),
        expr("CAST((1000 * CAST(n AS DECIMAL(38,0)) * (n + 2) * s)" +
          " div 1000000000000 AS BIGINT)").as("lb_q_milli"))
  }
}
