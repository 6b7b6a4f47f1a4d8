package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 distribution-fit wave (the q500 milestone): peaks-over-
  * threshold GPD moments, LZ78 sequence complexity, a Gibrat's-law
  * regression, a three-method anomaly ensemble, and a lognormal
  * decile-fit audit with Scala-embedded normal quantiles. Thresholds
  * and flags are exact integer inequalities (no float compare ever
  * crosses engines unquantized); the only libm calls are per-point
  * quantized lns and nine quantized exps. */
object DistFitQueries {

  val all: Seq[Q] = Seq(q496, q497, q498, q499, q500)

  /** Peaks-over-threshold tail model: exceedances of daily revenue
    * above the p95 order statistic, fitted to a generalized Pareto by
    * method of moments — ξ = (1 − ē²/v)/2, β = ē(ē²/v + 1)/2 — the
    * extreme-value companion to the shipped Gumbel block-maxima face
    * (q399). Exact excess moments; two pinned double expressions. */
  def q496: Q = {
    val e = "CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)"
    val v = s"CAST(qe AS DOUBLE) / CAST(ne AS DOUBLE) - ($e) * ($e)"
    val xi = s"(1.0 - ($e) * ($e) / ($v)) / 2.0"
    val beta = s"($e) * (($e) * ($e) / ($v) + 1.0) / 2.0"
    def q(ex: String, name: String) =
      s"CAST(floor(CAST($ex AS DECIMAL(28,6)) * 1000) AS BIGINT) AS $name"
    Q("q496_gpd_peaks_over_threshold",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |u AS (
        |  SELECT max(CASE WHEN rn = (950 * n + 999) // 1000 THEN x END)
        |           AS u
        |  FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn,
        |               count(*) OVER () AS n FROM rev) r),
        |ex AS (SELECT rev.x - u.u AS y FROM rev CROSS JOIN u
        |       WHERE rev.x > u.u),
        |mo AS (SELECT count(*) AS ne, sum(y) AS se,
        |              sum(CAST(y AS HUGEINT) * y) AS qe FROM ex)
        |SELECT CAST(ne AS BIGINT) AS n_exceed,
        |       (SELECT CAST(u AS BIGINT) FROM u) AS threshold_dollars,
        |       ${q(e, "mean_excess_milli")},
        |       ${q(xi, "xi_milli")},
        |       ${q(beta, "beta_milli")}
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir)
      val rev = Scaffolds.dollarsByDay(o, "x")
        .materialize()
      val u = graft.operators.OrderStats.quantilesDisc(
          rev.withColumn("k", lit(0L)), Seq("k"), "x", Seq(950))
        .select(col("value").as("u"))
      val ex = rev.crossJoin(broadcast(u)).where(col("x") > col("u"))
        .select((col("x") - col("u")).as("y"), col("u"))
      val mo = ex.agg(count(lit(1)).as("ne"), sum(col("y")).as("se"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("qe"),
        max(col("u")).as("u"))
      mo.select(col("ne").as("n_exceed"),
        col("u").as("threshold_dollars"),
        expr(q(e, "mean_excess_milli")),
        expr(q(xi, "xi_milli")),
        expr(q(beta, "beta_milli")))
    }
  }

  /** LZ78 complexity of each user's event-type sequence (the phrase
    * count of the incremental parse — a sequence-compressibility
    * measure the repo's byte-level q162 can't see), histogrammed
    * across users. Inherently sequential per user ⇒ OrderedFold with
    * per-group dictionary state; the oracle replays the identical
    * parse with a list_reduce over per-user ordered lists. */
  def q497: Q = Q(
    "q497_lz78_user_complexity",
    Some("""
      |WITH RECURSIVE seq AS (
      |  SELECT user_id,
      |         list(event_type ORDER BY epoch_ns(ts), event_id) AS es
      |  FROM events GROUP BY 1),
      |-- RECURSIVE per-position walk, NOT list_reduce: a STRUCT
      |-- accumulator under multi-row list_reduce is WRONG in DuckDB's
      |-- batched evaluation (q637's bug, reproduced here at sf0.001 —
      |-- three different answers from three evaluation strategies on
      |-- identical input; NOTES.md). The recursive CTE is iterative by
      |-- semantics, one dict-as-string state row per (user, position).
      |walk(user_id, i, n, es, d, cur, c) AS (
      |  SELECT user_id, 0, len(es), es, ',', '', CAST(0 AS BIGINT)
      |  FROM seq
      |  UNION ALL
      |  SELECT user_id, i + 1, n, es,
      |    CASE WHEN strpos(d, ',' || (CASE WHEN cur = '' THEN es[i+1]
      |           ELSE cur || '|' || es[i+1] END) || ',') > 0 THEN d
      |         ELSE d || (CASE WHEN cur = '' THEN es[i+1]
      |           ELSE cur || '|' || es[i+1] END) || ',' END,
      |    CASE WHEN strpos(d, ',' || (CASE WHEN cur = '' THEN es[i+1]
      |           ELSE cur || '|' || es[i+1] END) || ',') > 0 THEN
      |      (CASE WHEN cur = '' THEN es[i+1]
      |       ELSE cur || '|' || es[i+1] END)
      |         ELSE '' END,
      |    c + CASE WHEN strpos(d, ',' || (CASE WHEN cur = '' THEN
      |           es[i+1] ELSE cur || '|' || es[i+1] END) || ',') > 0
      |        THEN 0 ELSE 1 END
      |  FROM walk WHERE i < n),
      |cx AS (
      |  SELECT user_id, c + (CASE WHEN cur <> '' THEN 1 ELSE 0 END) AS c
      |  FROM walk WHERE i = n)
      |SELECT CAST(c AS BIGINT) AS phrases,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM cx GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.types._
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("g"), col("ts"), col("event_id"),
        col("event_type"))
    val out = StructType(Seq(
      StructField("phrases", LongType, nullable = false)))
    val cx = graft.operators.OrderedFold.foldGroups[
        (Set[String], String, Long)](
      ev, Seq("g"), Seq(col("ts"), col("event_id")), out)(
      init = _ => (Set.empty[String], "", 0L),
      step = { case ((d, cur, c), row) =>
        val x = row.getString(3)
        val cand = if (cur.isEmpty) x else cur + "|" + x
        if (d.contains(cand)) (d, cand, c)
        else (d + cand, "", c + 1)
      },
      emit = (_, st) => Iterator(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](st._3 + (if (st._2.nonEmpty) 1L else 0L)))))
    cx.groupBy(col("phrases")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("phrases"))
  }

  /** Gibrat's-law test: is customer spend growth independent of size?
    * ln(H2/H1) regressed on ln(H1) across customers active in both
    * halves — slope ≈ 0 means proportional growth (Gibrat holds),
    * negative means mean reversion. Per-point lns milli-quantized,
    * then exact-integer OLS (q465's discipline). */
  def q498: Q = Q(
    "q498_gibrat_growth_vs_size",
    Some("""
      |WITH sp AS (
      |  SELECT o_custkey AS k,
      |         CASE WHEN year(o_orderdate) <= 1997 THEN 0 ELSE 1 END AS h,
      |         CAST(sum(CAST(o_totalprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY 1, 2),
      |pair AS (
      |  SELECT CAST(floor(CAST(ln(CAST(a.cents AS DOUBLE))
      |              AS DECIMAL(28,9)) * 1000) AS BIGINT) AS x,
      |         CAST(floor(CAST(ln(CAST(b.cents AS DOUBLE))
      |                - ln(CAST(a.cents AS DOUBLE))
      |              AS DECIMAL(28,9)) * 1000) AS BIGINT) AS y
      |  FROM sp a JOIN sp b ON a.k = b.k AND a.h = 0 AND b.h = 1
      |  WHERE a.cents > 0 AND b.cents > 0),
      |mo AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |              sum(x * y) AS sxy, sum(x * x) AS sxx,
      |              sum(y * y) AS syy FROM pair),
      |fr AS (
      |  SELECT n,
      |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS kn,
      |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dn,
      |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
      |  FROM mo)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |       CAST(floor(CAST(CAST(kn AS DOUBLE) / CAST(dn AS DOUBLE)
      |            AS DECIMAL(28,6)) * 1000) AS BIGINT) AS slope_milli,
      |       CAST(floor(CAST(CAST(kn AS DOUBLE) * CAST(kn AS DOUBLE)
      |              / (CAST(dn AS DOUBLE) * CAST(dy AS DOUBLE))
      |            AS DECIMAL(28,6)) * 1000) AS BIGINT) AS r2_milli
      |FROM fr
      |""".stripMargin)) { (s, dir) =>
    val sp = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("k"),
        when(year(col("o_orderdate")) <= 1997, 0).otherwise(1).as("h"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("cents"))
      .materialize()
    val pair = sp.where(col("h") === 0 && col("cents") > 0)
      .select(col("k"), col("cents").as("c1"))
      .join(sp.where(col("h") === 1 && col("cents") > 0)
        .select(col("k").as("bk"), col("cents").as("c2")),
        col("k") === col("bk"))
      .select(
        expr("CAST(floor(CAST(ln(CAST(c1 AS DOUBLE)) AS DECIMAL(28,9))" +
          " * 1000) AS BIGINT)").as("x"),
        expr("CAST(floor(CAST(ln(CAST(c2 AS DOUBLE))" +
          " - ln(CAST(c1 AS DOUBLE)) AS DECIMAL(28,9)) * 1000)" +
          " AS BIGINT)").as("y"))
    val mo = pair.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    mo.select(col("n").as("n_customers"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0))" +
          " * sy").as("kn"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0))" +
          " * sx").as("dn"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0))" +
          " * sy").as("dy"))
      .select(col("n_customers"),
        expr("CAST(floor(CAST(CAST(kn AS DOUBLE) / CAST(dn AS DOUBLE)" +
          " AS DECIMAL(28,6)) * 1000) AS BIGINT)").as("slope_milli"),
        expr("CAST(floor(CAST(CAST(kn AS DOUBLE) * CAST(kn AS DOUBLE)" +
          " / (CAST(dn AS DOUBLE) * CAST(dy AS DOUBLE))" +
          " AS DECIMAL(28,6)) * 1000) AS BIGINT)").as("r2_milli"))
  }

  /** Three-method anomaly ensemble on daily revenue — 2σ z-flag,
    * 3·1.4826·MAD flag, and Tukey 1.5·IQR fences — every test an
    * EXACT integer inequality ((nx−S)² > 4(nQ−S²), milli-scaled MAD,
    * doubled IQR fences), then the consensus counts. The "how many
    * detectors agree" view that keeps single-method false positives
    * out of paging. */
  def q499: Q = Q(
    "q499_anomaly_ensemble",
    Some(s"""
      |WITH ${Scaffolds.sqlOrderDollars("x")},
      |mo AS (SELECT count(*) AS n, sum(x) AS sx,
      |              sum(CAST(x AS HUGEINT) * x) AS q FROM rev),
      |qs AS (
      |  SELECT max(CASE WHEN rn = (250 * n + 999) // 1000 THEN x END)
      |           AS q1,
      |         max(CASE WHEN rn = (500 * n + 999) // 1000 THEN x END)
      |           AS med,
      |         max(CASE WHEN rn = (750 * n + 999) // 1000 THEN x END)
      |           AS q3
      |  FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn,
      |               count(*) OVER () AS n FROM rev) r),
      |mad AS (
      |  SELECT max(CASE WHEN rn = (500 * n + 999) // 1000 THEN a END)
      |           AS mad
      |  FROM (SELECT abs(rev.x - qs.med) AS a,
      |               row_number() OVER (ORDER BY abs(rev.x - qs.med)) AS rn,
      |               count(*) OVER () AS n
      |        FROM rev CROSS JOIN qs) r),
      |fl AS (
      |  SELECT rev.d,
      |         CASE WHEN CAST(mo.n AS HUGEINT) * rev.x - mo.sx < 0
      |              THEN (CASE WHEN (mo.sx - CAST(mo.n AS HUGEINT) * rev.x)
      |                     * (mo.sx - CAST(mo.n AS HUGEINT) * rev.x)
      |                     > 4 * (CAST(mo.n AS HUGEINT) * mo.q
      |                            - CAST(mo.sx AS HUGEINT) * mo.sx)
      |                    THEN 1 ELSE 0 END)
      |              ELSE (CASE WHEN (CAST(mo.n AS HUGEINT) * rev.x - mo.sx)
      |                     * (CAST(mo.n AS HUGEINT) * rev.x - mo.sx)
      |                     > 4 * (CAST(mo.n AS HUGEINT) * mo.q
      |                            - CAST(mo.sx AS HUGEINT) * mo.sx)
      |                    THEN 1 ELSE 0 END) END AS f_z,
      |         CASE WHEN 1000 * abs(rev.x - qs.med) > 4448 * mad.mad
      |              THEN 1 ELSE 0 END AS f_mad,
      |         CASE WHEN 2 * rev.x > 2 * qs.q3 + 3 * (qs.q3 - qs.q1)
      |                OR 2 * rev.x < 2 * qs.q1 - 3 * (qs.q3 - qs.q1)
      |              THEN 1 ELSE 0 END AS f_iqr
      |  FROM rev CROSS JOIN mo CROSS JOIN qs CROSS JOIN mad)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(f_z) AS BIGINT) AS flagged_z,
      |       CAST(sum(f_mad) AS BIGINT) AS flagged_mad,
      |       CAST(sum(f_iqr) AS BIGINT) AS flagged_tukey,
      |       CAST(sum(CASE WHEN f_z + f_mad + f_iqr >= 2 THEN 1 ELSE 0
      |            END) AS BIGINT) AS consensus_ge2,
      |       CAST(sum(CASE WHEN f_z + f_mad + f_iqr = 3 THEN 1 ELSE 0
      |            END) AS BIGINT) AS consensus_all
      |FROM fl
      |""".stripMargin)) { (s, dir) =>
    val rev = Tables.orders(s, dir)
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("d"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0)))" +
        " div 100 AS BIGINT)").as("x"))
      .materialize()
    val mo = rev.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
    val qs = graft.operators.OrderStats.quantilesDisc(
        rev.withColumn("k", lit(0L)), Seq("k"), "x", Seq(250, 500, 750))
      .groupBy(col("k"))
      .agg(max(when(col("permille") === 250, col("value"))).as("q1"),
        max(when(col("permille") === 500, col("value"))).as("med"),
        max(when(col("permille") === 750, col("value"))).as("q3"))
      .drop("k")
    val mad = graft.operators.OrderStats.quantilesDisc(
        rev.crossJoin(broadcast(qs))
          .select(lit(0L).as("k"), abs(col("x") - col("med")).as("a")),
        Seq("k"), "a", Seq(500))
      .select(col("value").as("mad"))
    val dev = "(CAST(n AS DECIMAL(38,0)) * x - sx)"
    val fl = rev.crossJoin(broadcast(mo)).crossJoin(broadcast(qs))
      .crossJoin(broadcast(mad))
      .select(
        expr(s"CASE WHEN $dev * $dev > 4 * (CAST(n AS DECIMAL(38,0)) * q" +
          " - CAST(sx AS DECIMAL(38,0)) * sx) THEN 1 ELSE 0 END").as("f_z"),
        expr("CASE WHEN 1000 * abs(x - med) > 4448 * mad THEN 1 ELSE 0" +
          " END").as("f_mad"),
        expr("CASE WHEN 2 * x > 2 * q3 + 3 * (q3 - q1)" +
          " OR 2 * x < 2 * q1 - 3 * (q3 - q1) THEN 1 ELSE 0 END")
          .as("f_iqr"))
    fl.agg(count(lit(1)).as("n_days"),
      sum(col("f_z")).cast("long").as("flagged_z"),
      sum(col("f_mad")).cast("long").as("flagged_mad"),
      sum(col("f_iqr")).cast("long").as("flagged_tukey"),
      sum(when(col("f_z") + col("f_mad") + col("f_iqr") >= 2, 1L)
        .otherwise(0L)).as("consensus_ge2"),
      sum(when(col("f_z") + col("f_mad") + col("f_iqr") === 3, 1L)
        .otherwise(0L)).as("consensus_all"))
  }

  /** Normal quantiles for p = 0.1..0.9, printed to full double
    * precision in Scala and embedded as literals in BOTH plans (the
    * q451 weight-table trick — Φ⁻¹ exists in neither engine). */
  private def normalQuantiles: Seq[(Int, Double)] = Seq(
    100 -> -1.2815515655446004, 200 -> -0.8416212335729142,
    300 -> -0.5244005127080407, 400 -> -0.2533471031357997,
    500 -> 0.0, 600 -> 0.2533471031357997, 700 -> 0.5244005127080407,
    800 -> 0.8416212335729142, 900 -> 1.2815515655446004)

  /** Lognormal decile-fit audit of order totals: fit (μ, σ) on
    * milli-quantized logs, compare every fitted decile exp(μ+σ·z_p)
    * (z_p embedded, see above) against the exact empirical decile —
    * the distributional QA table behind "totals are lognormal-ish"
    * claims. Gaps in permille. */
  def q500: Q = {
    val zVals = normalQuantiles.map { case (p, z) => s"($p, $z)" }
      .mkString(", ")
    val mu = "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0"
    val sg = "sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q" +
      " - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))" +
      " / CAST(n AS DOUBLE) / 1000.0"
    val fitted = s"CAST(floor(CAST(exp($mu + $sg * z) AS DECIMAL(28,2)))" +
      " AS BIGINT)"
    Q("q500_lognormal_decile_fit",
      Some(s"""
        |WITH v AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
        |         CAST(floor(CAST(ln(CAST(floor(o_totalprice * 100 + 0.5)
        |              AS DOUBLE)) AS DECIMAL(28,9)) * 1000) AS BIGINT) AS y
        |  FROM orders WHERE o_totalprice > 0),
        |mo AS (SELECT count(*) AS n, sum(y) AS sy,
        |              sum(CAST(y AS HUGEINT) * y) AS q FROM v),
        |qq AS (
        |  SELECT p.p, max(CASE WHEN r.rn = (p.p * r.n + 999) // 1000
        |                  THEN r.c END) AS emp
        |  FROM (SELECT c, row_number() OVER (ORDER BY c) AS rn,
        |               count(*) OVER () AS n FROM v) r
        |  CROSS JOIN (SELECT unnest([100, 200, 300, 400, 500, 600,
        |                             700, 800, 900]) AS p) p
        |  GROUP BY 1),
        |z(p, z) AS (VALUES $zVals),
        |fit AS (
        |  SELECT z.p, $fitted AS fitted
        |  FROM z CROSS JOIN mo)
        |SELECT CAST(qq.p AS BIGINT) AS p_permille,
        |       CAST(qq.emp AS BIGINT) AS empirical_cents,
        |       CAST(fit.fitted AS BIGINT) AS fitted_cents,
        |       CAST((1000 * (fit.fitted - qq.emp)) // qq.emp AS BIGINT)
        |         AS gap_permille
        |FROM qq JOIN fit ON qq.p = fit.p
        |ORDER BY p_permille
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val v = Tables.orders(s, dir)
        .where(col("o_totalprice") > 0)
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("c"))
        .select(col("c"),
          expr("CAST(floor(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,9))" +
            " * 1000) AS BIGINT)").as("y"))
        .materialize()
      val mo = v.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("q"))
      val qq = graft.operators.OrderStats.quantilesDisc(
          v.withColumn("k", lit(0L)), Seq("k"), "c",
          Seq(100, 200, 300, 400, 500, 600, 700, 800, 900))
        .select(col("permille").as("p"), col("value").as("emp"))
      val z = normalQuantiles.toDF("p", "z")
      val fit = z.crossJoin(broadcast(mo))
        .select(col("p").as("fp"), expr(fitted).as("fitted"))
      qq.join(broadcast(fit), col("p") === col("fp"))
        .select(col("p").cast("long").as("p_permille"),
          col("emp").as("empirical_cents"),
          col("fitted").as("fitted_cents"),
          expr("(1000 * (fitted - emp)) div emp").as("gap_permille"))
        .orderBy(col("p_permille"))
    }
  }
}
