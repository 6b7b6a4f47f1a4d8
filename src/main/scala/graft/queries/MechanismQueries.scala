package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-7 mechanism wave: a Lindley single-server queue replay (via
  * the running-min closed form, bucket-parallel — never a global
  * sequential fold), the X̄-R control chart, odds-ratio confidence
  * intervals, a Bradley–Terry paired-comparison fit on scaled
  * integers, and inverse-propensity weighting. The BT iteration is
  * the PageRank discipline (integer state per round, generated
  * unrolled CTEs in the oracle). */
object MechanismQueries {

  val all: Seq[Q] = Seq(q531, q532, q533, q534, q535)

  /** Lindley-recursion queue replay over event arrivals with a fixed
    * service time tuned to 90% utilization (data-derived): waiting
    * time W_n = U_n − min_{k≤n} U_k with U_n = n·s − t_n — the running
    * minimum decomposes into per-day minima plus an exclusive prefix
    * over the day dim, so the "sequential" recursion is bucket-
    * parallel (the q196/globalRank discipline applied to a cummin).
    * Outputs the congestion profile: idle share, mean and max wait. */
  def q531: Q = Q(
    "q531_lindley_queue_replay",
    Some("""
      |WITH ev AS (
      |  SELECT epoch_ns(ts) AS tns, event_id FROM events),
      |mm AS (SELECT min(tns) AS lo, max(tns) AS hi, count(*) AS n
      |       FROM ev),
      |sv AS (SELECT (9 * (hi - lo)) // (10 * (n - 1)) AS s FROM mm),
      |u AS (
      |  SELECT row_number() OVER (ORDER BY tns, event_id) AS rn,
      |         tns FROM ev),
      |uu AS (
      |  SELECT rn, rn * sv.s - (u.tns - mm.lo) AS uv
      |  FROM u CROSS JOIN sv CROSS JOIN mm),
      |w AS (
      |  SELECT rn, uv, uv - min(uv) OVER (ORDER BY rn) AS wait
      |  FROM uu)
      |SELECT (SELECT CAST(n AS BIGINT) FROM mm) AS n_events,
      |       (SELECT CAST(s AS BIGINT) FROM sv) AS service_ns,
      |       CAST((1000 * sum(CASE WHEN wait = 0 THEN 1 ELSE 0 END))
      |            // count(*) AS BIGINT) AS idle_share_milli,
      |       CAST(sum(CAST(wait AS HUGEINT)) // (count(*) * 1000000)
      |            AS BIGINT) AS mean_wait_ms,
      |       CAST(max(wait) // 1000000 AS BIGINT) AS max_wait_ms
      |FROM w
      |""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("ts").as("tns"), col("event_id"))
      .materialize()
    val mm = ev.agg(min(col("tns")).as("lo"), max(col("tns")).as("hi"),
      count(lit(1)).as("n"))
    val sv = mm.select(expr("(9 * (hi - lo)) div (10 * (n - 1))").as("s"),
      col("lo"), col("n"))
    // bucket-parallel global rank over (tns, event_id): day buckets
    val rk = graft.dedup.SortedNeighborhood.globalRankCum(
        ev.withColumn("__bkt", expr("tns div 86400000000000")),
        idCol = "event_id", bucketCol = "__bkt", tieCols = Seq("tns"),
        partCols = Nil, cumCol = None)
      .crossJoin(broadcast(sv))
      .select(col("__bkt").as("day"), col("__rank").as("rn"),
        (col("__rank") * col("s") - (col("tns") - col("lo"))).as("uv"))
      .materialize()
    // running min = min(exclusive prefix-of-day minima, within-day cummin)
    val dayMin = rk.groupBy(col("day")).agg(min(col("uv")).as("dmin"))
      .withColumn("pmin", min(col("dmin")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1))) // day dim
      .select(col("day").as("jday"), col("pmin"))
    val wIn = Window.partitionBy(col("day")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val w = rk.join(broadcast(dayMin), col("jday") === col("day"))
      .withColumn("inmin", min(col("uv")).over(wIn))
      .select(col("uv"),
        (col("uv") - least(coalesce(col("pmin"), col("inmin")),
          col("inmin"))).as("wait"))
    w.crossJoin(broadcast(mm.select(col("n"))))
      .crossJoin(broadcast(sv.select(col("s"))))
      .agg(max(col("n")).as("n_events"), max(col("s")).as("service_ns"),
        expr("(1000 * sum(CASE WHEN wait = 0 THEN 1 ELSE 0 END))" +
          " div count(1)").as("idle_share_milli"),
        expr("sum(CAST(wait AS DECIMAL(38,0)))" +
          " div (count(1) * 1000000)").as("mean_wait_ms"),
        expr("max(wait) div 1000000").as("max_wait_ms"))
      .select(col("n_events"), col("service_ns"), col("idle_share_milli"),
        expr("CAST(mean_wait_ms AS BIGINT)").as("mean_wait_ms"),
        col("max_wait_ms"))
  }

  /** X̄-R control chart over 7-day subgroups of daily revenue: grand
    * mean, average range, and the out-of-control counts against the
    * classical A2/D3/D4(n=7) limits (embedded constants) — the SPC
    * face the CUSUM/EWMA/PH detectors here don't cover (subgroup
    * dispersion monitoring). Week sums and ranges are exact; the
    * limit comparisons are pinned doubles. */
  def q532: Q = {
    val a2 = "0.419"; val d3 = "0.076"; val d4 = "1.924"
    Q("q532_xbar_r_chart",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |grid AS (
        |  SELECT (g.d - mm.lo) // 7 AS wk, coalesce(rev.x, 0) AS x
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  CROSS JOIN mm LEFT JOIN rev ON g.d = rev.d),
        |wks AS (
        |  SELECT wk, sum(x) AS s7, max(x) - min(x) AS r, count(*) AS cnt
        |  FROM grid GROUP BY 1 HAVING count(*) = 7),
        |cl AS (SELECT count(*) AS m, sum(s7) AS st, sum(r) AS rt
        |       FROM wks),
        |oc AS (
        |  SELECT sum(CASE WHEN CAST(wks.s7 AS DOUBLE)
        |           > CAST(cl.st AS DOUBLE) / CAST(cl.m AS DOUBLE)
        |             + 7.0 * $a2 * CAST(cl.rt AS DOUBLE)
        |               / CAST(cl.m AS DOUBLE)
        |           OR CAST(wks.s7 AS DOUBLE)
        |           < CAST(cl.st AS DOUBLE) / CAST(cl.m AS DOUBLE)
        |             - 7.0 * $a2 * CAST(cl.rt AS DOUBLE)
        |               / CAST(cl.m AS DOUBLE)
        |           THEN 1 ELSE 0 END) AS xbar_ooc,
        |         sum(CASE WHEN CAST(wks.r AS DOUBLE)
        |           > $d4 * CAST(cl.rt AS DOUBLE) / CAST(cl.m AS DOUBLE)
        |           OR CAST(wks.r AS DOUBLE)
        |           < $d3 * CAST(cl.rt AS DOUBLE) / CAST(cl.m AS DOUBLE)
        |           THEN 1 ELSE 0 END) AS r_ooc
        |  FROM wks CROSS JOIN cl)
        |SELECT (SELECT CAST(m AS BIGINT) FROM cl) AS m_weeks,
        |       (SELECT CAST(st // (7 * m) AS BIGINT) FROM cl)
        |         AS xbar_dollars,
        |       (SELECT CAST(rt // m AS BIGINT) FROM cl) AS rbar_dollars,
        |       CAST(oc.xbar_ooc AS BIGINT) AS xbar_out_of_control,
        |       CAST(oc.r_ooc AS BIGINT) AS r_out_of_control
        |FROM oc
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"), col("lo"))
        .join(rev, col("day") === col("d"), "left")
        .select(expr("(day - lo) div 7").as("wk"),
          coalesce(col("x"), lit(0L)).as("x"))
      val wks = grid.groupBy(col("wk"))
        .agg(sum(col("x")).as("s7"), (max(col("x")) - min(col("x")))
          .as("r"), count(lit(1)).as("cnt"))
        .where(col("cnt") === 7)
        .materialize()
      val cl = wks.agg(count(lit(1)).as("m"), sum(col("s7")).as("st"),
        sum(col("r")).as("rt"))
      def xb = "CAST(st AS DOUBLE) / CAST(m AS DOUBLE)"
      def rb = "CAST(rt AS DOUBLE) / CAST(m AS DOUBLE)"
      val oc = wks.crossJoin(broadcast(cl))
        .agg(
          sum(expr(s"CASE WHEN CAST(s7 AS DOUBLE) > $xb + 7.0 * $a2 * $rb" +
            s" OR CAST(s7 AS DOUBLE) < $xb - 7.0 * $a2 * $rb" +
            " THEN 1 ELSE 0 END")).as("xbar_ooc"),
          sum(expr(s"CASE WHEN CAST(r AS DOUBLE) > $d4 * $rb" +
            s" OR CAST(r AS DOUBLE) < $d3 * $rb THEN 1 ELSE 0 END"))
            .as("r_ooc"),
          max(col("m")).as("m"), max(col("st")).as("st"),
          max(col("rt")).as("rt"))
      oc.select(col("m").as("m_weeks"),
        expr("st div (7 * m)").as("xbar_dollars"),
        expr("rt div m").as("rbar_dollars"),
        col("xbar_ooc").cast("long").as("xbar_out_of_control"),
        col("r_ooc").cast("long").as("r_out_of_control"))
    }
  }

  /** Odds ratio and relative risk of returns under deep discounts,
    * with the Woolf logit 95% CI: OR from the exact 2×2 counts, ln OR
    * micro-quantized, SE = √(1/a+1/b+1/c+1/d) as one pinned double —
    * the epidemiology-standard effect report the z-test faces (q193/
    * q448) don't give. */
  def q533: Q = {
    val se = "sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)" +
      " + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))"
    val lnor = "ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)" +
      " / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))"
    def q(e: String, name: String) =
      s"CAST(floor(CAST($e AS DECIMAL(28,6)) * 1000) AS BIGINT) AS $name"
    Q("q533_odds_ratio_ci",
      Some(s"""
        |WITH l AS (
        |  SELECT CASE WHEN floor(l_discount * 100 + 0.5) >= 5
        |              THEN 1 ELSE 0 END AS t,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |ct AS (
        |  SELECT sum(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
        |         sum(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
        |         sum(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
        |         sum(CASE WHEN t = 0 AND y = 0 THEN 1 ELSE 0 END) AS d
        |  FROM l)
        |SELECT CAST(a AS BIGINT) AS exposed_returned,
        |       CAST(b AS BIGINT) AS exposed_kept,
        |       ${q("exp(" + lnor + ")", "odds_ratio_milli")},
        |       ${q(s"exp($lnor - 1.96 * $se)", "or_ci_lo_milli")},
        |       ${q(s"exp($lnor + 1.96 * $se)", "or_ci_hi_milli")},
        |       CAST((1000 * a * (c + d)) // (c * (a + b)) AS BIGINT)
        |         AS relative_risk_milli
        |FROM ct
        |""".stripMargin)) { (s, dir) =>
      val ct = Tables.lineitem(s, dir)
        .select(when(expr("floor(l_discount * 100 + 0.5) >= 5"), 1L)
          .otherwise(0L).as("t"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .agg(
          sum(when(col("t") === 1 && col("y") === 1, 1L).otherwise(0L))
            .as("a"),
          sum(when(col("t") === 1 && col("y") === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("t") === 0 && col("y") === 1, 1L).otherwise(0L))
            .as("c"),
          sum(when(col("t") === 0 && col("y") === 0, 1L).otherwise(0L))
            .as("d"))
      ct.select(col("a").as("exposed_returned"),
        col("b").as("exposed_kept"),
        expr(q("exp(" + lnor + ")", "odds_ratio_milli")),
        expr(q(s"exp($lnor - 1.96 * $se)", "or_ci_lo_milli")),
        expr(q(s"exp($lnor + 1.96 * $se)", "or_ci_hi_milli")),
        expr("(1000 * a * (c + d)) div (c * (a + b))")
          .as("relative_risk_milli"))
    }
  }

  /** Bradley–Terry MM strengths (micro) after `iters` rounds over the
    * brand-pair dim g(i, j, n) and the win counts w(i, wins):
    * (brand, wins, bt_strength_micro). Size-gated like the SupplierGraph
    * fixpoints: at most [[SizeGate.EdgeRows]] pairs fold the whole
    * trajectory inside ONE
    * task with the identical long floor-division chain (the distributed
    * per-round loop ran ~24 tiny Spark jobs); more run the dataframe
    * loop. Both fail on a value past Long — the local fold through
    * `multiplyExact`/`addExact`, the loop through ANSI arithmetic. */
  private[graft] def btStrengths(g: DataFrame, w: DataFrame, iters: Int)
      : DataFrame = {
    val s = g.sparkSession
    if (SizeGate.local(g, SizeGate.EdgeRows)) {
      import s.implicits._
      g.select(lit(0L).as("t"), col("i"), col("j"), col("n"))
        .unionAll(w.select(lit(1L).as("t"), col("i"),
          col("i").as("j2"), col("wins")))
        .as[(Long, String, String, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray
          val gps = rows.collect { case (0L, i, j, n) => (i, j, n) }
          val wm = rows.collect { case (1L, i, _, x) => (i, x) }.toMap
          var pi: Map[String, Long] =
            wm.map { case (i, _) => i -> 1000000L }
          for (_ <- 1 to iters) {
            val den = scala.collection.mutable.HashMap.empty[
              String, Long]
            gps.foreach { case (i, j, n) =>
              for (pv <- pi.get(i); qv <- pi.get(j))
                den.update(i, Math.addExact(den.getOrElse(i, 0L),
                  Math.multiplyExact(1000000000000L, n) / (pv + qv)))
            }
            pi = wm.flatMap { case (i, wins) =>
              den.get(i).map(d =>
                i -> Math.multiplyExact(1000000000000L, wins) / d)
            }
          }
          pi.iterator.map { case (i, p) => (i, wm(i), p) }
        }
        .toDF("brand", "wins", "bt_strength_micro")
    } else {
      var pi = w.select(col("i"), lit(1000000L).as("pi")).materialize()
      for (_ <- 1 to iters) {
        val den = g
          .join(pi.select(col("i").as("pii"), col("pi").as("pv")),
            col("pii") === col("i"))
          .join(pi.select(col("i").as("pij"), col("pi").as("qv")),
            col("pij") === col("j"))
          .groupBy(col("i"))
          .agg(sum(expr("(1000000000000 * n) div (pv + qv)")).as("den"))
        pi = w.join(den, Seq("i"))
          .select(col("i"),
            expr("(1000000000000 * wins) div den").as("pi"))
          .materialize(truncate = true) // constant-depth per round
      }
      pi.join(w, Seq("i"))
        .select(col("i").as("brand"), col("wins"),
          col("pi").as("bt_strength_micro"))
    }
  }

  /** Bradley–Terry paired-comparison strengths for brands: in every
    * order containing two brands, the one with the larger line revenue
    * "wins"; strengths come from 12 minorization-maximization rounds
    * π'ᵢ = Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ) run entirely on micro-scaled integers
    * (per-round quantization — the PageRank discipline, so the whole
    * trajectory hash-replays in the oracle's generated CTE chain).
    * Top-10 strongest brands. */
  def q534: Q = {
    val iters = 12
    val duckRounds = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT g.i, sum((1000000000000 * g.n)
         |         // (p${k - 1}.pi + q${k - 1}.pi)) AS den
         |  FROM g JOIN p${k - 1} ON p${k - 1}.i = g.i
         |       JOIN p${k - 1} q${k - 1} ON q${k - 1}.i = g.j
         |  GROUP BY 1),
         |p$k AS MATERIALIZED (
         |  SELECT w.i, (1000000000000 * w.wins) // d$k.den AS pi
         |  FROM w JOIN d$k ON d$k.i = w.i)""".stripMargin
    }.mkString(",\n")
    Q("q534_bradley_terry_brands",
      Some(s"""
        |WITH ob AS (
        |  SELECT l.l_orderkey AS ok, p.p_brand AS br,
        |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |duel AS MATERIALIZED (
        |  SELECT CASE WHEN a.rev > b.rev THEN a.br ELSE b.br END AS wi,
        |         CASE WHEN a.rev > b.rev THEN b.br ELSE a.br END AS li
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.br < b.br
        |  WHERE a.rev != b.rev),
        |g AS MATERIALIZED (
        |  SELECT i, j, sum(n) AS n FROM (
        |    SELECT wi AS i, li AS j, count(*) AS n FROM duel GROUP BY 1, 2
        |    UNION ALL
        |    SELECT li, wi, count(*) FROM duel GROUP BY 1, 2) u
        |  GROUP BY 1, 2),
        |w AS MATERIALIZED (
        |  SELECT wi AS i, count(*) AS wins FROM duel GROUP BY 1),
        |p0 AS MATERIALIZED (
        |  SELECT i, CAST(1000000 AS BIGINT) AS pi FROM w),
        |$duckRounds
        |SELECT i AS brand, CAST(w.wins AS BIGINT) AS wins,
        |       CAST(p$iters.pi AS BIGINT) AS bt_strength_micro
        |FROM p$iters JOIN w USING (i)
        |ORDER BY bt_strength_micro DESC, brand LIMIT 10
        |""".stripMargin)) { (s, dir) =>
      val ob = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand").as("br")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("ok"), col("br"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100" +
          " AS DECIMAL(38,0))) AS BIGINT)").as("rev"))
      // within-order brand duels ORDER-LOCALLY (the buildEdges pair
      // discipline): collect the ≤7-brand list per order and emit the
      // ascending br < bbr pairs from the sorted array — replaces the
      // ob self-join (two more fact-dim shuffles + a materialize)
      // with one groupBy; same pair multiset, oracle unchanged
      val duel = ob
        .groupBy(col("ok"))
        .agg(sort_array(collect_list(struct(col("br"), col("rev"))))
          .as("bs"))
        .select(explode(flatten(expr(
          "transform(bs, (x, k) -> transform(slice(bs, k + 2," +
            " size(bs)), y -> struct(x.br AS br, x.rev AS rev," +
            " y.br AS bbr, y.rev AS brev)))"))).as("p"))
        .where(col("p.rev") =!= col("p.brev"))
        .select(when(col("p.rev") > col("p.brev"), col("p.br"))
          .otherwise(col("p.bbr")).as("wi"),
          when(col("p.rev") > col("p.brev"), col("p.bbr"))
            .otherwise(col("p.br")).as("li"))
        .materialize()
      val g = duel.groupBy(col("wi").as("i"), col("li").as("j"))
        .agg(count(lit(1)).as("n"))
        .unionAll(duel.groupBy(col("li").as("i"), col("wi").as("j"))
          .agg(count(lit(1)).as("n")))
        .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n"))
        .materialize() // brand-pair dim (≤600 rows)
      val w = duel.groupBy(col("wi").as("i")).agg(count(lit(1)).as("wins"))
        .materialize()
      btStrengths(g, w, iters)
        .orderBy(col("bt_strength_micro").desc, col("brand"))
        .limit(10)
    }
  }

  /** Inverse-propensity-weighted (Hajek) treatment effect of deep
    * discounts on returns, with brand-stratum propensities as exact
    * permille integers and weights as exact integer reciprocals —
    * the causal estimator that reweights rather than stratifies
    * (q475/q407's sibling). Naive contrast reported alongside. */
  def q535: Q = Q(
    "q535_ipw_ate",
    Some("""
      |WITH l AS (
      |  SELECT p.p_brand AS br,
      |         CASE WHEN floor(l.l_discount * 100 + 0.5) >= 5
      |              THEN 1 ELSE 0 END AS t,
      |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |e AS (SELECT br, (1000 * sum(t)) // count(*) AS e
      |      FROM l GROUP BY 1
      |      HAVING sum(t) > 0 AND sum(t) < count(*)),
      |wt AS (
      |  SELECT l.t, l.y,
      |         CASE WHEN l.t = 1 THEN 1000000000 // e.e
      |              ELSE 1000000000 // (1000 - e.e) END AS w
      |  FROM l JOIN e ON l.br = e.br),
      |ag AS (
      |  SELECT sum(CASE WHEN t = 1 THEN CAST(y AS HUGEINT) * w END) AS y1w,
      |         sum(CASE WHEN t = 1 THEN CAST(w AS HUGEINT) END) AS w1,
      |         sum(CASE WHEN t = 0 THEN CAST(y AS HUGEINT) * w END) AS y0w,
      |         sum(CASE WHEN t = 0 THEN CAST(w AS HUGEINT) END) AS w0,
      |         (1000 * sum(t * y)) // sum(t) AS naive1,
      |         (1000 * sum((1 - t) * y)) // sum(1 - t) AS naive0
      |  FROM wt)
      |SELECT CAST((1000 * y1w) // w1 AS BIGINT) AS ipw_treated_milli,
      |       CAST((1000 * y0w) // w0 AS BIGINT) AS ipw_control_milli,
      |       CAST((1000 * y1w) // w1 - (1000 * y0w) // w0 AS BIGINT)
      |         AS ipw_ate_milli,
      |       CAST(naive1 - naive0 AS BIGINT) AS naive_diff_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    val l = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("br")),
        col("l_partkey") === col("p_partkey"))
      .select(col("br"),
        when(expr("floor(l_discount * 100 + 0.5) >= 5"), 1L)
          .otherwise(0L).as("t"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .materialize()
    val e = l.groupBy(col("br"))
      .agg(expr("(1000 * sum(t)) div count(1)").as("e"),
        sum(col("t")).as("st"), count(lit(1)).as("cn"))
      .where(col("st") > 0 && col("st") < col("cn"))
      .select(col("br").as("ebr"), col("e"))
    val wt = l.join(broadcast(e), col("br") === col("ebr"))
      .select(col("t"), col("y"),
        when(col("t") === 1, expr("1000000000 div e"))
          .otherwise(expr("1000000000 div (1000 - e)")).as("w"))
    wt.agg(
        sum(when(col("t") === 1,
          col("y").cast("decimal(38,0)") * col("w"))).as("y1w"),
        sum(when(col("t") === 1, col("w").cast("decimal(38,0)")))
          .as("w1"),
        sum(when(col("t") === 0,
          col("y").cast("decimal(38,0)") * col("w"))).as("y0w"),
        sum(when(col("t") === 0, col("w").cast("decimal(38,0)")))
          .as("w0"),
        expr("(1000 * sum(t * y)) div sum(t)").as("naive1"),
        expr("(1000 * sum((1 - t) * y)) div sum(1 - t)").as("naive0"))
      .select(expr("CAST((1000 * y1w) div w1 AS BIGINT)")
          .as("ipw_treated_milli"),
        expr("CAST((1000 * y0w) div w0 AS BIGINT)")
          .as("ipw_control_milli"),
        expr("CAST((1000 * y1w) div w1 - (1000 * y0w) div w0 AS BIGINT)")
          .as("ipw_ate_milli"),
        (col("naive1") - col("naive0")).as("naive_diff_milli"))
  }
}
