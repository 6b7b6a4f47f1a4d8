package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 symbolic-dynamics wave: recurrence quantification (RR/DET/
  * LAM), spectral entropy over an extended integer-DFT table, SAX
  * symbolization with embedded breakpoints, Kaplan–Meier survival with
  * Greenwood confidence bands, and Cochran's Q. Recurrence tests are
  * exact integer inequalities; KM's product survives as a cumsum of
  * quantized log terms; all DFT weights are Scala-embedded integers
  * (q451's trick, 12 candidate periods here). */
object SymbolicQueries {

  val all: Seq[Q] = Seq(q511, q512, q513, q514, q515)

  /** Recurrence quantification of daily revenue: recurrence rate
    * (|x_i − x_j| ≤ σ/5, integerized tolerance), determinism (share of
    * recurrent pairs extending diagonally — deterministic structure)
    * and laminarity (vertically — sticky states). The phase-space
    * texture statistics behind "is this series chaotic or stochastic".
    * Day-dim² pair pass, every test an integer comparison. */
  def q511: Q = Q(
    "q511_recurrence_quantification",
    Some(s"""
      |WITH ${Scaffolds.sqlOrderDollars("x")},
      |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
      |grid AS (
      |  SELECT g.d - mm.lo AS t, coalesce(rev.x, 0) AS x
      |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
      |  CROSS JOIN mm LEFT JOIN rev ON g.d = rev.d),
      |st AS (SELECT count(*) AS n, sum(x) AS sx,
      |              sum(CAST(x AS HUGEINT) * x) AS q FROM grid),
      |tol AS (
      |  SELECT CAST(floor(sqrt(CAST(CAST(n AS HUGEINT) * q
      |           - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |           / (5.0 * CAST(n AS DOUBLE))) AS BIGINT) AS t
      |  FROM st),
      |rec AS (
      |  SELECT a.t AS i, b.t AS j
      |  FROM grid a JOIN grid b ON a.t < b.t CROSS JOIN tol
      |  WHERE abs(a.x - b.x) <= tol.t),
      |nrec AS (SELECT count(*) AS r FROM rec),
      |npairs AS (SELECT (CAST(n AS HUGEINT) * (n - 1)) // 2 AS np FROM st),
      |diag AS (
      |  SELECT count(*) AS dpts FROM rec r1
      |  WHERE EXISTS (SELECT 1 FROM rec r2
      |                WHERE r2.i = r1.i + 1 AND r2.j = r1.j + 1)
      |     OR EXISTS (SELECT 1 FROM rec r2
      |                WHERE r2.i = r1.i - 1 AND r2.j = r1.j - 1)),
      |vert AS (
      |  SELECT count(*) AS vpts FROM rec r1
      |  WHERE EXISTS (SELECT 1 FROM rec r2
      |                WHERE r2.i = r1.i AND r2.j = r1.j + 1)
      |     OR EXISTS (SELECT 1 FROM rec r2
      |                WHERE r2.i = r1.i AND r2.j = r1.j - 1))
      |SELECT (SELECT CAST(t AS BIGINT) FROM tol) AS tol_dollars,
      |       CAST(nrec.r AS BIGINT) AS n_recurrent,
      |       CAST((1000 * nrec.r) // npairs.np AS BIGINT) AS rr_milli,
      |       CAST((1000 * diag.dpts) // nrec.r AS BIGINT) AS det_milli,
      |       CAST((1000 * vert.vpts) // nrec.r AS BIGINT) AS lam_milli
      |FROM nrec CROSS JOIN npairs CROSS JOIN diag CROSS JOIN vert
      |""".stripMargin)) { (s, dir) =>
    val o = Scaffolds.orderCents(s, dir).materialize()
    val rev = Scaffolds.dollarsByDay(o, "x")
    val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val grid = mm.select(explode(sequence(col("lo"), col("hi")))
        .as("day"), col("lo"))
      .join(rev, col("day") === col("d"), "left")
      .select((col("day") - col("lo")).as("t"),
        coalesce(col("x"), lit(0L)).as("x"))
      .materialize()
    val st = grid.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
    val tol = st.select(col("n"),
      expr("""CAST(floor(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q
          - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
          / (5.0 * CAST(n AS DOUBLE))) AS BIGINT)""").as("t"))
    val b = grid.select(col("t").as("j"), col("x").as("bx"))
    val rec = grid.join(b, col("t") < col("j"))
      .crossJoin(broadcast(tol.select(col("t").as("tol"))))
      .where(abs(col("x") - col("bx")) <= col("tol"))
      .select(col("t").as("i"), col("j"))
      .materialize() // recurrent pair set
    val nrec = rec.agg(count(lit(1)).as("r"))
    val npairs = st.select(
      expr("(CAST(n AS DECIMAL(38,0)) * (n - 1)) div 2").as("np"))
    def neighborPts(di: Int, dj: Int) = rec
      .join(rec.select((col("i") - di).as("ni"), (col("j") - dj).as("nj")),
        col("i") === col("ni") && col("j") === col("nj"), "left_semi")
    val diag = neighborPts(1, 1)
      .unionAll(neighborPts(-1, -1)).distinct()
      .agg(count(lit(1)).as("dpts"))
    val vert = neighborPts(0, 1)
      .unionAll(neighborPts(0, -1)).distinct()
      .agg(count(lit(1)).as("vpts"))
    tol.select(col("t").as("tol_dollars"))
      .crossJoin(broadcast(nrec)).crossJoin(broadcast(npairs))
      .crossJoin(broadcast(diag)).crossJoin(broadcast(vert))
      .select(col("tol_dollars"), col("r").as("n_recurrent"),
        expr("(1000 * r) div np").as("rr_milli"),
        expr("(1000 * dpts) div r").as("det_milli"),
        expr("(1000 * vpts) div r").as("lam_milli"))
  }

  private def periods12 = (2 to 13).toSeq

  private def dftWeights12: Seq[(Int, Int, Long, Long)] =
    for { p <- periods12; r <- 0 until p } yield {
      val th = 2.0 * math.Pi * r / p
      (p, r, math.floor(math.cos(th) * 1000).toLong,
        math.floor(math.sin(th) * 1000).toLong)
    }

  /** Spectral entropy and flatness over a 12-period integer-DFT
    * (periods 2..13, q451's embedded weight table widened): entropy of
    * the normalized power distribution (micro, vs the log₂12 maximum)
    * and the geometric/arithmetic flatness ratio — white noise ≈ flat,
    * a strong cycle ≈ concentrated. Power per candidate is exact
    * DECIMAL; the per-term p·log₂p and ln quantizations follow the
    * established entropy discipline. */
  def q512: Q = {
    val sqlValues = dftWeights12
      .map { case (p, r, c, sn) => s"($p, $r, $c, $sn)" }.mkString(", ")
    def plogp(y: String, n: String) =
      s"(CASE WHEN $y = 0 THEN 0 ELSE " +
        s"CAST(floor(CAST(-(CAST($y AS DOUBLE) / CAST($n AS DOUBLE))" +
        s" * log2(CAST($y AS DOUBLE) / CAST($n AS DOUBLE))" +
        s" AS DECIMAL(28,9)) * 1000000) AS BIGINT) END)"
    Q("q512_spectral_entropy",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |grid AS (
        |  SELECT g.d AS day, coalesce(rev.x, 0) AS x
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  LEFT JOIN rev ON g.d = rev.d),
        |mt AS (SELECT (SELECT min(d) FROM o) AS lo,
        |              sum(x) // count(*) AS m FROM grid),
        |w(p, r, c, sn) AS (VALUES $sqlValues),
        |res AS (
        |  SELECT pp.p, (grid.day - mt.lo) % pp.p AS r,
        |         sum(grid.x - mt.m) AS g
        |  FROM grid CROSS JOIN mt
        |       CROSS JOIN (SELECT DISTINCT p FROM w) pp
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT res.p, sum(w.c * res.g) AS sc, sum(w.sn * res.g) AS ss
        |  FROM res JOIN w ON w.p = res.p AND w.r = res.r
        |  GROUP BY 1),
        |pw AS (SELECT p, CAST(sc AS HUGEINT) * sc
        |               + CAST(ss AS HUGEINT) * ss AS power FROM sc),
        |pm AS (
        |  SELECT p, CAST((1000000 * power)
        |              // (SELECT sum(power) FROM pw) AS BIGINT) AS q
        |  FROM pw),
        |ent AS (SELECT sum(${plogp("q", "1000000")}) AS h,
        |               count(*) AS k FROM pm),
        |fl AS (
        |  SELECT CASE WHEN min(power) = 0 THEN 0 ELSE
        |    CAST(floor(CAST(exp(sum(CAST(floor(CAST(
        |        ln(CAST(power AS DOUBLE)) AS DECIMAL(28,9)) * 1000000)
        |        AS BIGINT)) / CAST(1000000 * count(*) AS DOUBLE))
        |      / (CAST(sum(power) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS DECIMAL(28,9)) * 1000000) AS BIGINT) END AS flat
        |  FROM pw),
        |dom AS (SELECT p FROM pw ORDER BY power DESC, p LIMIT 1)
        |SELECT CAST(ent.k AS BIGINT) AS n_periods,
        |       CAST(ent.h AS BIGINT) AS spectral_entropy_micro,
        |       CAST(fl.flat AS BIGINT) AS flatness_micro,
        |       (SELECT CAST(p AS BIGINT) FROM dom) AS dominant_period
        |FROM ent CROSS JOIN fl
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"), col("lo"))
        .join(rev, col("day") === col("d"), "left")
        .select(col("day"), col("lo"), coalesce(col("x"), lit(0L)).as("x"))
        .materialize()
      val mt = grid.agg(expr("sum(x) div count(1)").as("m"))
      val pdim = periods12.toDF("p")
      val wdf = dftWeights12.toDF("p", "r", "c", "sn")
      val res = grid.crossJoin(broadcast(mt)).crossJoin(broadcast(pdim))
        .select(col("p"), pmod(col("day") - col("lo"), col("p")).as("r"),
          (col("x") - col("m")).as("xv"))
        .groupBy(col("p"), col("r")).agg(sum(col("xv")).as("g"))
      val pw = res.join(broadcast(wdf), Seq("p", "r"))
        .groupBy(col("p"))
        .agg(sum(col("c") * col("g")).as("sc"),
          sum(col("sn") * col("g")).as("ss"))
        .select(col("p"),
          (col("sc").cast("decimal(38,0)") * col("sc")
            + col("ss").cast("decimal(38,0)") * col("ss")).as("power"))
        .materialize() // 12-row period dim
      val tot = pw.agg(sum(col("power")).as("tp"))
      val pm = pw.crossJoin(broadcast(tot))
        .select(col("p"),
          expr("CAST((1000000 * power) div tp AS BIGINT)").as("q"))
      def plogpS(y: String, n: String) =
        s"(CASE WHEN $y = 0 THEN 0 ELSE " +
          s"CAST(floor(CAST(-(CAST($y AS DOUBLE) / CAST($n AS DOUBLE))" +
          s" * log2(CAST($y AS DOUBLE) / CAST($n AS DOUBLE))" +
          s" AS DECIMAL(28,9)) * 1000000) AS BIGINT) END)"
      val ent = pm.agg(sum(expr(plogpS("q", "1000000"))).as("h"),
        count(lit(1)).as("k"))
      val fl = pw.agg(
        expr("""CASE WHEN min(power) = 0 THEN 0 ELSE
          CAST(floor(CAST(exp(sum(CAST(floor(CAST(
              ln(CAST(power AS DOUBLE)) AS DECIMAL(28,9)) * 1000000)
              AS BIGINT)) / CAST(1000000 * count(1) AS DOUBLE))
            / (CAST(sum(power) AS DOUBLE) / CAST(count(1) AS DOUBLE))
            AS DECIMAL(28,9)) * 1000000) AS BIGINT) END""").as("flat"))
      val dom = pw.orderBy(col("power").desc, col("p")).limit(1)
        .select(col("p").cast("long").as("dominant_period"))
      ent.crossJoin(broadcast(fl)).crossJoin(broadcast(dom))
        .select(col("k").as("n_periods"),
          col("h").as("spectral_entropy_micro"),
          col("flat").as("flatness_micro"), col("dominant_period"))
    }
  }

  /** SAX symbolization of weekly revenue: 7-day PAA buckets mapped to
    * a 3-letter alphabet at the Gaussian ±0.4307σ breakpoints
    * (embedded literal), then 4-week SAX words counted — the symbolic
    * index behind fast shape search over long series. Week sums are
    * exact; the only doubles are the two global thresholds. */
  def q513: Q = {
    val bp = "0.4307272992954576"
    Q("q513_sax_weekly_words",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |grid AS (
        |  SELECT (g.d - mm.lo) // 7 AS wk, coalesce(rev.x, 0) AS x
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  CROSS JOIN mm LEFT JOIN rev ON g.d = rev.d),
        |st AS (SELECT count(*) AS n, sum(x) AS sx,
        |              sum(CAST(x AS HUGEINT) * x) AS q FROM grid),
        |wks AS (SELECT wk, sum(x) AS s7, count(*) AS cnt
        |        FROM grid GROUP BY 1),
        |sym AS (
        |  SELECT wk,
        |    CASE WHEN CAST(s7 AS DOUBLE) <
        |           7.0 * (CAST(st.sx AS DOUBLE) / CAST(st.n AS DOUBLE)
        |             - $bp * sqrt(CAST(CAST(st.n AS HUGEINT) * st.q
        |               - CAST(st.sx AS HUGEINT) * st.sx AS DOUBLE))
        |               / CAST(st.n AS DOUBLE)) THEN 'a'
        |         WHEN CAST(s7 AS DOUBLE) <
        |           7.0 * (CAST(st.sx AS DOUBLE) / CAST(st.n AS DOUBLE)
        |             + $bp * sqrt(CAST(CAST(st.n AS HUGEINT) * st.q
        |               - CAST(st.sx AS HUGEINT) * st.sx AS DOUBLE))
        |               / CAST(st.n AS DOUBLE)) THEN 'b'
        |         ELSE 'c' END AS s
        |  FROM wks CROSS JOIN st WHERE cnt = 7),
        |words AS (
        |  SELECT s || lead(s, 1) OVER (ORDER BY wk)
        |           || lead(s, 2) OVER (ORDER BY wk)
        |           || lead(s, 3) OVER (ORDER BY wk) AS word
        |  FROM sym),
        |wc AS (SELECT word, count(*) AS n FROM words
        |       WHERE word IS NOT NULL AND length(word) = 4 GROUP BY 1)
        |SELECT word AS sax_word, CAST(n AS BIGINT) AS n_windows
        |FROM wc ORDER BY n_windows DESC, sax_word LIMIT 5
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"), col("lo"))
        .join(rev, col("day") === col("d"), "left")
        .select(expr("(day - lo) div 7").as("wk"),
          coalesce(col("x"), lit(0L)).as("x"))
        .materialize()
      val st = grid.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
      val wks = grid.groupBy(col("wk"))
        .agg(sum(col("x")).as("s7"), count(lit(1)).as("cnt"))
        .where(col("cnt") === 7)
      def thr(sign: String) =
        s"7.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)" +
          s" $sign $bp * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q" +
          s" - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))" +
          s" / CAST(n AS DOUBLE))"
      val sym = wks.crossJoin(broadcast(st))
        .select(col("wk"),
          when(expr(s"CAST(s7 AS DOUBLE) < ${thr("-")}"), "a")
            .when(expr(s"CAST(s7 AS DOUBLE) < ${thr("+")}"), "b")
            .otherwise("c").as("s"))
      val w = Window.orderBy(col("wk")) // week dim: calendar-bounded
      val words = sym.select(concat(col("s"),
          lead(col("s"), 1).over(w), lead(col("s"), 2).over(w),
          lead(col("s"), 3).over(w)).as("word"))
        .where(col("word").isNotNull && length(col("word")) === 4)
      words.groupBy(col("word").as("sax_word"))
        .agg(count(lit(1)).as("n_windows"))
        .orderBy(col("n_windows").desc, col("sax_word"))
        .limit(5)
    }
  }

  /** Kaplan–Meier survival of fulfillment spans with Greenwood 95%
    * bands at fixed horizons: ln S as a cumsum of per-event quantized
    * ln((n−d)/n) terms (the product survives exactly as integer
    * arithmetic on quantized logs), Greenwood's Σ d/(n(n−d))
    * pico-quantized the same way, CI = S(1 ± 1.96√g). Completes the
    * q357/q444/q480 survival family with uncertainty. */
  def q514: Q = {
    val sv = "exp(CAST(lns AS DOUBLE) / 1000000.0)"
    val half = s"1.96 * $sv * sqrt(CAST(gw AS DOUBLE) / 1000000000000.0)"
    def q(e: String, name: String) =
      s"CAST(floor(CAST($e AS DECIMAL(28,6)) * 1000) AS BIGINT) AS $name"
    Q("q514_km_greenwood_ci",
      Some(s"""
        |WITH ord AS (
        |  SELECT max(epoch_us(l.l_shipdate) // 86400000000)
        |           - epoch_us(o.o_orderdate) // 86400000000 + 1 AS t
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY o.o_orderkey, o.o_orderdate
        |  HAVING max(epoch_us(l.l_shipdate) // 86400000000)
        |         >= epoch_us(o.o_orderdate) // 86400000000),
        |n AS (SELECT count(*) AS n FROM ord),
        |ev AS (SELECT t, count(*) AS d FROM ord GROUP BY 1),
        |cum AS (
        |  SELECT t, d, n.n - (sum(d) OVER (ORDER BY t) - d) AS ar
        |  FROM ev CROSS JOIN n),
        |km AS (
        |  SELECT t,
        |         sum(CAST(floor(CAST(ln(CAST(ar - d AS DOUBLE)
        |               / CAST(ar AS DOUBLE)) AS DECIMAL(28,9)) * 1000000)
        |             AS BIGINT)) OVER (ORDER BY t) AS lns,
        |         sum((1000000000000 * d) // (CAST(ar AS HUGEINT)
        |             * (ar - d))) OVER (ORDER BY t) AS gw
        |  FROM cum WHERE ar > d),
        |hz(horizon) AS (VALUES (60), (180), (365), (730)),
        |pick AS (
        |  SELECT hz.horizon, max_by(km.lns, km.t) AS lns,
        |         max_by(km.gw, km.t) AS gw
        |  FROM hz JOIN km ON km.t <= hz.horizon GROUP BY 1)
        |SELECT CAST(horizon AS BIGINT) AS horizon_days,
        |       ${q(sv, "survival_milli")},
        |       ${q(s"greatest($sv - $half, 0.0)", "ci_lo_milli")},
        |       ${q(s"least($sv + $half, 1.0)", "ci_hi_milli")}
        |FROM pick ORDER BY horizon_days
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").as("id"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
            " div 86400000000").as("a"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
              " div 86400000000").as("sd")),
          col("id") === col("l_orderkey"))
        .groupBy(col("id"), col("a"))
        .agg(max(col("sd")).as("done"))
        .where(col("done") >= col("a"))
        .select((col("done") - col("a") + 1).as("t"))
        .materialize()
      val n = ord.agg(count(lit(1)).as("n"))
      val ev = ord.groupBy(col("t")).agg(count(lit(1)).as("d"))
      val w = Window.orderBy(col("t")) // span dim
      val km = ev.crossJoin(broadcast(n))
        .withColumn("ar", col("n") - (sum(col("d")).over(w) - col("d")))
        .where(col("ar") > col("d"))
        .withColumn("lns", sum(expr(
          "CAST(floor(CAST(ln(CAST(ar - d AS DOUBLE) / CAST(ar AS DOUBLE))" +
            " AS DECIMAL(28,9)) * 1000000) AS BIGINT)")).over(w))
        .withColumn("gw", sum(expr("(1000000000000 * d)" +
          " div (CAST(ar AS DECIMAL(38,0)) * (ar - d))")).over(w))
        .select(col("t"), col("lns"), col("gw"))
      val hz = Seq(60, 180, 365, 730).toDF("horizon")
      hz.join(km, col("t") <= col("horizon"))
        .groupBy(col("horizon"))
        .agg(max_by(col("lns"), col("t")).as("lns"),
          max_by(col("gw"), col("t")).as("gw"))
        .select(col("horizon").cast("long").as("horizon_days"),
          expr(q(sv, "survival_milli")),
          expr(q(s"greatest($sv - $half, 0.0)", "ci_lo_milli")),
          expr(q(s"least($sv + $half, 1.0)", "ci_hi_milli")))
        .orderBy(col("horizon_days"))
    }
  }

  /** Cochran's Q across the four quarters of 1998: did the set of
    * customers ordering change beyond chance quarter to quarter? The
    * k-sample generalization of McNemar (q470) on the per-customer
    * binary participation matrix — Q = (k−1)(kΣG²−T²)/(kT−ΣL²), exact
    * integers end to end. */
  def q515: Q = {
    val k = 4
    Q("q515_cochran_q_quarters",
      Some(s"""
        |WITH x AS (
        |  SELECT o_custkey AS c, quarter(o_orderdate) AS qq
        |  FROM orders WHERE year(o_orderdate) = 1998
        |  GROUP BY 1, 2),
        |li AS (SELECT c, count(*) AS l FROM x GROUP BY 1),
        |gj AS (SELECT qq, count(*) AS g FROM x GROUP BY 1),
        |st AS (
        |  SELECT (SELECT sum(g) FROM gj) AS t,
        |         (SELECT sum(g * g) FROM gj) AS sg2,
        |         (SELECT sum(l * l) FROM li) AS sl2,
        |         (SELECT count(*) FROM li) AS n_cust)
        |SELECT CAST(n_cust AS BIGINT) AS n_customers,
        |       CAST(t AS BIGINT) AS total_participations,
        |       CAST((1000 * ($k - 1) * ($k * sg2 - t * t))
        |            // ($k * t - sl2) AS BIGINT) AS q_milli
        |FROM st
        |""".stripMargin)) { (s, dir) =>
      val x = Tables.orders(s, dir)
        .where(year(col("o_orderdate")) === 1998)
        .select(col("o_custkey").as("c"),
          quarter(col("o_orderdate")).as("qq"))
        .distinct()
        .materialize()
      val li = x.groupBy(col("c")).agg(count(lit(1)).as("l"))
      val gj = x.groupBy(col("qq")).agg(count(lit(1)).as("g"))
      val st = gj.agg(sum(col("g")).as("t"),
          sum(col("g") * col("g")).as("sg2"))
        .crossJoin(broadcast(li.agg(sum(col("l") * col("l")).as("sl2"),
          count(lit(1)).as("n_cust"))))
      st.select(col("n_cust").as("n_customers"),
        col("t").as("total_participations"),
        expr(s"(1000 * ($k - 1) * ($k * sg2 - t * t))" +
          s" div ($k * t - sl2)").as("q_milli"))
    }
  }
}
