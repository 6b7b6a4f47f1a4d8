package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables
import graft.text.TextAnalysis

/** Round-7 stickiness wave: moving-average type-token ratio (via the
  * closed-form previous-occurrence trick — O(tokens), no window
  * fan-out), empirical-Bayes shrinkage with a data-fitted Beta prior,
  * first-order stochastic dominance, DAU/WAU stickiness, and the
  * CUSUM-of-squares variance-break detector (the dispersion mate of
  * the mean-break faces q395/q536/q543). */
object StickinessQueries {

  val all: Seq[Q] = Seq(q546, q547, q548, q549, q550)

  /** MATTR (moving-average type-token ratio, 20-token windows) per
    * document, histogrammed: distinct-per-window = 20 − repeats, and a
    * token at position i repeats in exactly max(0, min(j, L−19) −
    * max(1, i−19) + 1) windows when its previous occurrence sits at j
    * — so the whole statistic is ONE pass over token positions (no
    * window × token fan-out). The stable lexical-diversity measure
    * TTR's length bias breaks (q208's fix). */
  def q546: Q = {
    val win = 20
    Q("q546_mattr_histogram",
      Some(s"""
        |WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, ts[i] AS t, i, len(ts) AS l
        |  FROM tok, unnest(range(1, len(ts) + 1)) AS u(i)
        |  WHERE len(ts) >= $win),
        |pv AS (
        |  SELECT doc_id, i, l,
        |         lag(i) OVER (PARTITION BY doc_id, t ORDER BY i) AS j
        |  FROM pos),
        |rep AS (
        |  SELECT doc_id, max(l) AS l,
        |         sum(CASE WHEN j IS NULL THEN 0
        |             ELSE greatest(0, least(j, l - ${win - 1})
        |                  - greatest(1, i - ${win - 1}) + 1) END) AS reps
        |  FROM pv GROUP BY 1),
        |mt AS (
        |  SELECT doc_id,
        |         (1000 * ($win * (l - ${win - 1}) - reps))
        |           // ($win * (l - ${win - 1})) AS mattr
        |  FROM rep)
        |SELECT CAST(mattr // 50 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM mt GROUP BY 1 ORDER BY 1
        |""".stripMargin)) { (s, dir) =>
      val pos = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .where(size(col("ts")) >= win)
        .select(col("doc_id"), size(col("ts")).as("l"),
          posexplode(col("ts")).as(Seq("i0", "t")))
        .select(col("doc_id"), col("t"), (col("i0") + 1).as("i"),
          col("l"))
      val w = Window.partitionBy(col("doc_id"), col("t"))
        .orderBy(col("i"))
      val pv = pos.withColumn("j", lag(col("i"), 1).over(w))
      val rep = pv.groupBy(col("doc_id"))
        .agg(max(col("l")).as("l"),
          sum(when(col("j").isNull, 0L)
            .otherwise(greatest(lit(0L),
              least(col("j"), col("l") - (win - 1))
                - greatest(lit(1), col("i") - (win - 1)) + 1)))
            .as("reps"))
      val mt = rep.select(
        expr(s"(1000 * ($win * (l - ${win - 1}) - reps))" +
          s" div ($win * (l - ${win - 1}))").as("mattr"))
      mt.groupBy(expr("mattr div 50").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket"))
    }
  }

  /** Empirical-Bayes shrinkage of per-brand return rates: the Beta
    * prior is FIT FROM THE DATA by method of moments on the
    * (milli-quantized) brand rates, then every brand shrinks toward it
    * as (y+α)/(n+α+β) — the "fit the prior, then borrow strength"
    * step the fixed-prior (q449) and James–Stein (q447) faces skip.
    * α/β are micro-quantized once; shrunken rates are exact integer
    * ratios. */
  def q547: Q = {
    // prior MoM on milli rates: s = (m(1000−m) − V)/V, α = m·s, β = (1000−m)·s
    val mExpr = "CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)"
    val vExpr = "CAST(qr AS DOUBLE) / CAST(k AS DOUBLE)" +
      s" - ($mExpr) * ($mExpr)"
    val sExpr = s"(($mExpr) * (1000.0 - ($mExpr)) - ($vExpr)) / ($vExpr)"
    val aExpr = s"CAST(floor(CAST(($mExpr) * ($sExpr) AS DECIMAL(28,6))" +
      " * 1000) AS BIGINT)" // micro (milli-rate × milli scale)
    val bExpr = s"CAST(floor(CAST((1000.0 - ($mExpr)) * ($sExpr)" +
      " AS DECIMAL(28,6)) * 1000) AS BIGINT)"
    Q("q547_empirical_bayes_rates",
      Some(s"""
        |WITH l AS (
        |  SELECT p.p_brand AS brand,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |br AS (
        |  SELECT brand, count(*) AS n, sum(y) AS yy,
        |         (1000 * sum(y)) // count(*) AS r
        |  FROM l GROUP BY 1),
        |pm AS (SELECT count(*) AS k, sum(r) AS sr, sum(r * r) AS qr
        |       FROM br),
        |ab AS (SELECT $aExpr AS alpha, $bExpr AS beta FROM pm)
        |SELECT brand, CAST(br.n AS BIGINT) AS n_lines,
        |       CAST(br.r AS BIGINT) AS raw_rate_milli,
        |       CAST((1000 * (1000000 * br.yy + ab.alpha))
        |            // (1000000 * br.n + ab.alpha + ab.beta) AS BIGINT)
        |         AS shrunk_rate_milli
        |FROM br CROSS JOIN ab ORDER BY brand
        |""".stripMargin)) { (s, dir) =>
      val br = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand").as("brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("brand"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("yy"),
          expr("(1000 * sum(y)) div count(1)").as("r"))
        .materialize() // brand dim
      val pm = br.agg(count(lit(1)).as("k"), sum(col("r")).as("sr"),
        sum(col("r") * col("r")).as("qr"))
      val ab = pm.select(expr(aExpr).as("alpha"), expr(bExpr).as("beta"))
      br.crossJoin(broadcast(ab))
        .select(col("brand"), col("n").as("n_lines"),
          col("r").as("raw_rate_milli"),
          expr("(1000 * (1000000 * yy + alpha))" +
            " div (1000000 * n + alpha + beta)").as("shrunk_rate_milli"))
        .orderBy(col("brand"))
    }
  }

  /** First-order stochastic dominance between urgent and other
    * fulfillment-span distributions: at every support value, compare
    * the two CDFs by exact cross-multiplication — the share of support
    * where urgent is (weakly) faster, plus the maximum signed gap each
    * way. The distribution-ORDER statement that KS (q482) and QTE
    * (q523) each only half-make. Span-value dim is calendar-bounded. */
  def q548: Q = Q(
    "q548_stochastic_dominance",
    Some("""
      |WITH ord AS (
      |  SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0
      |         END AS g,
      |         max(epoch_us(l.l_shipdate) // 86400000000)
      |           - epoch_us(o.o_orderdate) // 86400000000 + 1 AS t
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
      |  HAVING max(epoch_us(l.l_shipdate) // 86400000000)
      |         >= epoch_us(o.o_orderdate) // 86400000000),
      |v AS (
      |  SELECT t, sum(g) AS nu, sum(1 - g) AS no_
      |  FROM ord GROUP BY 1),
      |cum AS (
      |  SELECT t, sum(nu) OVER (ORDER BY t) AS cu,
      |         sum(no_) OVER (ORDER BY t) AS co,
      |         sum(nu) OVER () AS tu, sum(no_) OVER () AS tto
      |  FROM v),
      |gap AS (
      |  SELECT t,
      |         CAST(cu AS HUGEINT) * tto - CAST(co AS HUGEINT) * tu AS d
      |  FROM cum),
      |st AS (
      |  SELECT count(*) AS n_support,
      |         sum(CASE WHEN d >= 0 THEN 1 ELSE 0 END) AS n_urgent_ge,
      |         max(d) AS max_up, min(d) AS max_down
      |  FROM gap),
      |sc AS (SELECT max(tu) AS tu, max(tto) AS tto FROM cum)
      |SELECT CAST(n_support AS BIGINT) AS n_support_values,
      |       CAST((1000 * n_urgent_ge) // n_support AS BIGINT)
      |         AS urgent_faster_share_milli,
      |       CAST((1000 * max_up) // (CAST(sc.tu AS HUGEINT) * sc.tto)
      |            AS BIGINT) AS max_gap_urgent_milli,
      |       CAST(floor(CAST(CAST(1000 * max_down AS DOUBLE)
      |            / CAST(CAST(sc.tu AS HUGEINT) * sc.tto AS DOUBLE)
      |            AS DECIMAL(28,6))) AS BIGINT) AS max_gap_other_milli
      |FROM st CROSS JOIN sc
      |""".stripMargin)) { (s, dir) =>
    val ord = UrgentSpans.frame(s, dir).select(col("g"), col("t"))
    val v = ord.groupBy(col("t"))
      .agg(sum(col("g")).as("nu"), sum(lit(1L) - col("g")).as("no_"))
      .materialize() // span-value dim
    val w = Window.orderBy(col("t"))
    val cum = v
      .withColumn("cu", sum(col("nu")).over(w))
      .withColumn("co", sum(col("no_")).over(w))
      .crossJoin(broadcast(v.agg(sum(col("nu")).as("tu"),
        sum(col("no_")).as("tto"))))
    val gap = cum.select(col("t"),
      (col("cu").cast("decimal(38,0)") * col("tto")
        - col("co").cast("decimal(38,0)") * col("tu")).as("d"),
      col("tu"), col("tto"))
    gap.agg(count(lit(1)).as("n_support"),
        sum(when(col("d") >= 0, 1L).otherwise(0L)).as("n_urgent_ge"),
        max(col("d")).as("max_up"), min(col("d")).as("max_down"),
        max(col("tu")).as("tu"), max(col("tto")).as("tto"))
      .select(col("n_support").as("n_support_values"),
        expr("(1000 * n_urgent_ge) div n_support")
          .as("urgent_faster_share_milli"),
        expr("CAST((1000 * max_up) div (CAST(tu AS DECIMAL(38,0)) * tto)" +
          " AS BIGINT)").as("max_gap_urgent_milli"),
        expr("CAST(floor(CAST(CAST(1000 * max_down AS DOUBLE)" +
          " / CAST(CAST(tu AS DECIMAL(38,0)) * tto AS DOUBLE)" +
          " AS DECIMAL(28,6))) AS BIGINT)").as("max_gap_other_milli"))
  }

  /** DAU/WAU stickiness per epoch week: average daily actives over
    * weekly actives — the product-health ratio (1.0 = everyone daily,
    * ~1/7 = weekly visitors). Exact distinct counts; the event window
    * is short, so weeks are the honest grain here. */
  def q549: Q = Q(
    "q549_dau_wau_stickiness",
    Some("""
      |WITH ev AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS d, user_id
      |  FROM events),
      |dau AS (SELECT d, count(DISTINCT user_id) AS dau
      |        FROM ev GROUP BY 1),
      |wau AS (SELECT d // 7 AS wk, count(DISTINCT user_id) AS wau
      |        FROM ev GROUP BY 1),
      |wd AS (
      |  SELECT d // 7 AS wk, sum(dau) AS sdau, count(*) AS n_days
      |  FROM dau GROUP BY 1)
      |SELECT CAST(wd.wk AS BIGINT) AS epoch_week,
      |       CAST(wd.n_days AS BIGINT) AS n_days,
      |       CAST(wd.sdau // wd.n_days AS BIGINT) AS avg_dau,
      |       CAST(wau.wau AS BIGINT) AS wau,
      |       CAST((1000 * wd.sdau) // (wd.n_days * wau.wau) AS BIGINT)
      |         AS stickiness_milli
      |FROM wd JOIN wau ON wau.wk = wd.wk
      |ORDER BY epoch_week
      |""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(expr("ts div 86400000000000").as("d"), col("user_id"))
      .materialize()
    val dau = ev.groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = ev.groupBy(expr("d div 7").as("wk"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val wd = dau.groupBy(expr("d div 7").as("wk"))
      .agg(sum(col("dau")).as("sdau"), count(lit(1)).as("n_days"))
    wd.join(wau.withColumnRenamed("wk", "wwk"), col("wwk") === col("wk"))
      .select(col("wk").as("epoch_week"), col("n_days"),
        expr("sdau div n_days").as("avg_dau"), col("wau"),
        expr("(1000 * sdau) div (n_days * wau)").as("stickiness_milli"))
      .orderBy(col("epoch_week"))
  }

  /** CUSUM-of-squares variance-break detector on centered daily
    * revenue: D_t = |n·ΣQ_≤t − t·Q_tot| peaks where the VOLATILITY
    * regime changes — the dispersion complement to the mean-break
    * detectors (q395/q536/q543). Centered squares are exact integers;
    * the statistic and its argmax day are exact rationals. */
  def q550: Q = Q(
    "q550_cusum_of_squares",
    Some(s"""
      |WITH ${Scaffolds.sqlOrderDollars("x")},
      |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
      |grid AS (
      |  SELECT g.d - mm.lo AS t, coalesce(rev.x, 0) AS x
      |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
      |  CROSS JOIN mm LEFT JOIN rev ON g.d = rev.d),
      |ct AS (SELECT count(*) AS n, sum(x) // count(*) AS m FROM grid),
      |sq AS (
      |  SELECT t, CAST(x - ct.m AS HUGEINT) * (x - ct.m) AS q2, ct.n
      |  FROM grid CROSS JOIN ct),
      |cum AS (
      |  SELECT t, n, sum(q2) OVER (ORDER BY t) AS cq,
      |         sum(q2) OVER () AS qt
      |  FROM sq),
      |dd AS (
      |  SELECT t, abs(n * cq - (t + 1) * qt) AS d
      |  FROM cum),
      |mx AS (SELECT t, d FROM dd ORDER BY d DESC, t LIMIT 1)
      |SELECT (SELECT CAST(n AS BIGINT) FROM ct) AS n_days,
      |       (SELECT CAST(t AS BIGINT) FROM mx) AS break_day_index,
      |       CAST((1000 * (SELECT d FROM mx))
      |            // ((SELECT CAST(n AS HUGEINT) FROM ct)
      |               * (SELECT qt FROM cum LIMIT 1)) AS BIGINT)
      |         AS cos_stat_milli
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
    val ct = grid.agg(count(lit(1)).as("n"),
      expr("sum(x) div count(1)").as("m"))
    val w = Window.orderBy(col("t")) // calendar-bounded
    val sq = grid.crossJoin(broadcast(ct))
      .select(col("t"), col("n"),
        ((col("x") - col("m")).cast("decimal(38,0)")
          * (col("x") - col("m"))).as("q2"))
    val cum = sq.withColumn("cq", sum(col("q2")).over(w))
      .crossJoin(broadcast(sq.agg(sum(col("q2")).as("qt"))))
    val dd = cum.select(col("t"), col("n"), col("qt"),
      abs(col("n") * col("cq") - (col("t") + 1) * col("qt")).as("d"))
    val mx = dd.orderBy(col("d").desc, col("t")).limit(1)
      .materialize()
    mx.select(col("n").as("n_days"), col("t").as("break_day_index"),
      expr("CAST((1000 * d) div (CAST(n AS DECIMAL(38,0)) * qt)" +
        " AS BIGINT)").as("cos_stat_milli"))
  }
}
