package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables
import graft.sim.Similarity
import CorpusQueries.sqlDot

/** Round-7 shape-analysis wave: local outlier factor over embeddings,
  * isotonic regression by the minimax characterization, time-series
  * motif/discord discovery, a calendar two-way decomposition, and a
  * winsorized Welch test. LOF's reachability sums are micro-quantized
  * integers (float means never cross engines), the isotonic fit runs
  * on quantized interval means (stated contract), and the motif scan
  * is day-dim² — calendar-bounded however large the fact table. */
object ShapeQueries {

  val all: Seq[Q] = Seq(q506, q507, q508, q509, q510)

  /** Local outlier factor (k = 5, Euclidean from the pinned dot folds)
    * for a FIXED 150-point sample (the 150 lowest vec_ids — cap, not
    * rate): reach-dist = max(kdist(o), d(p,o)) micro-quantized,
    * lrd = 1e12 // Σreach, LOF = mean neighbor lrd over own lrd — the
    * density-ratio outlier score ANN curation uses where plain
    * distance thresholds fail. Top-10 outliers within the sample.
    * Every neighbor/neighbor-of-neighbor lrd is the CANONICAL value
    * (exact k-NN against the full corpus), obtained by three bounded
    * streaming passes instead of one n² pair join: pass A finds the
    * sample's k-NN (≤150 queries), pass B the neighbors' k-NN (≤750),
    * pass C the kdist of the neighbors' neighbors (≤3750) — each pass
    * broadcasts its capped query side, STREAMS the corpus past it, and
    * ranks through GroupedTopK's bounded heaps, so the plan is
    * O(cap·N) with an O(cap) shuffle at every scale. Zero-distance
    * duplicates are out of domain (q462's contract). */
  def q506: Q = {
    val k = 5
    val nSample = 150
    val dq = "CAST(floor(CAST(sqrt(dsq) AS DECIMAL(28,9)) * 1000000)" +
      " AS BIGINT)"
    Q("q506_lof_embeddings",
      Some(s"""
        |WITH qq AS (
        |  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $nSample),
        |pairs AS (
        |  SELECT a.vec_id AS p, b.vec_id AS o,
        |         ${sqlDot("a.embedding", "a.embedding")}
        |           - 2 * ${sqlDot("a.embedding", "b.embedding")}
        |           + ${sqlDot("b.embedding", "b.embedding")} AS dsq
        |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id),
        |knn AS (
        |  SELECT p, o, $dq AS d, rk FROM (
        |    SELECT p, o, dsq, row_number() OVER (
        |      PARTITION BY p ORDER BY dsq, o) AS rk
        |    FROM pairs WHERE dsq > 0.0) r WHERE rk <= $k),
        |kd AS (SELECT p AS id, max(d) AS kdist FROM knn GROUP BY 1),
        |reach AS (
        |  SELECT knn.p, knn.o, greatest(kd.kdist, knn.d) AS rd
        |  FROM knn JOIN kd ON kd.id = knn.o),
        |lrd AS (
        |  SELECT p AS id, 1000000000000 // sum(rd) AS lrd
        |  FROM reach GROUP BY 1),
        |lof AS (
        |  SELECT knn.p, (1000 * sum(lo.lrd)) // ($k * max(lp.lrd))
        |           AS lof_milli
        |  FROM knn JOIN lrd lo ON lo.id = knn.o
        |       JOIN lrd lp ON lp.id = knn.p
        |  WHERE knn.p IN (SELECT vec_id FROM qq)
        |  GROUP BY 1)
        |SELECT CAST(p AS BIGINT) AS vec_id,
        |       CAST(lof_milli AS BIGINT) AS lof_milli
        |FROM lof ORDER BY lof_milli DESC, vec_id LIMIT 10
        |""".stripMargin)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // the corpus parquet fits one split, so all three O(cap·N)
      // distance passes otherwise run as ONE task (event-log profile
      // r12: 1.5 s + 2.9 s single-task jobs) — widen to the session's
      // parallelism (no-op at cluster scale)
      val corpus = graft.plans.Spread.widen(
        emb.select(col("vec_id").as("o"), col("embedding").as("cvec")))
      // exact k-NN of a CAPPED query set against the full corpus:
      // broadcast the queries, stream the corpus, bounded-heap top-k.
      // Each hit carries the NEIGHBOR's vector so the next hop's query
      // frame needs no join back to the table. knn0/knn1 each feed
      // three consumers — materialized once (a fully-lazy DAG measured
      // 1.7 s worse: the broadcast subtrees recompute the corpus pass
      // per consumer; exchange reuse does not cross broadcast builds).
      def knnOf(queries: org.apache.spark.sql.DataFrame) = {
        val pairs = corpus
          .join(broadcast(queries), col("o") =!= col("p"))
          .select(col("p"), col("o"), col("cvec"),
            graft.functions.SketchExprs.sqEuclidean(col("qvec"),
              col("cvec")).as("dsq"))
          .where(col("dsq") > 0.0)
        graft.plans.GroupedTopK.topKPerKey(pairs, Seq("p"),
            Seq(("dsq", true), ("o", true)), k)
          .select(col("p"), col("o"), col("cvec"), expr(dq).as("d"))
      }
      // a pass's hits → the next pass's query frame (≤ cap·k rows)
      def nextQueries(knn: org.apache.spark.sql.DataFrame) =
        knn.groupBy(col("o").as("p"))
          .agg(first(col("cvec")).as("qvec"))
      val s0 = emb.orderBy(col("vec_id")).limit(nSample)
        .select(col("vec_id").as("p"), col("embedding").as("qvec"))
      val knn0 = knnOf(s0).materialize() // ≤ 150·k rows
      val knn1 = knnOf(nextQueries(knn0)).materialize() // ≤ 750·k rows
      // pass C only needs kdist(o) for the neighbors-of-neighbors
      val kd2 = knnOf(nextQueries(knn1)).groupBy(col("p").as("id"))
        .agg(max(col("d")).as("kdist"))
      val kd1 = knn1.groupBy(col("p").as("id"))
        .agg(max(col("d")).as("kdist"))
      // canonical lrd of the sample's NEIGHBORS (uses kdist from pass C)
      val lrd1 = knn1.join(broadcast(kd2), col("id") === col("o"))
        .select(col("p"), greatest(col("kdist"), col("d")).as("rd"))
        .groupBy(col("p").as("id"))
        .agg(expr("1000000000000 div sum(rd)").as("lrd"))
      // canonical lrd of the sample itself (uses kdist from pass B)
      val lrd0 = knn0.join(broadcast(kd1), col("id") === col("o"))
        .select(col("p"), greatest(col("kdist"), col("d")).as("rd"))
        .groupBy(col("p").as("id"))
        .agg(expr("1000000000000 div sum(rd)").as("lrd"))
      knn0.join(broadcast(lrd1.select(col("id").as("oid"),
          col("lrd").as("olrd"))), col("oid") === col("o"))
        .join(broadcast(lrd0.select(col("id").as("pid"),
          col("lrd").as("plrd"))), col("pid") === col("p"))
        .groupBy(col("p"))
        .agg(expr(s"(1000 * sum(olrd)) div ($k * max(plrd))")
          .as("lof_milli"))
        .select(col("p").as("vec_id"), col("lof_milli"))
        .orderBy(col("lof_milli").desc, col("vec_id"))
        .limit(10)
    }
  }

  /** Isotonic (monotone nondecreasing) regression of return rate on
    * discount level by the minimax characterization
    * f_i = max_{j≤i} min_{k≥i} mean(y_{j..k}) — fully relational over
    * the 66 level intervals, with interval means micro-quantized
    * (the stated fit contract; no PAV stack state needed). The
    * calibration curve a monotone-constraint fitter produces. */
  def q507: Q = Q(
    "q507_isotonic_return_rate",
    Some("""
      |WITH l AS (
      |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS lv,
      |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem),
      |lev AS (SELECT lv, count(*) AS n, sum(y) AS yy FROM l GROUP BY 1),
      |iv AS (
      |  SELECT a.lv AS j, b.lv AS k,
      |         (1000000 * sum(c.yy)) // sum(c.n) AS m
      |  FROM lev a JOIN lev b ON a.lv <= b.lv
      |       JOIN lev c ON c.lv BETWEEN a.lv AND b.lv
      |  GROUP BY 1, 2),
      |mn AS (
      |  SELECT lev.lv AS i, iv.j, min(iv.m) AS m
      |  FROM lev JOIN iv ON iv.j <= lev.lv AND iv.k >= lev.lv
      |  GROUP BY 1, 2),
      |fit AS (SELECT i, max(m) AS f FROM mn GROUP BY 1)
      |SELECT CAST(lev.lv AS BIGINT) AS discount_level,
      |       CAST(lev.n AS BIGINT) AS n_lines,
      |       CAST((1000 * lev.yy) // lev.n AS BIGINT) AS raw_rate_milli,
      |       CAST(fit.f // 1000 AS BIGINT) AS fitted_rate_milli
      |FROM lev JOIN fit ON fit.i = lev.lv
      |ORDER BY discount_level
      |""".stripMargin)) { (s, dir) =>
    val lev = Tables.lineitem(s, dir)
      .select(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")
        .as("lv"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("lv"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("yy"))
      .materialize() // 11-level dim
    val a = lev.select(col("lv").as("j"))
    val bb = lev.select(col("lv").as("k"))
    val c = lev.select(col("lv").as("cl"), col("n").as("cn"),
      col("yy").as("cy"))
    val iv = a.join(bb, col("j") <= col("k"))
      .join(c, col("cl").between(col("j"), col("k")))
      .groupBy(col("j"), col("k"))
      .agg(expr("(1000000 * sum(cy)) div sum(cn)").as("m"))
    val mn = lev.select(col("lv").as("i"))
      .join(iv, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("m")).as("m"))
    val fit = mn.groupBy(col("i")).agg(max(col("m")).as("f"))
    lev.join(fit, col("i") === col("lv"))
      .select(col("lv").as("discount_level"), col("n").as("n_lines"),
        expr("(1000 * yy) div n").as("raw_rate_milli"),
        expr("f div 1000").as("fitted_rate_milli"))
      .orderBy(col("discount_level"))
  }

  /** Time-series motif and discord over 7-day revenue windows: the
    * most similar non-overlapping window pair (motif — a repeated
    * weekly pattern) and the window farthest from its nearest
    * non-overlapping neighbor (discord — the strangest week), by exact
    * integer SSD. The pair scan is day-dim², bounded by the calendar
    * no matter the fact-table scale — the matrix-profile shape without
    * the streaming machinery. */
  def q508: Q = Q(
    "q508_motif_discord_weeks",
    Some(s"""
      |WITH ${Scaffolds.sqlDailyDollars},
      |win AS (
      |  SELECT day, x,
      |         lead(x, 1) OVER (ORDER BY day) AS x1,
      |         lead(x, 2) OVER (ORDER BY day) AS x2,
      |         lead(x, 3) OVER (ORDER BY day) AS x3,
      |         lead(x, 4) OVER (ORDER BY day) AS x4,
      |         lead(x, 5) OVER (ORDER BY day) AS x5,
      |         lead(x, 6) OVER (ORDER BY day) AS x6
      |  FROM grid),
      |w AS (SELECT * FROM win WHERE x6 IS NOT NULL),
      |pr AS (
      |  SELECT a.day AS t1, b.day AS t2,
      |         (a.x - b.x) * (a.x - b.x)
      |         + (a.x1 - b.x1) * (a.x1 - b.x1)
      |         + (a.x2 - b.x2) * (a.x2 - b.x2)
      |         + (a.x3 - b.x3) * (a.x3 - b.x3)
      |         + (a.x4 - b.x4) * (a.x4 - b.x4)
      |         + (a.x5 - b.x5) * (a.x5 - b.x5)
      |         + (a.x6 - b.x6) * (a.x6 - b.x6) AS ssd
      |  FROM w a JOIN w b ON b.day >= a.day + 7),
      |motif AS (SELECT t1, t2, ssd FROM pr
      |          ORDER BY ssd, t1, t2 LIMIT 1),
      |nnd AS (
      |  SELECT t, min(ssd) AS nn FROM (
      |    SELECT t1 AS t, ssd FROM pr UNION ALL SELECT t2, ssd FROM pr) u
      |  GROUP BY 1),
      |disc AS (SELECT t, nn FROM nnd ORDER BY nn DESC, t LIMIT 1)
      |SELECT CAST(motif.t1 AS BIGINT) AS motif_t1,
      |       CAST(motif.t2 AS BIGINT) AS motif_t2,
      |       CAST(motif.ssd AS BIGINT) AS motif_ssd,
      |       CAST(disc.t AS BIGINT) AS discord_t,
      |       CAST(disc.nn AS BIGINT) AS discord_nn_ssd
      |FROM motif CROSS JOIN disc
      |""".stripMargin)) { (s, dir) =>
    val grid = Scaffolds.dailyDollars(s, dir)
    val wnd = Window.orderBy(col("day")) // calendar-bounded
    val win = grid.select(Seq(col("day"), col("x")) ++
        (1 to 6).map(i => lead(col("x"), i).over(wnd).as(s"x$i")): _*)
      .where(col("x6").isNotNull)
      .materialize()
    val bcols = Seq(col("day").as("bday"), col("x").as("bx")) ++
      (1 to 6).map(i => col(s"x$i").as(s"bx$i"))
    val bw = win.select(bcols: _*)
    val ssd = (Seq(("x", "bx")) ++ (1 to 6).map(i => (s"x$i", s"bx$i")))
      .map { case (a, b) => (col(a) - col(b)) * (col(a) - col(b)) }
      .reduce(_ + _)
    val pr = win.join(bw, col("bday") >= col("day") + 7)
      .select(col("day").as("t1"), col("bday").as("t2"), ssd.as("ssd"))
      .materialize() // day-dim² pair table: feeds motif and nnd
    val motif = pr.orderBy(col("ssd"), col("t1"), col("t2")).limit(1)
      .select(col("t1").as("motif_t1"), col("t2").as("motif_t2"),
        col("ssd").as("motif_ssd"))
    val nnd = pr.select(col("t1").as("t"), col("ssd"))
      .unionAll(pr.select(col("t2").as("t"), col("ssd")))
      .groupBy(col("t")).agg(min(col("ssd")).as("nn"))
    val disc = nnd.orderBy(col("nn").desc, col("t")).limit(1)
      .select(col("t").as("discord_t"), col("nn").as("discord_nn_ssd"))
    motif.crossJoin(broadcast(disc))
  }

  /** Calendar two-way decomposition of daily revenue: day-of-week
    * effects (from the exact integer weekday formula on epoch days, no
    * engine weekday function), then month-of-year effects fitted on
    * the dow-residuals — sequential milli-quantized effects, with the
    * variance explained at each stage. The "is it weekly or yearly
    * seasonality" split a forecaster decides deseasonalizing order by. */
  def q509: Q = Q(
    "q509_calendar_decomposition",
    Some("""
      |WITH o AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
      |         month(o_orderdate) AS moy,
      |         CAST(o_totalprice * 100 AS HUGEINT) AS cents
      |  FROM orders),
      |rev AS (SELECT d, (d + 4) % 7 AS dow, max(moy) AS moy,
      |               1000 * (CAST(sum(cents) // 100 AS BIGINT)) AS x
      |        FROM o GROUP BY 1),
      |gm AS (SELECT count(*) AS n, CAST(floor(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m FROM rev),
      |dw AS (
      |  SELECT dow, CAST(floor(CAST(sum(rev.x) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) - max(gm.m) AS e
      |  FROM rev CROSS JOIN gm GROUP BY 1),
      |r1 AS (
      |  SELECT rev.d, rev.moy, rev.x - gm.m - dw.e AS r,
      |         rev.x - gm.m AS r0
      |  FROM rev JOIN dw ON dw.dow = rev.dow CROSS JOIN gm),
      |mo_ AS (SELECT moy, CAST(floor(CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS e FROM r1 GROUP BY 1),
      |fin AS (
      |  SELECT sum(CAST(r1.r0 AS HUGEINT) * r1.r0) AS ss_tot,
      |         sum(CAST(r1.r AS HUGEINT) * r1.r) AS ss_dow,
      |         sum(CAST(r1.r - mo_.e AS HUGEINT) * (r1.r - mo_.e))
      |           AS ss_both
      |  FROM r1 JOIN mo_ ON mo_.moy = r1.moy),
      |pk AS (
      |  SELECT (SELECT dow FROM dw ORDER BY e DESC, dow LIMIT 1)
      |           AS peak_dow,
      |         (SELECT e FROM dw ORDER BY e DESC, dow LIMIT 1)
      |           AS peak_dow_e,
      |         (SELECT moy FROM mo_ ORDER BY e DESC, moy LIMIT 1)
      |           AS peak_month,
      |         (SELECT e FROM mo_ ORDER BY e DESC, moy LIMIT 1)
      |           AS peak_month_e)
      |SELECT (SELECT CAST(n AS BIGINT) FROM gm) AS n_days,
      |       CAST((1000 * (ss_tot - ss_dow)) // ss_tot AS BIGINT)
      |         AS r2_dow_milli,
      |       CAST((1000 * (ss_tot - ss_both)) // ss_tot AS BIGINT)
      |         AS r2_both_milli,
      |       CAST(pk.peak_dow AS BIGINT) AS peak_dow,
      |       CAST(pk.peak_dow_e AS BIGINT) AS peak_dow_effect_milli,
      |       CAST(pk.peak_month AS BIGINT) AS peak_month,
      |       CAST(pk.peak_month_e AS BIGINT) AS peak_month_effect_milli
      |FROM fin CROSS JOIN pk
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("d"),
        month(col("o_orderdate")).as("moy"),
        (col("o_totalprice") * 100).cast("decimal(38,0)").as("cents"))
    val rev = o.groupBy(col("d"))
      .agg(max(col("moy")).as("moy"),
        expr("1000 * CAST(sum(cents) div 100 AS BIGINT)").as("x"))
      .withColumn("dow", expr("(d + 4) % 7"))
      .materialize() // day dim
    val gm = rev.agg(count(lit(1)).as("n"),
      expr("CAST(floor(CAST(sum(x) AS DOUBLE) / CAST(count(1) AS DOUBLE)) AS BIGINT)").as("m"))
    val dw = rev.crossJoin(broadcast(gm))
      .groupBy(col("dow"))
      .agg(expr("CAST(floor(CAST(sum(x) AS DOUBLE) / CAST(count(1) AS DOUBLE)) AS BIGINT) - max(m)").as("e"))
    val r1 = rev.join(broadcast(dw.withColumnRenamed("dow", "jdow")),
        col("jdow") === col("dow"))
      .crossJoin(broadcast(gm))
      .select(col("d"), col("moy"),
        (col("x") - col("m") - col("e")).as("r"),
        (col("x") - col("m")).as("r0"))
      .materialize()
    val mo = r1.groupBy(col("moy").as("jmoy"))
      .agg(expr("CAST(floor(CAST(sum(r) AS DOUBLE) / CAST(count(1) AS DOUBLE)) AS BIGINT)").as("me"))
    val fin = r1.join(broadcast(mo), col("jmoy") === col("moy"))
      .agg(sum(col("r0").cast("decimal(38,0)") * col("r0")).as("ss_tot"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("ss_dow"),
        sum((col("r") - col("me")).cast("decimal(38,0)")
          * (col("r") - col("me"))).as("ss_both"))
    val pkD = dw.orderBy(col("e").desc, col("dow")).limit(1)
      .select(col("dow").as("peak_dow"),
        col("e").as("peak_dow_effect_milli"))
    val pkM = mo.orderBy(col("me").desc, col("jmoy")).limit(1)
      .select(col("jmoy").cast("long").as("peak_month"),
        col("me").as("peak_month_effect_milli"))
    fin.crossJoin(broadcast(gm.select(col("n"))))
      .crossJoin(broadcast(pkD)).crossJoin(broadcast(pkM))
      .select(col("n").as("n_days"),
        expr("(1000 * (ss_tot - ss_dow)) div ss_tot").as("r2_dow_milli"),
        expr("(1000 * (ss_tot - ss_both)) div ss_tot").as("r2_both_milli"),
        col("peak_dow"), col("peak_dow_effect_milli"),
        col("peak_month"), col("peak_month_effect_milli"))
  }

  /** Winsorized Welch test: urgent vs other fulfillment spans with
    * every value clipped to its group's [p10, p90] (exact order-stat
    * boundaries) before the Welch t — the outlier-robust version of
    * q489's comparison, showing how much of the effect survives
    * de-tailing. Exact clipped moments; one pinned double t. */
  def q510: Q = {
    val t = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
      " - CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE))" +
      " / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)" +
      " * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))" +
      " / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))" +
      " + (CAST(q2 AS DOUBLE) - CAST(s2_ AS DOUBLE)" +
      " * CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE))" +
      " / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))"
    Q("q510_winsorized_welch",
      Some(s"""
        |WITH ${EffectQueries.sqlUrgencyTimes},
        |qb AS (
        |  SELECT grp,
        |         max(CASE WHEN rn = (100 * n + 999) // 1000 THEN t END)
        |           AS lo,
        |         max(CASE WHEN rn = (900 * n + 999) // 1000 THEN t END)
        |           AS hi
        |  FROM (SELECT grp, t,
        |               row_number() OVER (PARTITION BY grp ORDER BY t)
        |                 AS rn,
        |               count(*) OVER (PARTITION BY grp) AS n FROM ord) r
        |  GROUP BY 1),
        |cl AS (
        |  SELECT ord.grp, least(greatest(ord.t, qb.lo), qb.hi) AS t
        |  FROM ord JOIN qb ON qb.grp = ord.grp),
        |${EffectQueries.sqlGroupMoments("cl")}
        |SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT)
        |         AS n_other,
        |       CAST(floor(CAST(
        |           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |             - CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE)
        |         AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS winsorized_diff_milli,
        |       CAST(floor(CAST($t AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS welch_t_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      val ord = EffectQueries.urgencyTimes(s, dir).materialize()
      val qb = graft.operators.OrderStats.quantilesDisc(
          ord, Seq("grp"), "t", Seq(100, 900))
        .groupBy(col("grp"))
        .agg(max(when(col("permille") === 100, col("value"))).as("lo"),
          max(when(col("permille") === 900, col("value"))).as("hi"))
        .withColumnRenamed("grp", "jgrp")
      val cl = ord.join(broadcast(qb), col("jgrp") === col("grp"))
        .select(col("grp"),
          least(greatest(col("t"), col("lo")), col("hi")).as("t"))
      val mo = EffectQueries.groupMoments(cl)
      mo.select(col("n1").as("n_urgent"), col("n2").as("n_other"),
        expr("""CAST(floor(CAST(
            CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE)
          AS DECIMAL(28,6)) * 1000) AS BIGINT)""")
          .as("winsorized_diff_milli"),
        expr(s"CAST(floor(CAST($t AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("welch_t_milli"))
    }
  }
}
