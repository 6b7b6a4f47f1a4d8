package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 systems-analytics wave: spectral periodicity (integer-table
  * DFT), queueing faces (Little's law audit, Erlang-C staffing), drift
  * detection (Page–Hinkley), and forecast-model comparison
  * (Diebold–Mariano). Cross-engine discipline as everywhere in this
  * registry: libm transcendentals are either avoided outright (the DFT
  * weight table is precomputed in Scala and embedded as integer
  * literals in BOTH engines' plans) or confined to IEEE exactly-rounded
  * ops (+,−,×,/ and sqrt are correctly rounded by spec, so identical
  * operand order ⇒ identical bits in both engines).
  */
object SystemsQueries {

  val all: Seq[Q] = Seq(q451, q452, q453, q454, q455)

  /** DFT candidate periods. Weights are floor(cos/sin(2πr/p)·1000)
    * computed ONCE here in Scala and injected as integer literals into
    * both the Spark plan and the DuckDB oracle — the only way to keep
    * a transcendental out of the cross-engine comparison entirely. */
  private def periods = Seq(3, 7, 14, 30)

  private def dftWeights: Seq[(Int, Int, Long, Long)] =
    for { p <- periods; r <- 0 until p } yield {
      val th = 2.0 * math.Pi * r / p
      (p, r, math.floor(math.cos(th) * 1000).toLong,
        math.floor(math.sin(th) * 1000).toLong)
    }

  /** Periodogram of daily order revenue at candidate periods 3/7/14/30
    * days: zero-filled calendar grid, integer mean-centering, residue-
    * class sums (only p distinct angles exist per period, so the DFT
    * collapses to a p-row weighted sum per candidate — O(n) total, one
    * shuffle on the residue key), then power = Sc²+Ss² in exact
    * DECIMAL/HUGEINT and relative power in permille of the candidate
    * total. Dollars (not cents) keep Sc² inside 38 digits through
    * sf1. Scale shape: the fact table reduces to a day dim before
    * anything quadratic happens; the weight table is 54 literal rows
    * broadcast everywhere. */
  def q451: Q = {
    val w = dftWeights
    val sqlValues = w.map { case (p, r, c, s) => s"($p, $r, $c, $s)" }
      .mkString(", ")
    Q("q451_revenue_periodogram",
      Some(s"""
        |WITH ${Scaffolds.sqlDailyDollars},
        |mt AS (SELECT (SELECT lo FROM mm) AS lo,
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
        |               + CAST(ss AS HUGEINT) * ss AS power FROM sc)
        |SELECT CAST(p AS BIGINT) AS period,
        |       CAST(CASE WHEN sum(power) OVER () = 0 THEN 0
        |            ELSE (1000 * power) // sum(power) OVER () END
        |            AS BIGINT) AS power_permille
        |FROM pw ORDER BY period
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir)
        .materialize() // feeds the per-day rollup AND the range scalars
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"), col("lo"))
        .join(rev, col("day") === col("d"), "left")
        .select(col("day"), col("lo"), coalesce(col("x"), lit(0L)).as("x"))
        .materialize() // day dim: feeds the mean scalar and residues
      val mt = grid.agg(expr("sum(x) div count(1)").as("m"))
      import s.implicits._
      val pdim = periods.toDF("p")
      val wdf = dftWeights.toDF("p", "r", "c", "sn")
      val res = grid.crossJoin(broadcast(mt)).crossJoin(broadcast(pdim))
        .select(col("p"), pmod(col("day") - col("lo"), col("p")).as("r"),
          (col("x") - col("m")).as("xv"))
        .groupBy(col("p"), col("r")).agg(sum(col("xv")).as("g"))
      val sc = res.join(broadcast(wdf), Seq("p", "r"))
        .groupBy(col("p"))
        .agg(sum(col("c") * col("g")).as("sc"),
          sum(col("sn") * col("g")).as("ss"))
      val pw = sc.select(col("p"),
        (col("sc").cast("decimal(38,0)") * col("sc").cast("decimal(38,0)")
          + col("ss").cast("decimal(38,0)") * col("ss").cast("decimal(38,0)"))
          .as("power"))
      val tot = pw.agg(sum(col("power")).as("tot"))
      pw.crossJoin(broadcast(tot))
        .select(col("p").cast("long").as("period"),
          when(col("tot") === 0, 0L)
            .otherwise(expr("CAST((1000 * power) div tot AS BIGINT)"))
            .as("power_permille"))
        .orderBy(col("period"))
    }
  }

  /** Little's law audit over order fulfillment: an order is "in the
    * system" from its order day through the max ship day of its lines
    * (orders whose lines all shipped before the order date are data
    * noise in this synthetic corpus and are dropped under a stated
    * done ≥ arrive contract). λ and W come from exact integer sums;
    * the observed L comes from a +1/−1 event sweep cumulated over the
    * calendar grid (never an order×day fan-out), time-averaged over a
    * 122-day-trimmed interior window so the edge effects Little's law
    * ignores are what the ratio actually measures. The cumsum window
    * runs over the calendar-bounded day dim only. */
  def q452: Q = Q(
    "q452_littles_law_audit",
    Some("""
      |WITH ord AS (
      |  SELECT o.o_orderkey,
      |         epoch_us(o.o_orderdate) // 86400000000 AS a,
      |         max(epoch_us(l.l_shipdate) // 86400000000) AS done
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, 2
      |  HAVING max(epoch_us(l.l_shipdate) // 86400000000) >= a),
      |mm AS (SELECT min(a) AS lo, max(done) AS hi,
      |              count(*) AS n, sum(done - a + 1) AS sw FROM ord),
      |delta AS (
      |  SELECT d, sum(dx) AS dx FROM (
      |    SELECT a AS d, 1 AS dx FROM ord
      |    UNION ALL SELECT done + 1 AS d, -1 AS dx FROM ord)
      |  GROUP BY 1),
      |grid AS (
      |  SELECT g.d AS day,
      |         sum(coalesce(delta.dx, 0))
      |           OVER (ORDER BY g.d ROWS UNBOUNDED PRECEDING) AS occ
      |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
      |  LEFT JOIN delta ON g.d = delta.d),
      |trim AS (
      |  SELECT sum(grid.occ) AS so, count(*) AS nt
      |  FROM grid CROSS JOIN mm
      |  WHERE grid.day >= mm.lo + 122 AND grid.day <= mm.hi - 122)
      |SELECT CAST(mm.n AS BIGINT) AS n_orders,
      |       CAST(mm.hi - mm.lo + 1 AS BIGINT) AS n_days,
      |       CAST((1000 * mm.n) // (mm.hi - mm.lo + 1) AS BIGINT)
      |         AS lambda_milli,
      |       CAST((1000 * mm.sw) // mm.n AS BIGINT) AS w_days_milli,
      |       CAST((1000000 * mm.sw) // (mm.hi - mm.lo + 1) AS BIGINT)
      |         AS l_pred_micro,
      |       CAST((1000000 * trim.so) // trim.nt AS BIGINT)
      |         AS l_obs_micro,
      |       CAST((1000 * ((1000000 * trim.so) // trim.nt))
      |            // ((1000000 * mm.sw) // (mm.hi - mm.lo + 1))
      |            AS BIGINT) AS ratio_permille
      |FROM mm CROSS JOIN trim
      |""".stripMargin)) { (s, dir) =>
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("a"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 86400000000").as("sd")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("a"))
      .agg(max(col("sd")).as("done"))
      .where(col("done") >= col("a"))
      .materialize() // feeds scalars, deltas — one fact pass
    val mm = ord.agg(min(col("a")).as("lo"), max(col("done")).as("hi"),
      count(lit(1)).as("n"), sum(col("done") - col("a") + 1).as("sw"))
    val delta = ord.select(col("a").as("d"), lit(1L).as("dx"))
      .unionAll(ord.select((col("done") + 1).as("d"), lit(-1L).as("dx")))
      .groupBy(col("d")).agg(sum(col("dx")).as("dx"))
    val grid = mm.select(explode(sequence(col("lo"), col("hi")))
        .as("day"), col("lo"), col("hi"))
      .join(delta, col("day") === col("d"), "left")
      .select(col("day"), col("lo"), col("hi"),
        coalesce(col("dx"), lit(0L)).as("dx"))
      // calendar-bounded day dim: the one global cumsum is dim-sized
      .withColumn("occ", sum(col("dx")).over(
        Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
    val trim = grid
      .where(col("day") >= col("lo") + 122 && col("day") <= col("hi") - 122)
      .agg(sum(col("occ")).as("so"), count(lit(1)).as("nt"))
    mm.crossJoin(broadcast(trim))
      .select(col("n").as("n_orders"),
        (col("hi") - col("lo") + 1).as("n_days"),
        expr("(1000 * n) div (hi - lo + 1)").as("lambda_milli"),
        expr("(1000 * sw) div n").as("w_days_milli"),
        expr("(1000000 * sw) div (hi - lo + 1)").as("l_pred_micro"),
        expr("(1000000 * so) div nt").as("l_obs_micro"),
        expr("(1000 * ((1000000 * so) div nt)) div " +
          "((1000000 * sw) div (hi - lo + 1))").as("ratio_permille"))
  }

  /** Erlang-C staffing table by hour of day: event arrivals → offered
    * load a = λ·0.25h (fixed mean handle time), then the Erlang-B
    * recurrence B_k = a·B_{k−1}/(k + a·B_{k−1}) folded k = 1..64 with
    * the first k where k > a and the Erlang-C wait probability
    * C = B/(1 − (a/k)(1−B)) drops under 20% captured as the staffing
    * level. The fold is pure IEEE +,×,/ in pinned operand order, so
    * Spark's `aggregate` and DuckDB's `list_reduce` produce identical
    * bits; only the final milli-quantize touches a representation
    * boundary. Scale shape: one fact aggregation to 24 rows, then
    * constant-size per-row folds. */
  def q453: Q = {
    // shared arithmetic, inlined twice (B' and C) exactly like the
    // oracle so operand order matches token for token
    def nb(k: String, b: String) = s"a * $b / ($k + a * $b)"
    def cw(k: String, b: String) =
      s"${nb(k, b)} / (1.0 - a / $k * (1.0 - ${nb(k, b)}))"
    val sK = "CAST(k AS DOUBLE)"
    val sB = "acc.b"
    val dK = "e[1].v"
    val dB = "acc[1].b"
    Q("q453_erlang_c_staffing",
      Some(s"""
        |WITH ev AS (
        |  SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |         epoch_ns(ts) // 86400000000000 AS d
        |  FROM events),
        |nd AS (SELECT max(d) - min(d) + 1 AS n_days FROM ev),
        |hr AS (SELECT hour, count(*) AS cnt FROM ev GROUP BY 1),
        |lam AS (
        |  SELECT hour, cnt,
        |         CAST(cnt AS DOUBLE) / CAST(n_days AS DOUBLE) * 0.25 AS a
        |  FROM hr CROSS JOIN nd),
        |f AS (
        |  SELECT hour, cnt, a, list_reduce(
        |    list_prepend([{'b': CAST(1.0 AS DOUBLE), 'c': CAST(0.0 AS DOUBLE), 'w': CAST(0.0 AS DOUBLE), 'v': CAST(0.0 AS DOUBLE)}],
        |      list_transform(range(1, 65),
        |        k -> [{'b': CAST(0.0 AS DOUBLE), 'c': CAST(0.0 AS DOUBLE),
        |               'w': CAST(0.0 AS DOUBLE), 'v': CAST(k AS DOUBLE)}])),
        |    (acc, e) -> [{
        |      'b': ${nb(dK, dB)},
        |      'c': CASE WHEN acc[1].c > 0.0 THEN acc[1].c
        |                WHEN $dK > a AND ${cw(dK, dB)} < 0.2 THEN $dK
        |                ELSE 0.0 END,
        |      'w': CASE WHEN acc[1].c > 0.0 THEN acc[1].w
        |                WHEN $dK > a AND ${cw(dK, dB)} < 0.2
        |                  THEN ${cw(dK, dB)}
        |                ELSE 0.0 END,
        |      'v': CAST(0.0 AS DOUBLE)}]) AS st
        |  FROM lam)
        |SELECT CAST(hour AS BIGINT) AS hour,
        |       CAST(cnt AS BIGINT) AS n_events,
        |       CAST(floor(CAST(a AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS a_milli,
        |       CAST(st[1].c AS BIGINT) AS c_star,
        |       CAST(floor(CAST(st[1].w AS DECIMAL(28,6)) * 1000)
        |            AS BIGINT) AS wait_prob_milli
        |FROM f ORDER BY hour
        |""".stripMargin)) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(expr("(ts div 3600000000000) % 24").as("hour"),
          expr("ts div 86400000000000").as("d"))
      val nd = ev.agg((max(col("d")) - min(col("d")) + 1).as("n_days"))
      val lam = ev.groupBy(col("hour")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nd))
        .withColumn("a",
          expr("CAST(cnt AS DOUBLE) / CAST(n_days AS DOUBLE) * 0.25"))
      lam.withColumn("st", expr(
          s"""aggregate(sequence(1, 64),
             |  named_struct('b', CAST(1.0 AS DOUBLE),
             |               'c', CAST(0.0 AS DOUBLE),
             |               'w', CAST(0.0 AS DOUBLE)),
             |  (acc, k) -> named_struct(
             |    'b', ${nb(sK, sB)},
             |    'c', CASE WHEN acc.c > 0.0D THEN acc.c
             |              WHEN $sK > a AND ${cw(sK, sB)} < 0.2 THEN $sK
             |              ELSE CAST(0.0 AS DOUBLE) END,
             |    'w', CASE WHEN acc.c > 0.0D THEN acc.w
             |              WHEN $sK > a AND ${cw(sK, sB)} < 0.2
             |                THEN ${cw(sK, sB)}
             |              ELSE CAST(0.0 AS DOUBLE) END))""".stripMargin))
        .select(col("hour").cast("long").as("hour"),
          col("cnt").as("n_events"),
          expr("CAST(floor(CAST(a AS DECIMAL(28,6)) * 1000) AS BIGINT)")
            .as("a_milli"),
          expr("CAST(st.c AS BIGINT)").as("c_star"),
          expr("CAST(floor(CAST(st.w AS DECIMAL(28,6)) * 1000) AS BIGINT)")
            .as("wait_prob_milli"))
        .orderBy(col("hour"))
    }
  }

  /** Page–Hinkley drift detector over daily order revenue, normalized
    * to permille-of-global-mean so the alarm threshold (λ = 5000, five
    * mean-days of cumulative upward drift) is scale-free. The PH
    * statistic m_t += x_t − mean_{1..t} needs the running mean — an
    * inherently sequential recurrence, so it runs through OrderedFold
    * (constant state, single calendar-bounded group) with a DuckDB
    * list_reduce oracle folding the identical IEEE op sequence. On
    * alarm the detector hard-resets (mean, m, M) and keeps counting —
    * the "restart after change" monitoring contract. */
  def q454: Q = {
    val thr = "5000.0"
    // m' with s/t updated first; division binds tighter than '-'
    val mD = "acc[1].m + (CAST(e[1].v AS DOUBLE) - " +
      "CAST(acc[1].s + e[1].v AS DOUBLE) / CAST(acc[1].t + 1 AS DOUBLE))"
    Q("q454_page_hinkley_drift",
      Some(s"""
        |WITH ${Scaffolds.sqlDailyDollars},
        |tot AS (SELECT count(*) AS n, sum(x) AS sx FROM grid),
        |xp AS (SELECT day, (1000 * x * n) // sx AS v
        |       FROM grid CROSS JOIN tot),
        |f AS (
        |  SELECT list_reduce(
        |    list_prepend(
        |      [{'v': CAST(0 AS BIGINT), 'd': CAST(0 AS BIGINT),
        |        's': CAST(0 AS BIGINT), 't': CAST(0 AS BIGINT),
        |        'm': CAST(0.0 AS DOUBLE), 'mn': CAST(0.0 AS DOUBLE),
        |        'al': CAST(0 AS BIGINT), 'fd': CAST(0 AS BIGINT),
        |        'tt': CAST(0 AS BIGINT)}],
        |      list(
        |        [{'v': v, 'd': day, 's': CAST(0 AS BIGINT),
        |          't': CAST(0 AS BIGINT), 'm': CAST(0.0 AS DOUBLE), 'mn': CAST(0.0 AS DOUBLE),
        |          'al': CAST(0 AS BIGINT), 'fd': CAST(0 AS BIGINT),
        |          'tt': CAST(0 AS BIGINT)}] ORDER BY day)),
        |    (acc, e) -> [CASE WHEN $mD - acc[1].mn > $thr THEN
        |      {'v': CAST(0 AS BIGINT), 'd': CAST(0 AS BIGINT),
        |       's': CAST(0 AS BIGINT), 't': CAST(0 AS BIGINT),
        |       'm': CAST(0.0 AS DOUBLE), 'mn': CAST(0.0 AS DOUBLE), 'al': acc[1].al + 1,
        |       'fd': CASE WHEN acc[1].fd = 0 THEN e[1].d
        |             ELSE acc[1].fd END,
        |       'tt': acc[1].tt + 1}
        |    ELSE
        |      {'v': CAST(0 AS BIGINT), 'd': CAST(0 AS BIGINT),
        |       's': acc[1].s + e[1].v, 't': acc[1].t + 1,
        |       'm': $mD, 'mn': least(acc[1].mn, $mD),
        |       'al': acc[1].al, 'fd': acc[1].fd,
        |       'tt': acc[1].tt + 1}
        |    END]) AS st
        |  FROM xp)
        |SELECT CAST(st[1].tt AS BIGINT) AS n_days,
        |       CAST(st[1].al AS BIGINT) AS n_alarms,
        |       CAST(st[1].fd AS BIGINT) AS first_alarm_day,
        |       CAST(floor(CAST(st[1].m - st[1].mn AS DECIMAL(28,6))
        |                  * 1000) AS BIGINT) AS ph_milli
        |FROM f
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"))
        .join(rev, col("day") === col("d"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
        .materialize() // feeds the normalizer scalar AND the fold
      val tot = grid.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val xp = grid.crossJoin(broadcast(tot))
        .select(lit(0L).as("g"), col("day"),
          expr("(1000 * x * n) div sx").as("v"))
      val out = StructType(Seq(
        StructField("n_days", LongType, nullable = false),
        StructField("n_alarms", LongType, nullable = false),
        StructField("first_alarm_day", LongType, nullable = false),
        StructField("ph", DoubleType, nullable = false)))
      // state: (s, t, m, mn, al, fd, tt)
      graft.operators.OrderedFold.foldGroups[
          (Long, Long, Double, Double, Long, Long, Long)](
        xp, Seq("g"), Seq(col("day")), out)(
        init = _ => (0L, 0L, 0.0, 0.0, 0L, 0L, 0L),
        step = { case ((sv, t, m, mn, al, fd, tt), row) =>
          val day = row.getLong(1)
          val x = row.getLong(2)
          val s2 = sv + x
          val t2 = t + 1
          val m2 = m + (x.toDouble - s2.toDouble / t2.toDouble)
          if (m2 - mn > 5000.0)
            (0L, 0L, 0.0, 0.0, al + 1, if (fd == 0L) day else fd, tt + 1)
          else (s2, t2, m2, math.min(mn, m2), al, fd, tt + 1)
        },
        emit = (_, st) => Iterator(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](st._7, st._5, st._6, st._3 - st._4))))
        .select(col("n_days"), col("n_alarms"), col("first_alarm_day"),
          expr("CAST(floor(CAST(ph AS DECIMAL(28,6)) * 1000) AS BIGINT)")
            .as("ph_milli"))
    }
  }

  /** Diebold–Mariano comparison of two one-step forecasters of daily
    * order revenue — seasonal-naive (value seven calendar days back)
    * vs naive (yesterday) — under squared loss. The loss differential
    * d_t = e_a² − e_b² stays exact integer (dollars² through HUGEINT/
    * DECIMAL sums), and the DM statistic mean(d)/√(var(d)/n) is three
    * exactly-rounded IEEE ops on those exact sums. Lags are taken on
    * the zero-filled calendar grid, where the row lag IS the value lag
    * (NOTES: seasonal lags must be value joins — the grid makes them
    * one and the same). */
  def q455: Q = {
    val mu = "CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)"
    val vr = s"CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE) - ($mu) * ($mu)"
    val dm = s"($mu) / sqrt(($vr) / CAST(n AS DOUBLE))"
    Q("q455_diebold_mariano",
      Some(s"""
        |WITH ${Scaffolds.sqlDailyDollars},
        |lagged AS (
        |  SELECT x, lag(x, 7) OVER (ORDER BY day) AS f_a,
        |            lag(x, 1) OVER (ORDER BY day) AS f_b
        |  FROM grid),
        |dd AS (
        |  SELECT (x - f_a) * (x - f_a) - (x - f_b) * (x - f_b) AS d
        |  FROM lagged WHERE f_a IS NOT NULL),
        |agg AS (SELECT count(*) AS n, sum(d) AS sd,
        |               sum(CAST(d AS HUGEINT) * d) AS sdd FROM dd)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |       CAST(floor(CAST($mu AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS mean_d_milli,
        |       CAST(floor(CAST($dm AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS dm_milli,
        |       CASE WHEN sd < 0 THEN 'seasonal7'
        |            WHEN sd > 0 THEN 'naive1' ELSE 'tie' END AS better
        |FROM agg
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"))
        .join(rev, col("day") === col("d"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
      // calendar-bounded day dim: the lag window is dim-sized
      val w = Window.orderBy(col("day"))
      val dd = grid
        .select(col("x"), lag(col("x"), 7).over(w).as("f_a"),
          lag(col("x"), 1).over(w).as("f_b"))
        .where(col("f_a").isNotNull)
        .select(((col("x") - col("f_a")) * (col("x") - col("f_a"))
          - (col("x") - col("f_b")) * (col("x") - col("f_b"))).as("d"))
      dd.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
          sum(col("d").cast("decimal(38,0)") * col("d")).as("sdd"))
        .select(col("n").as("n_days"),
          expr(s"CAST(floor(CAST($mu AS DECIMAL(28,6)) * 1000) AS BIGINT)")
            .as("mean_d_milli"),
          expr(s"CAST(floor(CAST($dm AS DECIMAL(28,6)) * 1000) AS BIGINT)")
            .as("dm_milli"),
          when(col("sd") < 0, "seasonal7").when(col("sd") > 0, "naive1")
            .otherwise("tie").as("better"))
    }
  }
}
