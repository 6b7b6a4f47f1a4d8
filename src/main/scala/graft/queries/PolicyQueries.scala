package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables
import graft.text.TextAnalysis

/** Round-7 policy-and-language wave: Good–Turing smoothing, Kneser–Ney
  * continuation probabilities, offline ε-greedy policy replay (Li et
  * al.'s replay estimator, the standard way to evaluate a bandit
  * policy on logged data), Allan variance of event arrival stability,
  * and McNemar's paired test. The replay fold is pure integer
  * arithmetic — the exploration draws come from the q31 LCG and the
  * exploit argmax compares arm means by cross-multiplication, so no
  * division ever happens inside the sequential state. */
object PolicyQueries {

  val all: Seq[Q] = Seq(q466, q467, q468, q469, q470)

  /** Simple Good–Turing table over word trigrams: frequency-of-
    * frequencies N_r and the Turing-smoothed count r* = (r+1)N_{r+1}/N_r
    * for r = 1..5, plus the r = 0 row carrying the unseen-mass estimate
    * N_1/N — the smoothing table an n-gram LM consumes. Docs shorter
    * than 3 tokens are out of trigram domain by definition. All exact
    * integer arithmetic. */
  def q466: Q = Q(
    "q466_good_turing_trigrams",
    Some("""
      |WITH tok AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS ts
      |  FROM documents),
      |tg AS (
      |  SELECT ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      |  FROM tok, unnest(range(1, len(ts) - 1)) AS u(i)
      |  WHERE len(ts) >= 3),
      |c AS (SELECT g, count(*) AS r FROM tg GROUP BY 1),
      |tot AS (SELECT sum(r) AS n FROM c),
      |nr AS (SELECT r, count(*) AS nr FROM c GROUP BY 1)
      |SELECT CAST(0 AS BIGINT) AS r,
      |       CAST(nr.nr AS BIGINT) AS n_r,
      |       CAST((1000 * nr.nr) // tot.n AS BIGINT) AS r_star_milli
      |FROM nr CROSS JOIN tot WHERE nr.r = 1
      |UNION ALL
      |SELECT CAST(a.r AS BIGINT), CAST(a.nr AS BIGINT),
      |       CAST((1000 * (a.r + 1) * coalesce(b.nr, 0)) // a.nr AS BIGINT)
      |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
      |WHERE a.r BETWEEN 1 AND 5
      |ORDER BY r
      |""".stripMargin)) { (s, dir) =>
    val tg = Tables.documents(s, dir)
      .select(TextAnalysis.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 3)
      .select(explode(expr("transform(sequence(0, size(ts) - 3), " +
        "i -> concat(ts[i], ' ', ts[i + 1], ' ', ts[i + 2]))")).as("g"))
    val c = tg.groupBy(col("g")).agg(count(lit(1)).as("r"))
      .materialize() // trigram-type dim: feeds totals and N_r
    val tot = c.agg(sum(col("r")).as("n"))
    val nr = c.groupBy(col("r")).agg(count(lit(1)).as("nr"))
      .materialize()
    val unseen = nr.where(col("r") === 1).crossJoin(broadcast(tot))
      .select(lit(0L).as("r"), col("nr").as("n_r"),
        expr("(1000 * nr) div n").as("r_star_milli"))
    val smoothed = nr.as("a")
      .join(nr.select(col("r").as("br"), col("nr").as("bnr")),
        col("br") === col("r") + 1, "left")
      .where(col("r").between(1, 5))
      .select(col("r").cast("long").as("r"), col("nr").as("n_r"),
        expr("(1000 * (r + 1) * coalesce(bnr, 0)) div nr")
          .as("r_star_milli"))
    unseen.unionAll(smoothed).orderBy(col("r"))
  }

  /** Kneser–Ney bigram continuation probabilities (d = 3/4): for the
    * five most frequent context words, the top-3 smoothed
    * continuations P_KN(w|w') = max(c−d,0)/c(w') + d·N₁₊(w'·)/c(w') ·
    * N₁₊(·w)/|bigram types|. With d = 3/4 everything reduces to one
    * exact integer fraction over the common denominator 4·c(w')·T.
    * The bigram/unigram tables are vocab-dim-sized after the one fact
    * pass. */
  def q467: Q = Q(
    "q467_kneser_ney_bigrams",
    Some("""
      |WITH tok AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT ts[i] AS w1, ts[i + 1] AS w2
      |  FROM tok, unnest(range(1, len(ts))) AS u(i)
      |  WHERE len(ts) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, sum(c) AS cw, count(*) AS n1p FROM bc GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS ncont FROM bc GROUP BY 1),
      |t AS (SELECT count(*) AS t FROM bc),
      |ctx AS (SELECT w1, cw, n1p FROM cw
      |        ORDER BY cw DESC, w1 LIMIT 5),
      |pkn AS (
      |  SELECT ctx.w1 AS context, bc.w2 AS word, bc.c AS c_bigram,
      |         (1000 * ((4 * bc.c - 3) * t.t + 3 * ctx.n1p * cont.ncont))
      |           // (4 * ctx.cw * t.t) AS pkn_milli
      |  FROM ctx JOIN bc ON bc.w1 = ctx.w1
      |       JOIN cont ON cont.w2 = bc.w2 CROSS JOIN t),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY context
      |         ORDER BY pkn_milli DESC, word) AS rk FROM pkn)
      |SELECT context, word, CAST(c_bigram AS BIGINT) AS c_bigram,
      |       CAST(pkn_milli AS BIGINT) AS pkn_milli
      |FROM rk WHERE rk <= 3 ORDER BY context, pkn_milli DESC, word
      |""".stripMargin)) { (s, dir) =>
    val bg = Tables.documents(s, dir)
      .select(TextAnalysis.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 2)
      .select(explode(expr("transform(sequence(0, size(ts) - 2), " +
        "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .materialize() // bigram-type dim (~916 rows)
    val cw = bc.groupBy(col("w1"))
      .agg(sum(col("c")).as("cw"), count(lit(1)).as("n1p"))
    val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val t = bc.agg(count(lit(1)).as("t"))
    val ctx = cw.orderBy(col("cw").desc, col("w1")).limit(5)
      .select(col("w1").as("context"), col("cw"), col("n1p"))
    val pkn = bc.join(broadcast(ctx), col("w1") === col("context"))
      .join(broadcast(cont.withColumnRenamed("w2", "cw2")),
        col("cw2") === col("w2"))
      .crossJoin(broadcast(t))
      .select(col("context"), col("w2").as("word"),
        col("c").as("c_bigram"),
        expr("(1000 * ((4 * c - 3) * t + 3 * n1p * ncont))" +
          " div (4 * cw * t)").as("pkn_milli"))
    graft.plans.GroupedTopK.topKPerKey(pkn, Seq("context"),
        Seq("pkn_milli" -> false, "word" -> true), k = 3)
      .select(col("context"), col("word"), col("c_bigram"),
        col("pkn_milli"))
      .orderBy(col("context"), col("pkn_milli").desc, col("word"))
  }

  private def arms = Seq("click", "error", "purchase", "signup", "view")

  /** DuckDB-side exploit argmax over the five arm means by exact
    * cross-multiplication (r_i/n_i compared as r_i·n_j vs r_j·n_i),
    * ties to the lower arm index — generated here so the oracle's fold
    * text and the Scala fold can never drift semantically. */
  private def sqlArgmax(n: Int => String, r: Int => String): String = {
    // running best (index, n, r) expanded textually arm by arm
    var ib = "0"; var nb = n(0); var rb = r(0)
    for (i <- 1 until arms.size) {
      val cond = s"${r(i)} * ($nb) > ($rb) * ${n(i)}"
      ib = s"(CASE WHEN $cond THEN $i ELSE $ib END)"
      nb = s"(CASE WHEN $cond THEN ${n(i)} ELSE $nb END)"
      rb = s"(CASE WHEN $cond THEN ${r(i)} ELSE $rb END)"
    }
    ib
  }

  /** Offline ε-greedy bandit replay over the event log: arms are the
    * five event types, reward is value ≥ 50, the policy explores 10%
    * of steps via the q31 LCG on the global event index and otherwise
    * plays the best observed mean (unplayed arms first — optimistic
    * init). Replay counts only the steps whose logged arm equals the
    * policy's choice (Li et al. 2011), giving an unbiased estimate of
    * the policy's reward rate vs the logged baseline. Inherently
    * sequential ⇒ OrderedFold, constant state; the oracle replays the
    * identical integer fold via list_reduce. */
  def q468: Q = {
    val armIdxSql = "CASE event_type " +
      arms.zipWithIndex.map { case (a, i) => s"WHEN '$a' THEN $i" }
        .mkString(" ") + " END"
    // state/element struct fields: n0..n4, r0..r4, mt, rw, tt, tr + a, v
    val zeros = (0 until 5).map(i =>
      s"'n$i': CAST(0 AS BIGINT), 'r$i': CAST(0 AS BIGINT)").mkString(", ")
    def st(f: String) = s"acc[1].$f"
    val h = "((1103515245 * (acc[1].tt + 1) + 12345) % 2147483648)"
    val unplayed = (0 until 5).map(i =>
      s"WHEN ${st(s"n$i")} = 0 THEN $i").mkString(" ")
    val ch = s"(CASE WHEN $h % 10 = 0 THEN ($h // 10) % 5 " +
      s"$unplayed ELSE ${sqlArgmax(i => st(s"n$i"), i => st(s"r$i"))} END)"
    val newFields = (0 until 5).map { i =>
      s"'n$i': ${st(s"n$i")} + (CASE WHEN e[1].a = $i AND $ch = $i " +
        s"THEN 1 ELSE 0 END), " +
        s"'r$i': ${st(s"r$i")} + (CASE WHEN e[1].a = $i AND $ch = $i " +
        s"THEN e[1].v ELSE 0 END)"
    }.mkString(",\n        |      ")
    Q("q468_epsilon_greedy_replay",
      Some(s"""
        |WITH ev AS (
        |  SELECT epoch_ns(ts) AS tns, event_id,
        |         $armIdxSql AS a,
        |         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS v
        |  FROM events),
        |f AS (
        |  SELECT list_reduce(
        |    list_prepend(
        |      [{$zeros, 'mt': CAST(0 AS BIGINT), 'rw': CAST(0 AS BIGINT),
        |        'tt': CAST(0 AS BIGINT), 'tr': CAST(0 AS BIGINT),
        |        'a': CAST(0 AS BIGINT), 'v': CAST(0 AS BIGINT)}],
        |      list([{$zeros, 'mt': CAST(0 AS BIGINT),
        |        'rw': CAST(0 AS BIGINT), 'tt': CAST(0 AS BIGINT),
        |        'tr': CAST(0 AS BIGINT), 'a': CAST(a AS BIGINT),
        |        'v': CAST(v AS BIGINT)}] ORDER BY tns, event_id)),
        |    (acc, e) -> [{
        |      $newFields,
        |      'mt': ${st("mt")} + (CASE WHEN $ch = e[1].a THEN 1 ELSE 0 END),
        |      'rw': ${st("rw")} + (CASE WHEN $ch = e[1].a THEN e[1].v ELSE 0 END),
        |      'tt': acc[1].tt + 1,
        |      'tr': acc[1].tr + e[1].v,
        |      'a': CAST(0 AS BIGINT), 'v': CAST(0 AS BIGINT)}]) AS st
        |  FROM ev)
        |SELECT CAST(st[1].tt AS BIGINT) AS n_events,
        |       CAST(st[1].mt AS BIGINT) AS n_matched,
        |       CAST(st[1].rw AS BIGINT) AS n_rewarded,
        |       CAST((1000 * st[1].mt) // st[1].tt AS BIGINT)
        |         AS match_rate_milli,
        |       CAST((1000 * st[1].rw) // st[1].mt AS BIGINT)
        |         AS policy_reward_milli,
        |       CAST((1000 * st[1].tr) // st[1].tt AS BIGINT)
        |         AS logged_reward_milli
        |FROM f
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      val armIdx = arms.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (a, i)) =>
        when(col("event_type") === a, i.toLong).otherwise(acc)
      }
      val ev = Tables.events(s, dir)
        .select(lit(0L).as("g"), col("ts").as("tns"), col("event_id"),
          armIdx.as("a"),
          when(col("value") >= 50.0, 1L).otherwise(0L).as("v"))
      val out = StructType(Seq(
        StructField("n_events", LongType, nullable = false),
        StructField("n_matched", LongType, nullable = false),
        StructField("n_rewarded", LongType, nullable = false),
        StructField("total_logged", LongType, nullable = false)))
      // state array: [n0..n4, r0..r4, matched, rewarded, t, totalReward]
      val folded = graft.operators.OrderedFold.foldGroups[Array[Long]](
        ev, Seq("g"), Seq(col("tns"), col("event_id")), out)(
        init = _ => new Array[Long](14),
        step = { (stArr, row) =>
          val a = row.getLong(3).toInt
          val v = row.getLong(4)
          val t2 = stArr(12) + 1
          val h = (1103515245L * t2 + 12345L) % 2147483648L
          val ch =
            if (h % 10 == 0) ((h / 10) % 5).toInt
            else {
              val firstUnplayed = (0 until 5).find(i => stArr(i) == 0L)
              firstUnplayed.getOrElse {
                var best = 0
                var i = 1
                while (i < 5) {
                  if (stArr(5 + i) * stArr(best) >
                      stArr(5 + best) * stArr(i)) best = i
                  i += 1
                }
                best
              }
            }
          if (ch == a) {
            stArr(a) += 1; stArr(5 + a) += v
            stArr(10) += 1; stArr(11) += v
          }
          stArr(12) = t2
          stArr(13) += v
          stArr
        },
        emit = (_, st) => Iterator(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](st(12), st(10), st(11), st(13)))))
      folded.select(col("n_events"), col("n_matched"), col("n_rewarded"),
        expr("(1000 * n_matched) div n_events").as("match_rate_milli"),
        expr("(1000 * n_rewarded) div n_matched").as("policy_reward_milli"),
        expr("(1000 * total_logged) div n_events").as("logged_reward_milli"))
    }
  }

  /** Allan variance of the event arrival process at bucket widths
    * 1/2/4/8 hours: AVAR(τ) = Σ(c_{i+1}−c_i)²/(2(m−1)) over the
    * zero-filled bucket grid — the clock-stability statistic, here
    * diagnosing arrival burstiness vs white (Poisson) noise, whose
    * AVAR stays ≈ mean count at every τ. Successive differences come
    * from a VALUE join on bucket+1 (the grid is complete by
    * construction), never a row-order window. Exact integers end to
    * end. */
  def q469: Q = Q(
    "q469_allan_variance",
    Some("""
      |WITH taus(tau) AS (VALUES (1), (2), (4), (8)),
      |ev AS (SELECT epoch_ns(ts) AS tns FROM events),
      |cnt AS (
      |  SELECT taus.tau, ev.tns // (taus.tau * 3600000000000) AS b,
      |         count(*) AS c
      |  FROM ev CROSS JOIN taus GROUP BY 1, 2),
      |mm AS (SELECT min(tns) AS lo, max(tns) AS hi FROM ev),
      |grid AS (
      |  SELECT taus.tau, g.b, coalesce(cnt.c, 0) AS c
      |  FROM taus CROSS JOIN mm
      |  CROSS JOIN unnest(range(mm.lo // (taus.tau * 3600000000000),
      |                          mm.hi // (taus.tau * 3600000000000) + 1))
      |    AS g(b)
      |  LEFT JOIN cnt ON cnt.tau = taus.tau AND cnt.b = g.b),
      |d AS (
      |  SELECT x.tau, (y.c - x.c) * (y.c - x.c) AS d2
      |  FROM grid x JOIN grid y ON y.tau = x.tau AND y.b = x.b + 1),
      |agg AS (SELECT tau, count(*) AS m1, sum(d2) AS sd2 FROM d GROUP BY 1),
      |tot AS (SELECT tau, count(*) AS m, sum(c) AS n FROM grid GROUP BY 1)
      |SELECT CAST(tot.tau AS BIGINT) AS tau_hours,
      |       CAST(tot.m AS BIGINT) AS m_buckets,
      |       CAST((1000 * tot.n) // tot.m AS BIGINT) AS mean_count_milli,
      |       CAST((1000 * agg.sd2) // (2 * agg.m1) AS BIGINT) AS avar_milli
      |FROM tot JOIN agg ON tot.tau = agg.tau
      |ORDER BY tau_hours
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val taus = Seq(1, 2, 4, 8).toDF("tau")
    val ev = Tables.events(s, dir).select(col("ts").as("tns"))
      .materialize() // feeds per-tau counts and the range scalars
    val cnt = ev.crossJoin(broadcast(taus))
      .groupBy(col("tau"),
        expr("tns div (tau * 3600000000000)").as("b"))
      .agg(count(lit(1)).as("c"))
    val mm = ev.agg(min(col("tns")).as("lo"), max(col("tns")).as("hi"))
    val grid = taus.crossJoin(broadcast(mm))
      .select(col("tau"), explode(sequence(
        expr("lo div (tau * 3600000000000)"),
        expr("hi div (tau * 3600000000000)"))).as("b"))
      .join(cnt.select(col("tau").as("ct"), col("b").as("cb"), col("c")),
        col("tau") === col("ct") && col("b") === col("cb"), "left")
      .select(col("tau"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
      .materialize() // bucket dim (≤720 rows/tau)
    val d = grid.as("x")
      .join(grid.select(col("tau").as("yt"), col("b").as("yb"),
          col("c").as("yc")),
        col("yt") === col("tau") && col("yb") === col("b") + 1)
      .select(col("tau"),
        ((col("yc") - col("c")) * (col("yc") - col("c"))).as("d2"))
    val agg = d.groupBy(col("tau"))
      .agg(count(lit(1)).as("m1"), sum(col("d2")).as("sd2"))
    val tot = grid.groupBy(col("tau"))
      .agg(count(lit(1)).as("m"), sum(col("c")).as("n"))
    tot.join(agg.withColumnRenamed("tau", "at"), col("at") === col("tau"))
      .select(col("tau").cast("long").as("tau_hours"),
        col("m").as("m_buckets"),
        expr("(1000 * n) div m").as("mean_count_milli"),
        expr("(1000 * sd2) div (2 * m1)").as("avar_milli"))
      .orderBy(col("tau_hours"))
  }

  /** McNemar's paired test on median-crossing: for customers active in
    * both halves of the order history, did they sit above the
    * (half-specific) median spend in H1 but not H2, or vice versa?
    * b/c are the discordant counts, χ² = (b−c)²/(b+c) — the paired
    * test a cohort analyst runs before claiming "the top half
    * changed". Medians are exact order statistics per half; everything
    * else is exact integer arithmetic. */
  def q470: Q = Q(
    "q470_mcnemar_median_crossing",
    Some("""
      |WITH sp AS (
      |  SELECT o_custkey AS k,
      |         CASE WHEN year(o_orderdate) <= 1997 THEN 0 ELSE 1 END AS h,
      |         CAST(sum(CAST(o_totalprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY 1, 2),
      |med AS (
      |  SELECT h, max(CASE WHEN rn = (500 * n + 999) // 1000 THEN cents
      |                END) AS med
      |  FROM (SELECT h, cents,
      |               row_number() OVER (PARTITION BY h ORDER BY cents) AS rn,
      |               count(*) OVER (PARTITION BY h) AS n FROM sp) r
      |  GROUP BY 1),
      |x AS (
      |  SELECT sp.k, sp.h,
      |         CASE WHEN sp.cents > med.med THEN 1 ELSE 0 END AS hi
      |  FROM sp JOIN med ON sp.h = med.h),
      |pair AS (
      |  SELECT a.hi AS x1, b.hi AS x2
      |  FROM x a JOIN x b ON a.k = b.k AND a.h = 0 AND b.h = 1),
      |agg AS (
      |  SELECT count(*) AS n,
      |         sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END) AS b,
      |         sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END) AS c
      |  FROM pair)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |       CAST(b AS BIGINT) AS fell_below,
      |       CAST(c AS BIGINT) AS rose_above,
      |       CAST(CASE WHEN b + c = 0 THEN 0
      |            ELSE (1000 * (b - c) * (b - c)) // (b + c) END AS BIGINT)
      |         AS chi2_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    val sp = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("k"),
        when(year(col("o_orderdate")) <= 1997, 0).otherwise(1).as("h"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0)))" +
        " AS BIGINT)").as("cents"))
      .materialize()
    val med = graft.operators.OrderStats.quantilesDisc(
        sp, Seq("h"), "cents", Seq(500))
      .select(col("h").as("mh"), col("value").as("med"))
    val x = sp.join(broadcast(med), col("h") === col("mh"))
      .select(col("k"), col("h"),
        when(col("cents") > col("med"), 1L).otherwise(0L).as("hi"))
    val pair = x.where(col("h") === 0)
      .select(col("k"), col("hi").as("x1"))
      .join(x.where(col("h") === 1)
        .select(col("k").as("bk"), col("hi").as("x2")),
        col("k") === col("bk"))
    pair.agg(count(lit(1)).as("n"),
        sum(when(col("x1") === 1 && col("x2") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("x1") === 0 && col("x2") === 1, 1L).otherwise(0L))
          .as("c"))
      .select(col("n").as("n_pairs"), col("b").as("fell_below"),
        col("c").as("rose_above"),
        expr("CASE WHEN b + c = 0 THEN 0 ELSE " +
          "(1000 * (b - c) * (b - c)) div (b + c) END").as("chi2_milli"))
  }
}
