package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-11 dependence-horizon wave — the MCMC-style "how many
  * independent observations is this series worth" diagnostics:
  * integrated autocorrelation time with the initial-positive
  * truncation rule, the Geweke first-10%-vs-last-50% mean test,
  * batch-means effective sample size, a deterministic circular
  * block bootstrap of the mean, and an overdispersion panel on
  * daily order counts.
  *
  * Exactness: autocovariances ride n·z − Σz scaled-centered
  * DECIMAL(19,0)² products (order-free); each r_k is milli-floored
  * from one shared double step BEFORE the integer τ sum, so the
  * truncation rule (first non-positive r_k) reads the SAME integers
  * in both engines; block resamples use the q1131 hash-congruence
  * discipline; count moments are exact integers.
  *
  * Scale: q1136-q1139 are day-dim work over the
  * [[DaySeries.revenue]] spine (lag pairs against a broadcast
  * 20-row dim; the block frame is B×slots×50 ≈ 80k rows); q1140 is
  * ONE orders scan aggregated to the day dim. */
object EssQueries {

  val all: Seq[Q] = Seq(q1136, q1137, q1138, q1139, q1140)

  // def, NOT val: `all` builds oracle strings at object init
  private def maxLag = 20
  private def blockB = 32
  private def blockL = 50

  /** Oracle per-lag milli ACF rk(k, r) for k = 1..maxLag (full-series
    * centering, denominator S₀). */
  private def sqlRk: String = s"""
    |${DaySeries.sql},
    |ag AS (SELECT count(*) AS n, sum(z) AS sz FROM sq),
    |ctr AS (SELECT t, n * z - sz AS c FROM sq CROSS JOIN ag),
    |s0 AS (SELECT sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
    |           AS v0
    |       FROM ctr),
    |lgk AS (SELECT * FROM (VALUES ${(1 to maxLag).map(k => s"($k)").mkString(",")}) v(k)),
    |rk AS (SELECT lgk.k,
    |         CAST(floor(1000.0 * CAST(sum(CAST(a.c AS DECIMAL(19,0))
    |             * CAST(b.c AS DECIMAL(19,0))) AS DOUBLE)
    |           / CAST(max(s0.v0) AS DOUBLE)) AS BIGINT) AS r
    |       FROM lgk CROSS JOIN ctr a JOIN ctr b ON b.t = a.t + lgk.k
    |            CROSS JOIN s0
    |       GROUP BY 1)""".stripMargin

  /** Spark twin of [[sqlRk]]. */
  private def rk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sq = DaySeries.revenue(s, dir)
    val ag = sq.agg(count(lit(1)).as("n"), sum(col("z")).as("sz"))
    val ctr = sq.crossJoin(broadcast(ag))
      .select(col("t"), (col("n") * col("z") - col("sz")).as("c"))
    val s0 = ctr.agg(
      expr("sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))")
        .as("v0"))
    val lgk = broadcast((1 to maxLag).toDF("k"))
    val a = ctr.select(col("t").as("ta"), col("c").as("ca"))
    val b = ctr.select(col("t").as("tb"), col("c").as("cb"))
    a.crossJoin(lgk)
      .join(b, col("tb") === col("ta") + col("k"))
      .groupBy(col("k"))
      .agg(expr("sum(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)))")
        .as("sk"))
      .crossJoin(broadcast(s0))
      .select(col("k"),
        expr("CAST(floor(1000.0 * CAST(sk AS DOUBLE)" +
          " / CAST(v0 AS DOUBLE)) AS BIGINT)").as("r"))
  }

  /** Integrated autocorrelation time τ = 1 + 2·Σ r_k truncated at
    * the first non-positive r_k (Geyer initial-positive rule), and
    * the effective sample size n/τ. */
  def q1136: Q = Q(
    "q1136_autocorr_time_ess",
    Some(s"""
      |WITH ${sqlRk},
      |stp AS (SELECT coalesce(min(k), ${maxLag + 1}) AS kstop
      |        FROM rk WHERE r <= 0),
      |tau AS (SELECT max(stp.kstop) - 1 AS k_used,
      |          1000 + 2 * coalesce(sum(CASE WHEN rk.k < stp.kstop
      |            THEN rk.r END), 0) AS tau_milli
      |        FROM rk CROSS JOIN stp)
      |SELECT CAST(ag.n AS BIGINT) AS n_days,
      |       CAST(tau.k_used AS BIGINT) AS k_used,
      |       CAST(tau.tau_milli AS BIGINT) AS tau_milli,
      |       CAST((1000 * ag.n) // tau.tau_milli AS BIGINT) AS ess
      |FROM tau CROSS JOIN ag
      |""".stripMargin)) { (s, dir) =>
    val r = rk(s, dir)
    val stp = r.where(col("r") <= 0)
      .agg(coalesce(min(col("k")), lit(maxLag + 1)).as("kstop"))
    val ag = DaySeries.revenue(s, dir).agg(count(lit(1)).as("n"))
    val tau = r.crossJoin(broadcast(stp))
      .agg(max(col("kstop")).as("ks"),
        (lit(1000) + lit(2) * coalesce(
          sum(when(col("k") < col("kstop"), col("r"))), lit(0L)))
          .as("tau_milli"))
    tau.crossJoin(broadcast(ag))
      .select(col("n").cast("long").as("n_days"),
        (col("ks") - 1).cast("long").as("k_used"),
        col("tau_milli").cast("long").as("tau_milli"),
        expr("CAST((1000 * n) div tau_milli AS BIGINT)").as("ess"))
  }

  /** Geweke diagnostic: mean of the first 10% vs the last 50%
    * (z from exact per-window moments, one shared double step). */
  def q1137: Q = {
    val z = "((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
      " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))" +
      " / sqrt((CAST(v1 AS DOUBLE) - CAST(s1 AS DOUBLE)" +
      " * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))" +
      " / CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
      " + (CAST(v2 AS DOUBLE) - CAST(s2 AS DOUBLE)" +
      " * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))" +
      " / CAST(n2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
    Q("q1137_geweke_diagnostic",
      Some(s"""
        |WITH ${DaySeries.sql},
        |ag AS (SELECT count(*) AS n FROM sq),
        |w1 AS (SELECT count(*) AS n1, sum(z) AS s1,
        |         sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
        |           AS v1
        |       FROM sq CROSS JOIN ag WHERE t <= n // 10),
        |w2 AS (SELECT count(*) AS n2, sum(z) AS s2,
        |         sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
        |           AS v2
        |       FROM sq CROSS JOIN ag WHERE t > n - n // 2)
        |SELECT CAST(n1 AS BIGINT) AS n_head,
        |       CAST(n2 AS BIGINT) AS n_tail,
        |       CAST(s1 // n1 - s2 // n2 AS BIGINT) AS mean_gap_cents,
        |       CAST(floor(1000.0 * $z) AS BIGINT) AS z_milli
        |FROM w1 CROSS JOIN w2
        |""".stripMargin)) { (s, dir) =>
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"))
      def win(cond: org.apache.spark.sql.Column, sfx: String) =
        sq.crossJoin(broadcast(ag)).where(cond)
          .agg(count(lit(1)).as(s"n$sfx"), sum(col("z")).as(s"s$sfx"),
            expr("sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))")
              .as(s"v$sfx"))
      val w1 = win(col("t") <= expr("n div 10"), "1")
      val w2 = win(col("t") > col("n") - expr("n div 2"), "2")
      w1.crossJoin(broadcast(w2))
        .select(col("n1").cast("long").as("n_head"),
          col("n2").cast("long").as("n_tail"),
          expr("CAST(s1 div n1 - s2 div n2 AS BIGINT)")
            .as("mean_gap_cents"),
          expr(s"CAST(floor(1000.0 * $z) AS BIGINT)").as("z_milli"))
    }
  }

  /** Batch-means ESS: 50 equal batches, τ = m·var(batch means)/var,
    * batch means milli-floored before the cross-batch moments. */
  def q1138: Q = {
    val tau = "(CAST(m AS DOUBLE) * ((CAST(nb AS DOUBLE)" +
      " * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))" +
      " / CAST(nb AS DOUBLE) / CAST(nb AS DOUBLE))" +
      " / (1000000.0 * (CAST(n2 AS DOUBLE) * CAST(szz AS DOUBLE)" +
      " - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))" +
      " / CAST(n2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
    Q("q1138_batch_means_ess",
      Some(s"""
        |WITH ${DaySeries.sql},
        |ag AS (SELECT count(*) AS n, count(*) // 50 AS m FROM sq),
        |bm AS (SELECT (t - 1) // m AS batch,
        |         (1000 * sum(z)) // count(*) AS bmean
        |       FROM sq CROSS JOIN ag WHERE t <= 50 * m GROUP BY 1),
        |mo AS (SELECT count(*) AS nb, sum(bmean) AS sb,
        |         sum(CAST(bmean AS DECIMAL(19,0)) * CAST(bmean AS DECIMAL(19,0)))
        |           AS sbb
        |       FROM bm),
        |ov AS (SELECT count(*) AS n2, sum(z) AS sz,
        |         sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
        |           AS szz
        |       FROM sq CROSS JOIN ag WHERE t <= 50 * m),
        |fin AS (SELECT ag.m, mo.nb, mo.sb, mo.sbb, ov.n2, ov.sz, ov.szz
        |        FROM ag CROSS JOIN mo CROSS JOIN ov)
        |SELECT CAST(nb AS BIGINT) AS n_batches,
        |       CAST(m AS BIGINT) AS batch_size,
        |       CAST(floor(1000.0 * $tau) AS BIGINT) AS tau_milli,
        |       CAST(floor(1000.0 * CAST(n2 AS DOUBLE)
        |           / greatest($tau, 1.0)) AS BIGINT) AS ess_milli
        |FROM fin
        |""".stripMargin)) { (s, dir) =>
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"),
        expr("count(*) div 50").as("m"))
      val base = sq.crossJoin(broadcast(ag))
        .where(col("t") <= lit(50) * col("m"))
      val bm = base.groupBy(expr("(t - 1) div m").as("batch"))
        .agg(expr("(1000 * sum(z)) div count(*)").as("bmean"))
      val mo = bm.agg(count(lit(1)).as("nb"), sum(col("bmean")).as("sb"),
        expr("sum(CAST(bmean AS DECIMAL(19,0))" +
          " * CAST(bmean AS DECIMAL(19,0)))").as("sbb"))
      val ov = base.agg(count(lit(1)).as("n2"), sum(col("z")).as("sz"),
        expr("sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))")
          .as("szz"))
      ag.crossJoin(broadcast(mo)).crossJoin(broadcast(ov))
        .select(col("nb").cast("long").as("n_batches"),
          col("m").cast("long").as("batch_size"),
          expr(s"CAST(floor(1000.0 * $tau) AS BIGINT)").as("tau_milli"),
          expr(s"CAST(floor(1000.0 * CAST(n2 AS DOUBLE)" +
            s" / greatest($tau, 1.0)) AS BIGINT)").as("ess_milli"))
    }
  }

  /** Deterministic circular block bootstrap of the mean: B = 32
    * resamples of wrapped length-50 blocks (hash-congruence starts;
    * resample length ⌈n/L⌉·L, stated), SE across resample means. */
  def q1139: Q = {
    val se = "(sqrt((CAST(bn AS DOUBLE) * CAST(smm AS DOUBLE)" +
      " - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))" +
      " / CAST(bn AS DOUBLE) / (CAST(bn AS DOUBLE) - 1.0)))"
    Q("q1139_circular_block_bootstrap",
      Some(s"""
        |WITH ${DaySeries.sql},
        |ag AS (SELECT count(*) AS n,
        |              (count(*) + ${blockL - 1}) // ${blockL} AS slots
        |       FROM sq),
        |bs AS (SELECT * FROM (VALUES ${(1 to blockB).map(b => s"($b)").mkString(",")}) v(b)),
        |sl AS (SELECT t AS j FROM sq CROSS JOIN ag WHERE t <= slots),
        |off AS (SELECT * FROM range(0, ${blockL}) r(i)),
        |pos AS (SELECT bs.b,
        |          1 + ((1 + ((bs.b * 2654435761 + sl.j * 97911)
        |              % 2147483648) % ag.n) - 1 + off.i) % ag.n AS tt
        |        FROM bs CROSS JOIN sl CROSS JOIN off CROSS JOIN ag),
        |rj AS (SELECT pos.b, sq.z AS z2 FROM pos JOIN sq ON sq.t = pos.tt),
        |rm AS (SELECT b, (1000 * sum(z2)) // count(*) AS m
        |       FROM rj GROUP BY 1),
        |mo AS (SELECT count(*) AS bn, sum(m) AS sm,
        |         sum(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)))
        |           AS smm
        |       FROM rm)
        |SELECT CAST(bn AS BIGINT) AS n_resamples,
        |       CAST(${blockL} AS BIGINT) AS block_len,
        |       CAST(sm // bn AS BIGINT) AS boot_mean_millicents,
        |       CAST(floor($se) AS BIGINT) AS block_se_millicents
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"),
        expr(s"(count(*) + ${blockL - 1}) div ${blockL}").as("slots"))
      val bs = broadcast((1 to blockB).toDF("b"))
      val off = broadcast((0 until blockL).toDF("i"))
      // slot dim from the day dim (bounded), sized by `slots`
      val sl = sq.crossJoin(broadcast(ag))
        .where(col("t") <= col("slots")).select(col("t").as("j"))
      val pos = sl.crossJoin(bs).crossJoin(off)
        .crossJoin(broadcast(ag))
        .select(col("b"),
          (lit(1) + pmod(
            (lit(1) + pmod(pmod(col("b") * 2654435761L +
              col("j") * 97911L, lit(2147483648L)), col("n"))) - 1 +
              col("i"), col("n"))).as("tt"))
      val s2 = sq.select(col("t").as("t2"), col("z").as("z2"))
      val rm = pos.join(s2, col("t2") === col("tt"))
        .groupBy(col("b"))
        .agg(expr("(1000 * sum(z2)) div count(*)").as("m"))
      rm.agg(count(lit(1)).as("bn"), sum(col("m")).as("sm"),
        expr("sum(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)))")
          .as("smm"))
        .select(col("bn").cast("long").as("n_resamples"),
          lit(blockL.toLong).as("block_len"),
          expr("CAST(sm div bn AS BIGINT)").as("boot_mean_millicents"),
          expr(s"CAST(floor($se) AS BIGINT)").as("block_se_millicents"))
    }
  }

  /** Overdispersion panel on daily order counts: dispersion index,
    * Fisher statistic, and negative-binomial MoM (r, p) — NULL when
    * var ≤ mean (stated CASE). */
  def q1140: Q = {
    val mean = "(CAST(sc AS DOUBLE) / CAST(nd AS DOUBLE))"
    val vr = "((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)" +
      " * CAST(sc AS DOUBLE) / CAST(nd AS DOUBLE)) / CAST(nd AS DOUBLE))"
    val disp = s"($vr / $mean)"
    val nbr = s"(CASE WHEN $vr > $mean THEN CAST(floor(1000.0 * $mean" +
      s" * $mean / ($vr - $mean)) AS BIGINT) ELSE NULL END)"
    val nbp = s"(CASE WHEN $vr > $mean THEN CAST(floor(1000.0 * $mean" +
      s" / $vr) AS BIGINT) ELSE NULL END)"
    Q("q1140_overdispersion_panel",
      Some(s"""
        |WITH oc AS (SELECT CAST(o_orderdate AS DATE) AS dd,
        |              count(*) AS c
        |            FROM orders GROUP BY 1),
        |mo AS (SELECT count(*) AS nd, sum(c) AS sc,
        |         sum(CAST(c AS BIGINT) * c) AS scc
        |       FROM oc)
        |SELECT CAST(nd AS BIGINT) AS n_days,
        |       CAST(sc AS BIGINT) AS n_orders,
        |       CAST(floor(1000.0 * $disp) AS BIGINT) AS dispersion_milli,
        |       CAST(floor(CAST(nd - 1 AS DOUBLE) * $disp) AS BIGINT)
        |         AS fisher_stat,
        |       $nbr AS nb_r_milli,
        |       $nbp AS nb_p_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderdate").cast("date").as("dd"))
        .groupBy(col("dd")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("nd"), sum(col("c")).as("sc"),
          sum(expr("CAST(c AS BIGINT) * c")).as("scc"))
        .select(col("nd").cast("long").as("n_days"),
          col("sc").cast("long").as("n_orders"),
          expr(s"CAST(floor(1000.0 * $disp) AS BIGINT)")
            .as("dispersion_milli"),
          expr(s"CAST(floor(CAST(nd - 1 AS DOUBLE) * $disp) AS BIGINT)")
            .as("fisher_stat"),
          expr(nbr).as("nb_r_milli"), expr(nbp).as("nb_p_milli"))
    }
  }
}
