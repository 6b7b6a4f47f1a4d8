package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 deterministic-bootstrap wave on the daily-revenue
  * values: B = 64 hash-indexed resamples (no RNG — the resample
  * index is the multiplicative-hash congruence
  * idx = 1 + ((b·2654435761 + t·40503) mod 2³¹) mod n, identical
  * integer arithmetic in both engines), giving the bootstrap SE of
  * the mean, the bootstrap SE of the median, the percentile CI of
  * the mean, the bootstrap bias of the std estimator, and
  * bootstrap-t quantiles.
  *
  * Exactness: resample sums/counts/moments are exact integers or
  * DECIMAL(19,0)² products; every per-resample statistic (mean
  * milli, median cents, std milli, t milli) is floor-quantized from
  * ONE shared-text double step BEFORE the cross-resample integer
  * moments; resample-level quantiles are type-1 (ceil) ranks with
  * stated tie order.
  *
  * Scale: the value set is the CALENDAR-bounded day dim
  * ([[DaySeries.revenue]] spine); the resample frame is B×days
  * (~160k rows) built by crossing a broadcast 64-row b dim and
  * joining back to the day dim on the hashed index — the same
  * pattern survives a fact-sized value set (shuffle on idx). */
object BootstrapQueries {

  val all: Seq[Q] = Seq(q1131, q1132, q1133, q1134, q1135)

  // def, NOT val: `all` builds oracle strings at object init
  private def nB = 64

  /** Oracle resample frame rj(b, z2): value drawn at each (b, t). */
  private def sqlRj: String = s"""
    |${DaySeries.sql},
    |ag AS (SELECT count(*) AS n FROM sq),
    |bs AS (SELECT * FROM (VALUES ${(1 to nB).map(b => s"($b)").mkString(",")}) v(b)),
    |ix AS (SELECT bs.b, 1 + ((bs.b * 2654435761 + sq.t * 40503)
    |           % 2147483648) % ag.n AS idx
    |       FROM bs CROSS JOIN sq CROSS JOIN ag),
    |rj AS (SELECT ix.b, s2.z AS z2 FROM ix JOIN sq s2 ON s2.t = ix.idx)""".stripMargin

  /** Spark twin of [[sqlRj]]. */
  private def rj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sq = DaySeries.revenue(s, dir)
    val ag = sq.agg(count(lit(1)).as("n"))
    val bs = broadcast((1 to nB).toDF("b"))
    val ix = sq.crossJoin(broadcast(ag)).crossJoin(bs)
      .select(col("b"),
        (lit(1) + pmod(pmod(col("b") * 2654435761L + col("t") * 40503L,
          lit(2147483648L)), col("n"))).as("idx"))
    val s2 = sq.select(col("t").as("t2"), col("z").as("z2"))
    ix.join(s2, col("t2") === col("idx")).select(col("b"), col("z2"))
  }

  /** Per-resample milli-cent means rm(b, m) — shared helper text. */
  private def sqlRm: String = s"""
    |${sqlRj},
    |rm AS (SELECT b, (1000 * sum(z2)) // count(*) AS m
    |       FROM rj GROUP BY 1)""".stripMargin

  private def rm(s: SparkSession, dir: String): DataFrame =
    rj(s, dir).groupBy(col("b"))
      .agg(expr("(1000 * sum(z2)) div count(*)").as("m"))

  /** Bootstrap SE of the mean: integer moments of the 64 resample
    * means, one shared double sqrt. */
  def q1131: Q = {
    val se = "(sqrt((CAST(bn AS DOUBLE) * CAST(smm AS DOUBLE)" +
      " - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))" +
      " / CAST(bn AS DOUBLE) / (CAST(bn AS DOUBLE) - 1.0)))"
    Q("q1131_bootstrap_mean_se",
      Some(s"""
        |WITH ${sqlRm},
        |og AS (SELECT (1000 * sum(z)) // count(*) AS m0 FROM sq),
        |mo AS (SELECT count(*) AS bn, sum(m) AS sm,
        |         sum(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)))
        |           AS smm
        |       FROM rm)
        |SELECT CAST(bn AS BIGINT) AS n_resamples,
        |       CAST(m0 AS BIGINT) AS orig_mean_millicents,
        |       CAST(sm // bn AS BIGINT) AS boot_mean_millicents,
        |       CAST(floor($se) AS BIGINT) AS boot_se_millicents
        |FROM mo CROSS JOIN og
        |""".stripMargin)) { (s, dir) =>
      val og = DaySeries.revenue(s, dir)
        .agg(expr("(1000 * sum(z)) div count(*)").as("m0"))
      val mo = rm(s, dir)
        .agg(count(lit(1)).as("bn"), sum(col("m")).as("sm"),
          expr("sum(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0)))")
            .as("smm"))
      mo.crossJoin(broadcast(og))
        .select(col("bn").cast("long").as("n_resamples"),
          col("m0").cast("long").as("orig_mean_millicents"),
          expr("CAST(sm div bn AS BIGINT)").as("boot_mean_millicents"),
          expr(s"CAST(floor($se) AS BIGINT)").as("boot_se_millicents"))
    }
  }

  /** Bootstrap SE of the median (per-resample type-1 median at rank
    * ceil(n/2), ties by value then draw order — the resample is a
    * multiset so value order suffices, stated). */
  def q1132: Q = {
    val se = "(sqrt((CAST(bn AS DOUBLE) * CAST(smm AS DOUBLE)" +
      " - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))" +
      " / CAST(bn AS DOUBLE) / (CAST(bn AS DOUBLE) - 1.0)))"
    Q("q1132_bootstrap_median_se",
      Some(s"""
        |WITH ${sqlRj},
        |rk AS (SELECT b, z2, row_number() OVER (PARTITION BY b
        |         ORDER BY z2) AS rn, count(*) OVER (PARTITION BY b) AS nb
        |       FROM rj),
        |md AS (SELECT b, min(z2) AS med FROM rk
        |       WHERE rn = CAST(ceil(0.5 * nb) AS BIGINT) GROUP BY 1),
        |og AS (SELECT min(z) AS med0 FROM (
        |         SELECT z, row_number() OVER (ORDER BY z, t) AS rn FROM sq)
        |         x CROSS JOIN ag WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
        |mo AS (SELECT count(*) AS bn, sum(med) AS sm,
        |         sum(CAST(med AS DECIMAL(19,0)) * CAST(med AS DECIMAL(19,0)))
        |           AS smm
        |       FROM md)
        |SELECT CAST(bn AS BIGINT) AS n_resamples,
        |       CAST(med0 AS BIGINT) AS orig_median_cents,
        |       CAST(sm // bn AS BIGINT) AS boot_median_mean_cents,
        |       CAST(floor($se) AS BIGINT) AS boot_se_cents
        |FROM mo CROSS JOIN og
        |""".stripMargin)) { (s, dir) =>
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"))
      val rk = rj(s, dir).select(col("b"), col("z2"),
        row_number().over(Window.partitionBy(col("b"))
          .orderBy(col("z2"))).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("b"))).as("nb"))
      val md = rk.where(col("rn") ===
        expr("CAST(ceil(0.5 * nb) AS BIGINT)"))
        .groupBy(col("b")).agg(min(col("z2")).as("med"))
      val og = sq.select(col("z"),
        row_number().over(Window.orderBy(col("z"), col("t"))).as("rn"))
        .crossJoin(broadcast(ag))
        .where(col("rn") === expr("CAST(ceil(0.5 * n) AS BIGINT)"))
        .agg(min(col("z")).as("med0"))
      val mo = md.agg(count(lit(1)).as("bn"), sum(col("med")).as("sm"),
        expr("sum(CAST(med AS DECIMAL(19,0)) * CAST(med AS DECIMAL(19,0)))")
          .as("smm"))
      mo.crossJoin(broadcast(og))
        .select(col("bn").cast("long").as("n_resamples"),
          col("med0").cast("long").as("orig_median_cents"),
          expr("CAST(sm div bn AS BIGINT)").as("boot_median_mean_cents"),
          expr(s"CAST(floor($se) AS BIGINT)").as("boot_se_cents"))
    }
  }

  /** Percentile bootstrap CI of the mean: type-1 2.5% / 97.5%
    * quantiles of the 64 resample means (ranks ceil(0.025B) and
    * ceil(0.975B); ties by mean then resample id). */
  def q1133: Q = Q(
    "q1133_bootstrap_percentile_ci",
    Some(s"""
      |WITH ${sqlRm},
      |rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn,
      |              count(*) OVER () AS bn
      |       FROM rm),
      |ci AS (SELECT
      |         min(CASE WHEN rn = CAST(ceil(0.025 * bn) AS BIGINT)
      |             THEN m END) AS lo,
      |         min(CASE WHEN rn = CAST(ceil(0.975 * bn) AS BIGINT)
      |             THEN m END) AS hi,
      |         max(bn) AS bn
      |       FROM rk),
      |og AS (SELECT (1000 * sum(z)) // count(*) AS m0 FROM sq)
      |SELECT CAST(bn AS BIGINT) AS n_resamples,
      |       CAST(m0 AS BIGINT) AS orig_mean_millicents,
      |       CAST(lo AS BIGINT) AS ci_lo_millicents,
      |       CAST(hi AS BIGINT) AS ci_hi_millicents,
      |       CAST(hi - lo AS BIGINT) AS ci_width_millicents
      |FROM ci CROSS JOIN og
      |""".stripMargin)) { (s, dir) =>
    val rk = rm(s, dir).select(col("m"), col("b"),
      row_number().over(Window.orderBy(col("m"), col("b"))).as("rn"),
      count(lit(1)).over(Window.partitionBy()).as("bn"))
    val ci = rk.agg(
      min(when(col("rn") === expr("CAST(ceil(0.025 * bn) AS BIGINT)"),
        col("m"))).as("lo"),
      min(when(col("rn") === expr("CAST(ceil(0.975 * bn) AS BIGINT)"),
        col("m"))).as("hi"),
      max(col("bn")).as("bn"))
    val og = DaySeries.revenue(s, dir)
      .agg(expr("(1000 * sum(z)) div count(*)").as("m0"))
    ci.crossJoin(broadcast(og))
      .select(col("bn").cast("long").as("n_resamples"),
        col("m0").cast("long").as("orig_mean_millicents"),
        col("lo").cast("long").as("ci_lo_millicents"),
        col("hi").cast("long").as("ci_hi_millicents"),
        (col("hi") - col("lo")).cast("long").as("ci_width_millicents"))
  }

  /** Bootstrap bias of the population-std estimator: per-resample
    * std milli-floored from exact moments, compared to the original
    * std. */
  def q1134: Q = {
    val sdb = "(sqrt((CAST(nb AS DOUBLE) * CAST(szz AS DOUBLE)" +
      " - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))" +
      " / CAST(nb AS DOUBLE) / CAST(nb AS DOUBLE)))"
    val sd0 = "(sqrt((CAST(n AS DOUBLE) * CAST(szz0 AS DOUBLE)" +
      " - CAST(sz0 AS DOUBLE) * CAST(sz0 AS DOUBLE))" +
      " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)))"
    Q("q1134_bootstrap_std_bias",
      Some(s"""
        |WITH ${sqlRj},
        |rs AS (SELECT b, count(*) AS nb, sum(z2) AS sz,
        |         sum(CAST(z2 AS DECIMAL(19,0)) * CAST(z2 AS DECIMAL(19,0)))
        |           AS szz
        |       FROM rj GROUP BY 1),
        |sb AS (SELECT b, CAST(floor(1000.0 * $sdb) AS BIGINT) AS sd
        |       FROM rs),
        |og AS (SELECT count(*) AS n, sum(z) AS sz0,
        |         sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
        |           AS szz0
        |       FROM sq),
        |o2 AS (SELECT CAST(floor(1000.0 * $sd0) AS BIGINT) AS sd0
        |       FROM og),
        |mo AS (SELECT count(*) AS bn, sum(sd) AS ssd FROM sb)
        |SELECT CAST(bn AS BIGINT) AS n_resamples,
        |       CAST(sd0 AS BIGINT) AS orig_std_millicents,
        |       CAST(ssd // bn AS BIGINT) AS boot_std_mean_millicents,
        |       CAST(ssd // bn - sd0 AS BIGINT) AS bias_millicents
        |FROM mo CROSS JOIN o2
        |""".stripMargin)) { (s, dir) =>
      val rs = rj(s, dir).groupBy(col("b"))
        .agg(count(lit(1)).as("nb"), sum(col("z2")).as("sz"),
          expr("sum(CAST(z2 AS DECIMAL(19,0)) * CAST(z2 AS DECIMAL(19,0)))")
            .as("szz"))
      val sb = rs.select(col("b"),
        expr(s"CAST(floor(1000.0 * $sdb) AS BIGINT)").as("sd"))
      val o2 = DaySeries.revenue(s, dir)
        .agg(count(lit(1)).as("n"), sum(col("z")).as("sz0"),
          expr("sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))")
            .as("szz0"))
        .select(expr(s"CAST(floor(1000.0 * $sd0) AS BIGINT)").as("sd0"))
      val mo = sb.agg(count(lit(1)).as("bn"), sum(col("sd")).as("ssd"))
      mo.crossJoin(broadcast(o2))
        .select(col("bn").cast("long").as("n_resamples"),
          col("sd0").as("orig_std_millicents"),
          expr("CAST(ssd div bn AS BIGINT)")
            .as("boot_std_mean_millicents"),
          expr("CAST(ssd div bn - sd0 AS BIGINT)").as("bias_millicents"))
    }
  }

  /** Bootstrap-t quantiles: t_b = (mean_b − mean₀)/(std_b/√n_b)
    * milli-floored per resample, type-1 2.5%/97.5% ranks. */
  def q1135: Q = {
    val tb = "(1000.0 * (CAST(sz AS DOUBLE) / CAST(nb AS DOUBLE)" +
      " - CAST(sz0 AS DOUBLE) / CAST(n AS DOUBLE))" +
      " / (sqrt((CAST(nb AS DOUBLE) * CAST(szz AS DOUBLE)" +
      " - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))" +
      " / CAST(nb AS DOUBLE) / CAST(nb AS DOUBLE))" +
      " / sqrt(CAST(nb AS DOUBLE))))"
    Q("q1135_bootstrap_t",
      Some(s"""
        |WITH ${sqlRj},
        |og AS (SELECT count(*) AS n, sum(z) AS sz0 FROM sq),
        |rs AS (SELECT b, count(*) AS nb, sum(z2) AS sz,
        |         sum(CAST(z2 AS DECIMAL(19,0)) * CAST(z2 AS DECIMAL(19,0)))
        |           AS szz
        |       FROM rj GROUP BY 1),
        |tt AS (SELECT b, CAST(floor($tb) AS BIGINT) AS tm
        |       FROM rs CROSS JOIN og),
        |rk AS (SELECT tm, row_number() OVER (ORDER BY tm, b) AS rn,
        |              count(*) OVER () AS bn
        |       FROM tt)
        |SELECT CAST(max(bn) AS BIGINT) AS n_resamples,
        |       CAST(min(CASE WHEN rn = CAST(ceil(0.025 * bn) AS BIGINT)
        |            THEN tm END) AS BIGINT) AS t_lo_milli,
        |       CAST(min(CASE WHEN rn = CAST(ceil(0.5 * bn) AS BIGINT)
        |            THEN tm END) AS BIGINT) AS t_med_milli,
        |       CAST(min(CASE WHEN rn = CAST(ceil(0.975 * bn) AS BIGINT)
        |            THEN tm END) AS BIGINT) AS t_hi_milli
        |FROM rk
        |""".stripMargin)) { (s, dir) =>
      val og = DaySeries.revenue(s, dir)
        .agg(count(lit(1)).as("n"), sum(col("z")).as("sz0"))
      val rs = rj(s, dir).groupBy(col("b"))
        .agg(count(lit(1)).as("nb"), sum(col("z2")).as("sz"),
          expr("sum(CAST(z2 AS DECIMAL(19,0)) * CAST(z2 AS DECIMAL(19,0)))")
            .as("szz"))
      val tt = rs.crossJoin(broadcast(og))
        .select(col("b"), expr(s"CAST(floor($tb) AS BIGINT)").as("tm"))
      val rk = tt.select(col("tm"), col("b"),
        row_number().over(Window.orderBy(col("tm"), col("b"))).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("bn"))
      rk.agg(max(col("bn")).cast("long").as("n_resamples"),
        min(when(col("rn") === expr("CAST(ceil(0.025 * bn) AS BIGINT)"),
          col("tm"))).cast("long").as("t_lo_milli"),
        min(when(col("rn") === expr("CAST(ceil(0.5 * bn) AS BIGINT)"),
          col("tm"))).cast("long").as("t_med_milli"),
        min(when(col("rn") === expr("CAST(ceil(0.975 * bn) AS BIGINT)"),
          col("tm"))).cast("long").as("t_hi_milli"))
    }
  }
}
