package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-11 temporal-geostatistics wave on the daily-revenue series:
  * the empirical semivariogram over a fixed lag set, the madogram /
  * rodogram robust variants, a phase-conditioned lag-1 variogram
  * (anisotropy in the t mod 7 weekly phase), a linear variogram fit
  * (nugget / slope / R²), and the revenue×quantity cross-variogram
  * with the codispersion coefficient.
  *
  * Exactness: diffs ride exact revenue cents; squared terms are
  * DECIMAL(19,0)×DECIMAL(19,0) products summed in DECIMAL(38,0)
  * (order-free, overflow-checked both engines); |d| sums are BIGINT;
  * per-pair irrational terms (√|d|) are milli-floored BEFORE the
  * sum; every final statistic is ONE shared-text double formula over
  * those exact sums, so floors cannot straddle engine boundaries.
  *
  * Scale: the series is CALENDAR-bounded (~2.5k days at every sf);
  * the only fact-scaled pass is the day aggregate (q1096-q1099 ride
  * the [[DaySeries.revenue]] spine; q1100 needs the quantity column
  * too and aggregates once inline). Lag pairs are a day-dim
  * self-join against a broadcast 8-row lag dim — O(days·lags). */
object GeostatQueries {

  val all: Seq[Q] = Seq(q1096, q1097, q1098, q1099, q1100)

  // def, NOT val: `all` builds oracle strings at object init
  private def lags = Seq(1, 2, 3, 5, 7, 14, 21, 28)

  private def sqlLg: String =
    s"""lg AS (SELECT * FROM (VALUES ${lags.map(h => s"($h)").mkString(",")}) v(h))"""

  /** Oracle lag-pair CTE pr(h, ta, d) with d = z(t+h) − z(t). */
  private def sqlPr: String = s"""
    |${DaySeries.sql},
    |${sqlLg},
    |pr AS (SELECT lg.h, a.t AS ta, b.z - a.z AS d
    |       FROM lg CROSS JOIN sq a JOIN sq b ON b.t = a.t + lg.h)""".stripMargin

  /** Spark twin of [[sqlPr]]. */
  private def pr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sq = DaySeries.revenue(s, dir)
    val lg = broadcast(lags.toDF("h"))
    val a = sq.select(col("t").as("ta"), col("z").as("za"))
    val b = sq.select(col("t").as("tb"), col("z").as("zb"))
    a.crossJoin(lg)
      .join(b, col("tb") === col("ta") + col("h"))
      .select(col("h"), col("ta"), (col("zb") - col("za")).as("d"))
  }

  /** Shared exact squared-diff sum text (DECIMAL(38,0)). */
  private def sd2: String =
    "sum(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0)))"

  /** Empirical semivariogram γ(h) = Σd²/(2N) per lag, absolute
    * (mega-cents², i.e. cents²/10⁶) and relative to the series
    * population variance. */
  def q1096: Q = {
    val gamma = "(CAST(sd2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)))"
    val varf = "((CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)" +
      " * CAST(sz AS DOUBLE) / CAST(nt AS DOUBLE)) / CAST(nt AS DOUBLE))"
    Q("q1096_semivariogram",
      Some(s"""
        |WITH ${sqlPr},
        |g AS (SELECT h, count(*) AS n, ${sd2} AS sd2 FROM pr GROUP BY 1),
        |v AS (SELECT count(*) AS nt, sum(CAST(z AS DECIMAL(19,0))) AS sz,
        |             sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
        |               AS szz
        |      FROM sq)
        |SELECT CAST(h AS BIGINT) AS lag_h, CAST(n AS BIGINT) AS n_pairs,
        |       CAST(floor($gamma / 1000000.0) AS BIGINT)
        |         AS gamma_megacents2,
        |       CAST(floor(1000.0 * $gamma / $varf) AS BIGINT)
        |         AS gamma_over_var_milli
        |FROM g CROSS JOIN v ORDER BY lag_h
        |""".stripMargin)) { (s, dir) =>
      val g = pr(s, dir).groupBy(col("h"))
        .agg(count(lit(1)).as("n"), expr(sd2).as("sd2"))
      val v = DaySeries.revenue(s, dir)
        .agg(count(lit(1)).as("nt"),
          sum(col("z").cast("decimal(19,0)")).as("sz"),
          expr("sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))")
            .as("szz"))
      g.crossJoin(broadcast(v))
        .select(col("h").cast("long").as("lag_h"),
          col("n").cast("long").as("n_pairs"),
          expr(s"CAST(floor($gamma / 1000000.0) AS BIGINT)")
            .as("gamma_megacents2"),
          expr(s"CAST(floor(1000.0 * $gamma / $varf) AS BIGINT)")
            .as("gamma_over_var_milli"))
        .orderBy(col("lag_h"))
    }
  }

  /** Madogram (½·mean |d|, exact integer cents) and rodogram
    * (½·mean √|d|, per-pair milli-floored) per lag. */
  def q1097: Q = Q(
    "q1097_madogram_rodogram",
    Some(s"""
      |WITH ${sqlPr},
      |g AS (SELECT h, count(*) AS n, sum(abs(d)) AS sa,
      |             sum(CAST(floor(1000.0 * sqrt(CAST(abs(d) AS DOUBLE)))
      |                 AS BIGINT)) AS rq
      |      FROM pr GROUP BY 1)
      |SELECT CAST(h AS BIGINT) AS lag_h, CAST(n AS BIGINT) AS n_pairs,
      |       CAST(sa // (2 * n) AS BIGINT) AS mado_cents,
      |       CAST(rq // (2 * n) AS BIGINT) AS rodo_millisqrt
      |FROM g ORDER BY lag_h
      |""".stripMargin)) { (s, dir) =>
    pr(s, dir).groupBy(col("h"))
      .agg(count(lit(1)).as("n"), sum(abs(col("d"))).as("sa"),
        sum(expr("CAST(floor(1000.0 * sqrt(CAST(abs(d) AS DOUBLE)))" +
          " AS BIGINT)")).as("rq"))
      .select(col("h").cast("long").as("lag_h"),
        col("n").cast("long").as("n_pairs"),
        expr("CAST(sa div (2 * n) AS BIGINT)").as("mado_cents"),
        expr("CAST(rq div (2 * n) AS BIGINT)").as("rodo_millisqrt"))
      .orderBy(col("lag_h"))
  }

  /** Phase-conditioned lag-1 variogram: γ(1) per weekly phase
    * (t mod 7 of the left day — the dense index phase, stated), and
    * its ratio to the pooled γ(1). */
  def q1098: Q = {
    val gph = "(CAST(sd2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)))"
    val gall = "(CAST(ad2 AS DOUBLE) / (2.0 * CAST(an AS DOUBLE)))"
    Q("q1098_phase_variogram",
      Some(s"""
        |WITH ${sqlPr},
        |p1 AS (SELECT ta % 7 AS phase, d FROM pr WHERE h = 1),
        |g AS (SELECT phase, count(*) AS n, ${sd2} AS sd2
        |      FROM p1 GROUP BY 1),
        |al AS (SELECT count(*) AS an, ${sd2} AS ad2 FROM p1)
        |SELECT CAST(phase AS BIGINT) AS phase,
        |       CAST(n AS BIGINT) AS n_pairs,
        |       CAST(floor($gph / 1000000.0) AS BIGINT)
        |         AS gamma_megacents2,
        |       CAST(floor(1000.0 * $gph / $gall) AS BIGINT)
        |         AS rel_pooled_milli
        |FROM g CROSS JOIN al ORDER BY phase
        |""".stripMargin)) { (s, dir) =>
      val p1 = pr(s, dir).where(col("h") === 1)
        .select(pmod(col("ta"), lit(7)).as("phase"), col("d"))
      val g = p1.groupBy(col("phase"))
        .agg(count(lit(1)).as("n"), expr(sd2).as("sd2"))
      val al = p1.agg(count(lit(1)).as("an"), expr(sd2).as("ad2"))
      g.crossJoin(broadcast(al))
        .select(col("phase").cast("long").as("phase"),
          col("n").cast("long").as("n_pairs"),
          expr(s"CAST(floor($gph / 1000000.0) AS BIGINT)")
            .as("gamma_megacents2"),
          expr(s"CAST(floor(1000.0 * $gph / $gall) AS BIGINT)")
            .as("rel_pooled_milli"))
        .orderBy(col("phase"))
    }
  }

  /** Linear variogram fit γ(h) ≈ nugget + slope·h over the lag set:
    * per-lag γ is mega-floored to an exact integer FIRST, the OLS
    * moments are integer/decimal sums over the 8-row lag dim, and
    * slope / nugget / R² finish in one shared double step. */
  def q1099: Q = {
    val den = "(CAST(nl AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val num = "(CAST(nl AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val slope = s"($num / $den)"
    val icept = s"((CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE))" +
      " / CAST(nl AS DOUBLE))"
    val r2 = s"($num * $num / ($den * (CAST(nl AS DOUBLE)" +
      " * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
    Q("q1099_variogram_fit",
      Some(s"""
        |WITH ${sqlPr},
        |g AS (SELECT h, count(*) AS n, ${sd2} AS sd2 FROM pr GROUP BY 1),
        |y AS (SELECT h, CAST(floor(CAST(sd2 AS DOUBLE)
        |        / (2.0 * CAST(n AS DOUBLE)) / 1000000.0) AS BIGINT) AS y
        |      FROM g),
        |mo AS (SELECT count(*) AS nl, sum(h) AS sx, sum(y) AS sy,
        |              sum(h * h) AS sxx, sum(h * y) AS sxy,
        |              sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS syy
        |       FROM y)
        |SELECT CAST(nl AS BIGINT) AS n_lags,
        |       CAST(floor($icept) AS BIGINT) AS nugget_megacents2,
        |       CAST(floor($slope) AS BIGINT) AS slope_megacents2_per_lag,
        |       CAST(floor(1000.0 * $r2) AS BIGINT) AS r2_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      val g = pr(s, dir).groupBy(col("h"))
        .agg(count(lit(1)).as("n"), expr(sd2).as("sd2"))
      val y = g.select(col("h"),
        expr("CAST(floor(CAST(sd2 AS DOUBLE)" +
          " / (2.0 * CAST(n AS DOUBLE)) / 1000000.0) AS BIGINT)").as("y"))
      y.agg(count(lit(1)).as("nl"), sum(col("h")).as("sx"),
        sum(col("y")).as("sy"), sum(col("h") * col("h")).as("sxx"),
        sum(col("h") * col("y")).as("sxy"),
        expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("syy"))
        .select(col("nl").cast("long").as("n_lags"),
          expr(s"CAST(floor($icept) AS BIGINT)").as("nugget_megacents2"),
          expr(s"CAST(floor($slope) AS BIGINT)")
            .as("slope_megacents2_per_lag"),
          expr(s"CAST(floor(1000.0 * $r2) AS BIGINT)").as("r2_milli"))
    }
  }

  /** Revenue×quantity cross-variogram γ_xy(h) = Σ(dx·dy)/(2N) and the
    * codispersion coefficient γ_xy/√(γ_x·γ_y) per lag. */
  def q1100: Q = {
    val codisp = "(CAST(sxy AS DOUBLE) / sqrt(CAST(sd2x AS DOUBLE)" +
      " * CAST(sd2y AS DOUBLE)))"
    Q("q1100_cross_variogram",
      Some(s"""
        |WITH day AS (SELECT CAST(l_shipdate AS DATE) AS dd,
        |               sum(CAST(l_extendedprice * 100 AS BIGINT)) AS z,
        |               sum(CAST(l_quantity AS BIGINT)) AS q
        |        FROM lineitem GROUP BY 1),
        |sq AS (SELECT row_number() OVER (ORDER BY dd) AS t, z, q FROM day),
        |${sqlLg},
        |pr AS (SELECT lg.h, b.z - a.z AS dx, b.q - a.q AS dy
        |       FROM lg CROSS JOIN sq a JOIN sq b ON b.t = a.t + lg.h),
        |g AS (SELECT h, count(*) AS n,
        |             sum(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
        |               AS sxy,
        |             sum(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)))
        |               AS sd2x,
        |             sum(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
        |               AS sd2y
        |      FROM pr GROUP BY 1)
        |SELECT CAST(h AS BIGINT) AS lag_h, CAST(n AS BIGINT) AS n_pairs,
        |       CAST(floor(CAST(sxy AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))
        |           / 1000.0) AS BIGINT) AS gxy_kilocentsqty,
        |       CAST(floor(1000.0 * $codisp) AS BIGINT) AS codisp_milli
        |FROM g ORDER BY lag_h
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val day = Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast("date").as("dd"),
          expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
            .as("v"),
          col("l_quantity").cast("long").as("qv"))
        .groupBy(col("dd"))
        .agg(sum(col("v")).as("z"), sum(col("qv")).as("q"))
      val sq = day.select(
        row_number().over(Window.orderBy(col("dd"))).as("t"),
        col("z"), col("q"))
      val lg = broadcast(lags.toDF("h"))
      val a = sq.select(col("t").as("ta"), col("z").as("za"),
        col("q").as("qa"))
      val b = sq.select(col("t").as("tb"), col("z").as("zb"),
        col("q").as("qb"))
      a.crossJoin(lg)
        .join(b, col("tb") === col("ta") + col("h"))
        .select(col("h"), (col("zb") - col("za")).as("dx"),
          (col("qb") - col("qa")).as("dy"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"),
          expr("sum(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))")
            .as("sxy"),
          expr("sum(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)))")
            .as("sd2x"),
          expr("sum(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))")
            .as("sd2y"))
        .select(col("h").cast("long").as("lag_h"),
          col("n").cast("long").as("n_pairs"),
          expr("CAST(floor(CAST(sxy AS DOUBLE)" +
            " / (2.0 * CAST(n AS DOUBLE)) / 1000.0) AS BIGINT)")
            .as("gxy_kilocentsqty"),
          expr(s"CAST(floor(1000.0 * $codisp) AS BIGINT)")
            .as("codisp_milli"))
        .orderBy(col("lag_h"))
    }
  }
}
