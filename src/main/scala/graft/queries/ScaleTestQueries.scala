package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables
import graft.dedup.SortedNeighborhood

/** Round-9 scale-test + stationarity wave: the Siegel-Tukey
  * alternating-extremes rank test and Mood's squared-rank scale test
  * (both R-vs-N lineitem prices, the dispersion complements of q690's
  * Ansari-Bradley), the lag-0 KPSS level statistic on monthly
  * revenue, a rolling-window stability index, and Westenberg's
  * interquartile 2×2 dispersion test.
  *
  * Scale: ranks ride the bucket-parallel globalRankCum spine; the
  * Siegel-Tukey rank is a CLOSED-FORM function of (position, n)
  * (alternating extremes; odd-n middle clamps to rank n — verified a
  * permutation for every n), so no sequential assignment is needed;
  * all rank statistics are exact integers with one pinned z each. */
object ScaleTestQueries {

  val all: Seq[Q] = Seq(q951, q952, q953, q954, q955)

  /** Oracle rank spine over R/N lineitem prices: rk(g, p) with global
    * sorted position p; gl(n, na, nb). */
  private def sqlRk: String = """
    |x AS (
    |  SELECT CAST(l_extendedprice * 100 AS BIGINT) AS v,
    |         l_orderkey * 16 + l_linenumber AS id,
    |         CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END AS g
    |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
    |rk AS (SELECT g, row_number() OVER (ORDER BY v, id) AS p FROM x),
    |gl AS (SELECT count(*) AS n,
    |              sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
    |              sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb
    |       FROM x)""".stripMargin

  /** Closed-form Siegel-Tukey rank from (p, n). */
  private def stSql: String =
    """least(CASE WHEN 2 * p <= n + 1 THEN
      |  CASE WHEN p % 2 = 1 THEN 2 * p - 1 ELSE 2 * p END
      |ELSE
      |  CASE WHEN (n + 1 - p) % 2 = 1 THEN 2 * (n + 1 - p)
      |       ELSE 2 * (n + 1 - p) - 1 END
      |END, n)""".stripMargin

  private def rkBase(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val x = Tables.lineitem(s, dir)
      .where(col("l_returnflag").isin("R", "N"))
      .select(expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
        " AS LONG)").as("v"),
        (col("l_orderkey") * 16 + col("l_linenumber")).as("id"),
        when(col("l_returnflag") === "R", 0).otherwise(1).as("g"))
      .withColumn("vb", expr("v div 1000000"))
    val rk = SortedNeighborhood.globalRankCum(x, "id", "vb", Seq("v"))
      .select(col("g"), col("__rank").as("p"))
    val gl = x.agg(count(lit(1)).as("n"),
      sum(when(col("g") === 0, 1).otherwise(0)).as("na"),
      sum(when(col("g") === 1, 1).otherwise(0)).as("nb"))
    (rk, gl)
  }

  /** Siegel-Tukey: Wilcoxon on alternating-extremes ranks — a
    * dispersion difference shows as a location shift in ST ranks. */
  def q951: Q = Q(
    "q951_siegel_tukey",
    Some(s"""
      |WITH ${sqlRk},
      |st AS (SELECT rk.g, ${stSql} AS r FROM rk CROSS JOIN gl),
      |wa AS (SELECT sum(CAST(r AS HUGEINT)) AS w FROM st WHERE g = 0)
      |SELECT CAST(wa.w AS BIGINT) AS st_rank_sum_r,
      |       CAST(floor(1000.0
      |         * (CAST(wa.w AS DOUBLE)
      |            - CAST(gl.na AS DOUBLE) * (gl.n + 1) / 2.0)
      |         / sqrt(CAST(gl.na AS DOUBLE) * gl.nb * (gl.n + 1)
      |                / 12.0)) AS BIGINT) AS st_z_milli
      |FROM wa CROSS JOIN gl
      |""".stripMargin)) { (s, dir) =>
    val (rk, gl) = rkBase(s, dir)
    val wa = rk.crossJoin(broadcast(gl))
      .select(col("g"), expr(stSql).as("r"))
      .where(col("g") === 0)
      .agg(sum(col("r").cast("decimal(38,0)")).as("w"))
    wa.crossJoin(broadcast(gl))
      .select(col("w").cast("long").as("st_rank_sum_r"),
        expr("""CAST(floor(1000.0
          |  * (CAST(w AS DOUBLE) - CAST(na AS DOUBLE) * (n + 1) / 2.0)
          |  / sqrt(CAST(na AS DOUBLE) * nb * (n + 1) / 12.0))
          |  AS BIGINT)""".stripMargin).as("st_z_milli"))
  }

  /** Mood's scale test: Σ_{g=R}(2p − n − 1)² (×4-cleared), with the
    * exact mean/variance standardization. */
  def q952: Q = Q(
    "q952_mood_scale",
    Some(s"""
      |WITH ${sqlRk},
      |md AS (SELECT sum(CAST(2 * p - gl.n - 1 AS HUGEINT)
      |                  * (2 * p - gl.n - 1)) AS m4
      |       FROM rk CROSS JOIN gl WHERE g = 0)
      |SELECT CAST(md.m4 AS BIGINT) AS mood_stat_x4,
      |       CAST(floor(1000.0
      |         * (CAST(md.m4 AS DOUBLE) / 4.0
      |            - CAST(gl.na AS DOUBLE)
      |              * (CAST(gl.n AS DOUBLE) * gl.n - 1) / 12.0)
      |         / sqrt(CAST(gl.na AS DOUBLE) * gl.nb * (gl.n + 1)
      |                * (CAST(gl.n AS DOUBLE) * gl.n - 4) / 180.0))
      |         AS BIGINT) AS mood_z_milli
      |FROM md CROSS JOIN gl
      |""".stripMargin)) { (s, dir) =>
    val (rk, gl) = rkBase(s, dir)
    val md = rk.crossJoin(broadcast(gl)).where(col("g") === 0)
      .select(((col("p") * 2 - col("n") - 1).cast("decimal(38,0)")
        * (col("p") * 2 - col("n") - 1)).as("t"))
      .agg(sum(col("t")).as("m4"))
    md.crossJoin(broadcast(gl))
      .select(col("m4").cast("long").as("mood_stat_x4"),
        expr("""CAST(floor(1000.0
          |  * (CAST(m4 AS DOUBLE) / 4.0
          |     - CAST(na AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1) / 12.0)
          |  / sqrt(CAST(na AS DOUBLE) * nb * (n + 1)
          |         * (CAST(n AS DOUBLE) * n - 4) / 180.0)) AS BIGINT)"""
          .stripMargin).as("mood_z_milli"))
  }

  /** Lag-0 KPSS level statistic on monthly revenue: η = ΣP_t²/(n²σ̂²)
    * over n-cleared centered partial sums (no HAC, documented). */
  def q953: Q = Q(
    "q953_kpss_level",
    Some(s"""
      |WITH ${MonthSeries.sql},
      |gl AS (SELECT count(*) AS n, sum(CAST(z AS HUGEINT)) AS s
      |       FROM sq),
      |ut AS (SELECT t, gl.n * CAST(z AS HUGEINT) - gl.s AS u
      |       FROM sq CROSS JOIN gl),
      |ps AS (SELECT t, sum(u) OVER (ORDER BY t) AS pt, u FROM ut),
      |ag AS (SELECT sum(CAST(pt AS DOUBLE) * CAST(pt AS DOUBLE)) AS sp2,
      |              sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)) AS su2
      |       FROM ps)
      |SELECT (SELECT CAST(n AS BIGINT) FROM gl) AS n_months,
      |       CAST(floor(1000.0 * ag.sp2
      |            / (CAST((SELECT n FROM gl) AS DOUBLE)
      |               * (SELECT n FROM gl) * ag.su2 / (SELECT n FROM gl)))
      |            AS BIGINT) AS kpss_eta_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    val sq = MonthSeries.frame(s, dir).materialize()
    val gl = sq.agg(count(lit(1)).as("n"),
      sum(col("z").cast("decimal(38,0)")).as("s"))
    val ps = sq.crossJoin(broadcast(gl))
      .select(col("t"), col("n"),
        (col("n") * col("z") - col("s")).as("u"))
      .select(col("t"), col("n"), col("u"),
        sum(col("u")).over(Window.orderBy(col("t"))).as("pt"))
    ps.agg(max(col("n")).as("n"),
        sum(expr("CAST(pt AS DOUBLE) * CAST(pt AS DOUBLE)")).as("sp2"),
        sum(expr("CAST(u AS DOUBLE) * CAST(u AS DOUBLE)")).as("su2"))
      .select(col("n").cast("long").as("n_months"),
        expr("""CAST(floor(1000.0 * sp2
          |  / (CAST(n AS DOUBLE) * n * su2 / n)) AS BIGINT)"""
          .stripMargin).as("kpss_eta_milli"))
  }

  /** Rolling 12-month stability: max/min window mean ratio and the
    * rolling-sd spread — a drifting level shows as a ratio ≫ 1. */
  def q954: Q = Q(
    "q954_rolling_stability",
    Some(s"""
      |WITH ${MonthSeries.sql},
      |rw AS (SELECT t, sum(z) OVER w AS sw, count(*) OVER w AS cw
      |       FROM sq WINDOW w AS (ORDER BY t ROWS BETWEEN 11 PRECEDING
      |                            AND CURRENT ROW)),
      |fw AS (SELECT sw FROM rw WHERE cw = 12),
      |ag AS (SELECT max(sw) AS mx, min(sw) AS mn, count(*) AS nw
      |       FROM fw)
      |SELECT CAST(nw AS BIGINT) AS n_windows,
      |       CAST((1000 * mx) // mn AS BIGINT) AS mean_ratio_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    val sq = MonthSeries.frame(s, dir)
    val w = Window.orderBy(col("t")).rowsBetween(-11, 0)
    sq.select(sum(col("z")).over(w).as("sw"),
        count(lit(1)).over(w).as("cw"))
      .where(col("cw") === 12)
      .agg(max(col("sw")).as("mx"), min(col("sw")).as("mn"),
        count(lit(1)).as("nw"))
      .select(col("nw").cast("long").as("n_windows"),
        expr("CAST((1000 * mx) div mn AS BIGINT)")
          .as("mean_ratio_milli"))
  }

  /** Westenberg interquartile test: 2×2 of group × inside/outside the
    * POOLED IQR — dispersion differences load the outside cells. */
  def q955: Q = Q(
    "q955_westenberg_iqr",
    Some(s"""
      |WITH ${sqlRk},
      |vc AS (SELECT v AS val, sum(c) OVER (ORDER BY v) AS cum FROM
      |  (SELECT v, count(*) AS c FROM x GROUP BY 1)),
      |q1 AS (SELECT min(val) AS q FROM vc CROSS JOIN gl
      |       WHERE 4 * cum >= gl.n),
      |q3 AS (SELECT min(val) AS q FROM vc CROSS JOIN gl
      |       WHERE 4 * cum >= 3 * gl.n),
      |ct AS (SELECT
      |  sum(CASE WHEN g = 0 AND v >= q1.q AND v <= q3.q THEN 1
      |      ELSE 0 END) AS a_in,
      |  sum(CASE WHEN g = 0 AND (v < q1.q OR v > q3.q) THEN 1
      |      ELSE 0 END) AS a_out,
      |  sum(CASE WHEN g = 1 AND v >= q1.q AND v <= q3.q THEN 1
      |      ELSE 0 END) AS b_in,
      |  sum(CASE WHEN g = 1 AND (v < q1.q OR v > q3.q) THEN 1
      |      ELSE 0 END) AS b_out
      |  FROM x CROSS JOIN q1 CROSS JOIN q3)
      |SELECT CAST(a_in AS BIGINT) AS r_inside,
      |       CAST(a_out AS BIGINT) AS r_outside,
      |       CAST(b_in AS BIGINT) AS n_inside,
      |       CAST(b_out AS BIGINT) AS n_outside,
      |       CAST((1000 * a_out * b_in) // (a_in * b_out) AS BIGINT)
      |         AS dispersion_or_milli
      |FROM ct
      |""".stripMargin)) { (s, dir) =>
    val x = Tables.lineitem(s, dir)
      .where(col("l_returnflag").isin("R", "N"))
      .select(expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
        " AS LONG)").as("v"),
        when(col("l_returnflag") === "R", 0).otherwise(1).as("g"))
      .materialize()
    val gl = x.agg(count(lit(1)).as("n"))
    val vc = x.groupBy(col("v").as("val")).agg(count(lit(1)).as("c"))
      .select(col("val"),
        sum(col("c")).over(Window.orderBy(col("val"))).as("cum"))
      .crossJoin(broadcast(gl)).materialize()
    val q1 = vc.where(col("cum") * 4 >= col("n"))
      .agg(min(col("val")).as("q1v"))
    val q3 = vc.where(col("cum") * 4 >= col("n") * 3)
      .agg(min(col("val")).as("q3v"))
    x.crossJoin(broadcast(q1)).crossJoin(broadcast(q3))
      .agg(
        sum(when(col("g") === 0 && col("v") >= col("q1v")
          && col("v") <= col("q3v"), 1).otherwise(0)).as("a_in"),
        sum(when(col("g") === 0 && (col("v") < col("q1v")
          || col("v") > col("q3v")), 1).otherwise(0)).as("a_out"),
        sum(when(col("g") === 1 && col("v") >= col("q1v")
          && col("v") <= col("q3v"), 1).otherwise(0)).as("b_in"),
        sum(when(col("g") === 1 && (col("v") < col("q1v")
          || col("v") > col("q3v")), 1).otherwise(0)).as("b_out"))
      .select(col("a_in").cast("long").as("r_inside"),
        col("a_out").cast("long").as("r_outside"),
        col("b_in").cast("long").as("n_inside"),
        col("b_out").cast("long").as("n_outside"),
        expr("CAST((1000 * a_out * b_in) div (a_in * b_out) AS BIGINT)")
          .as("dispersion_or_milli"))
  }
}
