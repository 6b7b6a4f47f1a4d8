package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Materialize.MatOps

/** Round-11 interpolation-backtest wave: reconstruct the EVEN months
  * of the monthly-revenue series from the ODD months (knots) with
  * four interpolants — linear, Catmull–Rom cubic Hermite,
  * Fritsch–Carlson monotone cubic, and Akima — and compare their
  * errors. Every even month sits exactly at t = ½ between two
  * knots, so the Hermite basis collapses to
  * p = (y₀+y₁)/2 + (m₀−m₁)/8.
  *
  * Exactness: linear and Catmull–Rom predictions are EXACT integer
  * rationals over 16 (16·p = 8(y₀+y₁) + (y₁−y₋₁) − (y₂−y₀)), so
  * their errors are exact cents×16; Fritsch–Carlson (harmonic-mean
  * limited slopes, zero across sign changes) and Akima
  * (|Δd|-weighted slopes, arithmetic-mean fallback at zero weights
  * — both stated CASEs) compute the per-target prediction in ONE
  * shared double text and cent-floor it before the error moments.
  * Targets are restricted to interior months where all four knots
  * y₋₁..y₂ exist (stated).
  *
  * Scale: one lineitem pass to the ~84-month dim; everything after
  * is windows over the ~42-knot frame. */
object InterpolationQueries {

  val all: Seq[Q] = Seq(q1176, q1177, q1178, q1179, q1180)

  /** Oracle CTEs ending in seg(m, a16, ym1, y0, y1, y2) — targets
    * with the 4 surrounding knots; a16 = 16·actual. */
  private def sqlSeg: String = """
    |md0 AS (SELECT (year(CAST(l_shipdate AS DATE)) - 1992) * 12
    |          + month(CAST(l_shipdate AS DATE)) AS mraw,
    |          sum(CAST(l_extendedprice * 100 AS BIGINT)) AS y
    |        FROM lineitem GROUP BY 1),
    |mm AS (SELECT dense_rank() OVER (ORDER BY mraw) AS m, y FROM md0),
    |kn AS (SELECT (m + 1) // 2 AS ki, y FROM mm WHERE m % 2 = 1),
    |kw AS (SELECT ki, lag(y, 1) OVER (ORDER BY ki) AS ym1, y AS y0,
    |              lead(y, 1) OVER (ORDER BY ki) AS y1,
    |              lead(y, 2) OVER (ORDER BY ki) AS y2
    |       FROM kn),
    |seg AS (SELECT t.m, 16 * t.y AS a16, k.ym1, k.y0, k.y1, k.y2
    |        FROM (SELECT m, y FROM mm WHERE m % 2 = 0) t
    |        JOIN kw k ON k.ki = t.m // 2
    |        WHERE k.ym1 IS NOT NULL AND k.y1 IS NOT NULL
    |          AND k.y2 IS NOT NULL)""".stripMargin

  /** Spark twin of [[sqlSeg]]. */
  private def seg(s: SparkSession, dir: String): DataFrame = {
    val md0 = Tables.lineitem(s, dir)
      .groupBy(((year(col("l_shipdate").cast("date")) - 1992) * 12
        + month(col("l_shipdate").cast("date"))).as("mraw"))
      .agg(expr("sum(CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
        " AS LONG))").as("y"))
    val mm = md0.select(
      dense_rank().over(Window.orderBy(col("mraw"))).as("m"), col("y"))
    val wk = Window.orderBy(col("ki"))
    val kw = mm.where(pmod(col("m"), lit(2)) === 1)
      .select(expr("(m + 1) div 2").as("ki"), col("y"))
      .select(col("ki"), lag(col("y"), 1).over(wk).as("ym1"),
        col("y").as("y0"), lead(col("y"), 1).over(wk).as("y1"),
        lead(col("y"), 2).over(wk).as("y2"))
    mm.where(pmod(col("m"), lit(2)) === 0)
      .select(col("m"), (lit(16) * col("y")).as("a16"))
      .join(kw, col("ki") === expr("m div 2"))
      .where(col("ym1").isNotNull && col("y1").isNotNull &&
        col("y2").isNotNull)
      .select(col("m"), col("a16"), col("ym1"), col("y0"), col("y1"),
        col("y2"))
  }

  /** Shared error-summary SQL over er(e) in cents×16. */
  private def sqlErrOut: String = """
    |SELECT CAST(count(*) AS BIGINT) AS n_targets,
    |       CAST(sum(abs(e)) // (16 * count(*)) AS BIGINT) AS mae_cents,
    |       CAST(floor(sqrt(CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE)
    |           / count(*)) / 16.0) AS BIGINT) AS rmse_cents,
    |       CAST(sum(e) // (16 * count(*)) AS BIGINT) AS bias_cents
    |FROM er""".stripMargin

  private def errOut(er: DataFrame): DataFrame =
    er.agg(count(lit(1)).as("n"), sum(abs(col("e"))).as("sa"),
      expr("sum(CAST(e AS DECIMAL(19,0)) * CAST(e AS DECIMAL(19,0)))")
        .as("s2"),
      sum(col("e")).as("se"))
      .select(col("n").cast("long").as("n_targets"),
        expr("CAST(sa div (16 * n) AS BIGINT)").as("mae_cents"),
        expr("CAST(floor(sqrt(CAST(s2 AS DOUBLE) / n) / 16.0)" +
          " AS BIGINT)").as("rmse_cents"),
        expr("CAST(se div (16 * n) AS BIGINT)").as("bias_cents"))

  /** Linear midpoint backtest (exact: 16·p = 8(y₀+y₁)). */
  def q1176: Q = Q(
    "q1176_linear_interp_backtest",
    Some(s"""
      |WITH ${sqlSeg},
      |er AS (SELECT a16 - 8 * (y0 + y1) AS e FROM seg)
      |${sqlErrOut}
      |""".stripMargin)) { (s, dir) =>
    errOut(seg(s, dir).select((col("a16") - lit(8) * (col("y0")
      + col("y1"))).as("e")))
  }

  /** Catmull–Rom midpoint backtest (exact rational over 16). */
  def q1177: Q = Q(
    "q1177_catmull_rom_backtest",
    Some(s"""
      |WITH ${sqlSeg},
      |er AS (SELECT a16 - (8 * (y0 + y1) + (y1 - ym1) - (y2 - y0)) AS e
      |       FROM seg)
      |${sqlErrOut}
      |""".stripMargin)) { (s, dir) =>
    errOut(seg(s, dir).select((col("a16") - (lit(8) * (col("y0")
      + col("y1")) + (col("y1") - col("ym1"))
      - (col("y2") - col("y0")))).as("e")))
  }

  /** Shared Fritsch–Carlson limited-slope text (secants dl, dc, dr
    * as columns): slope at the knot between dl and dc. */
  private def fcSlope(dl: String, dc: String): String =
    s"(CASE WHEN ($dl > 0 AND $dc > 0) OR ($dl < 0 AND $dc < 0)" +
      s" THEN 2.0 * CAST($dl AS DOUBLE) * CAST($dc AS DOUBLE)" +
      s" / (CAST($dl AS DOUBLE) + CAST($dc AS DOUBLE))" +
      " ELSE 0.0 END)"

  /** Fritsch–Carlson monotone cubic backtest + limiter activations
    * (slope zeroed across a sign change). */
  def q1178: Q = {
    val m0 = fcSlope("(y0 - ym1)", "(y1 - y0)")
    val m1 = fcSlope("(y1 - y0)", "(y2 - y1)")
    val pred = s"(CAST(y0 + y1 AS DOUBLE) / 2.0 + ($m0 - $m1) / 8.0)"
    Q("q1178_fritsch_carlson_backtest",
      Some(s"""
        |WITH ${sqlSeg},
        |er AS (SELECT a16 - CAST(floor(16.0 * $pred) AS BIGINT) AS e,
        |         CASE WHEN NOT (((y0 - ym1) > 0 AND (y1 - y0) > 0)
        |              OR ((y0 - ym1) < 0 AND (y1 - y0) < 0))
        |              OR NOT (((y1 - y0) > 0 AND (y2 - y1) > 0)
        |              OR ((y1 - y0) < 0 AND (y2 - y1) < 0))
        |              THEN 1 ELSE 0 END AS lim
        |       FROM seg),
        |lm AS (SELECT sum(lim) AS limiters FROM er)
        |SELECT q.*, CAST(lm.limiters AS BIGINT) AS limiter_targets
        |FROM (${sqlErrOut.replace("FROM er", "FROM er")}) q
        |CROSS JOIN lm
        |""".stripMargin)) { (s, dir) =>
      val er = seg(s, dir)
        .select((col("a16") -
          expr(s"CAST(floor(16.0 * $pred) AS BIGINT)")).as("e"),
          expr("""CASE WHEN NOT (((y0 - ym1) > 0 AND (y1 - y0) > 0)
               OR ((y0 - ym1) < 0 AND (y1 - y0) < 0))
               OR NOT (((y1 - y0) > 0 AND (y2 - y1) > 0)
               OR ((y1 - y0) < 0 AND (y2 - y1) < 0))
               THEN 1 ELSE 0 END""").as("lim"))
      val lm = er.agg(sum(col("lim")).as("limiters"))
      errOut(er.select(col("e"))).crossJoin(broadcast(lm))
        .select(col("n_targets"), col("mae_cents"), col("rmse_cents"),
          col("bias_cents"),
          col("limiters").cast("long").as("limiter_targets"))
    }
  }

  /** Shared Akima slope text given four secants (da, db, dc, dd):
    * slope between db and dc (arith-mean fallback, stated). */
  private def akSlope(da: String, db: String, dc: String,
      dd: String): String = {
    val w1 = s"abs(CAST($dd AS DOUBLE) - CAST($dc AS DOUBLE))"
    val w2 = s"abs(CAST($db AS DOUBLE) - CAST($da AS DOUBLE))"
    s"(CASE WHEN $w1 + $w2 > 0.0" +
      s" THEN ($w1 * CAST($db AS DOUBLE) + $w2 * CAST($dc AS DOUBLE))" +
      s" / ($w1 + $w2)" +
      s" ELSE (CAST($db AS DOUBLE) + CAST($dc AS DOUBLE)) / 2.0 END)"
  }

  /** Oracle CTEs ending in seg(m, a16, ym2, ym1, y0, y1, y2, y3) —
    * [[sqlSeg]]'s targets widened to 3 knots each side (Akima). */
  private def sqlSegWide: String =
    """md0 AS (SELECT (year(CAST(l_shipdate AS DATE)) - 1992) * 12
      |          + month(CAST(l_shipdate AS DATE)) AS mraw,
      |          sum(CAST(l_extendedprice * 100 AS BIGINT)) AS y
      |        FROM lineitem GROUP BY 1),
      |mm AS (SELECT dense_rank() OVER (ORDER BY mraw) AS m, y FROM md0),
      |kn AS (SELECT (m + 1) // 2 AS ki, y FROM mm WHERE m % 2 = 1),
      |kw AS (SELECT ki, lag(y, 2) OVER (ORDER BY ki) AS ym2,
      |              lag(y, 1) OVER (ORDER BY ki) AS ym1, y AS y0,
      |              lead(y, 1) OVER (ORDER BY ki) AS y1,
      |              lead(y, 2) OVER (ORDER BY ki) AS y2,
      |              lead(y, 3) OVER (ORDER BY ki) AS y3
      |       FROM kn),
      |seg AS (SELECT t.m, 16 * t.y AS a16, k.ym2, k.ym1, k.y0, k.y1,
      |               k.y2, k.y3
      |        FROM (SELECT m, y FROM mm WHERE m % 2 = 0) t
      |        JOIN kw k ON k.ki = t.m // 2
      |        WHERE k.ym2 IS NOT NULL AND k.y3 IS NOT NULL)""".stripMargin

  /** Spark twin of [[sqlSegWide]]. */
  private def segWide(s: SparkSession, dir: String): DataFrame = {
    val md0 = Tables.lineitem(s, dir)
      .groupBy(((year(col("l_shipdate").cast("date")) - 1992) * 12
        + month(col("l_shipdate").cast("date"))).as("mraw"))
      .agg(expr("sum(CAST(CAST(l_extendedprice * 100" +
        " AS DECIMAL(38,0)) AS LONG))").as("y"))
    val mm = md0.select(
      dense_rank().over(Window.orderBy(col("mraw"))).as("m"), col("y"))
    val wk = Window.orderBy(col("ki"))
    val kw = mm.where(pmod(col("m"), lit(2)) === 1)
      .select(expr("(m + 1) div 2").as("ki"), col("y"))
      .select(col("ki"), lag(col("y"), 2).over(wk).as("ym2"),
        lag(col("y"), 1).over(wk).as("ym1"), col("y").as("y0"),
        lead(col("y"), 1).over(wk).as("y1"),
        lead(col("y"), 2).over(wk).as("y2"),
        lead(col("y"), 3).over(wk).as("y3"))
    mm.where(pmod(col("m"), lit(2)) === 0)
      .select(col("m"), (lit(16) * col("y")).as("a16"))
      .join(kw, col("ki") === expr("m div 2"))
      .where(col("ym2").isNotNull && col("y3").isNotNull)
  }

  /** Akima backtest — needs secants d₋₂..d₁, so targets are further
    * restricted to knots with 3 left / 3 right neighbors (the kw
    * window is widened; stated). */
  def q1179: Q = {
    // secants around the segment [k, k+1]: s_m2=(ym1-ym2), s_m1=(y0-ym1),
    // s_0=(y1-y0), s_p1=(y2-y1), s_p2=(y3-y2)
    val m0 = akSlope("(ym1 - ym2)", "(y0 - ym1)", "(y1 - y0)",
      "(y2 - y1)")
    val m1 = akSlope("(y0 - ym1)", "(y1 - y0)", "(y2 - y1)",
      "(y3 - y2)")
    val pred = s"(CAST(y0 + y1 AS DOUBLE) / 2.0 + ($m0 - $m1) / 8.0)"
    Q("q1179_akima_backtest",
      Some(s"""
        |WITH ${sqlSegWide},
        |er AS (SELECT a16 - CAST(floor(16.0 * $pred) AS BIGINT) AS e
        |       FROM seg)
        |${sqlErrOut}
        |""".stripMargin)) { (s, dir) =>
      val sg = segWide(s, dir)
      errOut(sg.select((col("a16") -
        expr(s"CAST(floor(16.0 * $pred) AS BIGINT)")).as("e")))
    }
  }

  /** Method comparison on the COMMON Akima-eligible target set:
    * per-method RMSE rows with a dense rank (1 = best). */
  def q1180: Q = {
    val m0fc = fcSlope("(y0 - ym1)", "(y1 - y0)")
    val m1fc = fcSlope("(y1 - y0)", "(y2 - y1)")
    val predFc = s"(CAST(y0 + y1 AS DOUBLE) / 2.0" +
      s" + ($m0fc - $m1fc) / 8.0)"
    val m0ak = akSlope("(ym1 - ym2)", "(y0 - ym1)", "(y1 - y0)",
      "(y2 - y1)")
    val m1ak = akSlope("(y0 - ym1)", "(y1 - y0)", "(y2 - y1)",
      "(y3 - y2)")
    val predAk = s"(CAST(y0 + y1 AS DOUBLE) / 2.0" +
      s" + ($m0ak - $m1ak) / 8.0)"
    Q("q1180_interp_method_ranking",
      Some(s"""
        |WITH ${sqlSegWide},
        |ev AS (SELECT 'a_linear' AS method, a16 - 8 * (y0 + y1) AS e
        |         FROM seg
        |       UNION ALL
        |       SELECT 'b_catmull_rom',
        |         a16 - (8 * (y0 + y1) + (y1 - ym1) - (y2 - y0)) FROM seg
        |       UNION ALL
        |       SELECT 'c_fritsch_carlson',
        |         a16 - CAST(floor(16.0 * $predFc) AS BIGINT) FROM seg
        |       UNION ALL
        |       SELECT 'd_akima',
        |         a16 - CAST(floor(16.0 * $predAk) AS BIGINT) FROM seg),
        |mo AS (SELECT method, count(*) AS n,
        |         CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) AS s2
        |       FROM ev GROUP BY 1),
        |rr AS (SELECT method, n,
        |         CAST(floor(sqrt(s2 / n) / 16.0) AS BIGINT) AS rmse_cents
        |       FROM mo)
        |SELECT method, CAST(n AS BIGINT) AS n_targets, rmse_cents,
        |       CAST(rank() OVER (ORDER BY rmse_cents, method) AS BIGINT)
        |         AS rank_no
        |FROM rr ORDER BY method
        |""".stripMargin)) { (s, dir) =>
      val sg = segWide(s, dir)
        .materialize()
      def ev(name: String, e: org.apache.spark.sql.Column) =
        sg.select(lit(name).as("method"), e.as("e"))
      val all4 = ev("a_linear", col("a16") - lit(8) * (col("y0")
        + col("y1")))
        .unionAll(ev("b_catmull_rom", col("a16") - (lit(8) * (col("y0")
          + col("y1")) + (col("y1") - col("ym1"))
          - (col("y2") - col("y0")))))
        .unionAll(ev("c_fritsch_carlson", col("a16") -
          expr(s"CAST(floor(16.0 * $predFc) AS BIGINT)")))
        .unionAll(ev("d_akima", col("a16") -
          expr(s"CAST(floor(16.0 * $predAk) AS BIGINT)")))
      all4.groupBy(col("method"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(e AS DECIMAL(19,0))" +
            " * CAST(e AS DECIMAL(19,0))) AS DOUBLE)").as("s2"))
        .select(col("method"), col("n").cast("long").as("n_targets"),
          expr("CAST(floor(sqrt(s2 / n) / 16.0) AS BIGINT)")
            .as("rmse_cents"))
        .withColumn("rank_no",
          rank().over(Window.orderBy(col("rmse_cents"), col("method")))
            .cast("long"))
        .orderBy(col("method"))
    }
  }
}
