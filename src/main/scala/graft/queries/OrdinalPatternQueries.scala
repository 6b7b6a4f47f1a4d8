package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 ordinal-pattern wave (Bandt–Pompe permutation analysis)
  * on the daily-revenue series: the order-3 pattern distribution,
  * permutation entropy, forbidden order-4 patterns (the determinism
  * audit), the pattern-transition head, and the difference-sign
  * randomness test.
  *
  * Exactness: a pattern code is pure integer comparison arithmetic on
  * exact revenue cents — rank of element i inside its window = #{j :
  * z_j < z_i, or z_j = z_i with j < i} (the stable tie rule, stated
  * identically in both engines), so codes, counts and transitions are
  * exact integers. Entropy rides the house PSI discipline: each
  * c·ln(c) term is quantized to DECIMAL(28,6) BEFORE the order-free
  * exact sum, and ONE shared-text double formula finishes.
  *
  * Scale: the series is CALENDAR-bounded (~2.5k days at every sf); the
  * one fact-scaled pass is the day aggregate, served by the
  * [[DaySeries.revenue]] spine. Windows run over the day dim. */
object OrdinalPatternQueries {

  val all: Seq[Q] = Seq(q1046, q1047, q1048, q1049, q1050)

  /** Shared order-3 code text over columns z0, z1, z2 (identical in
    * both engines — integer CASE arithmetic). */
  private def code3: String =
    "100 * ((CASE WHEN z1 < z0 THEN 1 ELSE 0 END)" +
      " + (CASE WHEN z2 < z0 THEN 1 ELSE 0 END))" +
      " + 10 * ((CASE WHEN z0 <= z1 THEN 1 ELSE 0 END)" +
      " + (CASE WHEN z2 < z1 THEN 1 ELSE 0 END))" +
      " + ((CASE WHEN z0 <= z2 THEN 1 ELSE 0 END)" +
      " + (CASE WHEN z1 <= z2 THEN 1 ELSE 0 END))"

  /** Shared order-4 code text over z0..z3. */
  private def code4: String = {
    def rank(i: Int): String = (0 to 3).filter(_ != i).map { j =>
      if (j < i) s"(CASE WHEN z$j <= z$i THEN 1 ELSE 0 END)"
      else s"(CASE WHEN z$j < z$i THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"1000 * (${rank(0)}) + 100 * (${rank(1)}) + 10 * (${rank(2)})" +
      s" + (${rank(3)})"
  }

  private def sqlTri: String = s"""
    |tw AS (SELECT t, z AS z0,
    |              lead(z, 1) OVER (ORDER BY t) AS z1,
    |              lead(z, 2) OVER (ORDER BY t) AS z2
    |       FROM sq),
    |tri AS (SELECT t, $code3 AS code FROM tw WHERE z2 IS NOT NULL)""".stripMargin

  /** Spark twin of `tri`: (t, code) for each order-3 window. */
  private def tri3(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("t"))
    DaySeries.revenue(s, dir)
      .select(col("t"), col("z").as("z0"),
        lead(col("z"), 1).over(w).as("z1"),
        lead(col("z"), 2).over(w).as("z2"))
      .where(col("z2").isNotNull)
      .select(col("t"), expr(code3).as("code"))
  }

  /** Order-3 ordinal pattern distribution. */
  def q1046: Q = Q(
    "q1046_ordinal_patterns",
    Some(s"""
      |WITH ${DaySeries.sql},
      |${sqlTri},
      |n AS (SELECT count(*) AS n FROM tri)
      |SELECT CAST(code AS BIGINT) AS pattern,
      |       CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST((1000000 * count(*)) // (SELECT n FROM n) AS BIGINT)
      |         AS share_ppm
      |FROM tri GROUP BY 1 ORDER BY pattern
      |""".stripMargin)) { (s, dir) =>
    val tri = tri3(s, dir)
    val n = tri.agg(count(lit(1)).as("n"))
    tri.groupBy(col("code").cast("long").as("pattern"))
      .agg(count(lit(1)).as("n_windows"))
      .crossJoin(broadcast(n))
      .select(col("pattern"), col("n_windows"),
        expr("CAST((1000000 * n_windows) div n AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("pattern"))
  }

  /** Permutation entropy of the order-3 distribution: H = ln n −
    * (Σ c·ln c)/n, normalized by ln 3! (milli). */
  def q1047: Q = Q(
    "q1047_permutation_entropy",
    Some(s"""
      |WITH ${DaySeries.sql},
      |${sqlTri},
      |pc AS (SELECT code, count(*) AS c FROM tri GROUP BY 1),
      |ag AS (SELECT sum(c) AS n, count(*) AS n_patterns,
      |              sum(CAST(c * ln(c) AS DECIMAL(28,6))) AS s
      |       FROM pc)
      |SELECT CAST(n AS BIGINT) AS n_windows,
      |       CAST(n_patterns AS BIGINT) AS n_patterns,
      |       CAST(floor(1000.0 * (ln(CAST(n AS DOUBLE))
      |            - CAST(s AS DOUBLE) / n)) AS BIGINT) AS entropy_milli,
      |       CAST(floor(1000.0 * (ln(CAST(n AS DOUBLE))
      |            - CAST(s AS DOUBLE) / n) / ln(CAST(6 AS DOUBLE)))
      |            AS BIGINT) AS pe_norm_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    tri3(s, dir)
      .groupBy(col("code")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_patterns"),
        sum(expr("CAST(c * ln(c) AS DECIMAL(28,6))")).as("s"))
      .select(col("n").cast("long").as("n_windows"),
        col("n_patterns").cast("long").as("n_patterns"),
        expr("CAST(floor(1000.0 * (ln(CAST(n AS DOUBLE))" +
          " - CAST(s AS DOUBLE) / n)) AS BIGINT)").as("entropy_milli"),
        expr("CAST(floor(1000.0 * (ln(CAST(n AS DOUBLE))" +
          " - CAST(s AS DOUBLE) / n) / ln(CAST(6 AS DOUBLE)))" +
          " AS BIGINT)").as("pe_norm_milli"))
  }

  /** Forbidden order-4 patterns: how many of the 24 possible codes
    * never occur (determinism evidence), plus the modal pattern. */
  def q1048: Q = Q(
    "q1048_forbidden_order4",
    Some(s"""
      |WITH ${DaySeries.sql},
      |qw AS (SELECT t, z AS z0,
      |              lead(z, 1) OVER (ORDER BY t) AS z1,
      |              lead(z, 2) OVER (ORDER BY t) AS z2,
      |              lead(z, 3) OVER (ORDER BY t) AS z3
      |       FROM sq),
      |quad AS (SELECT $code4 AS code FROM qw WHERE z3 IS NOT NULL),
      |pc AS (SELECT code, count(*) AS c FROM quad GROUP BY 1)
      |SELECT CAST(sum(c) AS BIGINT) AS n_windows,
      |       CAST(count(*) AS BIGINT) AS n_observed,
      |       CAST(24 - count(*) AS BIGINT) AS n_forbidden,
      |       CAST(min_by(code, code - 10000 * c) AS BIGINT)
      |         AS modal_pattern,
      |       CAST(max(c) AS BIGINT) AS modal_count
      |FROM pc
      |""".stripMargin)) { (s, dir) =>
    val w = Window.orderBy(col("t"))
    DaySeries.revenue(s, dir)
      .select(col("t"), col("z").as("z0"),
        lead(col("z"), 1).over(w).as("z1"),
        lead(col("z"), 2).over(w).as("z2"),
        lead(col("z"), 3).over(w).as("z3"))
      .where(col("z3").isNotNull)
      .select(expr(code4).as("code"))
      .groupBy(col("code")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).cast("long").as("n_windows"),
        count(lit(1)).cast("long").as("n_observed"),
        (lit(24L) - count(lit(1))).as("n_forbidden"),
        min_by(col("code"), col("code") - lit(10000L) * col("c"))
          .cast("long").as("modal_pattern"),
        max(col("c")).cast("long").as("modal_count"))
  }

  /** The order-3 pattern transition head: top-10 consecutive-window
    * transitions. */
  def q1049: Q = Q(
    "q1049_pattern_transitions",
    Some(s"""
      |WITH ${DaySeries.sql},
      |${sqlTri},
      |tr AS (SELECT code AS from_code,
      |              lead(code) OVER (ORDER BY t) AS to_code
      |       FROM tri),
      |tc AS (SELECT from_code, to_code, count(*) AS c FROM tr
      |       WHERE to_code IS NOT NULL GROUP BY 1, 2),
      |n AS (SELECT sum(c) AS n FROM tc)
      |SELECT CAST(from_code AS BIGINT) AS from_pattern,
      |       CAST(to_code AS BIGINT) AS to_pattern,
      |       CAST(c AS BIGINT) AS n_transitions,
      |       CAST((1000000 * c) // (SELECT n FROM n) AS BIGINT)
      |         AS share_ppm
      |FROM tc ORDER BY c DESC, from_code, to_code LIMIT 10
      |""".stripMargin)) { (s, dir) =>
    val w = Window.orderBy(col("t"))
    val tr = tri3(s, dir)
      .select(col("code").as("from_code"),
        lead(col("code"), 1).over(w).as("to_code"))
      .where(col("to_code").isNotNull)
      .groupBy(col("from_code"), col("to_code"))
      .agg(count(lit(1)).as("c"))
    val n = tr.agg(sum(col("c")).as("n"))
    tr.crossJoin(broadcast(n))
      .orderBy(col("c").desc, col("from_code"), col("to_code"))
      .limit(10)
      .select(col("from_code").cast("long").as("from_pattern"),
        col("to_code").cast("long").as("to_pattern"),
        col("c").as("n_transitions"),
        expr("CAST((1000000 * c) div n AS BIGINT)").as("share_ppm"))
  }

  /** Difference-sign randomness test: D = #{z_{t+1} > z_t} among the
    * n−1 adjacent differences; E[D] = (n−1)/2, Var = (n+1)/12, one
    * double z step. */
  def q1050: Q = Q(
    "q1050_difference_sign",
    Some(s"""
      |WITH ${DaySeries.sql},
      |dw AS (SELECT z, lead(z) OVER (ORDER BY t) AS zn FROM sq),
      |ag AS (SELECT count(*) AS m,
      |              sum(CASE WHEN zn > z THEN 1 ELSE 0 END) AS d,
      |              sum(CASE WHEN zn < z THEN 1 ELSE 0 END) AS dn,
      |              sum(CASE WHEN zn = z THEN 1 ELSE 0 END) AS dt
      |       FROM dw WHERE zn IS NOT NULL)
      |SELECT CAST(m AS BIGINT) AS n_diffs,
      |       CAST(d AS BIGINT) AS n_up,
      |       CAST(dn AS BIGINT) AS n_down,
      |       CAST(dt AS BIGINT) AS n_tie,
      |       CAST(floor(1000.0 * (CAST(d AS DOUBLE) - CAST(m AS DOUBLE) / 2)
      |            / sqrt((CAST(m AS DOUBLE) + 2) / 12)) AS BIGINT)
      |         AS z_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    val w = Window.orderBy(col("t"))
    DaySeries.revenue(s, dir)
      .select(col("z"), lead(col("z"), 1).over(w).as("zn"))
      .where(col("zn").isNotNull)
      .agg(count(lit(1)).as("m"),
        sum(when(col("zn") > col("z"), 1L).otherwise(0L)).as("d"),
        sum(when(col("zn") < col("z"), 1L).otherwise(0L)).as("dn"),
        sum(when(col("zn") === col("z"), 1L).otherwise(0L)).as("dt"))
      .select(col("m").cast("long").as("n_diffs"),
        col("d").cast("long").as("n_up"),
        col("dn").cast("long").as("n_down"),
        col("dt").cast("long").as("n_tie"),
        expr("CAST(floor(1000.0 * (CAST(d AS DOUBLE)" +
          " - CAST(m AS DOUBLE) / 2)" +
          " / sqrt((CAST(m AS DOUBLE) + 2) / 12)) AS BIGINT)")
          .as("z_milli"))
  }
}
