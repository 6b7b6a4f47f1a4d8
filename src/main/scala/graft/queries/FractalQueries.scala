package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 fractal-dimension / fluctuation wave on the daily-revenue
  * series: Higuchi curve lengths and the Higuchi fractal dimension,
  * the Petrosian dimension with a crossing panel, the Katz waveform
  * dimension, and detrended fluctuation analysis (DFA α).
  *
  * Exactness: every irrational per-row/per-segment term (normalized
  * curve length, √, ln) is floored to an integer microscale BEFORE
  * any order-free sum — floors act on doubles both engines computed
  * from identical exact integers with identical shared-text op
  * order, so they cannot straddle. Means over exact revenue cents
  * never materialize: scaled forms (n·z − Σz) keep everything
  * integral; squared profile terms ride DECIMAL(19,0)² products in
  * DECIMAL(38,0) sums. OLS fits (HFD, DFA α) use integer moment
  * sums over the tiny k/scale dims and finish in one shared double
  * step.
  *
  * Scale: all frames are CALENDAR-bounded — Higuchi pairs are a
  * day-dim self-join against a broadcast 7-row k dim (O(days·k)),
  * DFA boxes a day×4-scale cross. The one fact-scaled pass is the
  * day aggregate served by the [[DaySeries.revenue]] spine. */
object FractalQueries {

  val all: Seq[Q] = Seq(q1111, q1112, q1113, q1114, q1115)

  // def, NOT val: `all` builds oracle strings at object init
  private def ks = Seq(2, 3, 4, 5, 6, 7, 8)
  private def scales = Seq(16, 32, 64, 128)

  /** Oracle per-(k,m) Higuchi segment CTE ending in lk(k, nseg,
    * l_micro): normalized curve length per k, mean over offsets. */
  private def sqlLk: String = s"""
    |${DaySeries.sql},
    |lg AS (SELECT * FROM (VALUES ${ks.map(k => s"($k)").mkString(",")}) v(k)),
    |nn AS (SELECT count(*) AS n FROM sq),
    |hp AS (SELECT lg.k, a.t, abs(b.z - a.z) AS ad
    |       FROM lg CROSS JOIN sq a JOIN sq b ON b.t = a.t + lg.k),
    |km AS (SELECT k, ((t - 1) % k) + 1 AS m, count(*) AS mm,
    |              sum(ad) AS sa
    |       FROM hp GROUP BY 1, 2),
    |lkm AS (SELECT k, CAST(floor(1000000.0 * CAST(sa AS DOUBLE)
    |            * (CAST(n AS DOUBLE) - 1.0)
    |            / (CAST(mm AS DOUBLE) * CAST(k AS DOUBLE)
    |               * CAST(k AS DOUBLE))) AS BIGINT) AS lm,
    |          mm
    |        FROM km CROSS JOIN nn),
    |lk AS (SELECT k, sum(mm) AS nseg, sum(lm) // count(*) AS l_micro
    |       FROM lkm GROUP BY 1)""".stripMargin

  /** Spark twin of [[sqlLk]]. */
  private def lk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sq = DaySeries.revenue(s, dir)
    val lg = broadcast(ks.toDF("k"))
    val a = sq.select(col("t").as("ta"), col("z").as("za"))
    val b = sq.select(col("t").as("tb"), col("z").as("zb"))
    val hp = a.crossJoin(lg)
      .join(b, col("tb") === col("ta") + col("k"))
      .select(col("k"), col("ta").as("t"),
        abs(col("zb") - col("za")).as("ad"))
    val nn = sq.agg(count(lit(1)).as("n"))
    hp.groupBy(col("k"), (pmod(col("t") - 1, col("k")) + 1).as("m"))
      .agg(count(lit(1)).as("mm"), sum(col("ad")).as("sa"))
      .crossJoin(broadcast(nn))
      .select(col("k"), col("mm"),
        expr("CAST(floor(1000000.0 * CAST(sa AS DOUBLE)" +
          " * (CAST(n AS DOUBLE) - 1.0)" +
          " / (CAST(mm AS DOUBLE) * CAST(k AS DOUBLE)" +
          " * CAST(k AS DOUBLE))) AS BIGINT)").as("lm"))
      .groupBy(col("k"))
      .agg(sum(col("mm")).as("nseg"),
        expr("CAST(sum(lm) div count(*) AS BIGINT)").as("l_micro"))
  }

  /** Higuchi normalized curve length per k. */
  def q1111: Q = Q(
    "q1111_higuchi_lengths",
    Some(s"""
      |WITH ${sqlLk}
      |SELECT CAST(k AS BIGINT) AS k, CAST(nseg AS BIGINT) AS n_segments,
      |       CAST(l_micro AS BIGINT) AS l_micro
      |FROM lk ORDER BY k
      |""".stripMargin)) { (s, dir) =>
    lk(s, dir)
      .select(col("k").cast("long").as("k"),
        col("nseg").cast("long").as("n_segments"), col("l_micro"))
      .orderBy(col("k"))
  }

  /** Higuchi fractal dimension: −slope of ln L(k) vs ln k (per-k
    * logs micro-floored, integer OLS moments, shared double fit). */
  def q1112: Q = {
    val den = "(CAST(nk AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val num = "(CAST(nk AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val r2 = s"($num * $num / ($den * (CAST(nk AS DOUBLE)" +
      " * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
    Q("q1112_higuchi_dimension",
      Some(s"""
        |WITH ${sqlLk},
        |xy AS (SELECT CAST(floor(1000000.0 * ln(CAST(k AS DOUBLE)))
        |              AS BIGINT) AS x,
        |              CAST(floor(1000000.0 * ln(CAST(l_micro AS DOUBLE)))
        |              AS BIGINT) AS y
        |       FROM lk),
        |mo AS (SELECT count(*) AS nk, sum(x) AS sx, sum(y) AS sy,
        |              sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |                AS sxx,
        |              sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS sxy,
        |              sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS syy
        |       FROM xy)
        |SELECT CAST(nk AS BIGINT) AS n_k,
        |       CAST(floor(-1000.0 * $num / $den) AS BIGINT) AS hfd_milli,
        |       CAST(floor(1000.0 * $r2) AS BIGINT) AS r2_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      lk(s, dir)
        .select(expr("CAST(floor(1000000.0 * ln(CAST(k AS DOUBLE)))" +
          " AS BIGINT)").as("x"),
          expr("CAST(floor(1000000.0 * ln(CAST(l_micro AS DOUBLE)))" +
            " AS BIGINT)").as("y"))
        .agg(count(lit(1)).as("nk"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))")
            .as("sxx"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("sxy"),
          expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("syy"))
        .select(col("nk").cast("long").as("n_k"),
          expr(s"CAST(floor(-1000.0 * $num / $den) AS BIGINT)")
            .as("hfd_milli"),
          expr(s"CAST(floor(1000.0 * $r2) AS BIGINT)").as("r2_milli"))
    }
  }

  /** Petrosian dimension + crossing panel: strict sign changes of
    * consecutive diffs, mean crossings of n·z − Σz, and
    * PFD = log10 n / (log10 n + log10(n/(n + 0.4·NΔ))). */
  def q1113: Q = {
    val pfd = "(log10(CAST(n AS DOUBLE)) / (log10(CAST(n AS DOUBLE))" +
      " + log10(CAST(n AS DOUBLE) / (CAST(n AS DOUBLE)" +
      " + 0.4 * CAST(nd AS DOUBLE)))))"
    Q("q1113_petrosian_crossings",
      Some(s"""
        |WITH ${DaySeries.sql},
        |ag AS (SELECT count(*) AS n, sum(z) AS sz FROM sq),
        |df AS (SELECT t, z - lag(z, 1) OVER (ORDER BY t) AS d1 FROM sq),
        |ds AS (SELECT count(*) AS nd FROM
        |        (SELECT d1, lag(d1, 1) OVER (ORDER BY t) AS p1 FROM df
        |         WHERE d1 IS NOT NULL) x
        |       WHERE p1 IS NOT NULL
        |         AND ((d1 > 0 AND p1 < 0) OR (d1 < 0 AND p1 > 0))),
        |ctr AS (SELECT t, n * z - sz AS c FROM sq CROSS JOIN ag),
        |mc AS (SELECT count(*) AS nm FROM
        |        (SELECT c, lag(c, 1) OVER (ORDER BY t) AS pc FROM ctr) x
        |       WHERE pc IS NOT NULL
        |         AND ((c > 0 AND pc < 0) OR (c < 0 AND pc > 0)))
        |SELECT CAST(n AS BIGINT) AS n_days,
        |       CAST(nd AS BIGINT) AS diff_sign_changes,
        |       CAST(nm AS BIGINT) AS mean_crossings,
        |       CAST(floor(1000000.0 * $pfd) AS BIGINT) AS pfd_micro
        |FROM ag CROSS JOIN ds CROSS JOIN mc
        |""".stripMargin)) { (s, dir) =>
      val wt = Window.orderBy(col("t"))
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"), sum(col("z")).as("sz"))
      val ds = sq.select(col("t"),
        (col("z") - lag(col("z"), 1).over(wt)).as("d1"))
        .where(col("d1").isNotNull)
        .select(col("d1"), lag(col("d1"), 1).over(wt).as("p1"))
        .where(col("p1").isNotNull &&
          ((col("d1") > 0 && col("p1") < 0) ||
            (col("d1") < 0 && col("p1") > 0)))
        .agg(count(lit(1)).as("nd"))
      val mc = sq.crossJoin(broadcast(ag))
        .select(col("t"), (col("n") * col("z") - col("sz")).as("c"))
        .select(col("c"), lag(col("c"), 1).over(wt).as("pc"))
        .where(col("pc").isNotNull &&
          ((col("c") > 0 && col("pc") < 0) ||
            (col("c") < 0 && col("pc") > 0)))
        .agg(count(lit(1)).as("nm"))
      ag.crossJoin(broadcast(ds)).crossJoin(broadcast(mc))
        .select(col("n").cast("long").as("n_days"),
          col("nd").cast("long").as("diff_sign_changes"),
          col("nm").cast("long").as("mean_crossings"),
          expr(s"CAST(floor(1000000.0 * $pfd) AS BIGINT)")
            .as("pfd_micro"))
    }
  }

  /** Katz waveform dimension on the ppm-normalized series (unit x
    * steps, y ∈ [0,1]): per-step and from-origin distances
    * micro-floored before their sum / max. */
  def q1114: Q = {
    val kfd = "(log10(CAST(ns AS DOUBLE)) / (log10(CAST(ns AS DOUBLE))" +
      " + log10(CAST(dmax AS DOUBLE) / CAST(l AS DOUBLE))))"
    Q("q1114_katz_dimension",
      Some(s"""
        |WITH ${DaySeries.sql},
        |mm AS (SELECT min(z) AS mn, max(z) AS mx FROM sq),
        |zn AS (SELECT t, (1000000 * (z - mn)) // (mx - mn) AS zn
        |       FROM sq CROSS JOIN mm),
        |st AS (SELECT t, zn,
        |         zn - lag(zn, 1) OVER (ORDER BY t) AS d,
        |         first_value(zn) OVER (ORDER BY t) AS zn1
        |       FROM zn),
        |li AS (SELECT sum(CAST(floor(1000000.0 * sqrt(1.0
        |           + (CAST(d AS DOUBLE) / 1000000.0)
        |           * (CAST(d AS DOUBLE) / 1000000.0))) AS BIGINT)) AS l,
        |          count(*) AS ns
        |       FROM st WHERE d IS NOT NULL),
        |ex AS (SELECT max(CAST(floor(1000000.0 * sqrt(
        |           (CAST(t AS DOUBLE) - 1.0) * (CAST(t AS DOUBLE) - 1.0)
        |           + (CAST(zn - zn1 AS DOUBLE) / 1000000.0)
        |           * (CAST(zn - zn1 AS DOUBLE) / 1000000.0)))
        |           AS BIGINT)) AS dmax
        |       FROM st)
        |SELECT CAST(ns AS BIGINT) AS n_steps,
        |       CAST(l AS BIGINT) AS path_len_micro,
        |       CAST(dmax AS BIGINT) AS extent_micro,
        |       CAST(floor(1000.0 * $kfd) AS BIGINT) AS kfd_milli
        |FROM li CROSS JOIN ex
        |""".stripMargin)) { (s, dir) =>
      val wt = Window.orderBy(col("t"))
      val sq = DaySeries.revenue(s, dir)
      val mm = sq.agg(min(col("z")).as("mn"), max(col("z")).as("mx"))
      val zn = sq.crossJoin(broadcast(mm))
        .select(col("t"),
          expr("(1000000 * (z - mn)) div (mx - mn)").as("zn"))
      val st = zn.select(col("t"), col("zn"),
        (col("zn") - lag(col("zn"), 1).over(wt)).as("d"),
        first_value(col("zn")).over(wt).as("zn1"))
      val li = st.where(col("d").isNotNull)
        .agg(sum(expr("CAST(floor(1000000.0 * sqrt(1.0" +
          " + (CAST(d AS DOUBLE) / 1000000.0)" +
          " * (CAST(d AS DOUBLE) / 1000000.0))) AS BIGINT)")).as("l"),
          count(lit(1)).as("ns"))
      val ex = st.agg(max(expr("CAST(floor(1000000.0 * sqrt(" +
        "(CAST(t AS DOUBLE) - 1.0) * (CAST(t AS DOUBLE) - 1.0)" +
        " + (CAST(zn - zn1 AS DOUBLE) / 1000000.0)" +
        " * (CAST(zn - zn1 AS DOUBLE) / 1000000.0))) AS BIGINT)"))
        .as("dmax"))
      li.crossJoin(broadcast(ex))
        .select(col("ns").cast("long").as("n_steps"),
          col("l").as("path_len_micro"), col("dmax").as("extent_micro"),
          expr(s"CAST(floor(1000.0 * $kfd) AS BIGINT)").as("kfd_milli"))
    }
  }

  /** DFA α over scales 16/32/64/128: integrated profile (scaled by
    * n — n·z − Σz cumsum), per-box linear detrend via closed-form
    * moments, per-box RMS fluctuation milli-floored (Spark floor()
    * returns LONG — raw SSres would saturate it) before the
    * order-free DECIMAL square-sum, then the ln F(s) vs ln s OLS
    * slope in one shared double step. */
  def q1115: Q = {
    val ssres = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(s AS DOUBLE)" +
      " - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)" +
      " / CAST(s AS DOUBLE)) * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sy AS DOUBLE) / CAST(s AS DOUBLE))" +
      " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)" +
      " / CAST(s AS DOUBLE)))"
    val den = "(CAST(nsc AS DOUBLE) * CAST(gxx AS DOUBLE)" +
      " - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE))"
    val num = "(CAST(nsc AS DOUBLE) * CAST(gxy AS DOUBLE)" +
      " - CAST(gx AS DOUBLE) * CAST(gy AS DOUBLE))"
    val r2 = s"($num * $num / ($den * (CAST(nsc AS DOUBLE)" +
      " * CAST(gyy AS DOUBLE) - CAST(gy AS DOUBLE) * CAST(gy AS DOUBLE))))"
    Q("q1115_dfa_alpha",
      Some(s"""
        |WITH ${DaySeries.sql},
        |ag AS (SELECT count(*) AS n, sum(z) AS sz FROM sq),
        |prof AS (SELECT t, sum(n * z - sz) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y
        |         FROM sq CROSS JOIN ag),
        |sc AS (SELECT * FROM (VALUES ${scales.map(x => s"($x)").mkString(",")}) v(s)),
        |bx AS (SELECT sc.s, (t - 1) // sc.s AS box,
        |              ((t - 1) % sc.s) + 1 AS x, y
        |       FROM sc CROSS JOIN prof CROSS JOIN ag
        |       WHERE (t - 1) // sc.s < n // sc.s),
        |bm AS (SELECT s, box, sum(x) AS sx,
        |              sum(CAST(x AS BIGINT) * x) AS sxx,
        |              sum(CAST(y AS DECIMAL(19,0))) AS sy,
        |              sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS sxy,
        |              sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS syy
        |       FROM bx GROUP BY 1, 2),
        |sr AS (SELECT s, CAST(floor(1000.0 * sqrt(
        |           greatest($ssres, 0.0) / CAST(s AS DOUBLE)))
        |           AS BIGINT) AS rm
        |       FROM bm),
        |fs AS (SELECT s, count(*) AS nb,
        |              sum(CAST(rm AS DECIMAL(19,0)) * CAST(rm AS DECIMAL(19,0)))
        |                AS s2
        |       FROM sr GROUP BY 1),
        |lf AS (SELECT CAST(floor(1000000.0 * ln(CAST(s AS DOUBLE)))
        |              AS BIGINT) AS x,
        |              CAST(floor(1000000.0 * 0.5 * ln(
        |                CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)))
        |              AS BIGINT) AS y
        |       FROM fs),
        |mo AS (SELECT count(*) AS nsc, sum(x) AS gx, sum(y) AS gy,
        |              sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |                AS gxx,
        |              sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS gxy,
        |              sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |                AS gyy
        |       FROM lf)
        |SELECT CAST(nsc AS BIGINT) AS n_scales,
        |       CAST(floor(1000.0 * $num / $den) AS BIGINT) AS alpha_milli,
        |       CAST(floor(1000.0 * $r2) AS BIGINT) AS r2_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val sq = DaySeries.revenue(s, dir)
      val ag = sq.agg(count(lit(1)).as("n"), sum(col("z")).as("sz"))
      val prof = sq.crossJoin(broadcast(ag))
        .select(col("t"), col("n"),
          sum(col("n") * col("z") - col("sz"))
            .over(Window.orderBy(col("t"))
              .rowsBetween(Window.unboundedPreceding, 0)).as("y"))
      val sc = broadcast(scales.toDF("s"))
      val bx = prof.crossJoin(sc)
        .where(expr("(t - 1) div s") < expr("n div s"))
        .select(col("s"), expr("(t - 1) div s").as("box"),
          expr("((t - 1) % s) + 1").as("x"), col("y"))
      val bm = bx.groupBy(col("s"), col("box"))
        .agg(sum(col("x")).as("sx"),
          sum(expr("CAST(x AS BIGINT) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(19,0))")).as("sy"),
          expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("sxy"),
          expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
            .as("syy"))
      val fs = bm
        .select(col("s"),
          expr(s"CAST(floor(1000.0 * sqrt(greatest($ssres, 0.0)" +
            " / CAST(s AS DOUBLE))) AS BIGINT)").as("rm"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("nb"),
          expr("sum(CAST(rm AS DECIMAL(19,0)) * CAST(rm AS DECIMAL(19,0)))")
            .as("s2"))
      val lf = fs.select(
        expr("CAST(floor(1000000.0 * ln(CAST(s AS DOUBLE))) AS BIGINT)")
          .as("x"),
        expr("CAST(floor(1000000.0 * 0.5 * ln(CAST(s2 AS DOUBLE)" +
          " / CAST(nb AS DOUBLE))) AS BIGINT)")
          .as("y"))
      lf.agg(count(lit(1)).as("nsc"), sum(col("x")).as("gx"),
        sum(col("y")).as("gy"),
        expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))")
          .as("gxx"),
        expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("gxy"),
        expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("gyy"))
        .select(col("nsc").cast("long").as("n_scales"),
          expr(s"CAST(floor(1000.0 * $num / $den) AS BIGINT)")
            .as("alpha_milli"),
          expr(s"CAST(floor(1000.0 * $r2) AS BIGINT)").as("r2_milli"))
    }
  }
}
