package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 density-estimation wave on the daily-revenue values:
  * triangular-kernel KDE on a fixed grid, Epanechnikov KDE with a
  * cross-kernel agreement audit, the classic bin-width panel
  * (Sturges / Scott / Freedman–Diaconis) with the FD histogram
  * occupancy, the kernel-smoothed CDF against the empirical CDF,
  * and KDE mode estimation on a fine grid.
  *
  * Exactness: all kernels are polynomial, so every per-point
  * contribution is an EXACT integer (triangular: max(0, H−|d|)) or
  * an exact DECIMAL product (Epanechnikov / integrated triangular:
  * (H±d)² in DECIMAL(19,0)²), summed order-free; grid points and
  * bandwidths are integer-scaled rationals (×16 / ×64 grids — no
  * rational ever materializes); normalizations finish in one
  * shared-text double step (or stay pure-integer `div`). Quartiles
  * for FD use the type-1 (ceil) convention, stated in both engines.
  *
  * Scale: the value set is the CALENDAR-bounded day dim served by
  * [[DaySeries.revenue]]; grids are broadcast 17/65-row dims, so
  * every query is O(days·grid) with a grid-sized output. */
object DensityQueries {

  val all: Seq[Q] = Seq(q1126, q1127, q1128, q1129, q1130)

  /** Oracle stats CTE st(n, mn, mx, r). */
  private def sqlSt: String = s"""
    |${DaySeries.sql},
    |st AS (SELECT count(*) AS n, min(z) AS mn, max(z) AS mx,
    |              max(z) - min(z) AS r
    |       FROM sq)""".stripMargin

  /** Oracle ×16 grid/diff frame gd(j, g16, d) with d = 16z − G_j,
    * G_j = 16·mn + j·r (j = 0..16), bandwidth H = 2r (×16 scale). */
  private def sqlGd: String = s"""
    |${sqlSt},
    |gj AS (SELECT * FROM (VALUES ${(0 to 16).map(j => s"($j)").mkString(",")}) v(j)),
    |gd AS (SELECT gj.j, 16 * st.mn + gj.j * st.r AS g16, 2 * st.r AS h,
    |              16 * sq.z - (16 * st.mn + gj.j * st.r) AS d,
    |              st.n
    |       FROM gj CROSS JOIN st CROSS JOIN sq)""".stripMargin

  /** Spark twin of [[sqlGd]]. */
  private def gd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sq = DaySeries.revenue(s, dir)
    val st = sq.agg(count(lit(1)).as("n"), min(col("z")).as("mn"),
      max(col("z")).as("mx"), (max(col("z")) - min(col("z"))).as("r"))
    val gj = broadcast((0 to 16).toDF("j"))
    sq.crossJoin(broadcast(st)).crossJoin(gj)
      .select(col("j"),
        (lit(16) * col("mn") + col("j") * col("r")).as("g16"),
        (lit(2) * col("r")).as("h"),
        (lit(16) * col("z") - (lit(16) * col("mn") + col("j") * col("r")))
          .as("d"),
        col("n"))
  }

  /** Triangular-kernel mass per grid point: ppm of the normalized
    * kernel weight Σ max(0, H−|d|) / (n·H) — pure integers. */
  def q1126: Q = Q(
    "q1126_triangular_kde",
    Some(s"""
      |WITH ${sqlGd},
      |ms AS (SELECT j, max(g16) AS g16, max(n) AS n, max(h) AS h,
      |         sum(greatest(h - abs(d), 0)) AS sc
      |       FROM gd GROUP BY 1)
      |SELECT CAST(j AS BIGINT) AS grid_j,
      |       CAST(g16 // 16 AS BIGINT) AS grid_cents,
      |       CAST((1000000 * sc) // (n * h) AS BIGINT) AS mass_ppm
      |FROM ms ORDER BY grid_j
      |""".stripMargin)) { (s, dir) =>
    gd(s, dir).groupBy(col("j"))
      .agg(max(col("g16")).as("g16"), max(col("n")).as("n"),
        max(col("h")).as("h"),
        sum(greatest(col("h") - abs(col("d")), lit(0L))).as("sc"))
      .select(col("j").cast("long").as("grid_j"),
        expr("CAST(g16 div 16 AS BIGINT)").as("grid_cents"),
        expr("CAST((1000000 * sc) div (n * h) AS BIGINT)").as("mass_ppm"))
      .orderBy(col("grid_j"))
  }

  /** Epanechnikov mass per grid point (DECIMAL squares) plus the
    * total absolute ppm gap to the triangular estimate. */
  def q1127: Q = {
    val epa = "(1000000.0 * CAST(se AS DOUBLE)" +
      " / (CAST(n AS DOUBLE) * CAST(h AS DOUBLE) * CAST(h AS DOUBLE)))"
    Q("q1127_epanechnikov_kde",
      Some(s"""
        |WITH ${sqlGd},
        |ms AS (SELECT j, max(g16) AS g16, max(n) AS n, max(h) AS h,
        |         sum(greatest(h - abs(d), 0)) AS sc,
        |         sum(CASE WHEN abs(d) < h THEN
        |               CAST(h - d AS DECIMAL(19,0)) * CAST(h + d AS DECIMAL(19,0))
        |             ELSE CAST(0 AS DECIMAL(38,0)) END) AS se
        |       FROM gd GROUP BY 1),
        |pp AS (SELECT j, g16,
        |         (1000000 * sc) // (n * h) AS tri_ppm,
        |         CAST(floor($epa) AS BIGINT) AS epa_ppm
        |       FROM ms)
        |SELECT CAST(j AS BIGINT) AS grid_j,
        |       CAST(tri_ppm AS BIGINT) AS tri_ppm,
        |       CAST(epa_ppm AS BIGINT) AS epa_ppm,
        |       CAST(sum(abs(tri_ppm - epa_ppm)) OVER () AS BIGINT)
        |         AS total_gap_ppm
        |FROM pp ORDER BY grid_j
        |""".stripMargin)) { (s, dir) =>
      val ms = gd(s, dir).groupBy(col("j"))
        .agg(max(col("g16")).as("g16"), max(col("n")).as("n"),
          max(col("h")).as("h"),
          sum(greatest(col("h") - abs(col("d")), lit(0L))).as("sc"),
          sum(when(abs(col("d")) < col("h"),
            expr("CAST(h - d AS DECIMAL(19,0)) * CAST(h + d AS DECIMAL(19,0))"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("se"))
      ms.select(col("j"),
        expr("(1000000 * sc) div (n * h)").as("tri_ppm"),
        expr(s"CAST(floor($epa) AS BIGINT)").as("epa_ppm"))
        .select(col("j").cast("long").as("grid_j"),
          col("tri_ppm").cast("long").as("tri_ppm"), col("epa_ppm"),
          sum(abs(col("tri_ppm") - col("epa_ppm")))
            .over(Window.partitionBy()).cast("long").as("total_gap_ppm"))
        .orderBy(col("grid_j"))
    }
  }

  /** Bin-width panel: Sturges / Scott / Freedman–Diaconis bin counts
    * (type-1 quartiles, exact variance moments) and the FD histogram
    * occupancy. */
  def q1128: Q = {
    val sigma = "(sqrt((CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)" +
      " * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)))"
    val scottB = s"(ceil(CAST(r AS DOUBLE) / (3.49 * $sigma" +
      " * pow(CAST(n AS DOUBLE), -1.0/3.0))))"
    val fdB = "(ceil(CAST(r AS DOUBLE) / (2.0 * CAST(iqr AS DOUBLE)" +
      " * pow(CAST(n AS DOUBLE), -1.0/3.0))))"
    Q("q1128_bin_width_panel",
      Some(s"""
        |WITH ${sqlSt},
        |mo AS (SELECT sum(CAST(z AS DECIMAL(19,0))) AS sz,
        |         sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))
        |           AS szz
        |       FROM sq),
        |rk AS (SELECT z, row_number() OVER (ORDER BY z, t) AS rn FROM sq),
        |qq AS (SELECT
        |         min(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
        |             THEN z END) AS q1,
        |         min(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
        |             THEN z END) AS q3
        |       FROM rk CROSS JOIN st),
        |pan AS (SELECT st.n, st.r, mo.sz, mo.szz, qq.q3 - qq.q1 AS iqr
        |        FROM st CROSS JOIN mo CROSS JOIN qq),
        |bins AS (SELECT n, r, iqr,
        |           CAST(ceil(ln(CAST(n AS DOUBLE)) / ln(2.0)) AS BIGINT)
        |             + 1 AS sturges,
        |           CAST($scottB AS BIGINT) AS scott,
        |           CAST($fdB AS BIGINT) AS fd
        |         FROM pan),
        |hist AS (SELECT ((sq.z - st.mn) * b.fd) // (st.r + 1) AS bin
        |         FROM sq CROSS JOIN st CROSS JOIN bins b),
        |occ AS (SELECT count(DISTINCT bin) AS nonempty,
        |          max(cnt) AS maxcnt
        |        FROM (SELECT bin, count(*) AS cnt FROM hist GROUP BY 1) x)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |       CAST(iqr AS BIGINT) AS iqr_cents,
        |       CAST(sturges AS BIGINT) AS sturges_bins,
        |       CAST(scott AS BIGINT) AS scott_bins,
        |       CAST(fd AS BIGINT) AS fd_bins,
        |       CAST(nonempty AS BIGINT) AS fd_nonempty_bins,
        |       CAST(maxcnt AS BIGINT) AS fd_max_bin_count
        |FROM bins CROSS JOIN occ
        |""".stripMargin)) { (s, dir) =>
      val sq = DaySeries.revenue(s, dir)
      val st = sq.agg(count(lit(1)).as("n"), min(col("z")).as("mn"),
        max(col("z")).as("mx"), (max(col("z")) - min(col("z"))).as("r"))
      val mo = sq.agg(
        expr("sum(CAST(z AS DECIMAL(19,0)))").as("sz"),
        expr("sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0)))")
          .as("szz"))
      val rk = sq.select(col("z"),
        row_number().over(Window.orderBy(col("z"), col("t"))).as("rn"))
      val qq = rk.crossJoin(broadcast(st))
        .agg(min(when(col("rn") ===
          expr("CAST(ceil(0.25 * n) AS BIGINT)"), col("z"))).as("q1"),
          min(when(col("rn") ===
            expr("CAST(ceil(0.75 * n) AS BIGINT)"), col("z"))).as("q3"))
      val bins = st.crossJoin(broadcast(mo)).crossJoin(broadcast(qq))
        .select(col("n"), col("mn"), col("r"),
          (col("q3") - col("q1")).as("iqr"), col("sz"), col("szz"))
        .select(col("n"), col("mn"), col("r"), col("iqr"),
          (expr("CAST(ceil(ln(CAST(n AS DOUBLE)) / ln(2.0)) AS BIGINT)")
            + 1L).as("sturges"),
          expr(s"CAST($scottB AS BIGINT)").as("scott"),
          expr(s"CAST($fdB AS BIGINT)").as("fd"))
      val occ = sq.crossJoin(broadcast(bins))
        .select(expr("((z - mn) * fd) div (r + 1)").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
        .agg(countDistinct(col("bin")).as("nonempty"),
          max(col("cnt")).as("maxcnt"))
      bins.crossJoin(broadcast(occ))
        .select(col("n").cast("long").as("n_days"),
          col("iqr").cast("long").as("iqr_cents"),
          col("sturges").cast("long").as("sturges_bins"),
          col("scott").cast("long").as("scott_bins"),
          col("fd").cast("long").as("fd_bins"),
          col("nonempty").cast("long").as("fd_nonempty_bins"),
          col("maxcnt").cast("long").as("fd_max_bin_count"))
    }
  }

  /** Kernel-smoothed CDF (integrated triangular kernel, exact
    * DECIMAL numerators over the common 2H² denominator) vs the
    * empirical CDF at the ×16 grid. */
  def q1129: Q = {
    val sm = "(1000000.0 * CAST(sn AS DOUBLE)" +
      " / (CAST(n AS DOUBLE) * 2.0 * CAST(h AS DOUBLE)" +
      " * CAST(h AS DOUBLE)))"
    Q("q1129_smoothed_cdf",
      Some(s"""
        |WITH ${sqlGd},
        |ct AS (SELECT j, g16, n, h,
        |         CASE WHEN d >= h THEN CAST(0 AS DECIMAL(38,0))
        |              WHEN d > 0 THEN
        |                CAST(h - d AS DECIMAL(19,0)) * CAST(h - d AS DECIMAL(19,0))
        |              WHEN d > -h THEN
        |                CAST(2 AS DECIMAL(19,0)) * CAST(h AS DECIMAL(19,0))
        |                  * CAST(h AS DECIMAL(19,0))
        |                - CAST(h + d AS DECIMAL(19,0)) * CAST(h + d AS DECIMAL(19,0))
        |              ELSE CAST(2 AS DECIMAL(19,0)) * CAST(h AS DECIMAL(19,0))
        |                  * CAST(h AS DECIMAL(19,0)) END AS cn,
        |         CASE WHEN d <= 0 THEN 1 ELSE 0 END AS le
        |       FROM gd),
        |ms AS (SELECT j, max(g16) AS g16, max(n) AS n, max(h) AS h,
        |         sum(cn) AS sn, sum(le) AS ne
        |       FROM ct GROUP BY 1)
        |SELECT CAST(j AS BIGINT) AS grid_j,
        |       CAST(g16 // 16 AS BIGINT) AS grid_cents,
        |       CAST(floor($sm) AS BIGINT) AS smooth_cdf_ppm,
        |       CAST((1000000 * ne) // n AS BIGINT) AS emp_cdf_ppm
        |FROM ms ORDER BY grid_j
        |""".stripMargin)) { (s, dir) =>
      val ct = gd(s, dir).select(col("j"), col("g16"), col("n"),
        col("h"),
        expr("""CASE WHEN d >= h THEN CAST(0 AS DECIMAL(38,0))
             WHEN d > 0 THEN
               CAST(h - d AS DECIMAL(19,0)) * CAST(h - d AS DECIMAL(19,0))
             WHEN d > -h THEN
               CAST(2 AS DECIMAL(19,0)) * CAST(h AS DECIMAL(19,0))
                 * CAST(h AS DECIMAL(19,0))
               - CAST(h + d AS DECIMAL(19,0)) * CAST(h + d AS DECIMAL(19,0))
             ELSE CAST(2 AS DECIMAL(19,0)) * CAST(h AS DECIMAL(19,0))
                 * CAST(h AS DECIMAL(19,0)) END""").as("cn"),
        when(col("d") <= 0, 1L).otherwise(0L).as("le"))
      ct.groupBy(col("j"))
        .agg(max(col("g16")).as("g16"), max(col("n")).as("n"),
          max(col("h")).as("h"), sum(col("cn")).as("sn"),
          sum(col("le")).as("ne"))
        .select(col("j").cast("long").as("grid_j"),
          expr("CAST(g16 div 16 AS BIGINT)").as("grid_cents"),
          expr(s"CAST(floor($sm) AS BIGINT)").as("smooth_cdf_ppm"),
          expr("CAST((1000000 * ne) div n AS BIGINT)").as("emp_cdf_ppm"))
        .orderBy(col("grid_j"))
    }
  }

  /** KDE mode on a ×64 fine grid (65 points, Epanechnikov with
    * bandwidth r/16): argmax grid point (smallest j on ties,
    * stated), its mass, and the peak-to-mean mass ratio. */
  def q1130: Q = {
    val epa = "(1000000.0 * CAST(se AS DOUBLE)" +
      " / (CAST(n AS DOUBLE) * CAST(h AS DOUBLE) * CAST(h AS DOUBLE)))"
    Q("q1130_kde_mode",
      Some(s"""
        |WITH ${sqlSt},
        |gj AS (SELECT * FROM (VALUES ${(0 to 64).map(j => s"($j)").mkString(",")}) v(j)),
        |gd AS (SELECT gj.j, 64 * st.mn + gj.j * st.r AS g64, 4 * st.r AS h,
        |              64 * sq.z - (64 * st.mn + gj.j * st.r) AS d,
        |              st.n
        |       FROM gj CROSS JOIN st CROSS JOIN sq),
        |ms AS (SELECT j, max(g64) AS g64, max(n) AS n, max(h) AS h,
        |         sum(CASE WHEN abs(d) < h THEN
        |               CAST(h - d AS DECIMAL(19,0)) * CAST(h + d AS DECIMAL(19,0))
        |             ELSE CAST(0 AS DECIMAL(38,0)) END) AS se
        |       FROM gd GROUP BY 1),
        |pp AS (SELECT j, g64, CAST(floor($epa) AS BIGINT) AS ppm FROM ms),
        |mx AS (SELECT max(ppm) AS pk,
        |              CAST(sum(ppm) // count(*) AS BIGINT) AS mean_ppm
        |       FROM pp),
        |md AS (SELECT min(j) AS mj FROM pp CROSS JOIN mx WHERE ppm = pk)
        |SELECT CAST(md.mj AS BIGINT) AS mode_j,
        |       CAST((SELECT g64 FROM pp WHERE j = md.mj) // 64 AS BIGINT)
        |         AS mode_cents,
        |       CAST(mx.pk AS BIGINT) AS peak_ppm,
        |       CAST(mx.mean_ppm AS BIGINT) AS mean_ppm,
        |       CAST((1000 * mx.pk) // mx.mean_ppm AS BIGINT)
        |         AS peak_over_mean_milli
        |FROM md CROSS JOIN mx
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val sq = DaySeries.revenue(s, dir)
      val st = sq.agg(count(lit(1)).as("n"), min(col("z")).as("mn"),
        (max(col("z")) - min(col("z"))).as("r"))
      val gj = broadcast((0 to 64).toDF("j"))
      val ms = sq.crossJoin(broadcast(st)).crossJoin(gj)
        .select(col("j"),
          (lit(64) * col("mn") + col("j") * col("r")).as("g64"),
          (lit(4) * col("r")).as("h"),
          (lit(64) * col("z") - (lit(64) * col("mn")
            + col("j") * col("r"))).as("d"),
          col("n"))
        .groupBy(col("j"))
        .agg(max(col("g64")).as("g64"), max(col("n")).as("n"),
          max(col("h")).as("h"),
          sum(when(abs(col("d")) < col("h"),
            expr("CAST(h - d AS DECIMAL(19,0)) * CAST(h + d AS DECIMAL(19,0))"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("se"))
      val pp = ms.select(col("j"), col("g64"),
        expr(s"CAST(floor($epa) AS BIGINT)").as("ppm"))
      val mx = pp.agg(max(col("ppm")).as("pk"),
        expr("CAST(sum(ppm) div count(*) AS BIGINT)").as("mean_ppm"))
      val md = pp.crossJoin(broadcast(mx))
        .where(col("ppm") === col("pk"))
        .agg(min(col("j")).as("mj"))
      val modeG = pp.select(col("j").as("jj"), col("g64"))
      md.crossJoin(broadcast(mx))
        .join(broadcast(modeG), col("jj") === col("mj"))
        .select(col("mj").cast("long").as("mode_j"),
          expr("CAST(g64 div 64 AS BIGINT)").as("mode_cents"),
          col("pk").as("peak_ppm"), col("mean_ppm"),
          expr("CAST((1000 * pk) div mean_ppm AS BIGINT)")
            .as("peak_over_mean_milli"))
    }
  }
}
