package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-9 modern-dependence wave on the day-grain (revenue, quantity)
  * panel: Székely's distance correlation (n⁴-cleared integer
  * V-statistics), the energy distance between weekend and weekday
  * revenue distributions, Hoeffding's D, Chatterjee's ξ rank
  * correlation, and decile-binned mutual information.
  *
  * Scale: the day panel is CALENDAR-bounded (~2.5k rows at every sf),
  * the one place the O(n²) pair frames these statistics need are
  * constant-size. All pairwise sums are exact HUGEINT/DECIMAL(38,0)
  * integers; dCor/D/ξ close with a single pinned double; MI uses the
  * DECIMAL(18,9) per-cell ln quantization. Weekend = ISO day ≥ 6
  * (DuckDB isodow ⇔ Spark weekday()+1, pinned on both sides). */
object DistDependenceQueries {

  val all: Seq[Q] = Seq(q891, q892, q893, q894, q895)

  private def sqlDay: String = """
    |day AS (SELECT CAST(l_shipdate AS DATE) AS d,
    |               sum(CAST(l_extendedprice * 100 AS BIGINT)) AS x,
    |               sum(CAST(l_quantity AS BIGINT)) AS y
    |        FROM lineitem GROUP BY 1),
    |gl AS (SELECT count(*) AS n FROM day)""".stripMargin

  /** Day panel (d, x revenue cents, y quantity) — a SpineCache spine
    * since round 12: all five queries of this wave rebuilt the same
    * lineitem fact aggregation (guide §6 — one fact pass per
    * process/pass; longs round-trip parquet exactly, oracle keeps the
    * inline `day` CTE). */
  private def dayBase(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "daily_rev_qty", "lineitem") {
      Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast("date").as("d"),
          expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
            .as("v"), col("l_quantity").cast("long").as("q"))
        .groupBy(col("d"))
        .agg(sum(col("v")).as("x"), sum(col("q")).as("y"))
    }

  /** Distance correlation (V-statistic form, n⁴-cleared):
    * n⁴V²xy = n²Σab + ΣaΣb − 2nΣᵢAᵢBᵢ over pair distances. */
  def q891: Q = Q(
    "q891_distance_correlation",
    Some(s"""
      |WITH ${sqlDay},
      |pr AS (SELECT a.d AS i, CAST(abs(a.x - b.x) AS HUGEINT) AS aa,
      |              CAST(abs(a.y - b.y) AS HUGEINT) AS bb
      |       FROM day a JOIN day b ON 1 = 1),
      |rs AS (SELECT i, sum(aa) AS ra, sum(bb) AS rb FROM pr GROUP BY 1),
      |tt AS (SELECT sum(aa) AS ta, sum(bb) AS tb, sum(aa * bb) AS sab,
      |              sum(aa * aa) AS saa, sum(bb * bb) AS sbb FROM pr),
      |cc AS (SELECT sum(ra * rb) AS crab, sum(ra * ra) AS craa,
      |              sum(rb * rb) AS crbb FROM rs),
      |vv AS (SELECT
      |  CAST(gl.n AS HUGEINT) * gl.n * tt.sab + tt.ta * tt.tb
      |    - 2 * gl.n * cc.crab AS vxy,
      |  CAST(gl.n AS HUGEINT) * gl.n * tt.saa + tt.ta * tt.ta
      |    - 2 * gl.n * cc.craa AS vxx,
      |  CAST(gl.n AS HUGEINT) * gl.n * tt.sbb + tt.tb * tt.tb
      |    - 2 * gl.n * cc.crbb AS vyy
      |  FROM tt CROSS JOIN cc CROSS JOIN gl)
      |SELECT (SELECT CAST(n AS BIGINT) FROM gl) AS n_days,
      |       CAST(floor(1000.0 * CAST(vxy AS DOUBLE)
      |            / sqrt(CAST(vxx AS DOUBLE) * CAST(vyy AS DOUBLE)))
      |            AS BIGINT) AS dcor2_milli
      |FROM vv
      |""".stripMargin)) { (s, dir) =>
    dcorStats(dayBase(s, dir))
      .select(col("n").cast("long").as("n_days"),
        expr("""CAST(floor(1000.0
          |  * CAST(CAST(n AS DECIMAL(38,0)) * n * sab + ta * tb
          |         - 2 * n * crab AS DOUBLE)
          |  / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * n * saa + ta * ta
          |              - 2 * n * craa AS DOUBLE)
          |         * CAST(CAST(n AS DECIMAL(38,0)) * n * sbb + tb * tb
          |                - 2 * n * crbb AS DOUBLE))) AS BIGINT)"""
          .stripMargin).as("dcor2_milli"))
  }

  /** One-row dCor V-statistic aggregates (n, ta, tb, sab, saa, sbb, crab,
    * craa, crbb) over the day panel (d, x, y). Size-gated (the day series
    * is CALENDAR-bounded): under the bound — row count ≤
    * [[SizeGate.PairRows]] AND max |x|, |y| ≤ 2⁴⁹, which keeps every
    * inner accumulator inside unsigned 128-bit by construction — the n²
    * pair fan-out folds into ONE executor task of exact integer
    * arithmetic (pair sums in (hi, lo) limbs, per-row sums in Long ≤ 2⁶²,
    * row-product sums in BigInt), bit-identical to the DECIMAL(38,0)
    * relational aggregates; above the bound the crossJoin + two-aggregate
    * plan runs unchanged. `DcorTwinSpec` forces both branches. */
  private[graft] def dcorStats(day: DataFrame): DataFrame = {
    val s = day.sparkSession
    import s.implicits._
    val lim = 1L << 49
    val Array(nd, mx, my) = day
      .agg(count(lit(1)),
        coalesce(max(abs(col("x"))), lit(0L)),
        coalesce(max(abs(col("y"))), lit(0L)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    if (SizeGate.local(s, SizeGate.PairRows)(nd) && mx <= lim &&
      my <= lim) {
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType) +:
        Seq("ta", "tb", "sab", "saa", "sbb", "crab", "craa", "crbb")
          .map(c => org.apache.spark.sql.types.StructField(c, dec38)))
      val rdd = day.select(col("x"), col("y"))
        .as[(Long, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray
          val n = rows.length
          if (n == 0) {
            // empty panel: the relational sums are NULL (agg over no
            // rows) alongside n = 0 — mirror that row exactly
            Iterator.single(org.apache.spark.sql.Row(
              0L, null, null, null, null, null, null, null, null))
          } else {
          val xs = rows.map(_._1); val ys = rows.map(_._2)
          def umulHi(a: Long, b: Long): Long =
            Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)
          // unsigned-128 accumulators (hi, lo): ta tb sab saa sbb
          val hi = new Array[Long](5); val lo = new Array[Long](5)
          def add128(k: Int, vHi: Long, vLo: Long): Unit = {
            val nl = lo(k) + vLo
            hi(k) += vHi +
              (if (java.lang.Long.compareUnsigned(nl, lo(k)) < 0) 1L
               else 0L)
            lo(k) = nl
          }
          var crab = BigInt(0); var craa = BigInt(0); var crbb = BigInt(0)
          var i = 0
          while (i < n) {
            var ra = 0L; var rb = 0L
            var j = 0
            while (j < n) {
              val aa = math.abs(xs(i) - xs(j))   // ≤ 2⁵⁰
              val bb = math.abs(ys(i) - ys(j))
              ra += aa; rb += bb                 // ≤ n·2⁵⁰ ≤ 2⁶²
              add128(0, 0L, aa); add128(1, 0L, bb)
              add128(2, umulHi(aa, bb), aa * bb)
              add128(3, umulHi(aa, aa), aa * aa)
              add128(4, umulHi(bb, bb), bb * bb)
              j += 1
            }
            crab += BigInt(ra) * BigInt(rb)
            craa += BigInt(ra) * BigInt(ra)
            crbb += BigInt(rb) * BigInt(rb)
            i += 1
          }
          def dec(k: Int): java.math.BigDecimal = {
            val b = java.nio.ByteBuffer.allocate(16)
            b.putLong(hi(k)).putLong(lo(k))
            new java.math.BigDecimal(
              new java.math.BigInteger(1, b.array()))
          }
          Iterator.single(org.apache.spark.sql.Row(
            n.toLong, dec(0), dec(1), dec(2), dec(3), dec(4),
            new java.math.BigDecimal(crab.bigInteger),
            new java.math.BigDecimal(craa.bigInteger),
            new java.math.BigDecimal(crbb.bigInteger)))
          }
        }
      s.createDataFrame(rdd, schema)
    } else {
      val dayM = day.materialize()
      val gl = dayM.agg(count(lit(1)).as("n"))
      val b = dayM.select(col("d").as("d2"), col("x").as("xb"),
        col("y").as("yb"))
      val pr = dayM.crossJoin(b)
        .select(col("d").as("i"),
          abs(col("x") - col("xb")).cast("decimal(38,0)").as("aa"),
          abs(col("y") - col("yb")).cast("decimal(38,0)").as("bb"))
        .materialize()
      val rs = pr.groupBy(col("i"))
        .agg(sum(col("aa")).as("ra"), sum(col("bb")).as("rb"))
      val tt = pr.agg(sum(col("aa")).as("ta"), sum(col("bb")).as("tb"),
        sum(col("aa") * col("bb")).as("sab"),
        sum(col("aa") * col("aa")).as("saa"),
        sum(col("bb") * col("bb")).as("sbb"))
      val cc = rs.agg(sum(col("ra") * col("rb")).as("crab"),
        sum(col("ra") * col("ra")).as("craa"),
        sum(col("rb") * col("rb")).as("crbb"))
      gl.crossJoin(broadcast(tt)).crossJoin(broadcast(cc))
        .select(col("n").cast("long").as("n"), col("ta"), col("tb"),
          col("sab"), col("saa"), col("sbb"), col("crab"), col("craa"),
          col("crbb"))
    }
  }

  /** Energy distance between weekend and weekday daily revenues:
    * E = 2·mean|X−Y| − mean|X−X'| − mean|Y−Y'| (V-statistic). */
  def q892: Q = Q(
    "q892_energy_distance",
    Some(s"""
      |WITH ${sqlDay},
      |wd AS (SELECT d, x, CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END
      |         AS w FROM day),
      |xy AS (SELECT sum(CAST(abs(a.x - b.x) AS HUGEINT)) AS sxy,
      |              count(*) AS nxy
      |       FROM wd a JOIN wd b ON a.w = 1 AND b.w = 0),
      |xx AS (SELECT sum(CAST(abs(a.x - b.x) AS HUGEINT)) AS sxx,
      |              count(*) AS nxx
      |       FROM wd a JOIN wd b ON a.w = 1 AND b.w = 1),
      |yy AS (SELECT sum(CAST(abs(a.x - b.x) AS HUGEINT)) AS syy,
      |              count(*) AS nyy
      |       FROM wd a JOIN wd b ON a.w = 0 AND b.w = 0)
      |SELECT CAST(floor(2.0 * CAST(sxy AS DOUBLE) / nxy
      |            - CAST(sxx AS DOUBLE) / nxx
      |            - CAST(syy AS DOUBLE) / nyy) AS BIGINT)
      |         AS energy_dist_cents,
      |       CAST(floor(1000.0 * (2.0 * CAST(sxy AS DOUBLE) / nxy
      |            - CAST(sxx AS DOUBLE) / nxx
      |            - CAST(syy AS DOUBLE) / nyy)
      |            / (2.0 * CAST(sxy AS DOUBLE) / nxy)) AS BIGINT)
      |         AS e_coefficient_milli
      |FROM xy CROSS JOIN xx CROSS JOIN yy
      |""".stripMargin)) { (s, dir) =>
    val wd = dayBase(s, dir)
      .select(col("x"),
        when(expr("weekday(d) >= 5"), 1).otherwise(0).as("w"))
      .materialize()
    val b = wd.select(col("x").as("xb"), col("w").as("wb"))
    def pairSum(wa: Int, wb: Int, nm: String): DataFrame =
      wd.where(col("w") === wa)
        .crossJoin(b.where(col("wb") === wb))
        .select(abs(col("x") - col("xb")).cast("decimal(38,0)").as("a"))
        .agg(sum(col("a")).as(s"s$nm"), count(lit(1)).as(s"n$nm"))
    pairSum(1, 0, "xy").crossJoin(broadcast(pairSum(1, 1, "xx")))
      .crossJoin(broadcast(pairSum(0, 0, "yy")))
      .select(
        expr("""CAST(floor(2.0 * CAST(sxy AS DOUBLE) / nxy
          |  - CAST(sxx AS DOUBLE) / nxx
          |  - CAST(syy AS DOUBLE) / nyy) AS BIGINT)""".stripMargin)
          .as("energy_dist_cents"),
        expr("""CAST(floor(1000.0 * (2.0 * CAST(sxy AS DOUBLE) / nxy
          |  - CAST(sxx AS DOUBLE) / nxx - CAST(syy AS DOUBLE) / nyy)
          |  / (2.0 * CAST(sxy AS DOUBLE) / nxy)) AS BIGINT)"""
          .stripMargin).as("e_coefficient_milli"))
  }

  /** Hoeffding's D (strict-inequality convention, documented): from
    * per-point concordance counts Q, c = #{x'<x}, e = #{y'<y}. */
  def q893: Q = Q(
    "q893_hoeffdings_d",
    Some(s"""
      |WITH ${sqlDay},
      |qc AS (
      |  SELECT a.d,
      |         sum(CASE WHEN b.x < a.x AND b.y < a.y THEN 1 ELSE 0 END)
      |           AS qq,
      |         sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END) AS c,
      |         sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS e
      |  FROM day a JOIN day b ON b.d != a.d GROUP BY 1),
      |dd AS (SELECT
      |  sum(CAST(qq AS HUGEINT) * (qq - 1)) AS d1,
      |  sum(CAST(c AS HUGEINT) * (c - 1) * e * (e - 1)) AS d2,
      |  sum(CAST(c - 1 AS HUGEINT) * (e - 1) * qq) AS d3
      |  FROM qc)
      |SELECT (SELECT CAST(n AS BIGINT) FROM gl) AS n_days,
      |       CAST(floor(1000000.0 * 30.0
      |         * (CAST((gl.n - 2) AS DOUBLE) * (gl.n - 3)
      |              * CAST(d1 AS DOUBLE)
      |            + CAST(d2 AS DOUBLE)
      |            - 2.0 * (gl.n - 2) * CAST(d3 AS DOUBLE))
      |         / (CAST(gl.n AS DOUBLE) * (gl.n - 1) * (gl.n - 2)
      |            * (gl.n - 3) * (gl.n - 4))) AS BIGINT)
      |         AS hoeffding_d_micro
      |FROM dd CROSS JOIN gl
      |""".stripMargin)) { (s, dir) =>
    val day = dayBase(s, dir).materialize()
    val gl = day.agg(count(lit(1)).as("n"))
    val b = day.select(col("d").as("d2"), col("x").as("xb"),
      col("y").as("yb"))
    val qc = day.join(b, col("d2") =!= col("d"))
      .groupBy(col("d"))
      .agg(sum(when(col("xb") < col("x") && col("yb") < col("y"), 1)
        .otherwise(0)).as("qq"),
        sum(when(col("xb") < col("x"), 1).otherwise(0)).as("c"),
        sum(when(col("yb") < col("y"), 1).otherwise(0)).as("e"))
    val dd = qc.select(
      (col("qq").cast("decimal(38,0)") * (col("qq") - 1)).as("t1"),
      (col("c").cast("decimal(38,0)") * (col("c") - 1) * col("e")
        * (col("e") - 1)).as("t2"),
      ((col("c") - 1).cast("decimal(38,0)") * (col("e") - 1)
        * col("qq")).as("t3"))
      .agg(sum(col("t1")).as("d1"), sum(col("t2")).as("d2"),
        sum(col("t3")).as("d3"))
    dd.crossJoin(broadcast(gl))
      .select(col("n").cast("long").as("n_days"),
        expr("""CAST(floor(1000000.0 * 30.0
          |  * (CAST((n - 2) AS DOUBLE) * (n - 3) * CAST(d1 AS DOUBLE)
          |     + CAST(d2 AS DOUBLE)
          |     - 2.0 * (n - 2) * CAST(d3 AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3)
          |     * (n - 4))) AS BIGINT)""".stripMargin)
          .as("hoeffding_d_micro"))
  }

  /** Chatterjee's ξ: 1 − 3Σ|r_{i+1} − r_i|/(n²−1) with points in
    * x-order (tie-break day) and r = #{y' ≤ y}. */
  def q894: Q = Q(
    "q894_chatterjee_xi",
    Some(s"""
      |WITH ${sqlDay},
      |yr AS (SELECT a.d, count(*) AS r
      |       FROM day a JOIN day b ON b.y <= a.y GROUP BY 1),
      |sx AS (SELECT row_number() OVER (ORDER BY day.x, day.d) AS ix,
      |              yr.r
      |       FROM day JOIN yr ON yr.d = day.d),
      |dm AS (SELECT sum(abs(b.r - a.r)) AS sd
      |       FROM sx a JOIN sx b ON b.ix = a.ix + 1)
      |SELECT (SELECT CAST(n AS BIGINT) FROM gl) AS n_days,
      |       CAST(1000 - (3000 * dm.sd)
      |            // (CAST(gl.n AS HUGEINT) * gl.n - 1) AS BIGINT)
      |         AS xi_milli
      |FROM dm CROSS JOIN gl
      |""".stripMargin)) { (s, dir) =>
    val day = dayBase(s, dir).materialize()
    val gl = day.agg(count(lit(1)).as("n"))
    val b = day.select(col("d").as("d2"), col("y").as("yb"))
    val yr = day.join(b, col("yb") <= col("y"))
      .groupBy(col("d")).agg(count(lit(1)).as("r"))
    val sx = day.join(yr, Seq("d"))
      .select(row_number().over(Window.orderBy(col("x"), col("d")))
        .as("ix"), col("r"))
    val dm = sx.join(sx.select((col("ix") - 1).as("ixb"),
        col("r").as("rb")), col("ix") === col("ixb"))
      .agg(sum(abs(col("rb") - col("r"))).as("sd"))
    dm.crossJoin(broadcast(gl))
      .select(col("n").cast("long").as("n_days"),
        expr("""CAST(1000 - (3000 * sd)
          |  div (CAST(n AS DECIMAL(38,0)) * n - 1) AS BIGINT)"""
          .stripMargin).as("xi_milli"))
  }

  /** Decile-binned mutual information between daily revenue and
    * quantity (ECDF cuts, per-cell DECIMAL(18,9) ln terms). */
  def q895: Q = Q(
    "q895_binned_mutual_info",
    Some(s"""
      |WITH ${sqlDay},
      |bx AS (SELECT a.d, count(*) AS rx
      |       FROM day a JOIN day b ON b.x <= a.x GROUP BY 1),
      |by2 AS (SELECT a.d, count(*) AS ry
      |        FROM day a JOIN day b ON b.y <= a.y GROUP BY 1),
      |bn AS (SELECT least(9, (10 * (bx.rx - 1)) // gl.n) AS i,
      |              least(9, (10 * (by2.ry - 1)) // gl.n) AS j
      |       FROM day JOIN bx ON bx.d = day.d
      |            JOIN by2 ON by2.d = day.d CROSS JOIN gl),
      |ct AS (SELECT i, j, count(*) AS c FROM bn GROUP BY 1, 2),
      |ri AS (SELECT i, sum(c) AS r FROM ct GROUP BY 1),
      |cj AS (SELECT j, sum(c) AS s FROM ct GROUP BY 1),
      |mi AS (SELECT sum(CAST((CAST(ct.c AS DOUBLE) / gl.n)
      |              * ln(CAST(gl.n AS DOUBLE) * ct.c
      |                   / (CAST(ri.r AS DOUBLE) * cj.s))
      |              AS DECIMAL(18,9))) AS m
      |       FROM ct JOIN ri ON ri.i = ct.i JOIN cj ON cj.j = ct.j
      |       CROSS JOIN gl)
      |SELECT CAST(floor(1000.0 * CAST(m AS DOUBLE)) AS BIGINT)
      |         AS mi_milli
      |FROM mi
      |""".stripMargin)) { (s, dir) =>
    val day = dayBase(s, dir).materialize()
    val gl = day.agg(count(lit(1)).as("n"))
    val b = day.select(col("d").as("d2"), col("x").as("xb"),
      col("y").as("yb"))
    val bx = day.join(b.select(col("d2"), col("xb")),
      col("xb") <= col("x")).groupBy(col("d")).agg(count(lit(1)).as("rx"))
    val by2 = day.join(b.select(col("d2"), col("yb")),
      col("yb") <= col("y")).groupBy(col("d")).agg(count(lit(1)).as("ry"))
    val bn = day.join(bx, Seq("d")).join(by2, Seq("d"))
      .crossJoin(broadcast(gl))
      .select(least(lit(9), expr("(10 * (rx - 1)) div n")).as("i"),
        least(lit(9), expr("(10 * (ry - 1)) div n")).as("j"))
    val ct = bn.groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      .materialize()
    val ri = ct.groupBy(col("i")).agg(sum(col("c")).as("r"))
    val cj = ct.groupBy(col("j")).agg(sum(col("c")).as("s"))
    ct.join(broadcast(ri), Seq("i")).join(broadcast(cj), Seq("j"))
      .crossJoin(broadcast(gl))
      .select(expr("""CAST((CAST(c AS DOUBLE) / n)
        |  * ln(CAST(n AS DOUBLE) * c / (CAST(r AS DOUBLE) * s))
        |  AS DECIMAL(18,9))""".stripMargin).as("t"))
      .agg(sum(col("t")).as("m"))
      .select(expr("CAST(floor(1000.0 * CAST(m AS DOUBLE)) AS BIGINT)")
        .as("mi_milli"))
  }
}
