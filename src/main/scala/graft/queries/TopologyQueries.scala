package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-8 topology wave: bounded k-truss peeling on the supplier
  * co-purchase graph, Moran's I and Geary's C spatial autocorrelation
  * of nation revenue under same-region weights, the Banzhaf voting
  * power of regions by revenue weight, and the Duncan dissimilarity
  * (segregation) index of returned vs kept quantity across brands.
  * Every face is dim-sized after one fact pass; the same-region
  * weight sums collapse to per-region aggregates (never an n×n
  * weight matrix), and the 2⁵ Banzhaf coalitions are an explicit
  * 32-row dim. */
object TopologyQueries {

  val all: Seq[Q] = Seq(q591, q592, q593, q594, q595)

  private def trussRounds = 6

  /** k-truss (k = 4) BOUNDED peeling on the [[SupplierGraph]] edges:
    * each round keeps edges supported by ≥ 2 triangles among the
    * surviving edges. The contract is the fixed 6-round trajectory —
    * each round one wedge join over the CURRENT edge set, materialized
    * (the constant-depth iteration pattern) — plus a convergence flag
    * (last two rounds equal). A fixpoint truss would need unbounded
    * rounds; the bounded trajectory is deterministic at every scale
    * and reports honestly whether it converged. */
  def q591: Q = {
    def roundCte(i: Int) =
      s"""ad_$i AS MATERIALIZED (SELECT a AS u, c AS v FROM r_$i
         |  UNION ALL SELECT c AS u, a AS v FROM r_$i),
         |sup_$i AS MATERIALIZED (
         |  SELECT e.a, e.c, count(*) AS s
         |  FROM r_$i e JOIN ad_$i p ON p.u = e.a
         |  JOIN ad_$i q ON q.u = e.c AND q.v = p.v
         |  GROUP BY 1, 2),
         |r_${i + 1} AS MATERIALIZED (SELECT a, c FROM sup_$i WHERE s >= 2)"""
        .stripMargin
    val countsSel = (0 to trussRounds).map(i =>
      s"SELECT $i AS rnd, (SELECT count(*) FROM r_$i) AS ne")
      .mkString("\n  UNION ALL ")
    Q("q591_ktruss_peeling",
      Some(s"""
        |WITH ${SupplierGraph.sqlEdgeCtes},
        |r_0 AS MATERIALIZED (SELECT a, c FROM e),
        |${(0 until trussRounds).map(roundCte).mkString(",\n")},
        |counts AS (
        |  $countsSel),
        |cv AS (SELECT CASE WHEN
        |    (SELECT ne FROM counts WHERE rnd = ${trussRounds - 1})
        |    = (SELECT ne FROM counts WHERE rnd = $trussRounds)
        |  THEN 1 ELSE 0 END AS converged)
        |SELECT CAST(rnd AS BIGINT) AS round, CAST(ne AS BIGINT) AS n_edges,
        |       CAST(cv.converged AS BIGINT) AS converged
        |FROM counts CROSS JOIN cv ORDER BY round
        |""".stripMargin)) { (s, dir) =>
      val e0 = SupplierGraph.edges(s, dir).select(col("a"), col("c"))
        .materialize(truncate = true)
      graft.operators.Triangles.trussTrajectory(e0, trussRounds)
        .orderBy(col("round"))
    }
  }

  /** Oracle CTEs shared by the spatial-autocorrelation pair: nation
    * supplier revenue y (cents), centered c = n·y − T (scaled by n to
    * stay integer), per-region sums, and the binary same-region weight
    * total W = Σ_r n_r(n_r−1). */
  private def nySql: String = """
    |ny AS (
    |  SELECT n.n_nationkey AS nk, any_value(n.n_regionkey) AS rk,
    |         sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS y
    |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    |  JOIN nation n ON s.s_nationkey = n.n_nationkey
    |  GROUP BY 1),
    |tot AS (SELECT count(*) AS n, sum(y) AS t FROM ny),
    |cz AS (SELECT nk, rk, CAST(tot.n AS HUGEINT) * y - tot.t AS c, y
    |       FROM ny CROSS JOIN tot),
    |wsum AS (SELECT sum(CAST(cnt AS BIGINT) * (cnt - 1)) AS w
    |         FROM (SELECT rk, count(*) AS cnt FROM ny GROUP BY 1))"""
    .stripMargin

  private def nyBase(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey").as("rk")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_nationkey").as("nk"), col("rk"))
      .agg(sum(expr("CAST(l_extendedprice * 100 AS DECIMAL(38,0))"))
        .as("y"))

  /** Moran's I of per-nation supplier revenue under binary same-region
    * weights: with w_ij = 1[region i = region j, i ≠ j] the double sum
    * collapses to Σ_r (S_r² − Q_r) over per-region totals of the
    * integer-centered c — no n×n weight matrix at any scale. One
    * pinned double division, milli-quantized. */
  def q592: Q = Q(
    "q592_morans_i_nations",
    Some(s"""
      |WITH ${nySql},
      |reg AS (SELECT rk, sum(c) AS sr, sum(c * c) AS qr
      |        FROM cz GROUP BY 1),
      |mm AS (SELECT sum(sr * sr - qr) AS num FROM reg),
      |dd AS (SELECT sum(c * c) AS den FROM cz)
      |SELECT CAST(tot.n AS BIGINT) AS n_nations,
      |       CAST(wsum.w AS BIGINT) AS w_pairs,
      |       CAST(floor(CAST(mm.num AS DOUBLE) * tot.n
      |         / (CAST(wsum.w AS DOUBLE) * CAST(dd.den AS DOUBLE))
      |         * 1000.0) AS BIGINT) AS moran_i_milli
      |FROM mm CROSS JOIN dd CROSS JOIN tot CROSS JOIN wsum
      |""".stripMargin)) { (s, dir) =>
    val ny = nyBase(s, dir).materialize()
    val tot = ny.agg(count(lit(1)).as("n"), sum(col("y")).as("t"))
    val cz = ny.crossJoin(broadcast(tot))
      .select(col("rk"),
        (col("n").cast("decimal(38,0)") * col("y") - col("t")).as("c"))
      .materialize()
    val wsum = ny.groupBy(col("rk")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") * (col("cnt") - 1)).as("w"))
    val mm = cz.groupBy(col("rk"))
      .agg(sum(col("c")).as("sr"), sum(col("c") * col("c")).as("qr"))
      .agg(sum(col("sr") * col("sr") - col("qr")).as("num"))
    val dd = cz.agg(sum(col("c") * col("c")).as("den"))
    mm.crossJoin(broadcast(dd)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(wsum))
      .select(col("n").as("n_nations"), col("w").as("w_pairs"),
        expr("CAST(floor(CAST(num AS DOUBLE) * n" +
          " / (CAST(w AS DOUBLE) * CAST(den AS DOUBLE))" +
          " * 1000.0) AS BIGINT)").as("moran_i_milli"))
  }

  /** Geary's C companion: the same-region pair sum Σ w_ij (y_i − y_j)²
    * collapses to Σ_r 2(n_r·Q_r − S_r²) on RAW revenue, the variance
    * denominator reuses the integer-centered Q_c (the n² scalings
    * cancel in one pinned expression). C < 1 ⇒ positive spatial
    * association, > 1 ⇒ negative — the local-difference view Moran's
    * cross-product misses. */
  def q593: Q = Q(
    "q593_gearys_c_nations",
    Some(s"""
      |WITH ${nySql},
      |regy AS (SELECT rk, count(*) AS nr, sum(y) AS sy,
      |                sum(y * y) AS qy
      |         FROM ny GROUP BY 1),
      |gg AS (SELECT sum(2 * (nr * qy - sy * sy)) AS num FROM regy),
      |dd AS (SELECT sum(c * c) AS den FROM cz)
      |SELECT CAST(tot.n AS BIGINT) AS n_nations,
      |       CAST(wsum.w AS BIGINT) AS w_pairs,
      |       CAST(floor(CAST(gg.num AS DOUBLE) * (tot.n - 1) * tot.n
      |         * tot.n / (2.0 * wsum.w * CAST(dd.den AS DOUBLE))
      |         * 1000.0) AS BIGINT) AS geary_c_milli
      |FROM gg CROSS JOIN dd CROSS JOIN tot CROSS JOIN wsum
      |""".stripMargin)) { (s, dir) =>
    val ny = nyBase(s, dir).materialize()
    val tot = ny.agg(count(lit(1)).as("n"), sum(col("y")).as("t"))
    val cz = ny.crossJoin(broadcast(tot))
      .select((col("n").cast("decimal(38,0)") * col("y") - col("t"))
        .as("c"))
    val wsum = ny.groupBy(col("rk")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") * (col("cnt") - 1)).as("w"))
    val gg = ny.groupBy(col("rk"))
      .agg(count(lit(1)).as("nr"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("qy"))
      .agg(sum(lit(2) * (col("nr") * col("qy") - col("sy") * col("sy")))
        .as("num"))
    val dd = cz.agg(sum(col("c") * col("c")).as("den"))
    gg.crossJoin(broadcast(dd)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(wsum))
      .select(col("n").as("n_nations"), col("w").as("w_pairs"),
        expr("CAST(floor(CAST(num AS DOUBLE) * (n - 1) * n * n" +
          " / (2.0 * w * CAST(den AS DOUBLE))" +
          " * 1000.0) AS BIGINT)").as("geary_c_milli"))
  }

  /** Banzhaf voting power of the 5 regions, weighted by revenue in
    * $1M units with a simple-majority quota: all 2⁵ coalitions are an
    * explicit 32-row mask dim crossed with the region dim (bit test
    * via mask div 2^k — no engine-specific shift operators), a region
    * is a SWING where the coalition passes and drops below quota
    * without it. The canonical "weight ≠ power" audit: shares of
    * revenue and shares of swings diverge. */
  def q594: Q = Q(
    "q594_banzhaf_region_power",
    Some("""
      |WITH w AS (
      |  SELECT r.r_regionkey AS rk, any_value(r.r_name) AS rname,
      |         sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS rev
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1),
      |wt AS (SELECT rk, rname,
      |              CAST(rev // 100000000 AS BIGINT) AS wv FROM w),
      |qt AS (SELECT sum(wv) // 2 + 1 AS quota FROM wt),
      |mk AS (SELECT unnest(range(0, 32)) AS mask),
      |mem AS (
      |  SELECT mk.mask, wt.rk, wt.wv,
      |         (mk.mask // (CASE wt.rk WHEN 0 THEN 1 WHEN 1 THEN 2
      |            WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END)) % 2 AS m
      |  FROM mk CROSS JOIN wt),
      |ct AS (SELECT mask, sum(m * wv) AS total FROM mem GROUP BY 1),
      |sw AS (
      |  SELECT mem.rk, count(*) AS swings
      |  FROM mem JOIN ct ON mem.mask = ct.mask CROSS JOIN qt
      |  WHERE mem.m = 1 AND ct.total >= qt.quota
      |    AND ct.total - mem.wv < qt.quota
      |  GROUP BY 1),
      |ts AS (SELECT sum(swings) AS t FROM sw)
      |SELECT CAST(wt.rk AS BIGINT) AS region_key, wt.rname AS region,
      |       CAST(wt.wv AS BIGINT) AS weight_mdollars,
      |       CAST(coalesce(sw.swings, 0) AS BIGINT) AS n_swings,
      |       CAST((1000 * coalesce(sw.swings, 0)) // ts.t AS BIGINT)
      |         AS banzhaf_permille
      |FROM wt LEFT JOIN sw ON wt.rk = sw.rk CROSS JOIN ts
      |ORDER BY region_key
      |""".stripMargin)) { (s, dir) =>
    val w = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir)
        .select(col("r_regionkey").as("rk"), col("r_name").as("rname")),
        col("n_regionkey") === col("rk"))
      .groupBy(col("rk"), col("rname"))
      .agg(sum(expr("CAST(l_extendedprice * 100 AS DECIMAL(38,0))"))
        .as("rev"))
    val wt = w.select(col("rk"), col("rname"),
      expr("CAST(rev div 100000000 AS BIGINT)").as("wv"))
      .materialize() // 5-row region dim feeds masks, quota, output
    val qt = wt.agg(expr("sum(wv) div 2 + 1").as("quota"))
    val mk = wt.sparkSession.range(0, 32).toDF("mask")
    val mem = mk.crossJoin(broadcast(wt))
      .select(col("mask"), col("rk"), col("wv"),
        expr("(mask div (CASE rk WHEN 0 THEN 1 WHEN 1 THEN 2" +
          " WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END)) % 2").as("m"))
    val ct = mem.groupBy(col("mask"))
      .agg(sum(col("m") * col("wv")).as("total"))
    val sw = mem.join(ct, "mask").crossJoin(broadcast(qt))
      .where(col("m") === 1 && col("total") >= col("quota") &&
        col("total") - col("wv") < col("quota"))
      .groupBy(col("rk")).agg(count(lit(1)).as("swings"))
    val ts = sw.agg(sum(col("swings")).as("t"))
    wt.join(sw.withColumnRenamed("rk", "srk"),
        col("rk") === col("srk"), "left")
      .crossJoin(broadcast(ts))
      .select(col("rk").cast("long").as("region_key"),
        col("rname").as("region"), col("wv").as("weight_mdollars"),
        coalesce(col("swings"), lit(0L)).as("n_swings"),
        expr("(1000 * coalesce(swings, 0)) div t")
          .as("banzhaf_permille"))
      .orderBy(col("region_key"))
  }

  /** Duncan dissimilarity index of returned vs kept quantity across
    * brands: D = ½ Σ_k |a_k/A − b_k/B| — the share of either mass
    * that would have to move brands to equalize the two
    * distributions. Exact as Σ|a_k·B − b_k·A| over 2AB (one pinned
    * division, micro-quantized); a D near 0 says returns are not
    * brand-concentrated. */
  def q595: Q = Q(
    "q595_duncan_dissimilarity",
    Some("""
      |WITH br AS (
      |  SELECT p.p_brand AS brand,
      |         sum(CASE WHEN l.l_returnflag = 'R'
      |             THEN CAST(floor(l.l_quantity + 0.5) AS BIGINT)
      |             ELSE 0 END) AS a,
      |         sum(CASE WHEN l.l_returnflag <> 'R'
      |             THEN CAST(floor(l.l_quantity + 0.5) AS BIGINT)
      |             ELSE 0 END) AS b
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1),
      |tt AS (SELECT sum(a) AS ta, sum(b) AS tb FROM br),
      |nm AS (SELECT sum(abs(CAST(a AS HUGEINT) * tt.tb
      |                      - CAST(b AS HUGEINT) * tt.ta)) AS num
      |       FROM br CROSS JOIN tt)
      |SELECT CAST((SELECT count(*) FROM br) AS BIGINT) AS n_brands,
      |       CAST(tt.ta AS BIGINT) AS qty_returned,
      |       CAST(tt.tb AS BIGINT) AS qty_kept,
      |       CAST(floor(CAST(nm.num AS DOUBLE)
      |         / (2.0 * tt.ta * tt.tb) * 1000000.0) AS BIGINT) AS d_micro
      |FROM nm CROSS JOIN tt
      |""".stripMargin)) { (s, dir) =>
    val br = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"))
      .agg(
        sum(when(col("l_returnflag") === "R",
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("a"),
        sum(when(col("l_returnflag") =!= "R",
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)"))
          .otherwise(0L)).as("b"))
      .materialize() // 25-row brand dim feeds totals AND the sum
    val tt = br.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    val nb = br.agg(count(lit(1)).as("n_brands"))
    br.crossJoin(broadcast(tt))
      .agg(sum(abs(col("a").cast("decimal(38,0)") * col("tb")
        - col("b").cast("decimal(38,0)") * col("ta"))).as("num"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      .crossJoin(broadcast(nb))
      .select(col("n_brands"), col("ta").as("qty_returned"),
        col("tb").as("qty_kept"),
        expr("CAST(floor(CAST(num AS DOUBLE) / (2.0 * ta * tb)" +
          " * 1000000.0) AS BIGINT)").as("d_micro"))
  }
}
