package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

/** Round-9 spectral/walk-moment wave on the supplier co-purchase
  * graph: exact closed-walk moments tr A²/A³/A⁴ (via degrees,
  * triangles and common-neighbor pairs — never a matrix power),
  * the exact 4-cycle count, the Estrada–Rodríguez bipartivity
  * truncated at the 4th moment (stated contract, exact rational),
  * spectral-radius bounds from the moments, and the Zagreb/Randić
  * degree-topology indices. The one super-dim pass is the wedge
  * enumeration Θ(Σ deg²) — the same cost class as the shipped truss
  * support counting (q591) — and its output is the bounded
  * common-neighbor pair frame; everything else is degree-dim. */
object WalkMomentQueries {

  val all: Seq[Q] = Seq(q751, q752, q753, q754, q755)

  /** Oracle CTEs: e(a,c,w), ed both-direction, deg, and the
    * common-neighbor pair frame wp(u, v, cn) with u < v. */
  private def sqlWp: String = SupplierGraph.sqlEdgeCtes + """,
    |ed AS (SELECT a, c FROM e UNION ALL SELECT c, a FROM e),
    |deg AS (SELECT a AS v, count(*) AS dg FROM ed GROUP BY 1),
    |wp AS (
    |  SELECT x.c AS u, y.c AS v, count(*) AS cn
    |  FROM ed x JOIN ed y ON x.a = y.a AND x.c < y.c
    |  GROUP BY 1, 2)""".stripMargin

  /** Spark mirrors: (edges, adjacency, degrees, cn-pairs). */
  private def frames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = SupplierGraph.edges(s, dir).materialize()
    val ed = SupplierGraph.adjacencyOf(e) // (ea, ec), materialized
    val deg = ed.groupBy(col("ea").as("v")).agg(count(lit(1)).as("dg"))
    val x = ed.select(col("ea").as("w"), col("ec").as("u"))
    val y = ed.select(col("ea").as("w2"), col("ec").as("v"))
    val wp = x.join(y, col("w") === col("w2") && col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    (e, ed, deg, wp)
  }

  /** Oracle CTEs `nn`/`mm`/`tt`/`m4` over [[sqlWp]]: node count n,
    * edge count m, Σ cn over adjacent pairs (= 3T) and t4 = tr A⁴. */
  private def sqlWalkMoments: String =
    """nn AS (SELECT count(*) AS n FROM deg),
      |mm AS (SELECT count(*) AS m FROM e),
      |tt AS (
      |  SELECT coalesce(sum(wp.cn), 0) AS adjcn
      |  FROM wp JOIN e ON e.a = wp.u AND e.c = wp.v),
      |m4 AS (
      |  SELECT (SELECT sum(CAST(dg AS HUGEINT) * dg) FROM deg)
      |         + 2 * (SELECT coalesce(sum(CAST(cn AS HUGEINT) * cn), 0)
      |                FROM wp) AS t4)""".stripMargin

  /** Spark side of [[sqlWalkMoments]]: one row (n, m, adjcn, sd2, sc2)
    * with tr A⁴ = sd2 + 2·sc2. */
  private def walkMoments(s: SparkSession, dir: String): DataFrame = {
    val (e, _, deg, wp0) = frames(s, dir)
    val wp = wp0.materialize()
    val nn = deg.agg(count(lit(1)).as("n"))
    val mm = e.agg(count(lit(1)).as("m"))
    val tt = wp.join(e, e("a") === wp("u") && e("c") === wp("v"))
      .agg(coalesce(sum(col("cn")), lit(0L)).as("adjcn"))
    val d2 = deg.agg(sum(col("dg").cast("decimal(38,0)") * col("dg"))
      .as("sd2"))
    val c2 = wp.agg(coalesce(sum(col("cn").cast("decimal(38,0)")
      * col("cn")), lit(0).cast("decimal(38,0)")).as("sc2"))
    nn.crossJoin(broadcast(mm)).crossJoin(broadcast(tt))
      .crossJoin(broadcast(d2)).crossJoin(broadcast(c2))
  }

  /** Exact closed-walk moments: tr A² = 2m, tr A³ = 6T (T from
    * Σ cn over ADJACENT pairs = 3T), tr A⁴ = Σdeg² + 2Σ_{u<v}cn² —
    * the spectral fingerprint a sampling estimator would converge
    * to, computed exactly. */
  def q751: Q = Q(
    "q751_walk_moments",
    Some(s"""
      |WITH ${sqlWp},
      |${sqlWalkMoments}
      |SELECT CAST(nn.n AS BIGINT) AS n_nodes,
      |       CAST(mm.m AS BIGINT) AS n_edges,
      |       CAST(2 * mm.m AS BIGINT) AS tr_a2,
      |       CAST(2 * tt.adjcn AS BIGINT) AS tr_a3,
      |       CAST(m4.t4 AS BIGINT) AS tr_a4
      |FROM nn CROSS JOIN mm CROSS JOIN tt CROSS JOIN m4
      |""".stripMargin)) { (s, dir) =>
    walkMoments(s, dir)
      .select(col("n").cast("long").as("n_nodes"),
        col("m").cast("long").as("n_edges"),
        expr("CAST(2 * m AS BIGINT)").as("tr_a2"),
        expr("CAST(2 * adjcn AS BIGINT)").as("tr_a3"),
        expr("CAST(sd2 + 2 * sc2 AS BIGINT)").as("tr_a4"))
  }

  /** Exact 4-cycle count C4 = Σ_{u<v} C(cn,2) / 2 (each rectangle is
    * seen from its two diagonals) plus the count of "theta pairs"
    * (cn ≥ 2) — the redundancy skeleton of the co-purchase graph. */
  def q752: Q = Q(
    "q752_four_cycles",
    Some(s"""
      |WITH ${sqlWp}
      |SELECT CAST(coalesce(sum(CAST(cn AS HUGEINT) * (cn - 1)), 0) // 4
      |            AS BIGINT) AS n_4cycles,
      |       CAST(coalesce(sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END), 0)
      |            AS BIGINT) AS theta_pairs,
      |       CAST(coalesce(max(cn), 0) AS BIGINT) AS max_common
      |FROM wp
      |""".stripMargin)) { (s, dir) =>
    val (_, _, _, wp) = frames(s, dir)
    wp.agg(
      expr("CAST(coalesce(sum(CAST(cn AS DECIMAL(38,0)) * (cn - 1)), 0)" +
        " div 4 AS BIGINT)").as("n_4cycles"),
      coalesce(sum(when(col("cn") >= 2, 1L).otherwise(0L)), lit(0L))
        .as("theta_pairs"),
      coalesce(max(col("cn")), lit(0L)).as("max_common"))
  }

  /** Bipartivity, Estrada–Rodríguez form truncated at the 4th walk
    * moment (stated contract): b₄ = (24n + 12·trA² + trA⁴) /
    * (24n + 12·trA² + 4·trA³ + trA⁴) — an exact rational; 1 means
    * no odd closed walks (bipartite), 0.5 means odd walks dominate. */
  def q753: Q = Q(
    "q753_bipartivity_truncated",
    Some(s"""
      |WITH ${sqlWp},
      |${sqlWalkMoments}
      |SELECT CAST(nn.n AS BIGINT) AS n_nodes,
      |       CAST((1000000 * (24 * CAST(nn.n AS HUGEINT) + 24 * mm.m
      |              + m4.t4))
      |            // (24 * CAST(nn.n AS HUGEINT) + 24 * mm.m
      |                + 8 * tt.adjcn + m4.t4) AS BIGINT)
      |         AS bipartivity_ppm
      |FROM nn CROSS JOIN mm CROSS JOIN tt CROSS JOIN m4
      |""".stripMargin)) { (s, dir) =>
    walkMoments(s, dir)
      .select(col("n").cast("long").as("n_nodes"),
        expr("CAST((1000000 * (24 * CAST(n AS DECIMAL(38,0)) + 24 * m" +
          " + (sd2 + 2 * sc2)))" +
          " div (24 * CAST(n AS DECIMAL(38,0)) + 24 * m" +
          " + 8 * adjcn + (sd2 + 2 * sc2)) AS BIGINT)")
          .as("bipartivity_ppm"))
  }

  /** Spectral-radius sandwich from exact moments: lower bounds
    * 2m/n (mean degree), √(trA⁴/trA²)… specifically m₃/m₂ and
    * √dmax; upper bounds dmax and Hong's √(2m − n + 1) — the
    * eigenvalue estimate a power-iteration would need rounds to
    * reach, bracketed in closed form (milli). */
  def q754: Q = Q(
    "q754_spectral_radius_bounds",
    Some(s"""
      |WITH ${sqlWp},
      |nn AS (SELECT count(*) AS n FROM deg),
      |mm AS (SELECT count(*) AS m FROM e),
      |dx AS (SELECT max(dg) AS dmax FROM deg),
      |tt AS (
      |  SELECT coalesce(sum(wp.cn), 0) AS adjcn
      |  FROM wp JOIN e ON e.a = wp.u AND e.c = wp.v)
      |SELECT CAST((2000 * mm.m) // nn.n AS BIGINT)
      |         AS lb_mean_degree_milli,
      |       CAST((2000 * tt.adjcn) // (2 * mm.m) AS BIGINT)
      |         AS lb_m3_over_m2_milli,
      |       CAST(floor(sqrt(CAST(dx.dmax AS DOUBLE)) * 1000.0)
      |            AS BIGINT) AS lb_sqrt_dmax_milli,
      |       CAST(1000 * dx.dmax AS BIGINT) AS ub_dmax_milli,
      |       CAST(floor(sqrt(CAST(2 * mm.m - nn.n + 1 AS DOUBLE))
      |            * 1000.0) AS BIGINT) AS ub_hong_milli
      |FROM nn CROSS JOIN mm CROSS JOIN dx CROSS JOIN tt
      |""".stripMargin)) { (s, dir) =>
    val (e, _, deg, wp0) = frames(s, dir)
    val wp = wp0.materialize()
    val nn = deg.agg(count(lit(1)).as("n"))
    val mm = e.agg(count(lit(1)).as("m"))
    val dx = deg.agg(max(col("dg")).as("dmax"))
    val tt = wp.join(e, e("a") === wp("u") && e("c") === wp("v"))
      .agg(coalesce(sum(col("cn")), lit(0L)).as("adjcn"))
    nn.crossJoin(broadcast(mm)).crossJoin(broadcast(dx))
      .crossJoin(broadcast(tt))
      .select(
        expr("CAST((2000 * m) div n AS BIGINT)")
          .as("lb_mean_degree_milli"),
        expr("CAST((2000 * adjcn) div (2 * m) AS BIGINT)")
          .as("lb_m3_over_m2_milli"),
        expr("CAST(floor(sqrt(CAST(dmax AS DOUBLE)) * 1000.0)" +
          " AS BIGINT)").as("lb_sqrt_dmax_milli"),
        expr("CAST(1000 * dmax AS BIGINT)").as("ub_dmax_milli"),
        expr("CAST(floor(sqrt(CAST(2 * m - n + 1 AS DOUBLE))" +
          " * 1000.0) AS BIGINT)").as("ub_hong_milli"))
  }

  /** Degree-topology indices: first/second Zagreb (Σd², Σ_edges
    * d_u·d_v — exact) and the Randić connectivity index
    * Σ_edges 1/√(d_u d_v) with each edge term nano-quantized before
    * the sum — the branching-structure fingerprints. */
  def q755: Q = Q(
    "q755_zagreb_randic",
    Some(s"""
      |WITH ${sqlWp},
      |ez AS (
      |  SELECT da.dg AS du, dc.dg AS dv
      |  FROM e JOIN deg da ON da.v = e.a JOIN deg dc ON dc.v = e.c)
      |SELECT (SELECT CAST(sum(CAST(dg AS HUGEINT) * dg) AS BIGINT)
      |        FROM deg) AS zagreb1,
      |       CAST(sum(CAST(du AS HUGEINT) * dv) AS BIGINT) AS zagreb2,
      |       CAST(sum(CAST(floor(1000000000.0
      |              / sqrt(CAST(du AS DOUBLE) * dv)) AS BIGINT))
      |            // 1000 AS BIGINT) AS randic_micro
      |FROM ez
      |""".stripMargin)) { (s, dir) =>
    val (e, _, deg0, _) = frames(s, dir)
    val deg = deg0.materialize()
    val z1 = deg.agg(sum(col("dg").cast("decimal(38,0)") * col("dg"))
      .cast("long").as("zagreb1"))
    val ez = e
      .join(broadcast(deg.select(col("v").as("va"),
        col("dg").as("du"))), col("va") === col("a"))
      .join(broadcast(deg.select(col("v").as("vc"),
        col("dg").as("dv"))), col("vc") === col("c"))
    ez.agg(
        sum(col("du").cast("decimal(38,0)") * col("dv")).cast("long")
          .as("zagreb2"),
        expr("CAST(sum(CAST(floor(1000000000.0" +
          " / sqrt(CAST(du AS DOUBLE) * dv)) AS BIGINT))" +
          " div 1000 AS BIGINT)").as("randic_micro"))
      .crossJoin(broadcast(z1))
      .select(col("zagreb1"), col("zagreb2"), col("randic_micro"))
  }
}
