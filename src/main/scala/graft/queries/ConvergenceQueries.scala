package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables
import graft.sim.Similarity

/** Round-7 convergence-and-structure wave: VIF multicollinearity audit,
  * information-gain/gain-ratio feature screen, DBSCAN over embeddings
  * (reusing the shipped alternating-star CC), pinball-loss forecast
  * evaluation, and a PageRank convergence curve on the scaled-integer
  * recurrence (per-round L1 residuals — the observability face of the
  * iterative graph operators). */
object ConvergenceQueries {

  val all: Seq[Q] = Seq(q491, q492, q493, q494, q495)

  /** Variance inflation factors for (quantity, discount, part size):
    * VIF_j = 1/(1−R²_j) with R²_j in closed form from the three
    * pairwise Pearsons (standardized 3-regressor system) — the
    * multicollinearity audit run before trusting any multi-feature
    * regression here. Exact DECIMAL moments, pinned double finish. */
  def q491: Q = {
    def r(kn: String, da: String, db: String) =
      s"(CAST($kn AS DOUBLE) / sqrt(CAST($da AS DOUBLE)" +
        s" * CAST($db AS DOUBLE)))"
    val r12 = r("kn12", "d1", "d2")
    val r13 = r("kn13", "d1", "d3")
    val r23 = r("kn23", "d2", "d3")
    def r2(rab: String, rac: String, rbc: String) =
      s"(($rab * $rab + $rac * $rac - 2.0 * $rab * $rac * $rbc)" +
        s" / (1.0 - $rbc * $rbc))"
    def vif(r2e: String) = s"(1.0 / (1.0 - $r2e))"
    def q(e: String, name: String) =
      s"CAST(floor(CAST($e AS DECIMAL(28,6)) * 1000) AS BIGINT) AS $name"
    Q("q491_vif_multicollinearity",
      Some(s"""
        |WITH v AS (
        |  SELECT CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS x1,
        |         CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS x2,
        |         CAST(p.p_size AS BIGINT) AS x3
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |mo AS (
        |  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
        |         sum(x3) AS s3, sum(x1 * x1) AS q1, sum(x2 * x2) AS q2,
        |         sum(x3 * x3) AS q3, sum(x1 * x2) AS p12,
        |         sum(x1 * x3) AS p13, sum(x2 * x3) AS p23
        |  FROM v),
        |fr AS (
        |  SELECT n,
        |         CAST(n AS HUGEINT) * p12 - CAST(s1 AS HUGEINT) * s2 AS kn12,
        |         CAST(n AS HUGEINT) * p13 - CAST(s1 AS HUGEINT) * s3 AS kn13,
        |         CAST(n AS HUGEINT) * p23 - CAST(s2 AS HUGEINT) * s3 AS kn23,
        |         CAST(n AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS d1,
        |         CAST(n AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS d2,
        |         CAST(n AS HUGEINT) * q3 - CAST(s3 AS HUGEINT) * s3 AS d3
        |  FROM mo)
        |SELECT CAST(n AS BIGINT) AS n_lines,
        |       ${q(r12, "r_qty_disc_milli")},
        |       ${q(r13, "r_qty_size_milli")},
        |       ${q(r23, "r_disc_size_milli")},
        |       ${q(vif(r2(r12, r13, r23)), "vif_qty_milli")},
        |       ${q(vif(r2(r12, r23, r13)), "vif_disc_milli")},
        |       ${q(vif(r2(r13, r23, r12)), "vif_size_milli")}
        |FROM fr
        |""".stripMargin)) { (s, dir) =>
      val v = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .select(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("x1"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("x2"),
          col("p_size").cast("long").as("x3"))
      val mo = v.agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"),
        sum(col("x2")).as("s2"), sum(col("x3")).as("s3"),
        sum(col("x1") * col("x1")).as("q1"),
        sum(col("x2") * col("x2")).as("q2"),
        sum(col("x3") * col("x3")).as("q3"),
        sum(col("x1") * col("x2")).as("p12"),
        sum(col("x1") * col("x3")).as("p13"),
        sum(col("x2") * col("x3")).as("p23"))
      mo.select(col("n"),
          expr("CAST(n AS DECIMAL(38,0)) * p12 - CAST(s1 AS DECIMAL(38,0))" +
            " * s2").as("kn12"),
          expr("CAST(n AS DECIMAL(38,0)) * p13 - CAST(s1 AS DECIMAL(38,0))" +
            " * s3").as("kn13"),
          expr("CAST(n AS DECIMAL(38,0)) * p23 - CAST(s2 AS DECIMAL(38,0))" +
            " * s3").as("kn23"),
          expr("CAST(n AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0))" +
            " * s1").as("d1"),
          expr("CAST(n AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0))" +
            " * s2").as("d2"),
          expr("CAST(n AS DECIMAL(38,0)) * q3 - CAST(s3 AS DECIMAL(38,0))" +
            " * s3").as("d3"))
        .select(col("n").as("n_lines"),
          expr(q(r12, "r_qty_disc_milli")),
          expr(q(r13, "r_qty_size_milli")),
          expr(q(r23, "r_disc_size_milli")),
          expr(q(vif(r2(r12, r13, r23)), "vif_qty_milli")),
          expr(q(vif(r2(r12, r23, r13)), "vif_disc_milli")),
          expr(q(vif(r2(r13, r23, r12)), "vif_size_milli")))
    }
  }

  /** Information gain and gain ratio for q479's three stump features —
    * the entropy-based twin of the Gini screen (C4.5's criterion vs
    * CART's). Every p·log₂p term is micro-quantized from exact counts
    * (0·log 0 ≡ 0 guarded identically in both engines), so IG and the
    * ratio are exact integer arithmetic on quantized entropies. */
  def q492: Q = {
    def plogp(y: String, n: String) =
      s"(CASE WHEN $y = 0 OR $y = $n THEN 0 ELSE " +
        s"CAST(floor(CAST(-(CAST($y AS DOUBLE) / CAST($n AS DOUBLE))" +
        s" * log2(CAST($y AS DOUBLE) / CAST($n AS DOUBLE))" +
        s" AS DECIMAL(28,9)) * 1000000) AS BIGINT) END)"
    def h(y: String, n: String) =
      s"(${plogp(y, n)} + ${plogp(s"($n - $y)", n)})"
    Q("q492_info_gain_features",
      Some(s"""
        |WITH ${OpsSimQueries.sqlFeatureCounts},
        |m AS (
        |  SELECT feature, n, n1, y1, n - n1 AS n0, yy - y1 AS y0,
        |         ${h("yy", "n")} AS hp
        |  FROM (
        |    SELECT 'deep_discount' AS feature, n, yy, nd AS n1, yd AS y1
        |    FROM agg
        |    UNION ALL SELECT 'bulk_quantity', n, yy, nq, yq FROM agg
        |    UNION ALL SELECT 'urgent_priority', n, yy, nu, yu FROM agg) u),
        |g AS (
        |  SELECT feature, n, n1, hp,
        |         hp - (n1 * ${h("y1", "n1")} + n0 * ${h("y0", "n0")}) // n
        |           AS ig,
        |         ${h("n1", "n")} AS si
        |  FROM m)
        |SELECT feature, CAST(n1 AS BIGINT) AS n_true,
        |       CAST(ig AS BIGINT) AS info_gain_micro,
        |       CAST(si AS BIGINT) AS split_info_micro,
        |       CAST(CASE WHEN si = 0 THEN 0
        |            ELSE (1000 * greatest(ig, 0)) // si END
        |            AS BIGINT) AS gain_ratio_milli
        |FROM g ORDER BY feature
        |""".stripMargin)) { (s, dir) =>
      val u = OpsSimQueries.featureCounts(s, dir)
      u.select(col("feature"), col("n"), col("n1"),
          (col("n") - col("n1")).as("n0"), col("y1"),
          (col("yy") - col("y1")).as("y0"),
          expr(h("yy", "n")).as("hp"))
        .select(col("feature"), col("n1").as("n_true"),
          (col("hp") - expr(s"(n1 * ${h("y1", "n1")}" +
            s" + n0 * ${h("y0", "n0")}) div n")).as("info_gain_micro"),
          expr(h("n1", "n")).as("split_info_micro"))
        .select(col("feature"), col("n_true"), col("info_gain_micro"),
          col("split_info_micro"),
          expr("CASE WHEN split_info_micro = 0 THEN 0 ELSE" +
            " (1000 * greatest(info_gain_micro, 0))" +
            " div split_info_micro END").as("gain_ratio_milli"))
        .orderBy(col("feature"))
    }
  }

  /** DBSCAN over the embedding corpus (cosine ≥ 0.3 neighborhoods,
    * minPts = 4; probed: 281 cores — a real density regime): core
    * points by neighbor count, clusters = connected components of the
    * core-core graph via the shipped alternating-star CC operator,
    * borders attached to their minimum-label core neighbor. The oracle
    * replays the components with a recursive min-label CTE. One
    * blocked pair pass (the same shape as every sim-join here), then
    * dim-sized graph work. */
  def q493: Q = {
    val eps = 0.3
    val minPts = 4
    Q("q493_dbscan_embeddings",
      Some(s"""
        |WITH RECURSIVE pr AS (
        |  SELECT a.vec_id AS u, b.vec_id AS v
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE ${CorpusQueries.sqlCosine("a.embedding", "b.embedding")}
        |        >= $eps),
        |nb AS (SELECT u AS id, v AS nb FROM pr
        |       UNION ALL SELECT v, u FROM pr),
        |deg AS (SELECT id, count(*) AS d FROM nb GROUP BY 1),
        |core AS (SELECT id FROM deg WHERE d >= $minPts),
        |ce AS (
        |  SELECT nb.id AS u, nb.nb AS v FROM nb
        |  JOIN core c1 ON c1.id = nb.id JOIN core c2 ON c2.id = nb.nb),
        |reach(n, m) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT ce.v, r.m FROM reach r JOIN ce ON ce.u = r.n),
        |lbl AS (SELECT n AS id, min(m) AS cl FROM reach GROUP BY n),
        |border AS (
        |  SELECT nb.id, min(lbl.cl) AS cl
        |  FROM nb JOIN lbl ON lbl.id = nb.nb
        |  WHERE nb.id NOT IN (SELECT id FROM core)
        |  GROUP BY 1),
        |stats AS (
        |  SELECT (SELECT count(*) FROM embeddings) AS n_points,
        |         (SELECT count(*) FROM core) AS n_core,
        |         (SELECT count(*) FROM border) AS n_border,
        |         (SELECT count(DISTINCT cl) FROM lbl) AS n_clusters,
        |         (SELECT max(cnt) FROM (
        |            SELECT count(*) AS cnt FROM (
        |              SELECT cl FROM lbl UNION ALL SELECT cl FROM border) a
        |            GROUP BY cl) b) AS max_cluster
        |  )
        |SELECT CAST(n_points AS BIGINT) AS n_points,
        |       CAST(n_core AS BIGINT) AS n_core,
        |       CAST(n_border AS BIGINT) AS n_border,
        |       CAST(n_points - n_core - n_border AS BIGINT) AS n_noise,
        |       CAST(n_clusters AS BIGINT) AS n_clusters,
        |       CAST(max_cluster AS BIGINT) AS max_cluster_size
        |FROM stats
        |""".stripMargin)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).materialize()
      val b = emb.select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val pr = emb.join(broadcast(b), col("vec_id") < col("bid"))
        .where(Similarity.cosine(col("embedding"), col("bv")) >= eps)
        .select(col("vec_id").as("u"), col("bid").as("v"))
        .materialize()
      val nb = pr.unionAll(pr.select(col("v").as("u"), col("u").as("v")))
        .select(col("u").as("id"), col("v").as("nb"))
        .materialize()
      val core = nb.groupBy(col("id")).agg(count(lit(1)).as("d"))
        .where(col("d") >= minPts).select(col("id"))
        .materialize()
      val ce = nb
        .join(core.withColumnRenamed("id", "c1"), col("id") === col("c1"))
        .join(core.withColumnRenamed("id", "c2"), col("nb") === col("c2"))
        .select(col("id").as("doc_a"), col("nb").as("doc_b"))
      val lblAll = graft.dedup.Dedup.nearDupClusters(ce)
        .select(col("doc_id").as("id"), col("cluster_id").as("cl"))
      // isolated cores (no core-core edge) are their own cluster
      val lbl = core
        .join(lblAll.withColumnRenamed("id", "lid"),
          col("id") === col("lid"), "left")
        .select(col("id"), coalesce(col("cl"), col("id")).as("cl"))
        .materialize()
      val border = nb.join(core.withColumnRenamed("id", "cid"),
          col("id") === col("cid"), "left_anti")
        .join(lbl.select(col("id").as("lid"), col("cl")),
          col("nb") === col("lid"))
        .groupBy(col("id")).agg(min(col("cl")).as("cl"))
        .materialize()
      val nAll = emb.agg(count(lit(1)).as("n_points"))
      val nCore = core.agg(count(lit(1)).as("n_core"))
      val nBorder = border.agg(count(lit(1)).as("n_border"))
      val nCl = lbl.agg(countDistinct(col("cl")).as("n_clusters"))
      val maxCl = lbl.select(col("cl"))
        .unionAll(border.select(col("cl")))
        .groupBy(col("cl")).agg(count(lit(1)).as("cnt"))
        .agg(max(col("cnt")).as("max_cluster_size"))
      nAll.crossJoin(broadcast(nCore)).crossJoin(broadcast(nBorder))
        .crossJoin(broadcast(nCl)).crossJoin(broadcast(maxCl))
        .select(col("n_points"), col("n_core"), col("n_border"),
          (col("n_points") - col("n_core") - col("n_border")).as("n_noise"),
          col("n_clusters"), col("max_cluster_size"))
    }
  }

  /** Pinball (quantile) loss comparison of the two one-step forecasters
    * from q455 at τ = 0.1/0.5/0.9 — the asymmetric-loss evaluation a
    * quantile forecaster is actually judged by (τ = 0.5 recovers MAE/2).
    * All exact integers: losses are permille-scaled dollars. */
  def q494: Q = Q(
    "q494_pinball_forecast_eval",
    Some(s"""
      |WITH ${Scaffolds.sqlDailyDollars},
      |lagged AS (
      |  SELECT x, lag(x, 7) OVER (ORDER BY day) AS f_a,
      |            lag(x, 1) OVER (ORDER BY day) AS f_b
      |  FROM grid),
      |e AS (SELECT x, f_a, f_b FROM lagged WHERE f_a IS NOT NULL),
      |ml AS (
      |  SELECT model, f, x FROM (
      |    SELECT 'seasonal7' AS model, f_a AS f, x FROM e
      |    UNION ALL SELECT 'naive1', f_b, x FROM e) u),
      |taus(tau) AS (VALUES (100), (500), (900)),
      |loss AS (
      |  SELECT model, tau, count(*) AS n,
      |         sum(CASE WHEN x >= f THEN tau * (x - f)
      |             ELSE (1000 - tau) * (f - x) END) AS total
      |  FROM ml CROSS JOIN taus GROUP BY 1, 2)
      |SELECT model, CAST(tau AS BIGINT) AS tau_permille,
      |       CAST(total // n AS BIGINT) AS mean_pinball_milli
      |FROM loss ORDER BY model, tau_permille
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val grid = Scaffolds.dailyDollars(s, dir)
    val w = Window.orderBy(col("day")) // calendar-bounded
    val e = grid.select(col("x"), lag(col("x"), 7).over(w).as("f_a"),
        lag(col("x"), 1).over(w).as("f_b"))
      .where(col("f_a").isNotNull)
      .materialize()
    val ml = e.select(lit("seasonal7").as("model"), col("f_a").as("f"),
        col("x"))
      .unionAll(e.select(lit("naive1"), col("f_b"), col("x")))
    val taus = Seq(100, 500, 900).toDF("tau")
    ml.crossJoin(broadcast(taus))
      .groupBy(col("model"), col("tau"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") >= col("f"), col("tau") * (col("x") - col("f")))
          .otherwise((lit(1000) - col("tau")) * (col("f") - col("x"))))
          .as("total"))
      .select(col("model"), col("tau").cast("long").as("tau_permille"),
        expr("total div n").as("mean_pinball_milli"))
      .orderBy(col("model"), col("tau_permille"))
  }

  /** PageRank convergence curve on the supplier co-purchase graph
    * (support-weighted, symmetrized, the shared scale-free
    * [[SupplierGraph]] edges): per-round L1 residual
    * Σ|r_k − r_{k−1}| of the scaled-integer recurrence the shipped
    * TextRank/PageRank operators use — the observability face that
    * tells an operator how many rounds an iterative graph job actually
    * needs. Integer end to end, so the whole curve (not just the
    * final ranking) hash-replays in the oracle's generated CTE chain. */
  def q495: Q = {
    val iters = 8
    val scale = 1000000000L
    val duckContrib = "(17 * ((e.w * v.rank) // e.wout)) // 20"
    val vCtes = (1 to iters).map { kk =>
      s"""c$kk AS MATERIALIZED (
         |  SELECT e.dst AS node, sum($duckContrib) AS s
         |  FROM ew e JOIN v${kk - 1} v ON v.node = e.src GROUP BY 1),
         |v$kk AS MATERIALIZED (
         |  SELECT n.node, pars.base + coalesce(c$kk.s, 0) AS rank
         |  FROM nodes n LEFT JOIN c$kk ON c$kk.node = n.node
         |  CROSS JOIN pars)""".stripMargin
    }.mkString(",\n")
    val resRows = (1 to iters).map { kk =>
      s"SELECT $kk AS iter, (SELECT sum(abs(a.rank - b.rank)) " +
        s"FROM v$kk a JOIN v${kk - 1} b ON a.node = b.node) AS residual"
    }.mkString(" UNION ALL ")
    Q("q495_pagerank_convergence",
      Some(s"""
        |WITH ${SupplierGraph.sqlEdgeCtes},
        |ed AS (SELECT a AS src, c AS dst, w FROM e
        |       UNION ALL SELECT c, a, w FROM e),
        |ow AS (SELECT src, sum(w) AS wout FROM ed GROUP BY 1),
        |ew AS (SELECT ed.src, ed.dst, ed.w, ow.wout
        |       FROM ed JOIN ow ON ow.src = ed.src),
        |nodes AS (SELECT DISTINCT src AS node FROM ed),
        |pars AS (SELECT count(*) AS n, $scale // count(*) AS init,
        |                ${3 * scale} // (20 * count(*)) AS base
        |         FROM nodes),
        |v0 AS MATERIALIZED (
        |  SELECT node, (SELECT init FROM pars) AS rank FROM nodes),
        |$vCtes
        |SELECT CAST(iter AS BIGINT) AS iter,
        |       CAST(residual AS BIGINT) AS residual_units
        |FROM ($resRows) r ORDER BY iter
        |""".stripMargin)) { (s, dir) =>
      val ep = SupplierGraph.edges(s, dir)
      val ed = ep.select(col("a").as("src"), col("c").as("dst"), col("w"))
        .unionAll(ep.select(col("c").as("src"), col("a").as("dst"),
          col("w")))
        .materialize()
      SupplierGraph.pagerankResiduals(ed, iters, scale)
        .orderBy(col("iter"))
    }
  }
}
