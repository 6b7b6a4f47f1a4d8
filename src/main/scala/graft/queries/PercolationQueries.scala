package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.SizeGate

/** Round-11 percolation / robustness wave on the supplier
  * co-purchase graph ([[SupplierGraph]] edges): weight-threshold
  * percolation, targeted hub removal, random (hash) node failure,
  * hash bond percolation, and the Molloy–Reed robustness panel.
  *
  * Components use the exact "min reachable node id" representative:
  * Spark runs scenario-keyed synchronous min-label propagation TO
  * FIXPOINT (a driver-bounded loop of join+min rounds — the label
  * at fixpoint IS the min reachable id, independent of round
  * count); the oracle computes the same representative by
  * UNION-dedup reachability recursion (the q656 walk discipline).
  * Removal sets are deterministic: hubs by (degree DESC, id) on the
  * full graph, failures by the multiplicative-hash congruence.
  *
  * Scale: the edge spine is one fact pass (SupplierGraph); every
  * scenario frame is edges×scenarios. The label loop shuffles
  * O(E·scenarios) per round for ~diameter rounds and never
  * collects the graph to the driver. */
object PercolationQueries {

  val all: Seq[Q] = Seq(q1181, q1182, q1183, q1184, q1185)

  /** Oracle component CTEs over sed(sc, a, c) (both directions):
    * rep(sc, v, lbl), cs(sc, lbl, csize). */
  private def sqlComps: String = """
    |nodes AS (SELECT DISTINCT sc, a AS v FROM sed),
    |reach(sc, v, u) AS (
    |  SELECT sc, v, v FROM nodes
    |  UNION
    |  SELECT DISTINCT r.sc, r.v, sed.c
    |  FROM reach r JOIN sed ON sed.sc = r.sc AND sed.a = r.u),
    |rep AS (SELECT sc, v, min(u) AS lbl FROM reach GROUP BY 1, 2),
    |cs AS (SELECT sc, lbl, count(*) AS csize FROM rep GROUP BY 1, 2)""".stripMargin

  private def sqlOut: String = """
    |SELECT CAST(sc AS BIGINT) AS scenario,
    |       CAST(ne AS BIGINT) AS n_edges,
    |       CAST(nv AS BIGINT) AS n_nodes,
    |       CAST(nc AS BIGINT) AS n_components,
    |       CAST(giant AS BIGINT) AS giant_size,
    |       CAST((1000000 * giant) // nv AS BIGINT) AS giant_share_ppm
    |FROM (SELECT cs.sc, max(ec.ne) AS ne, sum(csize) AS nv,
    |             count(*) AS nc, max(csize) AS giant
    |      FROM cs JOIN ec ON ec.sc = cs.sc GROUP BY 1) q
    |ORDER BY scenario""".stripMargin

  /** Spark scenario-keyed components to fixpoint over sed(sc,a,c) —
    * the DISTRIBUTED branch of [[summarize]]'s size gate (min-label
    * propagation with pointer jumping), unchanged from round 11. */

  private def compsDistributed(sed: DataFrame): DataFrame = {
    // the scenario frames are dim-sized (≤ a few 100k rows) — pin
    // them to a handful of partitions so the fixpoint loop's rounds
    // are not dominated by 32-way shuffle scheduling overhead
    val s2 = sed.select(col("sc").as("jsc"), col("a").as("ja"),
      col("c").as("jc")).repartition(4).materialize()
    var lbl = s2.select(col("jsc").as("sc"), col("ja").as("v"))
      .distinct().repartition(4).withColumn("lbl", col("v"))
      .materialize()
    var changed = 1L
    while (changed > 0) {
      val cand = lbl.join(s2,
        col("sc") === col("jsc") && col("v") === col("ja"))
        .groupBy(col("jsc").as("sc2"), col("jc").as("v2"))
        .agg(min(col("lbl")).as("nl"))
      val viaEdge = lbl.join(cand,
        col("sc") === col("sc2") && col("v") === col("v2"),
        "left_outer")
        .select(col("sc"), col("v"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lblE"))
      // pointer jump: also adopt the label of the current label —
      // turns O(diameter) rounds into O(log diameter)
      val jm = viaEdge.select(col("sc").as("psc"), col("v").as("pv"),
        col("lblE").as("plbl"))
      val upd = viaEdge.join(jm,
        col("sc") === col("psc") && col("lblE") === col("pv"),
        "left_outer")
        .select(col("sc"), col("v"), col("old"),
          least(col("lblE"), coalesce(col("plbl"), col("lblE")))
            .as("lbl2"))
        .repartition(4).materialize()
      changed = upd.where(col("lbl2") < col("old")).count()
      lbl = upd.select(col("sc"), col("v"), col("lbl2").as("lbl"))
        .materialize()
    }
    lbl
  }

  /** Spark summary (scenario, n_edges, n_nodes, n_components, giant_size,
    * giant_share_ppm) from kept edges ke(sc, a, c, ...), size-gated on
    * the scenario-panel row count (the SupplierGraph fixpoint
    * discipline): under [[SizeGate.EdgeRows]] the WHOLE panel — per-
    * scenario union-find, component sizes, edge counts and the giant
    * share — folds into ONE executor task (round 11 folded only the label
    * step and still paid a count + shuffle + three groupBys + a join per
    * query); above the bound the distributed min-label rounds run exactly
    * as before. Components are execution-shape independent, so both
    * branches are bit-identical — `PercolationTwinSpec` checks both. */
  private[graft] def summarize(ke: DataFrame): DataFrame = {
    val s = ke.sparkSession
    if (SizeGate.local(ke, SizeGate.EdgeRows)) {
      import s.implicits._
      s.createDataFrame(
        ke.select(col("sc").cast("long"), col("a").cast("long"),
            col("c").cast("long"))
          .as[(Long, Long, Long)].rdd.repartition(1)
          .mapPartitions { it =>
            val bySc = it.toArray.groupBy(_._1)
            bySc.iterator.map { case (sc, edges) =>
              val parent =
                scala.collection.mutable.HashMap.empty[Long, Long]
              def find(x0: Long): Long = {
                var x = x0
                while (parent(x) != x) {
                  parent.update(x, parent(parent(x))) // path halving
                  x = parent(x)
                }
                x
              }
              edges.foreach { case (_, a, c) =>
                if (!parent.contains(a)) parent.update(a, a)
                if (!parent.contains(c)) parent.update(c, c)
                val ra = find(a); val rc = find(c)
                if (ra != rc) parent.update(math.max(ra, rc),
                  math.min(ra, rc))
              }
              val sizes =
                scala.collection.mutable.HashMap.empty[Long, Long]
              parent.keys.foreach { v =>
                val r = find(v)
                sizes.update(r, sizes.getOrElse(r, 0L) + 1L)
              }
              val nv = parent.size.toLong
              val nc = sizes.size.toLong
              val giant = if (sizes.isEmpty) 0L else sizes.values.max
              org.apache.spark.sql.Row(sc, edges.length.toLong, nv, nc,
                giant, (1000000L * giant) / nv)
            }
          },
        org.apache.spark.sql.types.StructType(
          Seq("scenario", "n_edges", "n_nodes", "n_components",
            "giant_size", "giant_share_ppm").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType))))
        .orderBy(col("scenario"))
    } else {
      val ec = ke.groupBy(col("sc").as("esc"))
        .agg(count(lit(1)).as("ne"))
      val sed = ke.select(col("sc"), col("a"), col("c"))
        .unionAll(ke.select(col("sc"), col("c").as("a"),
          col("a").as("c")))
      val cs = compsDistributed(sed).groupBy(col("sc"), col("lbl"))
        .agg(count(lit(1)).as("csize"))
      cs.groupBy(col("sc"))
        .agg(sum(col("csize")).as("nv"), count(lit(1)).as("nc"),
          max(col("csize")).as("giant"))
        .join(broadcast(ec), col("sc") === col("esc"))
        .select(col("sc").cast("long").as("scenario"),
          col("ne").cast("long").as("n_edges"),
          col("nv").cast("long").as("n_nodes"),
          col("nc").cast("long").as("n_components"),
          col("giant").cast("long").as("giant_size"),
          expr("CAST((1000000 * giant) div nv AS BIGINT)")
            .as("giant_share_ppm"))
        .orderBy(col("scenario"))
    }
  }

  /** Weight-threshold percolation: keep edges with w above the
    * scenario-permille weight order statistic (0 keeps all). */
  def q1181: Q = Q(
    "q1181_weight_percolation",
    Some(s"""
      |WITH RECURSIVE ${SupplierGraph.sqlEdgeCtes},
      |qs AS (SELECT * FROM (VALUES (0),(500),(750),(900)) v(sc)),
      |cuts AS (SELECT qs.sc,
      |           coalesce(max(CASE WHEN rn = (qs.sc * n + 999) // 1000
      |             THEN w END), 0) AS cut
      |         FROM qs CROSS JOIN
      |           (SELECT w, row_number() OVER (ORDER BY w, a, c) AS rn,
      |                   count(*) OVER () AS n FROM e) r
      |         GROUP BY 1),
      |ke AS (SELECT cuts.sc, e.a, e.c FROM e JOIN cuts
      |       ON e.w > cuts.cut),
      |ec AS (SELECT sc, count(*) AS ne FROM ke GROUP BY 1),
      |sed AS (SELECT sc, a, c FROM ke
      |        UNION ALL SELECT sc, c, a FROM ke),
      |${sqlComps}
      |${sqlOut}
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val e = SupplierGraph.edges(s, dir)
    // permille cuts via the weighted-histogram walk (the buildEdges
    // threshold discipline): the rank (sc·n + 999) div 1000 over rows
    // ordered by (w, a, c) reads the same w VALUE as the cumulative
    // count walk over DISTINCT w (the tie-break only permutes equal
    // w), so the full-dim single-partition row_number window this
    // query shipped with collapses to a few-hundred-row histogram —
    // the oracle keeps the row-rank text, the gate proves equality.
    // sc = 0 keeps everything: its rank is 0, i.e. cut = 0 literally.
    val cuts = graft.operators.OrderStats.weightedQuantilesDisc(
        e.select(col("w")).withColumn("k", lit(0L))
          .withColumn("one", lit(1L)),
        Seq("k"), "w", "one", Seq(500, 750, 900))
      .select(col("permille").as("sc"), col("value").as("cut"))
      .unionByName(Seq((0, 0L)).toDF("sc", "cut"))
    val ke = e.crossJoin(broadcast(cuts))
      .where(col("w") > col("cut"))
      .select(col("sc"), col("a"), col("c"))
    summarize(ke)
  }

  /** Targeted attack: remove the top-permille (degree DESC, id)
    * hubs — scenario = removed node share in permille (scale-aware:
    * a fixed count would strip the whole graph at small sf). */
  def q1182: Q = Q(
    "q1182_targeted_attack",
    Some(s"""
      |WITH RECURSIVE ${SupplierGraph.sqlEdgeCtes},
      |ed0 AS (SELECT a, c FROM e UNION ALL SELECT c, a FROM e),
      |deg AS (SELECT a AS v, count(*) AS dg FROM ed0 GROUP BY 1),
      |dr AS (SELECT v, row_number() OVER (ORDER BY dg DESC, v) AS hr
      |       FROM deg),
      |nv0 AS (SELECT count(*) AS nv FROM deg),
      |ks AS (SELECT * FROM (VALUES (100),(250),(500)) v(sc)),
      |ke AS (SELECT ks.sc, e.a, e.c
      |       FROM ks CROSS JOIN e CROSS JOIN nv0
      |       JOIN dr da ON da.v = e.a JOIN dr dc ON dc.v = e.c
      |       WHERE da.hr > (ks.sc * nv0.nv + 999) // 1000
      |         AND dc.hr > (ks.sc * nv0.nv + 999) // 1000),
      |ec AS (SELECT sc, count(*) AS ne FROM ke GROUP BY 1),
      |sed AS (SELECT sc, a, c FROM ke
      |        UNION ALL SELECT sc, c, a FROM ke),
      |${sqlComps}
      |${sqlOut}
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val e = SupplierGraph.edges(s, dir)
    val ed0 = e.select(col("a")).unionAll(e.select(col("c").as("a")))
    val deg = ed0.groupBy(col("a").as("v")).agg(count(lit(1)).as("dg"))
    val dr = deg.select(col("v"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("dg").desc, col("v"))).as("hr"))
    val nv0 = deg.agg(count(lit(1)).as("nv"))
    val ks = broadcast(Seq(100, 250, 500).toDF("sc"))
    val ke = e.crossJoin(ks).crossJoin(broadcast(nv0))
      .join(broadcast(dr.select(col("v").as("va"), col("hr").as("ha"))),
        col("va") === col("a"))
      .join(broadcast(dr.select(col("v").as("vc"), col("hr").as("hc"))),
        col("vc") === col("c"))
      .where(col("ha") > expr("(sc * nv + 999) div 1000") &&
        col("hc") > expr("(sc * nv + 999) div 1000"))
      .select(col("sc"), col("a"), col("c"))
    summarize(ke)
  }

  /** Random node failure: drop nodes with hash permille < p. */
  def q1183: Q = Q(
    "q1183_node_failure",
    Some(s"""
      |WITH RECURSIVE ${SupplierGraph.sqlEdgeCtes},
      |ps AS (SELECT * FROM (VALUES (250),(500),(750)) v(sc)),
      |ke AS (SELECT ps.sc, e.a, e.c
      |       FROM ps CROSS JOIN e
      |       WHERE ((e.a * 2654435761) % 2147483648) % 1000 >= ps.sc
      |         AND ((e.c * 2654435761) % 2147483648) % 1000 >= ps.sc),
      |ec AS (SELECT sc, count(*) AS ne FROM ke GROUP BY 1),
      |sed AS (SELECT sc, a, c FROM ke
      |        UNION ALL SELECT sc, c, a FROM ke),
      |${sqlComps}
      |${sqlOut}
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val e = SupplierGraph.edges(s, dir)
    val ps = broadcast(Seq(250, 500, 750).toDF("sc"))
    val ke = e.crossJoin(ps)
      .where(expr("((a * 2654435761) % 2147483648) % 1000 >= sc") &&
        expr("((c * 2654435761) % 2147483648) % 1000 >= sc"))
      .select(col("sc"), col("a"), col("c"))
    summarize(ke)
  }

  /** Bond percolation: drop edges with hash permille < p. */
  def q1184: Q = Q(
    "q1184_bond_percolation",
    Some(s"""
      |WITH RECURSIVE ${SupplierGraph.sqlEdgeCtes},
      |ps AS (SELECT * FROM (VALUES (250),(500),(750)) v(sc)),
      |ke AS (SELECT ps.sc, e.a, e.c
      |       FROM ps CROSS JOIN e
      |       WHERE (((e.a * 31 + e.c) * 2654435761) % 2147483648)
      |           % 1000 >= ps.sc),
      |ec AS (SELECT sc, count(*) AS ne FROM ke GROUP BY 1),
      |sed AS (SELECT sc, a, c FROM ke
      |        UNION ALL SELECT sc, c, a FROM ke),
      |${sqlComps}
      |${sqlOut}
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val e = SupplierGraph.edges(s, dir)
    val ps = broadcast(Seq(250, 500, 750).toDF("sc"))
    val ke = e.crossJoin(ps)
      .where(expr("(((a * 31 + c) * 2654435761) % 2147483648)" +
        " % 1000 >= sc"))
      .select(col("sc"), col("a"), col("c"))
    summarize(ke)
  }

  /** Molloy–Reed robustness panel: κ = ⟨k²⟩/⟨k⟩, the κ > 2
    * criterion, and the implied critical failure fraction
    * f_c = 1 − 1/(κ−1). */
  def q1185: Q = {
    val kap = "(CAST(sk2 AS DOUBLE) / CAST(sk AS DOUBLE))"
    val fc = s"(1.0 - 1.0 / ($kap - 1.0))"
    Q("q1185_molloy_reed",
      Some(s"""
        |WITH ${SupplierGraph.sqlEdgeCtes},
        |ed0 AS (SELECT a, c FROM e UNION ALL SELECT c, a FROM e),
        |deg AS (SELECT a AS v, count(*) AS dg FROM ed0 GROUP BY 1),
        |mo AS (SELECT count(*) AS nv, sum(dg) AS sk,
        |         sum(CAST(dg AS BIGINT) * dg) AS sk2
        |       FROM deg)
        |SELECT CAST(nv AS BIGINT) AS n_nodes,
        |       CAST(sk // nv AS BIGINT) AS mean_degree,
        |       CAST(floor(1000.0 * $kap) AS BIGINT) AS kappa_milli,
        |       CAST(CASE WHEN $kap > 2.0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS robust,
        |       CAST(floor(1000.0 * $fc) AS BIGINT) AS critical_fc_milli
        |FROM mo
        |""".stripMargin)) { (s, dir) =>
      val e = SupplierGraph.edges(s, dir)
      val ed0 = e.select(col("a")).unionAll(e.select(col("c").as("a")))
      ed0.groupBy(col("a").as("v")).agg(count(lit(1)).as("dg"))
        .agg(count(lit(1)).as("nv"), sum(col("dg")).as("sk"),
          sum(expr("CAST(dg AS BIGINT) * dg")).as("sk2"))
        .select(col("nv").cast("long").as("n_nodes"),
          expr("CAST(sk div nv AS BIGINT)").as("mean_degree"),
          expr(s"CAST(floor(1000.0 * $kap) AS BIGINT)")
            .as("kappa_milli"),
          expr(s"CAST(CASE WHEN $kap > 2.0 THEN 1 ELSE 0 END" +
            " AS BIGINT)").as("robust"),
          expr(s"CAST(floor(1000.0 * $fc) AS BIGINT)")
            .as("critical_fc_milli"))
    }
  }
}
