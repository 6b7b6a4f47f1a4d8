package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-7 dependence wave: categorical mutual information, targeted-
  * attack robustness of the supplier graph, asymmetric price
  * elasticity ("rockets and feathers"), Hill diversity numbers, and
  * the variance-ratio random-walk test. MI terms are micro-quantized
  * per cell; the attack curve reuses the alternating-star CC operator
  * per removal level. */
object DependenceQueries {

  val all: Seq[Q] = Seq(q561, q562, q563, q564, q565)

  /** Mutual information between the categorical line dimensions
    * (brand × discount level, brand × priority, discount × priority),
    * normalized by the smaller marginal entropy — which pairs actually
    * share information (they shouldn't, here — the audit that proves
    * the generator independent). I = Σ p(x,y)·log₂(p(x,y)/(p(x)p(y)))
    * with every term micro-quantized from exact counts. */
  def q561: Q = {
    // term: n_xy/N * log2(n_xy*N/(n_x*n_y)), micro-quantized per cell
    val term = "CAST(floor(CAST((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))" +
      " * log2(CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)" +
      " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))" +
      " AS DECIMAL(28,9)) * 1000000) AS BIGINT)"
    def plogp(cnt: String, n: String) =
      s"(CASE WHEN $cnt = 0 THEN 0 ELSE " +
        s"CAST(floor(CAST(-(CAST($cnt AS DOUBLE) / CAST($n AS DOUBLE))" +
        s" * log2(CAST($cnt AS DOUBLE) / CAST($n AS DOUBLE))" +
        s" AS DECIMAL(28,9)) * 1000000) AS BIGINT) END)"
    def pairCtes(name: String, xcol: String, ycol: String) =
      s"""${name}xy AS (
         |  SELECT $xcol AS x, $ycol AS y, count(*) AS nxy
         |  FROM l GROUP BY 1, 2),
         |${name}x AS (SELECT x, sum(nxy) AS nx FROM ${name}xy GROUP BY 1),
         |${name}y AS (SELECT y, sum(nxy) AS ny FROM ${name}xy GROUP BY 1),
         |${name}mi AS (
         |  SELECT sum($term) AS mi
         |  FROM ${name}xy JOIN ${name}x USING (x)
         |       JOIN ${name}y USING (y) CROSS JOIN nn),
         |${name}hx AS (SELECT sum(${plogp("nx", "(SELECT n FROM nn)")})
         |              AS h FROM ${name}x),
         |${name}hy AS (SELECT sum(${plogp("ny", "(SELECT n FROM nn)")})
         |              AS h FROM ${name}y),
         |${name}row AS (
         |  SELECT '$name' AS pair, ${name}mi.mi AS mi_micro,
         |         least(${name}hx.h, ${name}hy.h) AS hmin
         |  FROM ${name}mi CROSS JOIN ${name}hx CROSS JOIN ${name}hy)""".stripMargin
    Q("q561_mutual_information",
      Some(s"""
        |WITH l AS (
        |  SELECT p.p_brand AS brand,
        |         CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS disc,
        |         o.o_orderpriority AS prio
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |nn AS (SELECT count(*) AS n FROM l),
        |${pairCtes("brand_disc", "brand", "CAST(disc AS VARCHAR)")},
        |${pairCtes("brand_prio", "brand", "prio")},
        |${pairCtes("disc_prio", "CAST(disc AS VARCHAR)", "prio")}
        |SELECT pair, CAST(mi_micro AS BIGINT) AS mi_micro,
        |       CAST(CASE WHEN hmin = 0 THEN 0
        |            ELSE (1000 * greatest(mi_micro, 0)) // hmin END
        |            AS BIGINT) AS normalized_milli
        |FROM (SELECT * FROM brand_discrow UNION ALL
        |      SELECT * FROM brand_priorow UNION ALL
        |      SELECT * FROM disc_priorow) u
        |ORDER BY pair
        |""".stripMargin)) { (s, dir) =>
      // ONE fact aggregation to the 3-way contingency cube (≤ 25·11·5
      // cells); all three pairwise tables and the total are exact SUMS
      // of the cube's counts (guide §2.3 — the round-11 plan
      // materialized the 600k-row joined frame and re-shuffled it
      // three times, once per pair)
      val cube = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand").as("brand")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority").as("prio")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("brand"),
          expr("CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)" +
            " AS STRING)").as("disc"), col("prio"))
        .groupBy(col("brand"), col("disc"), col("prio"))
        .agg(count(lit(1)).as("nc"))
        .materialize()
      val nn = cube.agg(sum(col("nc")).as("n"))
      def mi(name: String, xc: String, yc: String) = {
        val xy = cube.groupBy(col(xc).as("x"), col(yc).as("y"))
          .agg(sum(col("nc")).as("nxy"))
          .materialize()
        val nx = xy.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
        val ny = xy.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
        val miV = xy.join(broadcast(nx), Seq("x"))
          .join(broadcast(ny), Seq("y"))
          .crossJoin(broadcast(nn))
          .agg(sum(expr(term)).as("mi"))
        def h(df: org.apache.spark.sql.DataFrame, cnt: String) =
          df.crossJoin(broadcast(nn))
            .agg(sum(expr(plogp(cnt, "n"))).as("h"))
        miV.crossJoin(broadcast(h(nx, "nx").select(col("h").as("hx"))))
          .crossJoin(broadcast(h(ny, "ny").select(col("h").as("hy"))))
          .select(lit(name).as("pair"), col("mi").as("mi_micro"),
            least(col("hx"), col("hy")).as("hmin"))
      }
      mi("brand_disc", "brand", "disc")
        .unionAll(mi("brand_prio", "brand", "prio"))
        .unionAll(mi("disc_prio", "disc", "prio"))
        .select(col("pair"), col("mi_micro"),
          expr("CASE WHEN hmin = 0 THEN 0" +
            " ELSE (1000 * greatest(mi_micro, 0)) div hmin END")
            .as("normalized_milli"))
        .orderBy(col("pair"))
    }
  }

  /** Targeted-attack robustness of the supplier graph: remove the
    * top-0/5/10/20% highest-degree nodes and measure the largest
    * surviving component's share — the hub-dependence curve (scale-
    * free graphs collapse fast; lattices don't). Components via the
    * shipped alternating-star CC per level; the oracle replays each
    * level with a recursive min-label walk. */
  def q562: Q = {
    val levels = Seq(0, 50, 100, 200) // permille of nodes removed
    val duckLevels = levels.map { lv =>
      s"""surv$lv AS (
         |  SELECT node FROM dr WHERE rnk > ($lv * nn) // 1000),
         |ee$lv AS (
         |  SELECT e.a, e.c FROM e
         |  JOIN surv$lv sa ON sa.node = e.a
         |  JOIN surv$lv sc ON sc.node = e.c),
         |ed$lv AS (SELECT a, c FROM ee$lv
         |          UNION ALL SELECT c, a FROM ee$lv),
         |reach$lv(n, m) AS (
         |  SELECT node, node FROM surv$lv
         |  UNION
         |  SELECT ed$lv.c, r.m FROM reach$lv r
         |       JOIN ed$lv ON ed$lv.a = r.n),
         |lbl$lv AS (SELECT n, min(m) AS cl FROM reach$lv GROUP BY 1),
         |big$lv AS (
         |  SELECT $lv AS lv, count(*) AS n_kept,
         |         (SELECT max(cnt) FROM (
         |            SELECT count(*) AS cnt FROM lbl$lv GROUP BY cl) t)
         |           AS biggest
         |  FROM surv$lv)""".stripMargin
    }.mkString(",\n")
    val unionRows = levels.map(lv => s"SELECT * FROM big$lv")
      .mkString(" UNION ALL ")
    Q("q562_attack_robustness",
      Some(s"""
        |WITH RECURSIVE ${SupplierGraph.sqlEdgeCtes},
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT c FROM e) u
        |  GROUP BY 1),
        |dr AS (
        |  SELECT node, row_number() OVER (ORDER BY d DESC, node) AS rnk,
        |         count(*) OVER () AS nn
        |  FROM deg),
        |$duckLevels
        |SELECT CAST(lv AS BIGINT) AS removed_permille,
        |       CAST(n_kept AS BIGINT) AS n_nodes_kept,
        |       CAST(coalesce(biggest, 0) AS BIGINT) AS largest_component,
        |       CAST(CASE WHEN n_kept = 0 THEN 0
        |            ELSE (1000 * coalesce(biggest, 0)) // n_kept END
        |            AS BIGINT) AS largest_share_milli
        |FROM ($unionRows) u ORDER BY removed_permille
        |""".stripMargin)) { (s, dir) =>
      val e = SupplierGraph.edges(s, dir).select(col("a"), col("c"))
        .materialize()
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("c").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .materialize()
      val nn0 = deg.count() // supplier dim: bounded driver scalar
      val dr = deg.withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("d").desc, col("node")))) // supplier dim window
        .materialize()
      attackPanel(e, dr, nn0, levels)
    }
  }

  /** Attack-robustness panel (removed_permille, n_nodes_kept,
    * largest_component, largest_share_milli) over the edge frame e(a, c)
    * and the degree-ranked node dim dr(node, rnk). Size-gated on the edge
    * count (the SupplierGraph fixpoint discipline): under
    * [[SizeGate.EdgeRows]] ALL levels run in ONE executor task —
    * per-level DSU over the surviving nodes (every survivor starts as its
    * own singleton, exactly the left-join-coalesce semantics of the
    * distributed plan), same Long cut/share arithmetic; above the bound
    * the per-level join + alternating-star component loop runs unchanged.
    * `AttackPanelTwinSpec` forces both branches. */
  private[graft] def attackPanel(e: org.apache.spark.sql.DataFrame,
      dr: org.apache.spark.sql.DataFrame, nn0: Long, levels: Seq[Int])
      : org.apache.spark.sql.DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    if (SizeGate.local(e, SizeGate.EdgeRows)) {
      val schema = org.apache.spark.sql.types.StructType(
        Seq("removed_permille", "n_nodes_kept", "largest_component",
          "largest_share_milli").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      val rdd = e.select(lit(0L).as("tg"), col("a").cast("long"),
          col("c").cast("long"))
        .unionAll(dr.select(lit(1L).as("tg"), col("node").cast("long"),
          col("rnk").cast("long")))
        .as[(Long, Long, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray
          val edges = rows.collect { case (0L, a, c) => (a, c) }
          val nodes = rows.collect { case (1L, v, r) => (v, r) }
          levels.iterator.map { lv =>
            val cut = (lv * nn0) / 1000
            val parent =
              scala.collection.mutable.HashMap.empty[Long, Long]
            nodes.foreach { case (v, r) =>
              if (r > cut) parent.update(v, v)
            }
            def find(x0: Long): Long = {
              var x = x0
              while (parent(x) != x) {
                parent.update(x, parent(parent(x)))
                x = parent(x)
              }
              x
            }
            edges.foreach { case (a, c) =>
              if (parent.contains(a) && parent.contains(c)) {
                val ra = find(a); val rc = find(c)
                if (ra != rc)
                  parent.update(math.max(ra, rc), math.min(ra, rc))
              }
            }
            val sizes =
              scala.collection.mutable.HashMap.empty[Long, Long]
            parent.keys.foreach { v =>
              val r = find(v)
              sizes.update(r, sizes.getOrElse(r, 0L) + 1L)
            }
            val nKept = parent.size.toLong
            val biggest = if (sizes.isEmpty) 0L else sizes.values.max
            val share = if (nKept == 0L) 0L else (1000L * biggest) / nKept
            org.apache.spark.sql.Row(lv.toLong, nKept, biggest, share)
          }
        }
      s.createDataFrame(rdd, schema).orderBy(col("removed_permille"))
    } else {
      val rows = levels.map { lv =>
        val cut = (lv * nn0) / 1000
        val surv = dr.where(col("rnk") > cut).select(col("node"))
          .materialize()
        val ee = e
          .join(surv.withColumnRenamed("node", "sa"),
            col("sa") === col("a"))
          .join(surv.withColumnRenamed("node", "sc"),
            col("sc") === col("c"))
          .select(col("a").as("doc_a"), col("c").as("doc_b"))
        val lbl = graft.dedup.Dedup.nearDupClusters(ee)
          .select(col("doc_id").as("node"), col("cluster_id").as("cl"))
        // isolated survivors are their own singleton component
        val full = surv.join(lbl.withColumnRenamed("node", "ln"),
            col("ln") === col("node"), "left")
          .select(col("node"), coalesce(col("cl"), col("node")).as("cl"))
        val nk = full.agg(count(lit(1)).as("n_kept"))
        val big = full.groupBy(col("cl")).agg(count(lit(1)).as("cnt"))
          .agg(max(col("cnt")).as("biggest"))
        nk.crossJoin(broadcast(big))
          .select(lit(lv.toLong).as("removed_permille"),
            col("n_kept").as("n_nodes_kept"),
            coalesce(col("biggest"), lit(0L)).as("largest_component"),
            expr("CASE WHEN n_kept = 0 THEN 0" +
              " ELSE (1000 * coalesce(biggest, 0)) div n_kept END")
              .as("largest_share_milli"))
      }
      rows.reduce(_ unionAll _).orderBy(col("removed_permille"))
    }
  }

  /** Asymmetric price elasticity ("rockets and feathers"): monthly
    * Δln(quantity) regressed on Δln(unit price) separately for price
    * RISES and FALLS across brand-months — do customers punish hikes
    * more than they reward cuts? Quantized log-diffs, exact split
    * OLS slopes. */
  def q563: Q = {
    def slope(pfx: String) =
      s"CAST(floor(CAST(CAST(${pfx}n * ${pfx}sxy - ${pfx}sx * ${pfx}sy" +
        s" AS DOUBLE) / CAST(${pfx}n * ${pfx}sxx - ${pfx}sx * ${pfx}sx" +
        s" AS DOUBLE) AS DECIMAL(28,6)) * 1000) AS BIGINT)"
    Q("q563_asymmetric_elasticity",
      Some(s"""
        |WITH bm AS (
        |  SELECT p.p_brand AS br,
        |         year(l.l_shipdate) * 12 + month(l.l_shipdate) AS mo,
        |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS e,
        |         sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT a.br,
        |         CAST(floor(CAST(
        |             ln(CAST(b.e AS DOUBLE) * CAST(a.q AS DOUBLE)
        |                / (CAST(a.e AS DOUBLE) * CAST(b.q AS DOUBLE)))
        |           AS DECIMAL(28,9)) * 1000) AS BIGINT) AS dp,
        |         CAST(floor(CAST(ln(CAST(b.q AS DOUBLE)
        |                / CAST(a.q AS DOUBLE))
        |           AS DECIMAL(28,9)) * 1000) AS BIGINT) AS dq
        |  FROM bm a JOIN bm b ON a.br = b.br AND b.mo = a.mo + 1
        |  WHERE a.q > 0 AND b.q > 0 AND a.e > 0 AND b.e > 0),
        |up AS (
        |  SELECT count(*) AS u_n, sum(dp) AS u_sx, sum(dq) AS u_sy,
        |         sum(dp * dq) AS u_sxy, sum(dp * dp) AS u_sxx
        |  FROM d WHERE dp > 0),
        |dn AS (
        |  SELECT count(*) AS d_n, sum(dp) AS d_sx, sum(dq) AS d_sy,
        |         sum(dp * dq) AS d_sxy, sum(dp * dp) AS d_sxx
        |  FROM d WHERE dp < 0)
        |SELECT CAST(u_n AS BIGINT) AS n_rises,
        |       CAST(d_n AS BIGINT) AS n_falls,
        |       ${slope("u_")} AS elasticity_up_milli,
        |       ${slope("d_")} AS elasticity_down_milli
        |FROM up CROSS JOIN dn
        |""".stripMargin)) { (s, dir) =>
      val bm = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand").as("br")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("br"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .as("mo"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100" +
          " AS DECIMAL(38,0))) AS BIGINT)").as("e"),
          sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).as("q"))
        .materialize()
      val d = bm.as("a")
        .join(bm.select(col("br").as("bbr"), col("mo").as("bmo"),
          col("e").as("be"), col("q").as("bq")),
          col("br") === col("bbr") && col("bmo") === col("mo") + 1)
        .where(col("q") > 0 && col("bq") > 0 && col("e") > 0
          && col("be") > 0)
        .select(
          expr("""CAST(floor(CAST(
              ln(CAST(be AS DOUBLE) * CAST(q AS DOUBLE)
                 / (CAST(e AS DOUBLE) * CAST(bq AS DOUBLE)))
            AS DECIMAL(28,9)) * 1000) AS BIGINT)""").as("dp"),
          expr("CAST(floor(CAST(ln(CAST(bq AS DOUBLE)" +
            " / CAST(q AS DOUBLE)) AS DECIMAL(28,9)) * 1000) AS BIGINT)")
            .as("dq"))
        .materialize()
      def side(cond: org.apache.spark.sql.Column, pfx: String) =
        d.where(cond).agg(count(lit(1)).as(s"${pfx}n"),
          sum(col("dp")).as(s"${pfx}sx"), sum(col("dq")).as(s"${pfx}sy"),
          sum(col("dp") * col("dq")).as(s"${pfx}sxy"),
          sum(col("dp") * col("dp")).as(s"${pfx}sxx"))
      side(col("dp") > 0, "u_").crossJoin(broadcast(
          side(col("dp") < 0, "d_")))
        .select(col("u_n").as("n_rises"), col("d_n").as("n_falls"),
          expr(slope("u_")).as("elasticity_up_milli"),
          expr(slope("d_")).as("elasticity_down_milli"))
    }
  }

  /** Hill diversity numbers of the revenue-over-parts distribution:
    * q=0 (richness), q=1 (exp of Shannon entropy — the "effective
    * catalog size"), q=2 (inverse Simpson) — the ecology-standard
    * diversity profile that says how many products the business
    * REALLY is. Entropy terms micro-quantized; Simpson exactly
    * rational. */
  def q564: Q = {
    def plogp = "(CASE WHEN r = 0 THEN 0 ELSE " +
      "CAST(floor(CAST(-(CAST(r AS DOUBLE) / CAST(t AS DOUBLE))" +
      " * ln(CAST(r AS DOUBLE) / CAST(t AS DOUBLE))" +
      " AS DECIMAL(28,9)) * 1000000) AS BIGINT) END)"
    Q("q564_hill_diversity",
      Some(s"""
        |WITH pr AS (
        |  SELECT l_partkey AS pk,
        |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |tt AS (SELECT sum(r) AS t, count(*) AS s FROM pr),
        |h AS (SELECT sum($plogp) AS h1 FROM pr CROSS JOIN tt),
        |simp AS (
        |  SELECT sum(CAST(r AS HUGEINT) * r) AS sq FROM pr)
        |SELECT (SELECT CAST(s AS BIGINT) FROM tt) AS hill_q0_richness,
        |       CAST(floor(CAST(exp(CAST((SELECT h1 FROM h) AS DOUBLE)
        |            / 1000000.0) AS DECIMAL(28,3))) AS BIGINT)
        |         AS hill_q1_effective,
        |       CAST((CAST((SELECT t FROM tt) AS HUGEINT)
        |             * (SELECT t FROM tt)) // (SELECT sq FROM simp)
        |            AS BIGINT) AS hill_q2_inv_simpson
        |""".stripMargin)) { (s, dir) =>
      val pr = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("pk"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100" +
          " AS DECIMAL(38,0))) AS BIGINT)").as("r"))
        .materialize()
      val tt = pr.agg(sum(col("r")).as("t"), count(lit(1)).as("s"))
      val h = pr.crossJoin(broadcast(tt))
        .agg(sum(expr(plogp)).as("h1"), max(col("s")).as("s"),
          max(col("t")).as("t"))
      val simp = pr.agg(sum(col("r").cast("decimal(38,0)") * col("r"))
        .as("sq"))
      h.crossJoin(broadcast(simp))
        .select(col("s").as("hill_q0_richness"),
          expr("CAST(floor(CAST(exp(CAST(h1 AS DOUBLE) / 1000000.0)" +
            " AS DECIMAL(28,3))) AS BIGINT)").as("hill_q1_effective"),
          expr("CAST((CAST(t AS DECIMAL(38,0)) * t) div sq AS BIGINT)")
            .as("hill_q2_inv_simpson"))
    }
  }

  /** Variance-ratio test on daily revenue: Var(k-day sums)/(k·Var(1-
    * day)) for k = 2/5/10 — a random walk sits at 1, mean reversion
    * below, momentum above (Lo–MacKinlay's screen). k-day sums come
    * from the prefix-sum grid; all moments exact; one pinned division
    * per k. */
  def q565: Q = {
    def vrFor(big: String) =
      s"CAST(floor(CAST((CAST(CAST(nk AS $big) * qk" +
        s" - CAST(sk AS $big) * sk AS DOUBLE)" +
        " / (CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)))" +
        s" / (CAST(k AS DOUBLE) * (CAST(CAST(n1 AS $big) * q1" +
        s" - CAST(s1 AS $big) * s1 AS DOUBLE)" +
        " / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))))" +
        " AS DECIMAL(28,6)) * 1000) AS BIGINT)"
    Q("q565_variance_ratio",
      Some(s"""
        |WITH ${Scaffolds.sqlDailyDollars},
        |base AS (
        |  SELECT count(*) AS n1, sum(x) AS s1,
        |         sum(CAST(x AS HUGEINT) * x) AS q1
        |  FROM grid),
        |ks AS (
        |  SELECT k.k, count(*) AS nk, sum(w.s) AS sk,
        |         sum(CAST(w.s AS HUGEINT) * w.s) AS qk
        |  FROM (SELECT unnest([2, 5, 10]) AS k) k
        |  JOIN LATERAL (
        |    SELECT a.day, sum(b.x) AS s
        |    FROM grid a JOIN grid b
        |      ON b.day BETWEEN a.day AND a.day + k.k - 1
        |    GROUP BY a.day
        |    HAVING count(*) = k.k) w ON TRUE
        |  GROUP BY 1)
        |SELECT CAST(ks.k AS BIGINT) AS k_days,
        |       CAST(ks.nk AS BIGINT) AS n_windows,
        |       ${vrFor("HUGEINT")} AS variance_ratio_milli
        |FROM ks CROSS JOIN base ORDER BY k_days
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("day"))
        .join(rev, col("day") === col("d"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
        .materialize()
      val base = grid.agg(count(lit(1)).as("n1"), sum(col("x")).as("s1"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("q1"))
      val ksDim = Seq(2, 5, 10).toDF("k")
      val wnd = grid.crossJoin(broadcast(ksDim))
        .join(grid.select(col("day").as("bday"), col("x").as("bx")),
          col("bday").between(col("day"), col("day") + col("k") - 1))
        .groupBy(col("k"), col("day"))
        .agg(sum(col("bx")).as("s"), count(lit(1)).as("cnt"))
        .where(col("cnt") === col("k"))
      val ks = wnd.groupBy(col("k"))
        .agg(count(lit(1)).as("nk"), sum(col("s")).as("sk"),
          sum(col("s").cast("decimal(38,0)") * col("s")).as("qk"))
      ks.crossJoin(broadcast(base))
        .select(col("k").cast("long").as("k_days"),
          col("nk").as("n_windows"),
          expr(vrFor("DECIMAL(38,0)")).as("variance_ratio_milli"))
        .orderBy(col("k_days"))
    }
  }
}
