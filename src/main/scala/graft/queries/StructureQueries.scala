package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 structure wave: rich-club coefficients and local bridges
  * on the shared supplier graph, a second-price procurement auction
  * replay, shift-share growth decomposition, and a within/between
  * Gini decomposition. All exact integer arithmetic; graph thresholds
  * are degree order statistics (scale-free, like [[SupplierGraph]]
  * itself). */
object StructureQueries {

  val all: Seq[Q] = Seq(q526, q527, q528, q529, q530)

  /** Rich-club coefficients of the supplier co-purchase graph: edge
    * density among nodes whose degree exceeds the p50/p75/p90 degree
    * order statistics, vs the global density — do the best-connected
    * suppliers preferentially trade with each other? Dim-sized
    * everywhere past the shared edge build. */
  def q526: Q = Q(
    "q526_rich_club",
    Some(s"""
      |WITH ${SupplierGraph.sqlEdgeCtes},
      |deg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT c FROM e) u
      |  GROUP BY 1),
      |ks AS (
      |  SELECT p.p,
      |         coalesce(max(CASE WHEN rn = (p.p * n + 999) // 1000
      |                  THEN d END), -1) AS k
      |  FROM (SELECT d, row_number() OVER (ORDER BY d) AS rn,
      |               count(*) OVER () AS n FROM deg) r
      |  CROSS JOIN (SELECT unnest([0, 500, 750, 900]) AS p) p
      |  GROUP BY 1),
      |rich AS (
      |  SELECT ks.p, ks.k, count(*) AS nr
      |  FROM ks JOIN deg ON deg.d > ks.k
      |  GROUP BY 1, 2),
      |re AS (
      |  SELECT ks.p, count(*) AS er
      |  FROM ks JOIN e ON TRUE
      |  JOIN deg da ON da.node = e.a JOIN deg dc ON dc.node = e.c
      |  WHERE da.d > ks.k AND dc.d > ks.k
      |  GROUP BY 1)
      |SELECT CAST(rich.p AS BIGINT) AS degree_permille,
      |       CAST(rich.k AS BIGINT) AS degree_threshold,
      |       CAST(rich.nr AS BIGINT) AS n_rich,
      |       CAST(coalesce(re.er, 0) AS BIGINT) AS n_edges_rich,
      |       CAST(CASE WHEN rich.nr <= 1 THEN 0
      |            ELSE (2000 * coalesce(re.er, 0))
      |                 // (rich.nr * (rich.nr - 1)) END AS BIGINT)
      |         AS density_milli
      |FROM rich LEFT JOIN re ON re.p = rich.p
      |ORDER BY degree_permille
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val e = SupplierGraph.edges(s, dir).select(col("a"), col("c"))
      .materialize()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .materialize()
    val ks = graft.operators.OrderStats.quantilesDisc(
        deg.withColumn("k0", lit(0L)), Seq("k0"), "d", Seq(500, 750, 900))
      .select(col("permille").as("p"), col("value").as("k"))
      .unionAll(Seq((0L, -1L)).toDF("p", "k"))
      .materialize()
    val rich = ks.join(deg, col("d") > col("k"))
      .groupBy(col("p"), col("k")).agg(count(lit(1)).as("nr"))
    val re = ks.join(e, expr("true"))
      .join(deg.select(col("node").as("na"), col("d").as("da")),
        col("na") === col("a"))
      .join(deg.select(col("node").as("nc"), col("d").as("dc")),
        col("nc") === col("c"))
      .where(col("da") > col("k") && col("dc") > col("k"))
      .groupBy(col("p")).agg(count(lit(1)).as("er"))
    rich.join(re.withColumnRenamed("p", "rp"),
        col("rp") === col("p"), "left")
      .select(col("p").cast("long").as("degree_permille"),
        col("k").as("degree_threshold"), col("nr").as("n_rich"),
        coalesce(col("er"), lit(0L)).as("n_edges_rich"),
        expr("CASE WHEN nr <= 1 THEN 0 ELSE" +
          " (2000 * coalesce(er, 0)) div (nr * (nr - 1)) END")
          .as("density_milli"))
      .orderBy(col("degree_permille"))
  }

  /** Local bridges of the supplier graph: edges whose endpoints share
    * NO other neighbor — the weak-tie shortcuts whose removal
    * lengthens paths (Granovetter's bridges). Count, share, and the
    * strongest bridge by support weight. One path-2 anti-join on the
    * bounded supplier dim. */
  def q527: Q = Q(
    "q527_local_bridges",
    Some(s"""
      |WITH ${SupplierGraph.sqlEdgeCtes},
      |ed AS (SELECT a, c FROM e UNION ALL SELECT c, a FROM e),
      |tri AS (
      |  SELECT DISTINCT e.a, e.c
      |  FROM e JOIN ed x ON x.a = e.a JOIN ed y ON y.a = e.c
      |  WHERE x.c = y.c),
      |br AS (
      |  SELECT e.a, e.c, e.w FROM e
      |  LEFT JOIN tri ON tri.a = e.a AND tri.c = e.c
      |  WHERE tri.a IS NULL),
      |top AS (SELECT a, c, w FROM br ORDER BY w DESC, a, c LIMIT 1)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
      |       (SELECT CAST(count(*) AS BIGINT) FROM br) AS n_local_bridges,
      |       CAST((1000 * (SELECT count(*) FROM br))
      |            // (SELECT count(*) FROM e) AS BIGINT) AS share_milli,
      |       (SELECT CAST(a AS BIGINT) FROM top) AS top_bridge_a,
      |       (SELECT CAST(c AS BIGINT) FROM top) AS top_bridge_b,
      |       (SELECT CAST(w AS BIGINT) FROM top) AS top_bridge_weight
      |""".stripMargin)) { (s, dir) =>
    val e = SupplierGraph.edges(s, dir).materialize()
    val ed = e.select(col("a"), col("c"))
      .unionAll(e.select(col("c").as("a"), col("a").as("c")))
      .materialize()
    val tri = e.select(col("a").as("ta"), col("c").as("tc"))
      .join(ed.select(col("a").as("xa"), col("c").as("xc")),
        col("xa") === col("ta"))
      .join(ed.select(col("a").as("ya"), col("c").as("yc")),
        col("ya") === col("tc") && col("yc") === col("xc"))
      .select(col("ta"), col("tc")).distinct()
    val br = e.join(tri, col("ta") === col("a") && col("tc") === col("c"),
        "left_anti")
      .materialize()
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nb = br.agg(count(lit(1)).as("n_local_bridges"))
    val top = br.orderBy(col("w").desc, col("a"), col("c")).limit(1)
      .select(col("a").as("top_bridge_a"), col("c").as("top_bridge_b"),
        col("w").as("top_bridge_weight"))
    ne.crossJoin(broadcast(nb)).crossJoin(broadcast(top))
      .select(col("n_edges"), col("n_local_bridges"),
        expr("(1000 * n_local_bridges) div n_edges").as("share_milli"),
        col("top_bridge_a"), col("top_bridge_b"),
        col("top_bridge_weight"))
  }

  /** Second-price (Vickrey) procurement replay: per part, suppliers
    * "bid" their realized unit price (exact revenue/quantity rational,
    * milli-cent quantized); the cheapest wins but is paid the
    * second-cheapest bid. Aggregate overpayment vs first-price — the
    * mechanism-design number a sourcing team weighs. Ranks run inside
    * per-part windows (bounded fan-in), never globally. */
  def q528: Q = Q(
    "q528_second_price_procurement",
    Some("""
      |WITH bid AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |         (1000 * CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
      |                 AS BIGINT)) // CAST(sum(CAST(floor(l_quantity + 0.5)
      |                 AS BIGINT)) AS BIGINT) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |rk AS (
      |  SELECT pk, cost,
      |         row_number() OVER (PARTITION BY pk ORDER BY cost, sk) AS r
      |  FROM bid),
      |au AS (
      |  SELECT a.pk, a.cost AS first, b.cost AS second
      |  FROM rk a JOIN rk b ON a.pk = b.pk AND a.r = 1 AND b.r = 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_auctions,
      |       CAST(sum(first) // 1000 AS BIGINT) AS first_price_cents,
      |       CAST(sum(second) // 1000 AS BIGINT) AS second_price_cents,
      |       CAST((1000 * sum(second - first)) // sum(second) AS BIGINT)
      |         AS overpayment_permille
      |FROM au
      |""".stripMargin)) { (s, dir) =>
    val bid = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(expr("(1000 * CAST(sum(CAST(l_extendedprice * 100" +
        " AS DECIMAL(38,0))) AS BIGINT))" +
        " div sum(CAST(floor(l_quantity + 0.5) AS BIGINT))").as("cost"))
    val rk = graft.plans.GroupedTopK.topKPerKey(bid, Seq("pk"),
        Seq("cost" -> true, "sk" -> true), k = 2, rankCol = Some("r"))
      .materialize()
    rk.where(col("r") === 1).select(col("pk"), col("cost").as("first"))
      .join(rk.where(col("r") === 2)
        .select(col("pk").as("bpk"), col("cost").as("second")),
        col("pk") === col("bpk"))
      .agg(count(lit(1)).as("n_auctions"),
        expr("sum(first) div 1000").as("first_price_cents"),
        expr("sum(second) div 1000").as("second_price_cents"),
        expr("(1000 * sum(second - first)) div sum(second)")
          .as("overpayment_permille"))
  }

  /** Shift-share decomposition of brand revenue growth (early half →
    * late half): actual change = market effect (what growing with the
    * market would give, b₀·(T₁−T₀)/T₀ exactly as (b₀·T₁)//T₀ − b₀)
    * + competitive effect (the residual — genuine share gain/loss).
    * The regional-economics standard, here over the brand dim. */
  def q529: Q = Q(
    "q529_shift_share",
    Some("""
      |WITH r AS (
      |  SELECT p.p_brand AS brand,
      |         CAST(sum(CASE WHEN year(l.l_shipdate) <= 1997
      |              THEN CAST(l.l_extendedprice * 100 AS HUGEINT)
      |              ELSE 0 END) // 100 AS BIGINT) AS b0,
      |         CAST(sum(CASE WHEN year(l.l_shipdate) >= 1998
      |              THEN CAST(l.l_extendedprice * 100 AS HUGEINT)
      |              ELSE 0 END) // 100 AS BIGINT) AS b1
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1),
      |tot AS (SELECT sum(b0) AS t0, sum(b1) AS t1 FROM r)
      |SELECT brand,
      |       CAST(b1 - b0 AS BIGINT) AS actual_change_dollars,
      |       CAST((b0 * tot.t1) // tot.t0 - b0 AS BIGINT)
      |         AS market_effect_dollars,
      |       CAST((b1 - b0) - ((b0 * tot.t1) // tot.t0 - b0) AS BIGINT)
      |         AS competitive_effect_dollars
      |FROM r CROSS JOIN tot ORDER BY brand
      |""".stripMargin)) { (s, dir) =>
    val r = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"))
      .agg(expr("CAST(sum(CASE WHEN year(l_shipdate) <= 1997" +
        " THEN CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
        " ELSE CAST(0 AS DECIMAL(38,0)) END) div 100 AS BIGINT)").as("b0"),
        expr("CAST(sum(CASE WHEN year(l_shipdate) >= 1998" +
          " THEN CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
          " ELSE CAST(0 AS DECIMAL(38,0)) END) div 100 AS BIGINT)")
          .as("b1"))
      .materialize() // brand dim
    val tot = r.agg(sum(col("b0")).as("t0"), sum(col("b1")).as("t1"))
    r.crossJoin(broadcast(tot))
      .select(col("brand"),
        (col("b1") - col("b0")).as("actual_change_dollars"),
        expr("(b0 * t1) div t0 - b0").as("market_effect_dollars"),
        expr("(b1 - b0) - ((b0 * t1) div t0 - b0)")
          .as("competitive_effect_dollars"))
      .orderBy(col("brand"))
  }

  /** Gini decomposition of customer spend inequality into within-
    * segment and between-segment shares, via the RANK closed form
    * Σᵢ<ⱼ|xᵢ−xⱼ| = Σᵢ(2i−n−1)·x₍ᵢ₎ — O(n log n) instead of the naive
    * customer-dim² pair join (the dim scales with the data), with the
    * global and per-segment ranks both bucket-parallel
    * (globalRankCum). Zero-spend customers included (the classic
    * omission). */
  def q530: Q = Q(
    "q530_gini_decomposition",
    Some("""
      |WITH sp AS (
      |  SELECT c.c_custkey AS k, c.c_mktsegment AS seg,
      |         coalesce(CAST(sum(CAST(o.o_totalprice * 100 AS HUGEINT))
      |                  AS BIGINT), 0) AS x
      |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT count(*) AS n, sum(x) AS sx FROM sp),
      |rg AS (
      |  SELECT x, row_number() OVER (ORDER BY x, k) AS r,
      |         count(*) OVER () AS n
      |  FROM sp),
      |stot AS (
      |  SELECT sum(CAST(2 * r - n - 1 AS HUGEINT) * x) AS s FROM rg),
      |rw AS (
      |  SELECT x, row_number() OVER (PARTITION BY seg ORDER BY x, k)
      |           AS r,
      |         count(*) OVER (PARTITION BY seg) AS ns
      |  FROM sp),
      |sw AS (
      |  SELECT sum(CAST(2 * r - ns - 1 AS HUGEINT) * x) AS s FROM rw)
      |SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_customers,
      |       CAST((1000 * stot.s) // (CAST((SELECT n FROM tot) AS HUGEINT)
      |            * (SELECT sx FROM tot)) AS BIGINT) AS gini_milli,
      |       CAST((1000 * sw.s) // stot.s AS BIGINT)
      |         AS within_share_milli,
      |       CAST((1000 * (stot.s - sw.s)) // stot.s AS BIGINT)
      |         AS between_share_milli
      |FROM stot CROSS JOIN sw
      |""".stripMargin)) { (s, dir) =>
    val sp = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      .join(Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_totalprice")),
        col("o_custkey") === col("k"), "left")
      .groupBy(col("k"), col("seg"))
      .agg(coalesce(expr("CAST(sum(CAST(o_totalprice * 100" +
        " AS DECIMAL(38,0))) AS BIGINT)"), lit(0L)).as("x"))
      .withColumn("__bkt", expr("x div 4194304"))
      .materialize() // customer dim
    val tot = sp.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val rg = graft.dedup.SortedNeighborhood.globalRankCum(
        sp, idCol = "k", bucketCol = "__bkt", tieCols = Seq("x"),
        partCols = Nil, cumCol = None)
      .crossJoin(broadcast(tot))
    val stot = rg.agg(sum((lit(2) * col("__rank") - col("n") - 1)
      .cast("decimal(38,0)") * col("x")).as("s"))
    val segN = sp.groupBy(col("seg").as("cseg"))
      .agg(count(lit(1)).as("ns"))
    val rw = graft.dedup.SortedNeighborhood.globalRankCum(
        sp, idCol = "k", bucketCol = "__bkt", tieCols = Seq("x"),
        partCols = Seq("seg"), cumCol = None)
      .join(broadcast(segN), col("cseg") === col("seg"))
    val sw = rw.agg(sum((lit(2) * col("__rank") - col("ns") - 1)
      .cast("decimal(38,0)") * col("x")).as("s"))
    stot.select(col("s").as("st"))
      .crossJoin(broadcast(sw.select(col("s").as("swv"))))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_customers"),
        expr("CAST((1000 * st) div (CAST(n AS DECIMAL(38,0)) * sx)" +
          " AS BIGINT)").as("gini_milli"),
        expr("CAST((1000 * swv) div st AS BIGINT)")
          .as("within_share_milli"),
        expr("CAST((1000 * (st - swv)) div st AS BIGINT)")
          .as("between_share_milli"))
  }
}
