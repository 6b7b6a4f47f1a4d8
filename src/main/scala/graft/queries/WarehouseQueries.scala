package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-7 warehouse-analytics wave: calendar-delta reporting,
  * per-group argmin procurement, SLA attainment, share-shift, and
  * inter-order gap distributions — the classic OLAP report shapes over
  * the TPC-H-ish star schema, each exact-integer (cents / ppm / days)
  * end to end with a DuckDB oracle replaying the same arithmetic.
  */
object WarehouseQueries {

  val all: Seq[Q] = Seq(q276, q277, q278, q279, q280, q287, q291, q292,
    q293, q296, q297, q298, q303, q305, q308, q311, q312, q317, q319,
    q320, q321, q322, q323, q324, q325, q338, q342, q343, q346, q347,
    q350, q351, q353, q355, q358, q359, q360, q361, q364, q366, q367,
    q368, q369, q370, q371, q372, q373, q374, q375, q378, q380, q381,
    q382, q384, q387, q388, q390)

  /** Lines-per-order distribution with a Poisson overlay: observed
    * count-of-counts vs n·e^(−λ)·λ^k/k! at the MLE λ (one pinned
    * exp/pow chain, factorial as a literal CASE map so both engines
    * use the same exact integers), floor-milli — "is basket size
    * Poisson, or do order forms impose structure". */
  def q317: Q = {
    val factCase = "CASE k WHEN 1 THEN 1.0 WHEN 2 THEN 2.0 WHEN 3 " +
      "THEN 6.0 WHEN 4 THEN 24.0 WHEN 5 THEN 120.0 WHEN 6 THEN 720.0 " +
      "WHEN 7 THEN 5040.0 WHEN 8 THEN 40320.0 WHEN 9 THEN 362880.0 " +
      "WHEN 10 THEN 3628800.0 END"
    Q("q317_lines_poisson_fit",
      Some(s"""
        |WITH lc AS (
        |  SELECT l_orderkey, count(*) AS k FROM lineitem GROUP BY 1),
        |s AS (SELECT count(*) AS n_orders, sum(k) AS n_lines FROM lc),
        |d AS (SELECT k, count(*) AS observed FROM lc GROUP BY k)
        |SELECT CAST(d.k AS BIGINT) AS k,
        |       CAST(d.observed AS BIGINT) AS observed,
        |       CAST(floor(CAST(
        |         CAST(s.n_orders AS DOUBLE)
        |         * exp(-(CAST(s.n_lines AS DOUBLE)
        |                 / CAST(s.n_orders AS DOUBLE)))
        |         * pow(CAST(s.n_lines AS DOUBLE)
        |               / CAST(s.n_orders AS DOUBLE),
        |               CAST(d.k AS DOUBLE))
        |         / ($factCase)
        |       AS DECIMAL(18,9)) * 1000) AS BIGINT) AS expected_milli
        |FROM d CROSS JOIN s WHERE d.k <= 10 ORDER BY k
        |""".stripMargin)) { (s, dir) =>
      val lc = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k"))
        .materialize() // feeds the scalar totals AND the histogram
      val tot = lc.agg(count(lit(1)).as("n_orders"),
        sum(col("k")).as("n_lines"))
      lc.groupBy(col("k")).agg(count(lit(1)).as("observed"))
        .where(col("k") <= 10)
        .crossJoin(broadcast(tot))
        .select(col("k"), col("observed"),
          expr(s"""CAST(floor(CAST(
            CAST(n_orders AS DOUBLE)
            * exp(-(CAST(n_lines AS DOUBLE) / CAST(n_orders AS DOUBLE)))
            * pow(CAST(n_lines AS DOUBLE) / CAST(n_orders AS DOUBLE),
                  CAST(k AS DOUBLE))
            / ($factCase)
          AS DECIMAL(18,9)) * 1000) AS BIGINT)""").as("expected_milli"))
        .orderBy(col("k"))
    }
  }

  /** Part-name token revenue attribution: the top-20 name tokens by
    * attributed revenue — which WORDS in the catalog sell. The name
    * dim explodes (part-dim sized), revenue attaches via one fact
    * aggregate, the top-20 comes from distributed top-k. */
  def q319: Q = Q(
    "q319_part_name_token_revenue",
    Some("""
      |WITH pr AS (
      |  SELECT l_partkey AS part,
      |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM lineitem GROUP BY 1),
      |t AS (
      |  SELECT p.p_partkey AS part, unnest(string_split(p.p_name, ' '))
      |           AS tok
      |  FROM part p),
      |j AS (
      |  SELECT t.tok, pr.cents, t.part
      |  FROM t JOIN pr ON t.part = pr.part WHERE t.tok <> ''),
      |g AS (
      |  SELECT tok, sum(cents) AS rev_cents,
      |         count(DISTINCT part) AS n_parts
      |  FROM j GROUP BY tok)
      |SELECT tok, CAST(rev_cents AS BIGINT) AS rev_cents,
      |       CAST(n_parts AS BIGINT) AS n_parts
      |FROM g ORDER BY rev_cents DESC, tok LIMIT 20
      |""".stripMargin)) { (s, dir) =>
    val pr = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
    val t = Tables.part(s, dir)
      .select(col("p_partkey").as("part"),
        explode(split(col("p_name"), " ")).as("tok"))
      .where(col("tok") =!= "")
    t.join(pr, Seq("part"))
      .groupBy(col("tok"))
      .agg(sum(col("cents")).as("rev_cents"),
        countDistinct(col("part")).as("n_parts"))
      .orderBy(col("rev_cents").desc, col("tok")).limit(20)
  }

  /** Brand leader-share trend: per year the top brand by revenue and
    * its share in ppm — the market-concentration headline next to
    * q264's HHI and q279's full share table. Grouped top-1 over the
    * year-partitioned brand dim. */
  def q320: Q = Q(
    "q320_brand_leader_share",
    Some("""
      |WITH b AS (
      |  SELECT CAST(year(l.l_shipdate) AS BIGINT) AS y, p.p_brand AS brand,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |t AS (SELECT y, sum(cents) AS tot FROM b GROUP BY y),
      |r AS (
      |  SELECT b.y, b.brand, b.cents, t.tot,
      |         row_number() OVER (PARTITION BY b.y
      |           ORDER BY b.cents DESC, b.brand) AS rn
      |  FROM b JOIN t ON b.y = t.y)
      |SELECT y, brand AS leader_brand, cents AS leader_cents,
      |       CAST((1000000 * cents) // tot AS BIGINT) AS leader_share_ppm
      |FROM r WHERE rn = 1 ORDER BY y
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val b = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("y"),
        col("p_brand").as("brand"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
      .materialize() // feeds the totals AND the rank pass
    val t = b.groupBy(col("y")).agg(sum(col("cents")).as("tot"))
    b.join(broadcast(t), Seq("y"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("y"))
          .orderBy(col("cents").desc, col("brand"))))
      .where(col("rn") === 1)
      .select(col("y"), col("brand").as("leader_brand"),
        col("cents").as("leader_cents"),
        expr("(1000000 * cents) div tot").as("leader_share_ppm"))
      .orderBy(col("y"))
  }

  /** Order-grain cohort retention (q112's event-grain triangle on the
    * ORDER table): customers cohorted by first-order month index
    * (y·12+m), per (cohort, age-in-months) the distinct customers who
    * ordered again — the repeat-purchase decay curve. Two customer-dim
    * reductions and one distinct aggregate. */
  def q311: Q = Q(
    "q311_order_cohort_retention",
    Some("""
      |WITH o AS (
      |  SELECT o_custkey,
      |         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
      |              AS BIGINT) AS m
      |  FROM orders),
      |f AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY 1),
      |a AS (
      |  SELECT DISTINCT f.cm, o.m - f.cm AS age, o.o_custkey
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey)
      |SELECT cm AS cohort_month, CAST(age AS BIGINT) AS age_months,
      |       CAST(count(*) AS BIGINT) AS active_customers
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
      .materialize() // feeds the cohort dim AND the activity join
    val f = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cm"))
    o.join(f, Seq("o_custkey"))
      .select(col("cm"), (col("m") - col("cm")).as("age"), col("o_custkey"))
      .distinct()
      .groupBy(col("cm").as("cohort_month"), col("age").as("age_months"))
      .agg(count(lit(1)).as("active_customers"))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  /** Cross-supplier price dispersion per part (q277's sibling): parts
    * quoted by ≥2 suppliers, the milli-cent unit-price min/max and
    * the spread in ppm of the min — the procurement-arbitrage list.
    * Same two dim-sized shuffles as q277. */
  def q312: Q = Q(
    "q312_price_dispersion",
    Some("""
      |WITH ps AS (
      |  SELECT l_partkey AS part, l_suppkey AS supp,
      |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |u AS (SELECT part, supp, (1000 * cents) // qty AS unit_milli
      |      FROM ps WHERE qty > 0),
      |d AS (
      |  SELECT part, count(*) AS n_suppliers,
      |         min(unit_milli) AS min_unit_milli,
      |         max(unit_milli) AS max_unit_milli
      |  FROM u GROUP BY part HAVING count(*) >= 2)
      |SELECT part, CAST(n_suppliers AS BIGINT) AS n_suppliers,
      |       CAST(min_unit_milli AS BIGINT) AS min_unit_milli,
      |       CAST(max_unit_milli AS BIGINT) AS max_unit_milli,
      |       CAST((1000000 * (max_unit_milli - min_unit_milli))
      |            // min_unit_milli AS BIGINT) AS spread_ppm
      |FROM d ORDER BY part
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .where(col("qty") > 0)
      .withColumn("unit_milli", expr("(1000 * cents) div qty"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_suppliers"),
        min(col("unit_milli")).as("min_unit_milli"),
        max(col("unit_milli")).as("max_unit_milli"))
      .where(col("n_suppliers") >= 2)
      .withColumn("spread_ppm",
        expr("(1000000 * (max_unit_milli - min_unit_milli))" +
          " div min_unit_milli"))
      .orderBy(col("part"))
  }

  /** Revenue-coverage counts — the Lorenz inverse ("how many top
    * orders cover 50/80/90 % of revenue"): orders ranked by value
    * descending with a running revenue sum, both bucket-parallel
    * (globalRankCum over value bands — the order dim grows with the
    * business, so no single-partition window), then each permille
    * threshold reads off the smallest covering rank. Totals are a
    * broadcast scalar agg. */
  def q308: Q = Q(
    "q308_revenue_coverage",
    Some("""
      |WITH o AS (
      |  SELECT o_orderkey,
      |         CAST(o_totalprice * 100 AS HUGEINT) AS cents
      |  FROM orders),
      |tot AS (SELECT sum(cents) AS tot FROM o),
      |r AS (
      |  SELECT o_orderkey, cents,
      |         row_number() OVER (ORDER BY cents DESC, o_orderkey)
      |           AS rk,
      |         sum(cents) OVER (ORDER BY cents DESC, o_orderkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS cum
      |  FROM o),
      |th AS (SELECT unnest([500, 800, 900]) AS thr),
      |c AS (
      |  SELECT th.thr, min(r.rk) AS n_orders
      |  FROM th, r, tot WHERE 1000 * r.cum >= th.thr * tot.tot
      |  GROUP BY th.thr)
      |SELECT CAST(c.thr AS BIGINT) AS threshold_permille,
      |       CAST(c.n_orders AS BIGINT) AS n_orders,
      |       CAST((1000000 * r2.cum) // tot.tot AS BIGINT)
      |         AS share_ppm
      |FROM c JOIN r r2 ON r2.rk = c.n_orders CROSS JOIN tot
      |ORDER BY threshold_permille
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice") * 100).cast("decimal(38,0)").as("cents"))
      .materialize() // feeds the scalar total AND the rank/cum pass
    val tot = o.agg(sum(col("cents")).as("tot"))
    val ranked = graft.dedup.SortedNeighborhood.globalRankCum(
        o.withColumn("__negc", -col("cents"))
          .withColumn("__bkt", expr("__negc div 1000000")),
        idCol = "o_orderkey", bucketCol = "__bkt",
        tieCols = Seq("__negc"), cumCol = Some("cents"))
      .select(col("__rank").as("rk"), col("__cum").as("cum"))
      .materialize() // read once per threshold pass and once for share
    val th = s.range(0, 3).select(
      (element_at(array(lit(500L), lit(800L), lit(900L)),
        (col("id") + 1).cast("int"))).as("thr"))
    val c = ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(th))
      .where(col("cum") * 1000 >= col("thr") * col("tot"))
      .groupBy(col("thr")).agg(min(col("rk")).as("n_orders"))
    c.join(ranked.select(col("rk"), col("cum")),
        col("n_orders") === col("rk"))
      .crossJoin(broadcast(tot))
      .select(col("thr").as("threshold_permille"), col("n_orders"),
        expr("CAST((1000000 * cum) div tot AS BIGINT)").as("share_ppm"))
      .orderBy(col("threshold_permille"))
  }

  /** Degree assortativity of the co-purchase graph (q169's frequent
    * pairs as edges over suppliers): Pearson correlation of endpoint
    * degrees over both edge orientations — positive means hubs link
    * hubs (rich-club), negative means hub-and-spoke. Degrees and all
    * moment sums are exact integers over the EDGE dim (already
    * A-priori-pruned, pair support >= 20 so the graph is sparse enough
    * to have degree variance); one pinned double expression,
    * floor-milli — NULL when every degree is equal (a complete graph
    * has no assortativity to measure). */
  def q303: Q = Q(
    "q303_degree_assortativity",
    Some(s"""
      |WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
      |supp AS (
      |  SELECT i, count(*) AS supp FROM items GROUP BY i
      |  HAVING count(*) >= 50),
      |freq AS (SELECT items.b, items.i FROM items JOIN supp USING (i)),
      |pairs AS (
      |  SELECT x.i AS a, y.i AS bb
      |  FROM freq x JOIN freq y ON x.b = y.b AND x.i < y.i
      |  GROUP BY x.i, y.i
      |  HAVING count(*) >= 20),
      |deg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT a AS node FROM pairs
      |    UNION ALL SELECT bb FROM pairs) GROUP BY node),
      |ends AS (
      |  SELECT da.d AS dx, db.d AS dy
      |  FROM pairs JOIN deg da ON pairs.a = da.node
      |             JOIN deg db ON pairs.bb = db.node
      |  UNION ALL
      |  SELECT db.d, da.d
      |  FROM pairs JOIN deg da ON pairs.a = da.node
      |             JOIN deg db ON pairs.bb = db.node),
      |agg AS (
      |  SELECT count(*) AS m, sum(CAST(dx AS HUGEINT)) AS sx,
      |         sum(CAST(dy AS HUGEINT)) AS sy,
      |         sum(CAST(dx AS HUGEINT) * dx) AS sxx,
      |         sum(CAST(dy AS HUGEINT) * dy) AS syy,
      |         sum(CAST(dx AS HUGEINT) * dy) AS sxy
      |  FROM ends)
      |SELECT CAST(m AS BIGINT) AS n_endpoints,
      |       ${PipelineQueries.sqlPearsonMilli(
                 "m", "sx", "sy", "sxx", "syy", "sxy")}
      |         AS assortativity_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    val d38 = "decimal(38,0)"
    val pairs = graft.operators.Basket.frequentPairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_suppkey",
        minItemSupport = 50L, minPairSupport = 20L)
      .select(col("item_a").as("a"), col("item_b").as("bb"))
      .materialize() // feeds the degree dim AND both orientations
    val deg = pairs.select(col("a").as("node"))
      .unionByName(pairs.select(col("bb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val ends0 = pairs
      .join(broadcast(deg.select(col("node").as("a"), col("d").as("dx"))),
        Seq("a"))
      .join(broadcast(deg.select(col("node").as("bb"), col("d").as("dy"))),
        Seq("bb"))
      .select(col("dx"), col("dy"))
    val ends = ends0.unionByName(
      ends0.select(col("dy").as("dx"), col("dx").as("dy")))
    ends.agg(count(lit(1)).as("m"),
        sum(col("dx").cast(d38)).cast(d38).as("sx"),
        sum(col("dy").cast(d38)).cast(d38).as("sy"),
        sum(col("dx").cast(d38) * col("dx")).cast(d38).as("sxx"),
        sum(col("dy").cast(d38) * col("dy")).cast(d38).as("syy"),
        sum(col("dx").cast(d38) * col("dy")).cast(d38).as("sxy"))
      .select(col("m").as("n_endpoints"),
        expr(PipelineQueries.sqlPearsonMilli(
          "m", "sx", "sy", "sxx", "syy", "sxy"))
          .as("assortativity_milli"))
  }

  /** Zero-filled daily revenue series: every calendar day between the
    * first and last order date materialized via sequence(), missing
    * days zero-filled and FLAGGED — the gap-free time series a
    * forecasting model consumes (silent calendar holes are the top
    * cause of phantom seasonality). The day dim is generated, never
    * sorted out of the fact table. */
  def q305: Q = Q(
    "q305_zero_filled_daily",
    Some("""
      |WITH o AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
      |         CAST(o_totalprice * 100 AS HUGEINT) AS cents
      |  FROM orders),
      |rev AS (SELECT d, CAST(sum(cents) AS BIGINT) AS rev_cents,
      |               count(*) AS n_orders
      |        FROM o GROUP BY d),
      |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
      |days AS (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm)
      |SELECT days.d AS day,
      |       CAST(coalesce(rev.rev_cents, 0) AS BIGINT) AS rev_cents,
      |       CAST(coalesce(rev.n_orders, 0) AS BIGINT) AS n_orders,
      |       CAST(CASE WHEN rev.d IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |         AS is_gap
      |FROM days LEFT JOIN rev ON days.d = rev.d
      |ORDER BY day
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("d"),
        (col("o_totalprice") * 100).cast("decimal(38,0)").as("cents"))
      .materialize() // feeds the per-day rollup AND the range scalars
    val rev = o.groupBy(col("d"))
      .agg(sum(col("cents")).cast("long").as("rev_cents"),
        count(lit(1)).as("n_orders"))
    val mm = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val days = mm.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    days.join(rev, col("day") === col("d"), "left")
      .select(col("day"),
        coalesce(col("rev_cents"), lit(0L)).as("rev_cents"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        when(col("d").isNull, 1L).otherwise(0L).as("is_gap"))
      .orderBy(col("day"))
  }

  /** Directed association rules on top of q169's frequent pairs: both
    * orientations of every surviving pair with exact integer
    * confidence (milli) and the shared lift, kept when confidence
    * ≥ 40‰ (the synthetic baskets are broad, so absolute confidences sit low) — the "customers who bought from A also buy from B"
    * recommendation rule table. The A-priori support prune runs before
    * any pair fan-out (Basket.frequentPairs), so the rule step is
    * dim-sized arithmetic. */
  def q296: Q = Q(
    "q296_association_rules",
    Some("""
      |WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
      |tot AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
      |supp AS (
      |  SELECT i, count(*) AS supp FROM items GROUP BY i
      |  HAVING count(*) >= 50),
      |freq AS (SELECT items.b, items.i FROM items JOIN supp USING (i)),
      |pairs AS (
      |  SELECT x.i AS item_a, y.i AS item_b, count(*) AS ps
      |  FROM freq x JOIN freq y ON x.b = y.b AND x.i < y.i
      |  GROUP BY x.i, y.i
      |  HAVING count(*) >= 10),
      |wide AS (
      |  SELECT p.item_a, p.item_b, p.ps, sa.supp AS supp_a,
      |         sb.supp AS supp_b, tot.n_baskets
      |  FROM pairs p
      |  JOIN supp sa ON p.item_a = sa.i
      |  JOIN supp sb ON p.item_b = sb.i
      |  CROSS JOIN tot),
      |rules AS (
      |  SELECT item_a AS antecedent, item_b AS consequent, ps,
      |         supp_a AS supp_ante,
      |         (1000 * ps) // supp_a AS conf_milli,
      |         CAST((CAST(1000000 AS HUGEINT) * n_baskets * ps)
      |              // (CAST(supp_a AS HUGEINT) * supp_b) AS BIGINT)
      |           AS lift_ppm
      |  FROM wide
      |  UNION ALL
      |  SELECT item_b, item_a, ps, supp_b,
      |         (1000 * ps) // supp_b,
      |         CAST((CAST(1000000 AS HUGEINT) * n_baskets * ps)
      |              // (CAST(supp_a AS HUGEINT) * supp_b) AS BIGINT)
      |  FROM wide)
      |SELECT antecedent, consequent, CAST(ps AS BIGINT) AS pair_support,
      |       CAST(supp_ante AS BIGINT) AS supp_ante,
      |       CAST(conf_milli AS BIGINT) AS conf_milli, lift_ppm
      |FROM rules WHERE conf_milli >= 40
      |ORDER BY antecedent, consequent
      |""".stripMargin)) { (s, dir) =>
    val wide = graft.operators.Basket.frequentPairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_suppkey",
        minItemSupport = 50L, minPairSupport = 10L)
      .materialize() // both rule orientations read the same pair table
    def dir1(ante: String, cons: String, suppAnte: String) = wide.select(
      col(ante).as("antecedent"), col(cons).as("consequent"),
      col("pair_support"), col(suppAnte).as("supp_ante"),
      expr(s"(1000 * pair_support) div $suppAnte").as("conf_milli"),
      col("lift_ppm"))
    dir1("item_a", "item_b", "supp_a")
      .unionByName(dir1("item_b", "item_a", "supp_b"))
      .where(col("conf_milli") >= 40)
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** Return rate per brand with the Wilson lower confidence bound
    * (z=1.96) — the ranking statistic that keeps a 2-of-3 brand from
    * outranking a 190-of-1000 one. The bound is the same double
    * expression on both engines (IEEE sqrt, pinned op order),
    * floor-quantized to ppm; everything before it is integer
    * counting. */
  def q297: Q = {
    val wilson =
      """CAST(floor(CAST(
        |  ((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |   + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
        |   - 1.96 * sqrt(((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |       + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
        |       / CAST(n AS DOUBLE)))
        |  / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
        |AS DECIMAL(18,9)) * 1000000) AS BIGINT)""".stripMargin
    Q("q297_return_rate_wilson",
      Some(s"""
        |WITH c AS (
        |  SELECT p.p_brand AS brand, count(*) AS n,
        |         sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |           AS r
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1)
        |SELECT brand, CAST(n AS BIGINT) AS n_lines,
        |       CAST(r AS BIGINT) AS n_returns,
        |       CAST((1000000 * r) // n AS BIGINT) AS rate_ppm,
        |       $wilson AS wilson_lb_ppm
        |FROM c ORDER BY brand
        |""".stripMargin)) { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
        .select(col("brand"), col("n").as("n_lines"),
          col("r").as("n_returns"),
          expr("(1000000 * r) div n").as("rate_ppm"),
          expr(wilson).as("wilson_lb_ppm"))
        .orderBy(col("brand"))
    }
  }

  /** Shipment-split distribution: distinct ship dates per order →
    * count-of-counts — "how many orders ship complete in one go vs
    * dribble out over N days", the fulfillment-consolidation lever. */
  def q298: Q = Q(
    "q298_shipment_splits",
    Some("""
      |WITH d AS (
      |  SELECT l_orderkey,
      |         count(DISTINCT CAST(l_shipdate AS DATE)) AS n_dates
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(n_dates AS BIGINT) AS n_ship_dates,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM d GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_shipdate").cast("date")).as("n_ship_dates"))
      .groupBy(col("n_ship_dates"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_ship_dates"))
  }

  /** Schema evolution, HASH-GATED (the spec-only round-7 behavior made
    * an oracle row): build a ManifestCommit table from the even orders
    * (key, cents), appendVersioned the odd orders WITH an extra
    * priority column under mergeSchema, and read the final generation
    * back — pre-evolution rows must surface the added column as null
    * via the committed #schema= marker, no footer merge. The oracle
    * replays the union in plain SQL. Cached per source fingerprint;
    * staged + atomic-moved so readers never see a half-built table. */
  def q291: Q = Q(
    "q291_schema_evolution_read",
    Some("""
      |WITH g1 AS (
      |  SELECT o_orderkey AS key,
      |         CAST(CAST(o_totalprice * 100 AS HUGEINT) AS BIGINT)
      |           AS cents
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |g2 AS (
      |  SELECT o_orderkey AS key,
      |         CAST(CAST(o_totalprice * 100 AS HUGEINT) AS BIGINT)
      |           AS cents,
      |         o_orderpriority AS priority
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT key, cents, CAST(NULL AS VARCHAR) AS priority FROM g1
      |UNION ALL
      |SELECT key, cents, priority FROM g2
      |ORDER BY key
      |""".stripMargin)) { (s, dir) =>
    import graft.sources.{LocalFs, ManifestCommit}
    val orders = Tables.orders(s, dir)
    val path = CorpusQueries.storedIndexPath("schema_evo", dir, "orders")
    LocalFs.publishOnce(java.nio.file.Paths.get(path),
      p => ManifestCommit.latest(p.toString).nonEmpty) { stagePath =>
      val stage = stagePath.toString
      val cents = (col("o_totalprice") * 100).cast("decimal(38,0)")
        .cast("long").as("cents")
      ManifestCommit.writeVersioned(
        orders.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("key"), cents), stage)
      ManifestCommit.appendVersioned(
        orders.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey").as("key"), cents,
            col("o_orderpriority").as("priority")),
        stage, mergeSchema = true)
    }
    ManifestCommit.read(s, path)
      .select(col("key"), col("cents"), col("priority"))
      .orderBy(col("key"))
  }

  /** TPC-H Q1's margin-matrix sibling with the FULL price chain:
    * net = extprice·(1−discount)·(1+tax) and the discount give-back,
    * each floor-quantized to cents PER ROW before the integer sum —
    * order-free reductions, so the fp multiply chain (same op order
    * both engines) never meets a reduction tree. */
  def q292: Q = Q(
    "q292_margin_matrix",
    Some("""
      |SELECT l_returnflag, l_linestatus,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(floor(CAST(l_extendedprice * (1.0 - l_discount)
      |              * (1.0 + l_tax) AS DECIMAL(18,9)) * 100) AS BIGINT))
      |            AS BIGINT) AS net_cents,
      |       CAST(sum(CAST(floor(CAST(l_extendedprice * l_discount
      |              AS DECIMAL(18,9)) * 100) AS BIGINT)) AS BIGINT)
      |         AS discount_cents
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
      |""".stripMargin)) { (s, dir) =>
    def cents(c: org.apache.spark.sql.Column) =
      floor(c.cast("decimal(18,9)") * 100).cast("long")
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("__net"),
        cents(col("l_extendedprice") * col("l_discount")).as("__disc"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("__net")).as("net_cents"),
        sum(col("__disc")).as("discount_cents"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** New-vs-returning order mix per month — the growth-accounting
    * face on the ORDER grain (q259 does users on events): a customer's
    * first-ever order month from one customer-dim reduction, then per
    * month the order split and the count of customers acquired. */
  def q293: Q = Q(
    "q293_new_vs_returning",
    Some("""
      |WITH o AS (
      |  SELECT o_custkey,
      |         CAST(year(o_orderdate) * 100 + month(o_orderdate)
      |              AS BIGINT) AS ym
      |  FROM orders),
      |f AS (SELECT o_custkey, min(ym) AS first_ym FROM o GROUP BY 1),
      |nw AS (SELECT first_ym AS ym, count(*) AS n_new_customers
      |       FROM f GROUP BY 1),
      |j AS (
      |  SELECT o.ym,
      |         CASE WHEN o.ym = f.first_ym THEN 1 ELSE 0 END AS is_new
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey)
      |SELECT j.ym, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(is_new) AS BIGINT) AS n_orders_new,
      |       CAST(count(*) - sum(is_new) AS BIGINT) AS n_orders_returning,
      |       CAST(coalesce(max(nw.n_new_customers), 0) AS BIGINT)
      |         AS n_new_customers
      |FROM j LEFT JOIN nw ON j.ym = nw.ym
      |GROUP BY j.ym ORDER BY j.ym
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
      .materialize() // feeds first-order dim AND the order-grain join
    val f = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("first_ym"))
    val nw = f.groupBy(col("first_ym").as("ym"))
      .agg(count(lit(1)).as("n_new_customers"))
    o.join(f, Seq("o_custkey"))
      .select(col("ym"),
        when(col("ym") === col("first_ym"), 1L).otherwise(0L).as("is_new"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_orders"), sum(col("is_new")).as("__new"))
      .join(broadcast(nw), Seq("ym"), "left")
      .select(col("ym"), col("n_orders"),
        col("__new").as("n_orders_new"),
        (col("n_orders") - col("__new")).as("n_orders_returning"),
        coalesce(col("n_new_customers"), lit(0L)).as("n_new_customers"))
      .orderBy(col("ym"))
  }

  /** Customer-base overlap among the top-10 suppliers by revenue:
    * exact Jaccard of customer sets in ppm for every overlapping pair
    * — the channel-conflict / account-overlap report. Scale shape: the
    * supplier dim reduces to 10 rows via distributed top-k BEFORE any
    * pairing (broadcast semi-filter onto the fact join), so the
    * quadratic runs over 45 pairs of bounded sets, never supplier². */
  def q287: Q = Q(
    "q287_supplier_overlap",
    Some("""
      |WITH rev AS (
      |  SELECT l_suppkey AS supp,
      |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM lineitem GROUP BY 1),
      |top AS (SELECT supp FROM rev ORDER BY cents DESC, supp LIMIT 10),
      |sc AS (
      |  SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_suppkey IN (SELECT supp FROM top)),
      |n AS (SELECT supp, count(*) AS nc FROM sc GROUP BY supp),
      |inter AS (
      |  SELECT a.supp AS supp_a, b.supp AS supp_b, count(*) AS common
      |  FROM sc a JOIN sc b ON a.cust = b.cust AND a.supp < b.supp
      |  GROUP BY 1, 2)
      |SELECT i.supp_a, i.supp_b,
      |       CAST(na.nc AS BIGINT) AS n_a, CAST(nb.nc AS BIGINT) AS n_b,
      |       CAST(i.common AS BIGINT) AS n_common,
      |       CAST((1000000 * i.common) // (na.nc + nb.nc - i.common)
      |            AS BIGINT) AS jaccard_ppm
      |FROM inter i
      |JOIN n na ON i.supp_a = na.supp
      |JOIN n nb ON i.supp_b = nb.supp
      |ORDER BY supp_a, supp_b
      |""".stripMargin)) { (s, dir) =>
    val top = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("supp"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
      .orderBy(col("cents").desc, col("supp")).limit(10)
      .select(col("supp"))
    val sc = Tables.lineitem(s, dir)
      .join(broadcast(top), col("l_suppkey") === col("supp"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("supp"), col("o_custkey").as("cust"))
      .distinct()
      .materialize() // feeds per-supplier sizes AND the pair join
    val n = sc.groupBy(col("supp")).agg(count(lit(1)).as("nc"))
    // self-join of a derived frame: rename the right side outright
    val b = sc.select(col("supp").as("__sb"), col("cust").as("__bcust"))
    sc.join(b, col("cust") === col("__bcust") && col("supp") < col("__sb"))
      .groupBy(col("supp").as("supp_a"), col("__sb").as("supp_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(n.select(col("supp").as("supp_a"),
        col("nc").as("n_a"))), Seq("supp_a"))
      .join(broadcast(n.select(col("supp").as("supp_b"),
        col("nc").as("n_b"))), Seq("supp_b"))
      .select(col("supp_a"), col("supp_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("(1000000 * n_common) div (n_a + n_b - n_common)")
          .as("jaccard_ppm"))
      .orderBy(col("supp_a"), col("supp_b"))
  }

  /** Monthly revenue with month-over-month and year-over-year deltas —
    * the first page of every revenue dashboard. Calendar lags are
    * VALUE joins on the computed prior key (Jan→Dec wrap handled),
    * never row lags (NOTES rule: a missing month must yield null, not
    * silently compare against the wrong month). The month dim is
    * calendar-bounded, so the two lag joins broadcast. */
  def q276: Q = Q(
    "q276_monthly_revenue_deltas",
    Some("""
      |WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |         CAST(month(o_orderdate) AS BIGINT) AS mo,
      |         CAST(sum(CAST(o_totalprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS rev_cents
      |  FROM orders GROUP BY 1, 2)
      |SELECT m.y * 100 + m.mo AS ym, m.rev_cents,
      |       m.rev_cents - pm.rev_cents AS mom_delta_cents,
      |       m.rev_cents - py.rev_cents AS yoy_delta_cents
      |FROM m
      |LEFT JOIN m pm ON (CASE WHEN m.mo = 1 THEN (m.y - 1) * 100 + 12
      |                        ELSE m.y * 100 + m.mo - 1 END)
      |                  = pm.y * 100 + pm.mo
      |LEFT JOIN m py ON (m.y - 1) * 100 + m.mo = py.y * 100 + py.mo
      |ORDER BY ym
      |""".stripMargin)) { (s, dir) =>
    val m = Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(sum((col("o_totalprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("rev_cents"))
      .withColumn("ym", expr("y * 100 + mo"))
      .materialize() // one aggregation feeds base + both lag sides
    def side(tag: String) = m.select(col("ym").as(s"__${tag}_ym"),
      col("rev_cents").as(s"__${tag}_rev"))
    m.withColumn("__prev_ym",
        when(col("mo") === 1, (col("y") - 1) * 100 + 12)
          .otherwise(col("ym") - 1))
      .join(broadcast(side("pm")), col("__prev_ym") === col("__pm_ym"), "left")
      .join(broadcast(side("py")), col("ym") - 100 === col("__py_ym"), "left")
      .select(col("ym"), col("rev_cents"),
        (col("rev_cents") - col("__pm_rev")).as("mom_delta_cents"),
        (col("rev_cents") - col("__py_rev")).as("yoy_delta_cents"))
      .orderBy(col("ym"))
  }

  /** Cheapest supplier per part from OBSERVED line prices (the
    * procurement argmin TPC-H Q2 asks of partsupp, recovered from the
    * fact table since this schema carries no partsupp): per
    * (part, supplier) exact cents and quantity sums, unit price
    * quantized to milli-cents with ONE integer division, then the
    * per-part argmin via the native GroupedTopK plan (k=1, ties to
    * the smaller supplier). Two shuffles total — (part, supp) agg,
    * then part-keyed top-1 — both on the dim the answer is about. */
  def q277: Q = Q(
    "q277_cheapest_supplier",
    Some("""
      |WITH ps AS (
      |  SELECT l_partkey AS part, l_suppkey AS supp,
      |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |u AS (
      |  SELECT part, supp, cents, qty,
      |         (1000 * cents) // qty AS unit_milli,
      |         row_number() OVER (PARTITION BY part
      |           ORDER BY (1000 * cents) // qty, supp) AS rn
      |  FROM ps WHERE qty > 0)
      |SELECT part, supp AS cheapest_supp, cents, qty,
      |       CAST(unit_milli AS BIGINT) AS unit_milli
      |FROM u WHERE rn = 1 ORDER BY part
      |""".stripMargin)) { (s, dir) =>
    val ps = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .where(col("qty") > 0)
      .withColumn("unit_milli", expr("(1000 * cents) div qty"))
    graft.plans.GroupedTopK.topKPerKey(
        ps.select("part", "supp", "cents", "qty", "unit_milli"),
        keyCols = Seq("part"),
        order = Seq("unit_milli" -> true, "supp" -> true),
        k = 1)
      .select(col("part"), col("supp").as("cheapest_supp"),
        col("cents"), col("qty"), col("unit_milli"))
      .orderBy(col("part"))
  }

  /** Shipping-SLA attainment by calendar month: the share of lineitems
    * shipped within 30 days of their order date, in exact ppm — the
    * ops-review trend line next to q198's lead-time percentiles. One
    * fact join, one month-dim aggregation. */
  def q278: Q = Q(
    "q278_ship_sla_by_month",
    Some("""
      |WITH j AS (
      |  SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate)
      |              AS BIGINT) AS ym,
      |         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
      |           // 86400000000 AS lead_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT ym, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CASE WHEN lead_days <= 30 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_within_30d,
      |       CAST((1000000 * sum(CASE WHEN lead_days <= 30 THEN 1 ELSE 0 END))
      |            // count(*) AS BIGINT) AS sla_ppm
      |FROM j GROUP BY ym ORDER BY ym
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        expr("(unix_micros(CAST(l_shipdate AS TIMESTAMP)) - " +
          "unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000")
          .as("lead_days"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("lead_days") <= 30, 1L).otherwise(0L))
          .as("n_within_30d"))
      .withColumn("sla_ppm", expr("(1000000 * n_within_30d) div n_lines"))
      .orderBy(col("ym"))
  }

  /** Brand revenue share per year and its shift vs the prior year —
    * the market-share migration table (q267's rank-migration idea on
    * the brand dim, in exact share arithmetic): share_ppm is one
    * integer division against the year total, the shift a VALUE join
    * on (year−1, brand). Fact joins part on the scan; everything after
    * is dim-sized. */
  def q279: Q = Q(
    "q279_brand_share_shift",
    Some("""
      |WITH b AS (
      |  SELECT CAST(year(l.l_shipdate) AS BIGINT) AS y, p.p_brand AS brand,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS rev_cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |t AS (SELECT y, sum(rev_cents) AS tot FROM b GROUP BY y),
      |s AS (
      |  SELECT b.y, b.brand, b.rev_cents,
      |         (1000000 * b.rev_cents) // t.tot AS share_ppm
      |  FROM b JOIN t ON b.y = t.y)
      |SELECT s.y, s.brand, s.rev_cents,
      |       CAST(s.share_ppm AS BIGINT) AS share_ppm,
      |       CAST(s.share_ppm - prev.share_ppm AS BIGINT) AS shift_ppm
      |FROM s LEFT JOIN s prev
      |  ON s.y - 1 = prev.y AND s.brand = prev.brand
      |ORDER BY s.y, s.brand
      |""".stripMargin)) { (s, dir) =>
    val b = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("y"),
        col("p_brand").as("brand"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("rev_cents"))
      .materialize() // feeds totals, base, and the prior-year side
    val t = b.groupBy(col("y")).agg(sum(col("rev_cents")).as("tot"))
    val sdf = b.join(broadcast(t), Seq("y"))
      .withColumn("share_ppm", expr("(1000000 * rev_cents) div tot"))
      .drop("tot")
      .materialize()
    // self-join of a derived frame: rename the right side OUTRIGHT
    // (df("col") disambiguation silently builds trivially-true
    // predicates — NOTES rule)
    val prev = sdf.select(col("y").as("__py"), col("brand").as("__pbrand"),
      col("share_ppm").as("__prev_share"))
    sdf.join(broadcast(prev),
        col("y") - 1 === col("__py") && col("brand") === col("__pbrand"),
        "left")
      .select(col("y"), col("brand"), col("rev_cents"), col("share_ppm"),
        (col("share_ppm") - col("__prev_share")).as("shift_ppm"))
      .orderBy(col("y"), col("brand"))
  }

  /** Inter-order gap distribution per market segment: per customer the
    * days between consecutive orders (customer-partitioned lag — the
    * parallel window shape), then the exact p50/p90 order statistics
    * per segment via OrderStats.quantilesDisc (a value that OCCURRED,
    * engine-portable by construction). The purchase-cadence number
    * replenishment models calibrate on. */
  def q280: Q = Q(
    "q280_order_gap_quantiles",
    Some("""
      |WITH o2 AS (
      |  SELECT o_custkey, epoch_us(o_orderdate) AS t, o_orderkey
      |  FROM orders),
      |g AS (
      |  SELECT o_custkey,
      |         (t - lag(t) OVER (PARTITION BY o_custkey
      |                           ORDER BY t, o_orderkey))
      |           // 86400000000 AS gap_days
      |  FROM o2),
      |sgm AS (
      |  SELECT c.c_mktsegment AS segment, g.gap_days
      |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
      |  WHERE g.gap_days IS NOT NULL),
      |r AS (
      |  SELECT segment, gap_days,
      |         row_number() OVER (PARTITION BY segment
      |                            ORDER BY gap_days) AS rn,
      |         count(*) OVER (PARTITION BY segment) AS n
      |  FROM sgm),
      |p AS (SELECT unnest([500, 900]) AS permille)
      |SELECT r.segment, p.permille, CAST(r.gap_days AS BIGINT) AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY segment, permille
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.OrderStats
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("t"), col("o_orderkey"))
    val gaps = Tables.orders(s, dir)
      .select(col("o_custkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("t"),
        col("o_orderkey"))
      .withColumn("__prev_t", lag(col("t"), 1).over(w))
      .withColumn("gap_days", expr("(t - __prev_t) div 86400000000"))
      .where(col("gap_days").isNotNull)
    val seg = gaps.join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
      col("o_custkey") === col("c_custkey"))
    OrderStats.quantilesDisc(seg, Seq("segment"), "gap_days", Seq(500, 900))
      .orderBy(col("segment"), col("permille"))
  }

  /** Order-cadence regularity: customers banded by the squared
    * coefficient of variation of their inter-order gaps — regular
    * replenishers vs bursty buyers. CV² = (n·Σg² − S²)/S² compares as
    * pure integer cross-multiplications (no mean, no sqrt); one
    * customer-keyed window pass. */
  def q387: Q = Q(
    "q387_order_regularity",
    Some("""
      |WITH g AS (
      |  SELECT o_custkey AS ck,
      |         epoch_us(o_orderdate) // 86400000000
      |           - lag(epoch_us(o_orderdate) // 86400000000)
      |             OVER (PARTITION BY o_custkey
      |                   ORDER BY o_orderdate, o_orderkey) AS gap
      |  FROM orders),
      |c AS (
      |  SELECT ck, count(*) AS ng, sum(gap) AS sg,
      |         sum(gap * gap) AS sg2
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1
      |  HAVING count(*) >= 2 AND sum(gap) > 0),
      |b AS (
      |  SELECT CASE WHEN 4 * (ng * sg2 - sg * sg) < sg * sg THEN 0
      |              WHEN ng * sg2 - sg * sg < sg * sg THEN 1
      |              ELSE 2 END AS band_id,
      |         CASE WHEN 4 * (ng * sg2 - sg * sg) < sg * sg
      |                THEN 'regular'
      |              WHEN ng * sg2 - sg * sg < sg * sg THEN 'moderate'
      |              ELSE 'bursty' END AS band
      |  FROM c),
      |t AS (SELECT count(*) AS n FROM b)
      |SELECT CAST(band_id AS BIGINT) AS band_id, band,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST((1000000 * count(*)) // t.n AS BIGINT) AS share_ppm
      |FROM b CROSS JOIN t GROUP BY 1, 2, t.n ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val day = "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
    val c = Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"), expr(day).as("d"),
        col("o_orderkey"))
      .withColumn("gap", col("d") - lag(col("d"), 1).over(
        Window.partitionBy(col("ck"))
          .orderBy(col("d"), col("o_orderkey"))))
      .where(col("gap").isNotNull)
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("ng"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sg2"))
      .where(col("ng") >= 2 && col("sg") > 0)
      .select(expr("CASE WHEN 4 * (ng * sg2 - sg * sg) < sg * sg " +
        "THEN 0L WHEN ng * sg2 - sg * sg < sg * sg THEN 1L " +
        "ELSE 2L END").as("band_id"),
        expr("CASE WHEN 4 * (ng * sg2 - sg * sg) < sg * sg " +
          "THEN 'regular' WHEN ng * sg2 - sg * sg < sg * sg " +
          "THEN 'moderate' ELSE 'bursty' END").as("band"))
      .materialize() // banded customer dim feeds the total AND rollup
    val t = c.agg(count(lit(1)).as("__n"))
    c.groupBy(col("band_id"), col("band"))
      .agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(t))
      .select(col("band_id"), col("band"), col("n_customers"),
        expr("(1000000 * n_customers) div __n").as("share_ppm"))
      .orderBy(col("band_id"))
  }

  /** Seasonal-naive forecast backtest: predict month m's revenue with
    * month m−12 (the VALUE join, never a row lag) and report the
    * absolute error ppm per month — the baseline every fancier
    * forecaster (q340's Holt) must beat. */
  def q388: Q = Q(
    "q388_seasonal_naive_backtest",
    Some("""
      |WITH m AS (
      |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
      |              AS BIGINT) AS ym,
      |         sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS cents
      |  FROM lineitem GROUP BY 1)
      |SELECT a.ym, CAST(a.cents AS BIGINT) AS actual_cents,
      |       CAST(f.cents AS BIGINT) AS forecast_cents,
      |       CAST((1000000 * abs(a.cents - f.cents)) // a.cents
      |            AS BIGINT) AS abs_err_ppm
      |FROM m a JOIN m f ON f.ym = a.ym - 12
      |ORDER BY a.ym
      |""".stripMargin)) { (s, dir) =>
    val m = Tables.lineitem(s, dir)
      .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate"))
        - 1).cast("long").as("ym"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
      .materialize() // month dim feeds both legs of the lag join
    m.join(m.select((col("ym") + 12).as("__fym"),
        col("cents").as("forecast_cents")),
        col("ym") === col("__fym"))
      .select(col("ym"), col("cents").as("actual_cents"),
        col("forecast_cents"),
        expr("(1000000 * abs(cents - forecast_cents)) div cents")
          .as("abs_err_ppm"))
      .orderBy(col("ym"))
  }

  /** Catalog summary — the engine's own "SHOW TABLES" dashboard: per
    * table the row count, primary-key NDV, and duplicate-key rows
    * (the synthetic lineitem (orderkey, linenumber) is knowingly
    * non-unique — the audit SHOWS it rather than assuming). */
  def q390: Q = {
    def sqlT(t: String, pk: String) =
      s"""SELECT '$t' AS table_name, (SELECT count(*) FROM $t) AS n_rows,
         |  (SELECT count(*) FROM (SELECT DISTINCT $pk FROM $t))
         |    AS pk_ndv""".stripMargin
    Q("q390_catalog_summary",
      Some(s"""
        |WITH u AS (
        |${sqlT("customer", "c_custkey")}
        |UNION ALL ${sqlT("lineitem", "l_orderkey, l_linenumber")}
        |UNION ALL ${sqlT("nation", "n_nationkey")}
        |UNION ALL ${sqlT("orders", "o_orderkey")}
        |UNION ALL ${sqlT("part", "p_partkey")}
        |UNION ALL ${sqlT("region", "r_regionkey")}
        |UNION ALL ${sqlT("supplier", "s_suppkey")})
        |SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(pk_ndv AS BIGINT) AS pk_ndv,
        |       CAST(n_rows - pk_ndv AS BIGINT) AS dup_pk_rows
        |FROM u ORDER BY table_name
        |""".stripMargin)) { (s, dir) =>
      def one(t: String, df: org.apache.spark.sql.DataFrame,
          pk: Seq[String]) =
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct(pk.head, pk.tail: _*).as("pk_ndv"))
          .select(lit(t).as("table_name"), col("n_rows"), col("pk_ndv"),
            (col("n_rows") - col("pk_ndv")).as("dup_pk_rows"))
      one("customer", Tables.customer(s, dir), Seq("c_custkey"))
        .unionByName(one("lineitem", Tables.lineitem(s, dir),
          Seq("l_orderkey", "l_linenumber")))
        .unionByName(one("nation", Tables.nation(s, dir),
          Seq("n_nationkey")))
        .unionByName(one("orders", Tables.orders(s, dir),
          Seq("o_orderkey")))
        .unionByName(one("part", Tables.part(s, dir), Seq("p_partkey")))
        .unionByName(one("region", Tables.region(s, dir),
          Seq("r_regionkey")))
        .unionByName(one("supplier", Tables.supplier(s, dir),
          Seq("s_suppkey")))
        .orderBy(col("table_name"))
    }
  }

  /** Kruskal-Wallis rank test: do order values differ across the five
    * priorities — q301's Mann-Whitney generalized to k groups. The ×2
    * midranks stay exact integers over the value dim; H is ONE pinned
    * double expression from integer group sums. */
  def q381: Q = {
    val hExpr = "CAST(floor(1000.0 * (12.0 * rsum " +
      "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) " +
      "- 3.0 * (CAST(n AS DOUBLE) + 1.0))) AS BIGINT)"
    Q("q381_kruskal_wallis",
      Some(s"""
        |WITH v AS (
        |  SELECT o_orderpriority AS grp,
        |         CAST(o_totalprice * 100 AS BIGINT) AS x
        |  FROM orders),
        |cx AS (SELECT x, count(*) AS c FROM v GROUP BY x),
        |rx AS (
        |  SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + c + 1 AS r2
        |  FROM cx),
        |g AS (
        |  SELECT v.grp, count(*) AS ng,
        |         sum(CAST(rx.r2 AS HUGEINT)) AS rg2
        |  FROM v JOIN rx ON v.x = rx.x GROUP BY 1),
        |q AS (
        |  SELECT ng, CAST(floor(CAST(
        |           (CAST(rg2 AS DOUBLE) / 2.0)
        |           * (CAST(rg2 AS DOUBLE) / 2.0)
        |           / CAST(ng AS DOUBLE) AS DECIMAL(28,6)) * 1000)
        |         AS BIGINT) AS term_milli
        |  FROM g),
        |agg AS (
        |  SELECT sum(ng) AS n,
        |         CAST(sum(term_milli) AS DOUBLE) / 1000.0 AS rsum,
        |         count(*) AS k
        |  FROM q)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |       $hExpr AS h_milli
        |FROM agg
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          (col("o_totalprice") * 100).cast("decimal(38,0)").cast("long")
            .as("x"))
        .materialize() // order dim feeds the rank dim AND the join
      // the "value dim" here is o_totalprice CENTS — 149,743 distinct of
      // 150,000 orders at sf0.1, i.e. it grows with the fact table — so
      // the midrank cumulative runs bucket-parallel (globalRankCum over
      // $10k price buckets, a monotone prefix of x), never a
      // single-partition Window.orderBy(x)
      val rx = graft.dedup.SortedNeighborhood.globalRankCum(
          v.groupBy(col("x")).agg(count(lit(1)).as("__c"))
            .withColumn("__bkt", expr("x div 1000000")),
          idCol = "x", bucketCol = "__bkt", tieCols = Nil,
          cumCol = Some("__c"))
        // r2 = 2·(exclusive cum) + c + 1 = 2·(inclusive cum) − c + 1
        .withColumn("r2", lit(2L) * col("__cum") - col("__c") + 1L)
        .select(col("x"), col("r2"))
      // the per-group Σ(r2/2)²/n sum runs over the 5-row group dim —
      // identical add order both engines (the oracle's sum over g)
      val g = v.join(rx, Seq("x"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("ng"),
          sum(col("r2").cast("decimal(38,0)")).as("rg2"))
      // per-group term quantized to milli BEFORE the k-row sum — a
      // raw double sum's add order is partition-dependent
      g.select(col("ng"), expr("CAST(floor(CAST(" +
          "(CAST(rg2 AS DOUBLE) / 2.0) * (CAST(rg2 AS DOUBLE) / 2.0) " +
          "/ CAST(ng AS DOUBLE) AS DECIMAL(28,6)) * 1000) AS BIGINT)")
          .as("term_milli"))
        .agg(sum(col("ng")).as("n"),
          (sum(col("term_milli")).cast("double") / 1000.0).as("rsum"),
          count(lit(1)).as("k"))
        .select(col("n"), col("k"), expr(hExpr).as("h_milli"))
    }
  }

  /** Chi-square goodness-of-fit of quantity against uniform{1..50}:
    * Σ(50·O − n)² / (50n) with an exact integer numerator and ONE
    * pinned double division — "is demand flat across quantities". */
  def q382: Q = Q(
    "q382_chi_square_uniformity",
    Some("""
      |WITH o AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS obs
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(obs) AS n, count(*) AS nq FROM o),
      |dev AS (
      |  SELECT sum((50 * o.obs - t.n) * (50 * o.obs - t.n)) AS num,
      |         max(t.n) AS n
      |  FROM o CROSS JOIN t)
      |SELECT CAST(n AS BIGINT) AS n_lines, CAST(49 AS BIGINT) AS df,
      |       CAST(floor(1000.0 * CAST(num AS DOUBLE)
      |            / (50.0 * CAST(n AS DOUBLE))) AS BIGINT) AS chi2_milli
      |FROM dev
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.lineitem(s, dir)
      .groupBy(col("l_quantity").cast("long").as("q"))
      .agg(count(lit(1)).as("obs"))
      .materialize() // quantity dim feeds the total AND the deviations
    val t = o.agg(sum(col("obs")).as("n"))
    o.crossJoin(broadcast(t))
      .agg(sum((lit(50) * col("obs") - col("n"))
          * (lit(50) * col("obs") - col("n"))).as("num"),
        max(col("n")).as("n"))
      .select(col("n").as("n_lines"), lit(49L).as("df"),
        expr("CAST(floor(1000.0 * CAST(num AS DOUBLE) " +
          "/ (50.0 * CAST(n AS DOUBLE))) AS BIGINT)").as("chi2_milli"))
  }

  /** Laspeyres price index per year (base 1995): how did realized unit
    * prices move, holding the base year's quantity mix fixed.
    * Per-(part, year) unit prices are milli-quantized rationals; the
    * index numerators ride DECIMAL/HUGEINT. Only parts traded in both
    * the base year and year t enter (stated basket). */
  def q384: Q = Q(
    "q384_laspeyres_price_index",
    Some("""
      |WITH py AS (
      |  SELECT l_partkey AS part, CAST(year(l_shipdate) AS BIGINT) AS y,
      |         sum(CAST(floor(CAST(l_extendedprice * (1.0 - l_discount)
      |              AS DECIMAL(18,9)) * 100) AS BIGINT)) AS net,
      |         sum(CAST(l_quantity AS BIGINT)) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |up AS (SELECT part, y, (1000 * net) // qty AS upm, qty FROM py),
      |base AS (SELECT part, upm AS up0, qty AS q0 FROM up WHERE y = 1995),
      |idx AS (
      |  SELECT up.y, count(*) AS n_parts,
      |         sum(CAST(up.upm AS HUGEINT) * base.q0) AS num,
      |         sum(CAST(base.up0 AS HUGEINT) * base.q0) AS den
      |  FROM up JOIN base USING (part)
      |  WHERE up.y <> 1995 GROUP BY 1)
      |SELECT y, CAST(n_parts AS BIGINT) AS n_parts,
      |       CAST((1000000 * num) // den AS BIGINT) AS index_ppm
      |FROM idx ORDER BY y
      |""".stripMargin)) { (s, dir) =>
    val d38 = "decimal(38,0)"
    val up = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part"),
        year(col("l_shipdate")).cast("long").as("y"))
      .agg(sum(floor((col("l_extendedprice")
          * (lit(1.0) - col("l_discount"))).cast("decimal(18,9)") * 100)
          .cast("long")).as("net"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .select(col("part"), col("y"),
        expr("(1000 * net) div qty").as("upm"), col("qty"))
      .materialize() // part×year dim feeds the base AND the index join
    val base = up.where(col("y") === 1995)
      .select(col("part"), col("upm").as("up0"), col("qty").as("q0"))
    up.where(col("y") =!= 1995)
      .join(broadcast(base), Seq("part"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("upm").cast(d38) * col("q0")).cast(d38).as("num"),
        sum(col("up0").cast(d38) * col("q0")).cast(d38).as("den"))
      .select(col("y"), col("n_parts"),
        expr("CAST((1000000 * num) div den AS BIGINT)").as("index_ppm"))
      .orderBy(col("y"))
  }

  /** Conditional price distribution: retail-price quartiles per size
    * band — the keyed exact-quantile face (quantilesDisc partitioned
    * by a dim attribute, windows bounded per band). */
  def q378: Q = Q(
    "q378_price_quantiles_by_size",
    Some("""
      |WITH v AS (
      |  SELECT (p_size - 1) // 10 AS band,
      |         CAST(p_retailprice * 100 AS BIGINT) AS cents
      |  FROM part),
      |r AS (
      |  SELECT band, cents,
      |         row_number() OVER (PARTITION BY band ORDER BY cents)
      |           AS rn,
      |         count(*) OVER (PARTITION BY band) AS n
      |  FROM v)
      |SELECT CAST(band AS BIGINT) AS band,
      |       CAST(pm.p AS INTEGER) AS permille, r.cents AS value
      |FROM r JOIN (VALUES (250), (500), (750)) pm(p)
      |  ON r.rn = (pm.p * r.n + 999) // 1000
      |ORDER BY band, permille
      |""".stripMargin)) { (s, dir) =>
    val v = Tables.part(s, dir)
      .select(expr("(p_size - 1) div 10").as("band"),
        (col("p_retailprice") * 100).cast("decimal(38,0)").cast("long")
          .as("cents"))
    graft.operators.OrderStats
      .quantilesDisc(v, Seq("band"), "cents", Seq(250, 500, 750))
      .orderBy(col("band"), col("permille"))
  }

  /** Ship lead time by order weekday: mean lead days (milli) per
    * order-date weekday vs the overall mean — "do Friday orders wait
    * longer". Integer day diffs, truncating milli means, one fact
    * pass. */
  def q380: Q = Q(
    "q380_leadtime_by_weekday",
    Some("""
      |WITH l AS (
      |  SELECT (epoch_us(o.o_orderdate) // 86400000000 + 4) % 7 AS dow,
      |         date_diff('day', o.o_orderdate, li.l_shipdate) + 3000
      |           AS lead
      |  FROM orders o JOIN lineitem li ON o.o_orderkey = li.l_orderkey),
      |t AS (SELECT (1000 * sum(lead)) // count(*) AS om FROM l),
      |g AS (
      |  SELECT dow, count(*) AS n_lines,
      |         (1000 * sum(lead)) // count(*) AS mean_milli
      |  FROM l GROUP BY 1)
      |SELECT CAST(g.dow AS BIGINT) AS dow,
      |       CAST(g.n_lines AS BIGINT) AS n_lines,
      |       CAST(g.mean_milli - 3000000 AS BIGINT) AS mean_lead_milli,
      |       CAST(g.mean_milli - t.om AS BIGINT) AS dev_milli
      |FROM g CROSS JOIN t ORDER BY dow
      |""".stripMargin)) { (s, dir) =>
    val l = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(expr("(unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
        "div 86400000000 + 4) % 7").as("dow"),
        // +3000 keeps negative synthetic leads out of the floor-vs-
        // truncate divide divergence (integer means stay nonneg)
        expr("datediff(CAST(l_shipdate AS DATE), " +
          "CAST(o_orderdate AS DATE)) + 3000").as("lead"))
      .materialize() // fact-derived pass feeds the global AND dow means
    val t = l.agg(expr("(1000 * sum(lead)) div count(1)").as("om"))
    l.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_lines"),
        expr("(1000 * sum(lead)) div count(1)").as("mean_milli"))
      .crossJoin(broadcast(t))
      .select(col("dow").cast("long").as("dow"), col("n_lines"),
        (col("mean_milli") - 3000000L).as("mean_lead_milli"),
        (col("mean_milli") - col("om")).as("dev_milli"))
      .orderBy(col("dow"))
  }

  /** Encoding advisor: per low-cardinality lineitem column, RLE run
    * counts under the table's natural (l_orderkey, l_linenumber)
    * order vs dictionary-encoding cost — "which encoding wins". Runs
    * are counted inside order-partitioned windows (scale-clean; no
    * global sort) and summed; bit costs are exact integers from the
    * NDV. */
  def q371: Q = {
    val bits = "CASE WHEN ndv <= 2 THEN 1 WHEN ndv <= 4 THEN 2 " +
      "WHEN ndv <= 8 THEN 3 WHEN ndv <= 16 THEN 4 " +
      "WHEN ndv <= 32 THEN 5 WHEN ndv <= 64 THEN 6 ELSE 7 END"
    def sqlCol(cn: String, c: String) =
      s"""SELECT '$cn' AS col_name, l_orderkey AS ok, l_linenumber AS ln,
         |  CAST($c AS VARCHAR) AS v FROM lineitem""".stripMargin
    Q("q371_encoding_advisor",
      Some(s"""
        |WITH u AS (
        |${sqlCol("l_returnflag", "l_returnflag")}
        |UNION ALL ${sqlCol("l_linestatus", "l_linestatus")}
        |UNION ALL ${sqlCol("l_quantity", "CAST(l_quantity AS BIGINT)")}),
        |l AS (
        |  SELECT col_name, ok, v,
        |         lag(v) OVER (PARTITION BY col_name, ok
        |                      ORDER BY ln, v) AS pv
        |  FROM u),
        |runs AS (
        |  SELECT col_name, count(*) AS n,
        |         sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
        |           AS n_runs,
        |         count(DISTINCT v) AS ndv
        |  FROM l GROUP BY 1)
        |SELECT col_name, CAST(n AS BIGINT) AS n_values,
        |       CAST(ndv AS BIGINT) AS ndv,
        |       CAST(n_runs AS BIGINT) AS n_runs,
        |       CAST(n * ($bits) AS BIGINT) AS dict_bits,
        |       CAST(n_runs * (($bits) + 8) AS BIGINT) AS rle_bits,
        |       CAST(CASE WHEN n_runs * (($bits) + 8) < n * ($bits)
        |            THEN 'rle' ELSE 'dict' END AS VARCHAR) AS winner
        |FROM runs ORDER BY col_name
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      def one(cn: String, c: org.apache.spark.sql.Column) =
        Tables.lineitem(s, dir).select(lit(cn).as("col_name"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          c.cast("string").as("v"))
      val u = one("l_returnflag", col("l_returnflag"))
        .unionByName(one("l_linestatus", col("l_linestatus")))
        .unionByName(one("l_quantity", col("l_quantity").cast("long")))
      // (ok, ln) is NOT unique in the synthetic data — v breaks the
      // tie so the run order is total in both engines
      u.withColumn("pv", lag(col("v"), 1).over(
          Window.partitionBy(col("col_name"), col("ok"))
            .orderBy(col("ln"), col("v"))))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pv").isNull || col("v") =!= col("pv"), 1L)
            .otherwise(0L)).as("n_runs"),
          countDistinct(col("v")).as("ndv"))
        .select(col("col_name"), col("n").as("n_values"), col("ndv"),
          col("n_runs"), expr(s"n * ($bits)").as("dict_bits"),
          expr(s"n_runs * (($bits) + 8)").as("rle_bits"),
          expr(s"CAST(CASE WHEN n_runs * (($bits) + 8) < n * ($bits) " +
            "THEN 'rle' ELSE 'dict' END AS STRING)").as("winner"))
        .orderBy(col("col_name"))
    }
  }

  /** Referential-integrity audit: orphan counts for every FK edge of
    * the star schema (anti joins, dim side broadcast where small) —
    * the DQ gate a warehouse runs before trusting joins. */
  def q372: Q = {
    def sqlFk(fk: String, child: String, ck: String, parent: String,
        pk: String) =
      s"""SELECT '$fk' AS fk, (SELECT count(*) FROM $child) AS n_child,
         |  (SELECT count(*) FROM $child WHERE $ck NOT IN
         |     (SELECT $pk FROM $parent)) AS n_orphans""".stripMargin
    Q("q372_referential_integrity",
      Some(s"""
        |WITH u AS (
        |${sqlFk("lineitem.orderkey", "lineitem", "l_orderkey",
                 "orders", "o_orderkey")}
        |UNION ALL ${sqlFk("lineitem.partkey", "lineitem", "l_partkey",
                 "part", "p_partkey")}
        |UNION ALL ${sqlFk("lineitem.suppkey", "lineitem", "l_suppkey",
                 "supplier", "s_suppkey")}
        |UNION ALL ${sqlFk("orders.custkey", "orders", "o_custkey",
                 "customer", "c_custkey")}
        |UNION ALL ${sqlFk("customer.nationkey", "customer",
                 "c_nationkey", "nation", "n_nationkey")}
        |UNION ALL ${sqlFk("supplier.nationkey", "supplier",
                 "s_nationkey", "nation", "n_nationkey")}
        |UNION ALL ${sqlFk("nation.regionkey", "nation", "n_regionkey",
                 "region", "r_regionkey")})
        |SELECT fk, CAST(n_child AS BIGINT) AS n_child,
        |       CAST(n_orphans AS BIGINT) AS n_orphans
        |FROM u ORDER BY fk
        |""".stripMargin)) { (s, dir) =>
      def one(fk: String, child: org.apache.spark.sql.DataFrame,
          ck: String, parent: org.apache.spark.sql.DataFrame,
          pk: String) = {
        val n = child.agg(count(lit(1)).as("n_child"))
        val o = child.join(parent.select(col(pk)),
            col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        n.crossJoin(o).select(lit(fk).as("fk"), col("n_child"),
          col("n_orphans"))
      }
      one("lineitem.orderkey", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
        .unionByName(one("lineitem.partkey", Tables.lineitem(s, dir),
          "l_partkey", Tables.part(s, dir), "p_partkey"))
        .unionByName(one("lineitem.suppkey", Tables.lineitem(s, dir),
          "l_suppkey", Tables.supplier(s, dir), "s_suppkey"))
        .unionByName(one("orders.custkey", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .unionByName(one("customer.nationkey", Tables.customer(s, dir),
          "c_nationkey", Tables.nation(s, dir), "n_nationkey"))
        .unionByName(one("supplier.nationkey", Tables.supplier(s, dir),
          "s_nationkey", Tables.nation(s, dir), "n_nationkey"))
        .unionByName(one("nation.regionkey", Tables.nation(s, dir),
          "n_regionkey", Tables.region(s, dir), "r_regionkey"))
        .orderBy(col("fk"))
    }
  }

  /** Sampling stability of vocabulary ranks: Kendall-style pair
    * concordance between token frequency ranks computed on the even
    * and odd document halves — "can half the data stand in for rank
    * decisions". Exact integer pair verdicts over the vocab-pair dim
    * (vocab², bounded). */
  def q373: Q = Q(
    "q373_sample_rank_stability",
    Some(s"""
      |WITH tok AS (
      |  SELECT doc_id % 2 AS half, unnest(${PipelineQueries
               .sqlTokens("text")}) AS w
      |  FROM documents),
      |c AS (
      |  SELECT w, sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
      |         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
      |  FROM tok GROUP BY 1),
      |p AS (
      |  SELECT (x.ca - y.ca) * (x.cb - y.cb) AS prod
      |  FROM c x JOIN c y ON x.w < y.w),
      |agg AS (
      |  SELECT count(*) AS n_pairs,
      |         count(*) FILTER (prod > 0) AS concordant,
      |         count(*) FILTER (prod < 0) AS discordant,
      |         count(*) FILTER (prod = 0) AS ties
      |  FROM p)
      |SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_tokens,
      |       CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(concordant AS BIGINT) AS concordant,
      |       CAST(discordant AS BIGINT) AS discordant,
      |       CAST(ties AS BIGINT) AS ties,
      |       CAST((1000 * (concordant - discordant)) // n_pairs
      |            AS BIGINT) AS tau_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select((col("doc_id") % 2).as("half"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
      .materialize() // vocab dim feeds the count AND both pair legs
    val nTok = c.agg(count(lit(1)).as("n_tokens"))
    c.join(c.select(col("w").as("__yw"), col("ca").as("__yca"),
        col("cb").as("__ycb")), col("w") < col("__yw"))
      .select(((col("ca") - col("__yca"))
        * (col("cb") - col("__ycb"))).as("prod"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("prod") > 0, 1)).as("concordant"),
        count(when(col("prod") < 0, 1)).as("discordant"),
        count(when(col("prod") === 0, 1)).as("ties"))
      .crossJoin(broadcast(nTok))
      .select(col("n_tokens"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties"),
        expr("(1000 * (concordant - discordant)) div n_pairs")
          .as("tau_milli"))
  }

  /** Tax incidence per (returnflag, linestatus): exact tax cents on
    * the discounted base and the effective rate — the fiscal rollup
    * with q292's per-row quantization for BOTH the base and the tax
    * amount. */
  def q374: Q = Q(
    "q374_tax_incidence",
    Some("""
      |WITH r AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(floor(CAST(l_extendedprice * (1.0 - l_discount)
      |              AS DECIMAL(18,9)) * 100) AS BIGINT) AS base,
      |         CAST(floor(CAST(l_extendedprice * (1.0 - l_discount)
      |              * l_tax AS DECIMAL(18,9)) * 100) AS BIGINT) AS tax
      |  FROM lineitem)
      |SELECT l_returnflag, l_linestatus,
      |       CAST(sum(base) AS BIGINT) AS base_cents,
      |       CAST(sum(tax) AS BIGINT) AS tax_cents,
      |       CAST((1000000 * sum(tax)) // sum(base) AS BIGINT)
      |         AS eff_rate_ppm
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2
      |""".stripMargin)) { (s, dir) =>
    def cents(c: org.apache.spark.sql.Column) =
      floor(c.cast("decimal(18,9)") * 100).cast("long")
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("base"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * col("l_tax")).as("tax"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("base")).as("base_cents"), sum(col("tax")).as("tax_cents"))
      .select(col("l_returnflag"), col("l_linestatus"), col("base_cents"),
        col("tax_cents"),
        expr("(1000000 * tax_cents) div base_cents").as("eff_rate_ppm"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Join-order cost audit: the exact intermediate cardinalities of
    * the two orders of (lineitem ⋈ σ_brand part ⋈ σ_year orders) —
    * the evidence behind "filter the selective dim first". Each step
    * count is an exact join count; the report shape an EXPLAIN
    * ANALYZE comparison tool emits. */
  def q375: Q = Q(
    "q375_join_order_costs",
    Some("""
      |WITH pa AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
      |oy AS (SELECT o_orderkey FROM orders
      |       WHERE year(o_orderdate) = 2000),
      |a1 AS (SELECT count(*) AS c FROM lineitem
      |       JOIN pa ON l_partkey = p_partkey),
      |b1 AS (SELECT count(*) AS c FROM lineitem
      |       JOIN oy ON l_orderkey = o_orderkey),
      |fin AS (
      |  SELECT count(*) AS c FROM lineitem
      |  JOIN pa ON l_partkey = p_partkey
      |  JOIN oy ON l_orderkey = o_orderkey)
      |SELECT plan, CAST(step1_rows AS BIGINT) AS step1_rows,
      |       CAST(final_rows AS BIGINT) AS final_rows
      |FROM (
      |  SELECT 'part_first' AS plan, a1.c AS step1_rows, fin.c
      |           AS final_rows
      |  FROM a1 CROSS JOIN fin
      |  UNION ALL
      |  SELECT 'orders_first' AS plan, b1.c, fin.c
      |  FROM b1 CROSS JOIN fin)
      |ORDER BY plan
      |""".stripMargin)) { (s, dir) =>
    val pa = Tables.part(s, dir).where(col("p_brand") === "Brand#1")
      .select(col("p_partkey"))
    val oy = Tables.orders(s, dir)
      .where(year(col("o_orderdate")) === 2000)
      .select(col("o_orderkey"))
    val a1 = Tables.lineitem(s, dir)
      .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("c"))
    val b1 = Tables.lineitem(s, dir)
      .join(oy, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("c"))
    val fin = Tables.lineitem(s, dir)
      .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
      .join(oy, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("c"))
    a1.crossJoin(fin.select(col("c").as("__f")))
      .select(lit("part_first").as("plan"), col("c").as("step1_rows"),
        col("__f").as("final_rows"))
      .unionByName(b1.crossJoin(fin.select(col("c").as("__f")))
        .select(lit("orders_first").as("plan"), col("c").as("step1_rows"),
          col("__f").as("final_rows")))
      .orderBy(col("plan"))
  }

  /** ANALYZE face 1 — join-size estimation audit: for the three core
    * joins, the uniform-NDV estimate |A|·|B| / max(ndv_A, ndv_B)
    * (what an optimizer assumes without histograms) against the actual
    * join cardinality. All counts are exact; the interesting output is
    * the error. */
  def q366: Q = {
    def sqlJoin(jn: String, ta: String, ka: String, tb: String,
        kb: String) =
      s"""SELECT '$jn' AS join_name,
         |  (SELECT count(*) FROM $ta) AS na,
         |  (SELECT count(*) FROM $tb) AS nb,
         |  (SELECT count(DISTINCT $ka) FROM $ta) AS da,
         |  (SELECT count(DISTINCT $kb) FROM $tb) AS db,
         |  (SELECT count(*) FROM $ta JOIN $tb ON $ka = $kb) AS act""".stripMargin
    Q("q366_join_size_stats",
      Some(s"""
        |WITH u AS (
        |${sqlJoin("lineitem_orders", "lineitem", "l_orderkey",
                   "orders", "o_orderkey")}
        |UNION ALL
        |${sqlJoin("lineitem_part", "lineitem", "l_partkey",
                   "part", "p_partkey")}
        |UNION ALL
        |${sqlJoin("orders_customer", "orders", "o_custkey",
                   "customer", "c_custkey")})
        |SELECT join_name, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT)
        |         AS nb,
        |       CAST(da AS BIGINT) AS ndv_a, CAST(db AS BIGINT) AS ndv_b,
        |       CAST((na * nb) // greatest(da, db) AS BIGINT) AS est_rows,
        |       CAST(act AS BIGINT) AS actual_rows,
        |       CAST((1000000 * abs((na * nb) // greatest(da, db) - act))
        |            // act AS BIGINT) AS err_ppm
        |FROM u ORDER BY join_name
        |""".stripMargin)) { (s, dir) =>
      def one(jn: String, a: org.apache.spark.sql.DataFrame, ka: String,
          b: org.apache.spark.sql.DataFrame, kb: String) = {
        val sa = a.agg(count(lit(1)).as("na"),
          countDistinct(col(ka)).as("da"))
        val sb = b.agg(count(lit(1)).as("nb"),
          countDistinct(col(kb)).as("db"))
        val act = a.join(b, col(ka) === col(kb))
          .agg(count(lit(1)).as("act"))
        sa.crossJoin(sb).crossJoin(act)
          .select(lit(jn).as("join_name"), col("na"), col("nb"),
            col("da").as("ndv_a"), col("db").as("ndv_b"),
            expr("(na * nb) div greatest(da, db)").as("est_rows"),
            col("act").as("actual_rows"),
            expr("(1000000 * abs((na * nb) div greatest(da, db) - act)) " +
              "div act").as("err_ppm"))
      }
      one("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
        .unionByName(one("lineitem_part", Tables.lineitem(s, dir),
          "l_partkey", Tables.part(s, dir), "p_partkey"))
        .unionByName(one("orders_customer", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .orderBy(col("join_name"))
    }
  }

  /** ANALYZE face 2 — equi-depth histogram of order values: the 15
    * internal boundaries of a 16-bucket equi-depth histogram
    * (optimizer column stats), via the exact rank-⌈p·n/1000⌉
    * selection. The GLOBAL rank rides the bucket-parallel
    * [[graft.dedup.SortedNeighborhood.globalRankCum]] spine (bucket =
    * cents div 10⁵, the q836 discipline) — the former constant-key
    * quantilesDisc call constant-folded its partition spec away and
    * left a single-partition row_number over the whole orders fact
    * (caught by PlanLint, round 10). */
  def q367: Q = {
    val ps = (1 to 15).map(i => i * 1000 / 16)
    Q("q367_equi_depth_histogram",
      Some(s"""
        |WITH v AS (
        |  SELECT CAST(o_totalprice * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
        |         count(*) OVER () AS n
        |  FROM v)
        |SELECT 'o_totalprice' AS stat, CAST(pm.p AS INTEGER) AS permille,
        |       r.cents AS value
        |FROM r JOIN (VALUES ${ps.map(p => s"($p)").mkString(", ")}) pm(p)
        |  ON r.rn = (pm.p * r.n + 999) // 1000
        |ORDER BY permille
        |""".stripMargin)) { (s, dir) =>
      val x = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") * 100).cast("decimal(38,0)")
            .cast("long").as("cents"))
        .withColumn("vb", expr("cents div 100000"))
      val rk = graft.dedup.SortedNeighborhood
        .globalRankCum(x, "k", "vb", Seq("cents"))
        .select(col("cents"), col("__rank").as("rn"))
      val gl = rk.agg(count(lit(1)).as("n"))
      // value-at-rank selection is tie-benign: equal cents share the
      // value whatever internal order row_number gave them
      val hits = ps.map(p =>
        when(col("rn") === graft.operators.RangeJoin.floorDiv(
          lit(p.toLong) * col("n") + 999L, 1000L), lit(p))
          .otherwise(lit(null)))
      rk.crossJoin(broadcast(gl))
        .withColumn("permille", explode(array(hits: _*)))
        .where(col("permille").isNotNull)
        .select(lit("o_totalprice").as("stat"), col("permille"),
          col("cents").as("value"))
        .orderBy(col("permille"))
    }
  }

  /** ANALYZE face 3 — most-common-value stats: top-5 MCVs with ppm
    * shares for the four low-cardinality report columns (priority,
    * brand, type, segment) — one unioned dim, one rank window per
    * column. */
  def q368: Q = {
    def sqlCol(cn: String, t: String, c: String) =
      s"SELECT '$cn' AS col_name, CAST($c AS VARCHAR) AS value FROM $t"
    Q("q368_mcv_stats",
      Some(s"""
        |WITH u AS (
        |${sqlCol("o_orderpriority", "orders", "o_orderpriority")}
        |UNION ALL ${sqlCol("p_brand", "part", "p_brand")}
        |UNION ALL ${sqlCol("p_type", "part", "p_type")}
        |UNION ALL ${sqlCol("c_mktsegment", "customer", "c_mktsegment")}),
        |c AS (SELECT col_name, value, count(*) AS n FROM u GROUP BY 1, 2),
        |t AS (SELECT col_name, sum(n) AS tot FROM c GROUP BY 1),
        |r AS (
        |  SELECT c.col_name, c.value, c.n, t.tot,
        |         row_number() OVER (PARTITION BY c.col_name
        |           ORDER BY c.n DESC, c.value) AS rn
        |  FROM c JOIN t USING (col_name))
        |SELECT col_name, CAST(rn AS BIGINT) AS rank, value,
        |       CAST(n AS BIGINT) AS n_rows,
        |       CAST((1000000 * n) // tot AS BIGINT) AS share_ppm
        |FROM r WHERE rn <= 5 ORDER BY col_name, rank
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val u = Tables.orders(s, dir)
        .select(lit("o_orderpriority").as("col_name"),
          col("o_orderpriority").cast("string").as("value"))
        .unionByName(Tables.part(s, dir)
          .select(lit("p_brand").as("col_name"),
            col("p_brand").cast("string").as("value")))
        .unionByName(Tables.part(s, dir)
          .select(lit("p_type").as("col_name"),
            col("p_type").cast("string").as("value")))
        .unionByName(Tables.customer(s, dir)
          .select(lit("c_mktsegment").as("col_name"),
            col("c_mktsegment").cast("string").as("value")))
      val c = u.groupBy(col("col_name"), col("value"))
        .agg(count(lit(1)).as("n"))
        .materialize() // MCV dim feeds the totals AND the rank pass
      val t = c.groupBy(col("col_name")).agg(sum(col("n")).as("tot"))
      c.join(broadcast(t), Seq("col_name"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("col_name"))
            .orderBy(col("n").desc, col("value"))))
        .where(col("rn") <= 5)
        .select(col("col_name"), col("rn").cast("long").as("rank"),
          col("value"), col("n").as("n_rows"),
          expr("(1000000 * n) div tot").as("share_ppm"))
        .orderBy(col("col_name"), col("rank"))
    }
  }

  /** ANALYZE face 4 — NDV estimation audit: exact distinct counts vs
    * the KMV sketch (k=64) for four key columns spanning both sketch
    * regimes (suppkey and p_type are below k → exact small-set path;
    * custkey and partkey estimate). One unioned (column, value) dim
    * through ONE sketch pass. */
  def q369: Q = {
    val k = 64
    def sqlCol(cn: String, t: String, c: String) =
      s"SELECT '$cn' AS col_name, CAST($c AS VARCHAR) AS v FROM $t"
    Q("q369_ndv_audit",
      Some(s"""
        |WITH u AS (
        |${sqlCol("o_custkey", "orders", "o_custkey")}
        |UNION ALL ${sqlCol("l_partkey", "lineitem", "l_partkey")}
        |UNION ALL ${sqlCol("l_suppkey", "lineitem", "l_suppkey")}
        |UNION ALL ${sqlCol("p_type", "part", "p_type")}),
        |t AS (SELECT DISTINCT col_name, v FROM u),
        |h AS (
        |  SELECT col_name, v, (${PipelineQueries.sqlSaltedHash("v", "ndv")})
        |           AS h
        |  FROM t),
        |hd AS (SELECT DISTINCT col_name, h FROM h),
        |r AS (
        |  SELECT col_name, h,
        |         row_number() OVER (PARTITION BY col_name ORDER BY h)
        |           AS rn
        |  FROM hd),
        |kth AS (SELECT col_name, h AS kth FROM r WHERE rn = $k),
        |ex AS (SELECT col_name, count(*) AS exact FROM t GROUP BY 1),
        |e AS (
        |  SELECT ex.col_name, ex.exact,
        |         ${graft.operators.KmvSketch.sqlEstimate(
                     "kth.kth", "ex.exact", k)} AS est
        |  FROM ex LEFT JOIN kth ON ex.col_name = kth.col_name)
        |SELECT col_name, CAST(exact AS BIGINT) AS exact_ndv,
        |       CAST(est AS BIGINT) AS kmv_ndv,
        |       CAST((1000000 * abs(est - exact)) // exact AS BIGINT)
        |         AS err_ppm
        |FROM e ORDER BY col_name
        |""".stripMargin)) { (s, dir) =>
      val u = Tables.orders(s, dir)
        .select(lit("o_custkey").as("col_name"),
          col("o_custkey").cast("string").as("v"))
        .unionByName(Tables.lineitem(s, dir)
          .select(lit("l_partkey").as("col_name"),
            col("l_partkey").cast("string").as("v")))
        .unionByName(Tables.lineitem(s, dir)
          .select(lit("l_suppkey").as("col_name"),
            col("l_suppkey").cast("string").as("v")))
        .unionByName(Tables.part(s, dir)
          .select(lit("p_type").as("col_name"),
            col("p_type").cast("string").as("v")))
      graft.operators.KmvSketch
        .estimate(u, Seq("col_name"), "v", k, salt = "ndv")
        .select(col("col_name"), col("exact_distinct").as("exact_ndv"),
          col("kmv_estimate").as("kmv_ndv"),
          expr("(1000000 * abs(kmv_estimate - exact_distinct)) " +
            "div exact_distinct").as("err_ppm"))
        .orderBy(col("col_name"))
    }
  }

  /** ANALYZE face 5 — predicate correlation detection: observed
    * (brand, size-band) co-selectivity vs the independence assumption,
    * the signal that tells an optimizer its AND-selectivity model is
    * wrong. Top-15 cells by deviation from 1.0. */
  def q370: Q = Q(
    "q370_predicate_correlation",
    Some("""
      |WITH p AS (
      |  SELECT p_brand AS brand, (p_size - 1) // 10 AS band
      |  FROM part),
      |ba AS (SELECT brand, band, count(*) AS n_ba FROM p GROUP BY 1, 2),
      |b AS (SELECT brand, sum(n_ba) AS n_b FROM ba GROUP BY 1),
      |a AS (SELECT band, sum(n_ba) AS n_a FROM ba GROUP BY 1),
      |t AS (SELECT sum(n_ba) AS n FROM ba),
      |corr AS (
      |  SELECT ba.brand, CAST(ba.band AS BIGINT) AS size_band, ba.n_ba,
      |         CAST((1000000 * ba.n_ba * t.n) // (b.n_b * a.n_a)
      |              AS BIGINT) AS corr_ppm
      |  FROM ba JOIN b USING (brand) JOIN a USING (band) CROSS JOIN t)
      |SELECT brand, size_band, CAST(n_ba AS BIGINT) AS n_parts, corr_ppm
      |FROM corr
      |ORDER BY abs(corr_ppm - 1000000) DESC, brand, size_band LIMIT 15
      |""".stripMargin)) { (s, dir) =>
    val ba = Tables.part(s, dir)
      .select(col("p_brand").as("brand"),
        expr("(p_size - 1) div 10").as("band"))
      .groupBy(col("brand"), col("band")).agg(count(lit(1)).as("n_ba"))
      .materialize() // brand×band dim feeds the margins + the lift
    val b = ba.groupBy(col("brand")).agg(sum(col("n_ba")).as("n_b"))
    val a = ba.groupBy(col("band")).agg(sum(col("n_ba")).as("n_a"))
    val t = ba.agg(sum(col("n_ba")).as("n"))
    ba.join(broadcast(b), Seq("brand"))
      .join(broadcast(a), Seq("band"))
      .crossJoin(broadcast(t))
      .select(col("brand"), col("band").cast("long").as("size_band"),
        col("n_ba").as("n_parts"),
        expr("(1000000 * n_ba * n) div (n_b * n_a)").as("corr_ppm"))
      .orderBy(abs(col("corr_ppm") - 1000000).desc, col("brand"),
        col("size_band")).limit(15)
  }

  /** Leaderboard churn: how much of the top-200 customer set (by
    * quarterly order value) survives into the NEXT quarter — overlap,
    * Jaccard, churn ppm per consecutive quarter pair. Membership is a
    * per-quarter top-k window over the customer×quarter dim; the
    * overlap join runs on the k-sized membership dim. */
  def q361: Q = Q(
    "q361_leaderboard_churn",
    Some("""
      |WITH q AS (
      |  SELECT o_custkey AS ck,
      |         CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1
      |              AS BIGINT) AS qi,
      |         sum(CAST(o_totalprice * 100 AS HUGEINT)) AS cents
      |  FROM orders GROUP BY 1, 2),
      |r AS (
      |  SELECT ck, qi, row_number() OVER (PARTITION BY qi
      |           ORDER BY cents DESC, ck) AS rn
      |  FROM q),
      |t AS (SELECT ck, qi FROM r WHERE rn <= 200),
      |sz AS (SELECT qi, count(*) AS n FROM t GROUP BY 1),
      |pairs AS (
      |  SELECT a.qi AS q1, b.qi AS q2, a.n AS n1, b.n AS n2
      |  FROM sz a JOIN sz b ON b.qi = a.qi + 1),
      |ov AS (
      |  SELECT a.qi AS q1, count(*) AS ov
      |  FROM t a JOIN t b ON a.ck = b.ck AND b.qi = a.qi + 1
      |  GROUP BY 1)
      |SELECT p.q1, p.q2, CAST(coalesce(ov.ov, 0) AS BIGINT) AS overlap,
      |       CAST((1000000 * coalesce(ov.ov, 0))
      |            // (p.n1 + p.n2 - coalesce(ov.ov, 0)) AS BIGINT)
      |         AS jaccard_ppm,
      |       CAST(1000000 - (1000000 * coalesce(ov.ov, 0)) // p.n1
      |            AS BIGINT) AS churn_ppm
      |FROM pairs p LEFT JOIN ov ON p.q1 = ov.q1 ORDER BY p.q1
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1)
          .cast("long").as("qi"))
      .agg(sum((col("o_totalprice") * 100).cast("decimal(38,0)"))
        .as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qi"))
          .orderBy(col("cents").desc, col("ck"))))
      .where(col("rn") <= 200)
      .select(col("ck"), col("qi"))
      .materialize() // k-sized membership dim: pairs + overlap joins
    val sz = t.groupBy(col("qi")).agg(count(lit(1)).as("n"))
    val pairs = sz.join(sz.select((col("qi") - 1).as("__p"),
        col("n").as("n2")), col("qi") === col("__p"))
      .select(col("qi").as("q1"), (col("qi") + 1).as("q2"),
        col("n").as("n1"), col("n2"))
    val ov = t.join(t.select(col("ck").as("__bk"), col("qi").as("__bq")),
        col("ck") === col("__bk") && col("__bq") === col("qi") + 1)
      .groupBy(col("qi").as("q1")).agg(count(lit(1)).as("ov"))
    pairs.join(broadcast(ov), Seq("q1"), "left")
      .select(col("q1"), col("q2"),
        coalesce(col("ov"), lit(0L)).as("overlap"),
        expr("(1000000 * coalesce(ov, 0)) div " +
          "(n1 + n2 - coalesce(ov, 0))").as("jaccard_ppm"),
        expr("1000000 - (1000000 * coalesce(ov, 0)) div n1")
          .as("churn_ppm"))
      .orderBy(col("q1"))
  }

  /** Brand × adjective affinity: does a brand over-index on a catalog
    * adjective (part names are "adjective noun") — contingency lift on
    * the part dim, top-20 by lift at support ≥ 5. */
  def q364: Q = Q(
    "q364_brand_adjective_affinity",
    Some("""
      |WITH p AS (
      |  SELECT p_brand AS brand, string_split(p_name, ' ')[1] AS adj
      |  FROM part),
      |ba AS (SELECT brand, adj, count(*) AS n_ba FROM p GROUP BY 1, 2),
      |b AS (SELECT brand, sum(n_ba) AS n_b FROM ba GROUP BY 1),
      |a AS (SELECT adj, sum(n_ba) AS n_a FROM ba GROUP BY 1),
      |t AS (SELECT sum(n_ba) AS n FROM ba),
      |lift AS (
      |  SELECT ba.brand, ba.adj, ba.n_ba,
      |         CAST((1000000 * ba.n_ba * t.n) // (b.n_b * a.n_a)
      |              AS BIGINT) AS lift_ppm
      |  FROM ba JOIN b USING (brand) JOIN a USING (adj) CROSS JOIN t
      |  WHERE ba.n_ba >= 5)
      |SELECT brand, adj, CAST(n_ba AS BIGINT) AS n_parts, lift_ppm
      |FROM lift ORDER BY lift_ppm DESC, brand, adj LIMIT 20
      |""".stripMargin)) { (s, dir) =>
    val ba = Tables.part(s, dir)
      .select(col("p_brand").as("brand"),
        split(col("p_name"), " ").getItem(0).as("adj"))
      .groupBy(col("brand"), col("adj")).agg(count(lit(1)).as("n_ba"))
      .materialize() // brand×adj dim feeds all three totals + the lift
    val b = ba.groupBy(col("brand")).agg(sum(col("n_ba")).as("n_b"))
    val a = ba.groupBy(col("adj")).agg(sum(col("n_ba")).as("n_a"))
    val t = ba.agg(sum(col("n_ba")).as("n"))
    ba.where(col("n_ba") >= 5)
      .join(broadcast(b), Seq("brand"))
      .join(broadcast(a), Seq("adj"))
      .crossJoin(broadcast(t))
      .select(col("brand"), col("adj"), col("n_ba").as("n_parts"),
        expr("(1000000 * n_ba * n) div (n_b * n_a)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("brand"), col("adj")).limit(20)
  }

  /** Region trade balance: cross-region revenue flows rolled up to
    * exports / imports / net per region (q324's nation flows at the
    * region grain). The flow matrix is a ≤regions² dim built from ONE
    * fact pass with broadcast dim attaches. */
  def q358: Q = Q(
    "q358_region_trade_balance",
    Some("""
      |WITH flows AS (
      |  SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
      |         sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS cents
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      |  JOIN region sr ON sn.n_regionkey = sr.r_regionkey
      |  WHERE cn.n_regionkey <> sn.n_regionkey
      |  GROUP BY 1, 2),
      |ex AS (SELECT supp_region AS region, sum(cents) AS exports
      |       FROM flows GROUP BY 1),
      |im AS (SELECT cust_region AS region, sum(cents) AS imports
      |       FROM flows GROUP BY 1)
      |SELECT coalesce(ex.region, im.region) AS region,
      |       CAST(coalesce(ex.exports, 0) AS BIGINT) AS exports_cents,
      |       CAST(coalesce(im.imports, 0) AS BIGINT) AS imports_cents,
      |       CAST(coalesce(ex.exports, 0) - coalesce(im.imports, 0)
      |            AS BIGINT) AS net_cents
      |FROM ex FULL OUTER JOIN im ON ex.region = im.region
      |ORDER BY region
      |""".stripMargin)) { (s, dir) =>
    val custR = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_regionkey").as("crk"),
        col("r_name").as("cust_region"))
    val suppR = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_regionkey").as("srk"),
        col("r_name").as("supp_region"))
    val flows = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custR), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppR), col("l_suppkey") === col("s_suppkey"))
      .where(col("crk") =!= col("srk"))
      .groupBy(col("supp_region"), col("cust_region"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
      .materialize() // regions² dim feeds both rollups
    val ex = flows.groupBy(col("supp_region").as("region"))
      .agg(sum(col("cents")).as("exports"))
    val im = flows.groupBy(col("cust_region").as("__r"))
      .agg(sum(col("cents")).as("imports"))
    ex.join(im, col("region") === col("__r"), "full_outer")
      .select(coalesce(col("region"), col("__r")).as("region"),
        coalesce(col("exports"), lit(0L)).as("exports_cents"),
        coalesce(col("imports"), lit(0L)).as("imports_cents"),
        (coalesce(col("exports"), lit(0L))
          - coalesce(col("imports"), lit(0L))).as("net_cents"))
      .orderBy(col("region"))
  }

  /** Catalog price-ending histogram: the last two digits of each
    * part's retail price in cents — does the catalog price at .99/.00
    * points. Top-10 endings; one dim scan. */
  def q359: Q = Q(
    "q359_price_endings",
    Some("""
      |WITH e AS (
      |  SELECT CAST(p_retailprice * 100 AS BIGINT) % 100 AS ending
      |  FROM part),
      |t AS (SELECT count(*) AS n FROM e)
      |SELECT CAST(ending AS BIGINT) AS ending,
      |       CAST(count(*) AS BIGINT) AS n_parts,
      |       CAST((1000000 * count(*)) // t.n AS BIGINT) AS share_ppm
      |FROM e CROSS JOIN t GROUP BY 1, t.n
      |ORDER BY n_parts DESC, ending LIMIT 10
      |""".stripMargin)) { (s, dir) =>
    val e = Tables.part(s, dir)
      .select(((col("p_retailprice") * 100).cast("decimal(38,0)")
        .cast("long") % 100).as("ending"))
      .materialize() // part dim feeds the total AND the histogram
    val t = e.agg(count(lit(1)).as("__n"))
    e.groupBy(col("ending")).agg(count(lit(1)).as("n_parts"))
      .crossJoin(broadcast(t))
      .select(col("ending"), col("n_parts"),
        expr("(1000000 * n_parts) div __n").as("share_ppm"))
      .orderBy(col("n_parts").desc, col("ending")).limit(10)
  }

  /** Supplier balance ↔ revenue Spearman: does account balance track
    * realized revenue rank — q302's ×2-midrank machinery on the
    * supplier dim (exact integer midranks, one guarded double divide
    * in the shared Pearson fragment). */
  def q360: Q = Q(
    "q360_supplier_rank_correlation",
    Some(s"""
      |WITH rev AS (
      |  SELECT l_suppkey, CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
      |           AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |v AS (
      |  SELECT s.s_suppkey, CAST(s.s_acctbal * 100 AS BIGINT) AS x,
      |         coalesce(rev.cents, 0) AS y
      |  FROM supplier s LEFT JOIN rev ON s.s_suppkey = rev.l_suppkey),
      |cx AS (SELECT x, count(*) AS c FROM v GROUP BY x),
      |rx AS (
      |  SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + c + 1 AS rx2
      |  FROM cx),
      |cy AS (SELECT y, count(*) AS c FROM v GROUP BY y),
      |ry AS (
      |  SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + c + 1 AS ry2
      |  FROM cy),
      |j AS (
      |  SELECT CAST(rx.rx2 AS HUGEINT) AS rx2,
      |         CAST(ry.ry2 AS HUGEINT) AS ry2
      |  FROM v JOIN rx ON v.x = rx.x JOIN ry ON v.y = ry.y),
      |agg AS (
      |  SELECT count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy,
      |         sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
      |         sum(rx2 * ry2) AS sxy
      |  FROM j)
      |SELECT CAST(n AS BIGINT) AS n_suppliers,
      |       ${PipelineQueries.sqlPearsonMilli(
                 "n", "sx", "sy", "sxx", "syy", "sxy")} AS rho_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * 100).cast(d38))
        .cast("long").as("cents"))
    val v = Tables.supplier(s, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"), "left")
      .select((col("s_acctbal") * 100).cast(d38).cast("long").as("x"),
        coalesce(col("cents"), lit(0L)).as("y"))
      .materialize() // supplier dim feeds both rank dims AND the join
    def rankDim(c: String, out: String) = {
      val wC = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      v.groupBy(col(c)).agg(count(lit(1)).as("__c"))
        .withColumn(out,
          lit(2L) * coalesce(sum(col("__c")).over(wC), lit(0L)) +
            col("__c") + 1L)
        .select(col(c), col(out))
    }
    val j = v
      .join(broadcast(rankDim("x", "rx2")), Seq("x"))
      .join(broadcast(rankDim("y", "ry2")), Seq("y"))
      .select(col("rx2").cast(d38).as("rx2"), col("ry2").cast(d38).as("ry2"))
    j.agg(count(lit(1)).as("n"),
        sum(col("rx2")).cast(d38).as("sx"),
        sum(col("ry2")).cast(d38).as("sy"),
        sum(col("rx2") * col("rx2")).cast(d38).as("sxx"),
        sum(col("ry2") * col("ry2")).cast(d38).as("syy"),
        sum(col("rx2") * col("ry2")).cast(d38).as("sxy"))
      .select(col("n").as("n_suppliers"),
        expr(PipelineQueries.sqlPearsonMilli(
          "n", "sx", "sy", "sxx", "syy", "sxy")).as("rho_milli"))
  }

  /** Basket brand-diversity histogram: orders by how many distinct
    * brands they mix, with the mean distinct-type count per band —
    * "are big baskets broad or deep". One order-keyed distinct
    * aggregate (map-side combinable), then a ≤12-row band dim. */
  def q351: Q = Q(
    "q351_basket_diversity",
    Some("""
      |WITH d AS (
      |  SELECT l.l_orderkey, count(DISTINCT p.p_brand) AS nb,
      |         count(DISTINCT p.p_type) AS nt
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1),
      |t AS (SELECT count(*) AS n_orders FROM d)
      |SELECT CAST(nb AS BIGINT) AS n_brands,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST((1000000 * count(*)) // t.n_orders AS BIGINT)
      |         AS share_ppm,
      |       CAST((1000 * sum(nt)) // count(*) AS BIGINT)
      |         AS avg_types_milli
      |FROM d CROSS JOIN t GROUP BY 1, t.n_orders ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val d = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("p_brand")).as("nb"),
        countDistinct(col("p_type")).as("nt"))
      .materialize() // order dim feeds the total AND the histogram
    val t = d.agg(count(lit(1)).as("__tot"))
    d.groupBy(col("nb").as("n_brands"))
      .agg(count(lit(1)).as("n_orders"), sum(col("nt")).as("__snt"))
      .crossJoin(broadcast(t))
      .select(col("n_brands"), col("n_orders"),
        expr("(1000000 * n_orders) div __tot").as("share_ppm"),
        expr("(1000 * __snt) div n_orders").as("avg_types_milli"))
      .orderBy(col("n_brands"))
  }

  /** Open-order backlog by month: how many orders sit between their
    * first touch (order or earliest ship — synthetic ships can precede
    * the order date) and their last shipment, averaged per calendar
    * month. The interval-stabbing count uses the ±1 delta trick over a
    * generated day dim (never an order×day fan-out): +1 at the start
    * day, −1 after the end day, one cumulative sum. */
  def q353: Q = Q(
    "q353_open_order_backlog",
    Some("""
      |WITH o AS (
      |  SELECT o.o_orderkey,
      |         least(epoch_us(o.o_orderdate) // 86400000000,
      |               min(epoch_us(l.l_shipdate) // 86400000000)) AS s,
      |         greatest(epoch_us(o.o_orderdate) // 86400000000,
      |               max(epoch_us(l.l_shipdate) // 86400000000)) AS e
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, o.o_orderdate),
      |delta AS (
      |  SELECT s AS d, 1 AS v FROM o
      |  UNION ALL SELECT e + 1 AS d, -1 AS v FROM o),
      |dd AS (SELECT sum(v) AS dv, d FROM delta GROUP BY d),
      |span AS (SELECT min(s) AS lo, max(e) AS hi FROM o),
      |days AS (
      |  SELECT lo + u.i AS d FROM span,
      |         unnest(range(0, hi - lo + 1)) AS u(i)),
      |cum AS (
      |  SELECT days.d, sum(coalesce(dd.dv, 0))
      |           OVER (ORDER BY days.d) AS open
      |  FROM days LEFT JOIN dd ON days.d = dd.d),
      |m AS (
      |  SELECT CAST(year(DATE '1970-01-01' + INTERVAL (d) DAY) * 12
      |              + month(DATE '1970-01-01' + INTERVAL (d) DAY) - 1
      |              AS BIGINT) AS ym,
      |         open
      |  FROM cum)
      |SELECT ym, CAST(count(*) AS BIGINT) AS n_days,
      |       CAST((1000 * sum(open)) // count(*) AS BIGINT)
      |         AS avg_open_milli,
      |       CAST(max(open) AS BIGINT) AS peak_open
      |FROM m GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("od"))
      .agg(min(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")).as("ms"),
        max(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")).as("xs"))
      .select(col("o_orderkey"), least(col("od"), col("ms")).as("s"),
        greatest(col("od"), col("xs")).as("e"))
      .materialize() // order-interval dim feeds deltas AND the span
    val delta = o.select(col("s").as("d"), lit(1L).as("v"))
      .unionAll(o.select((col("e") + 1).as("d"), lit(-1L).as("v")))
      .groupBy(col("d")).agg(sum(col("v")).as("dv"))
    val span = o.agg(min(col("s")).as("lo"), max(col("e")).as("hi"))
    val days = span.select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val cum = days.join(delta, Seq("d"), "left")
      .withColumn("open", sum(coalesce(col("dv"), lit(0L))).over(
        Window.orderBy(col("d")) // generated day dim, bounded
          .rowsBetween(Window.unboundedPreceding, 0)))
    cum.select(expr("CAST(year(date_add(DATE '1970-01-01', " +
        "CAST(d AS INT))) * 12 + month(date_add(DATE '1970-01-01', " +
        "CAST(d AS INT))) - 1 AS BIGINT)").as("ym"), col("open"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_days"),
        expr("(1000 * sum(open)) div count(1)").as("avg_open_milli"),
        max(col("open")).as("peak_open"))
      .orderBy(col("ym"))
  }

  /** What-if: cap every discount at 5% — the counterfactual revenue
    * delta per ship-year. Both scenarios are per-row cent-quantized
    * (q292 discipline) in the same scan; the delta is an exact integer
    * subtraction. */
  def q355: Q = Q(
    "q355_discount_cap_whatif",
    Some("""
      |WITH r AS (
      |  SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
      |         CAST(floor(CAST(l_extendedprice * (1.0 - l_discount)
      |              AS DECIMAL(18,9)) * 100) AS BIGINT) AS actual,
      |         CAST(floor(CAST(l_extendedprice
      |              * (1.0 - least(l_discount, 0.05))
      |              AS DECIMAL(18,9)) * 100) AS BIGINT) AS capped
      |  FROM lineitem)
      |SELECT y, CAST(sum(actual) AS BIGINT) AS actual_cents,
      |       CAST(sum(capped) AS BIGINT) AS capped_cents,
      |       CAST(sum(capped) - sum(actual) AS BIGINT) AS uplift_cents,
      |       CAST((1000000 * (sum(capped) - sum(actual))) // sum(actual)
      |            AS BIGINT) AS uplift_ppm
      |FROM r GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    def cents(c: org.apache.spark.sql.Column) =
      floor(c.cast("decimal(18,9)") * 100).cast("long")
    Tables.lineitem(s, dir)
      .select(year(col("l_shipdate")).cast("long").as("y"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("actual"),
        cents(col("l_extendedprice")
          * (lit(1.0) - least(col("l_discount"), lit(0.05))))
          .as("capped"))
      .groupBy(col("y"))
      .agg(sum(col("actual")).as("actual_cents"),
        sum(col("capped")).as("capped_cents"))
      .select(col("y"), col("actual_cents"), col("capped_cents"),
        (col("capped_cents") - col("actual_cents")).as("uplift_cents"),
        expr("(1000000 * (capped_cents - actual_cents)) div actual_cents")
          .as("uplift_ppm"))
      .orderBy(col("y"))
  }

  /** Disjunctive-predicate revenue (TPC-H Q19 shape): three OR'd
    * (brand, quantity-band) clauses — the classic "does the engine
    * push a disjunction into the join" face. The part attach is a
    * broadcast dim; revenue is per-row cent-quantized net (q292
    * discipline). */
  def q346: Q = Q(
    "q346_disjunctive_revenue",
    Some("""
      |SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(floor(CAST(l.l_extendedprice
      |              * (1.0 - l.l_discount) AS DECIMAL(18,9)) * 100)
      |              AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
      |   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_size >= 40 AND l.l_quantity >= 45)
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .where((col("p_brand") === "Brand#1" &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" &&
          col("l_quantity").between(10, 20)) ||
        (col("p_size") >= 40 && col("l_quantity") >= 45))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,9)") * 100).cast("long")).as("rev_cents"))
  }

  /** Revenue midpoint dates: per ship-year, the day-of-year by which
    * 50% and 90% of the year's revenue had accrued — "how front- or
    * back-loaded is the year". Cumulative sums run over the ≤366-row
    * day dim per year (year-partitioned windows); crossings are pure
    * integer compares (2·cum ≥ tot, 10·cum ≥ 9·tot). */
  def q347: Q = Q(
    "q347_revenue_midpoint",
    Some("""
      |WITH dr AS (
      |  SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
      |         CAST(dayofyear(l_shipdate) AS BIGINT) AS doy,
      |         sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS cents
      |  FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT y, sum(cents) AS tot FROM dr GROUP BY 1),
      |c AS (
      |  SELECT dr.y, dr.doy, t.tot,
      |         sum(dr.cents) OVER (PARTITION BY dr.y ORDER BY dr.doy)
      |           AS cum
      |  FROM dr JOIN t USING (y))
      |SELECT y,
      |       CAST(min(CASE WHEN 2 * cum >= tot THEN doy END) AS BIGINT)
      |         AS mid_doy,
      |       CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN doy END)
      |            AS BIGINT) AS p90_doy,
      |       CAST(max(tot) AS BIGINT) AS total_cents
      |FROM c GROUP BY y ORDER BY y
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val dr = Tables.lineitem(s, dir)
      .groupBy(year(col("l_shipdate")).cast("long").as("y"),
        dayofyear(col("l_shipdate")).cast("long").as("doy"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
      .materialize() // year×day dim feeds the totals AND the cumsum
    val t = dr.groupBy(col("y")).agg(sum(col("cents")).as("tot"))
    dr.join(broadcast(t), Seq("y"))
      .withColumn("cum", sum(col("cents")).over(
        Window.partitionBy(col("y")).orderBy(col("doy"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("y"))
      .agg(min(when(lit(2) * col("cum") >= col("tot"), col("doy")))
          .as("mid_doy"),
        min(when(lit(10) * col("cum") >= lit(9) * col("tot"), col("doy")))
          .as("p90_doy"),
        max(col("tot")).as("total_cents"))
      .orderBy(col("y"))
  }

  /** Return rates and net revenue per discount band — "does
    * discounting buy returns". The band is the cent-rounded discount
    * (0..10), everything else exact integers; one fact aggregate. */
  def q350: Q = Q(
    "q350_discount_return_rates",
    Some("""
      |SELECT CAST(CAST(l_discount * 100 AS BIGINT) AS BIGINT) AS disc_pct,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT)
      |         AS n_returned,
      |       CAST((1000000 * count(*) FILTER (l_returnflag = 'R'))
      |            // count(*) AS BIGINT) AS return_ppm,
      |       CAST(sum(CAST(floor(CAST(l_extendedprice * (1.0 - l_discount)
      |              AS DECIMAL(18,9)) * 100) AS BIGINT)) AS BIGINT)
      |         AS net_cents
      |FROM lineitem GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy((col("l_discount") * 100).cast("decimal(38,0)").cast("long")
        .as("disc_pct"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        sum(floor((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,9)") * 100).cast("long")).as("net_cents"))
      .select(col("disc_pct"), col("n_lines"), col("n_returned"),
        expr("(1000000 * n_returned) div n_lines").as("return_ppm"),
        col("net_cents"))
      .orderBy(col("disc_pct"))
  }

  /** Order ship-window bands: days between an order's first and last
    * shipment, banded — "how long does an order stay open". One
    * order-keyed fact aggregate, then a ≤5-row band dim; integer day
    * diffs on midnight-aligned timestamps. */
  def q342: Q = Q(
    "q342_order_ship_window",
    Some("""
      |WITH w AS (
      |  SELECT l_orderkey, count(*) AS n_lines,
      |         date_diff('day', min(l_shipdate), max(l_shipdate)) AS wd
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT CASE WHEN wd = 0 THEN 0 WHEN wd <= 30 THEN 1
      |              WHEN wd <= 90 THEN 2 WHEN wd <= 365 THEN 3
      |              ELSE 4 END AS band_id,
      |         CASE WHEN wd = 0 THEN 'same_day' WHEN wd <= 30 THEN 'month'
      |              WHEN wd <= 90 THEN 'quarter' WHEN wd <= 365 THEN 'year'
      |              ELSE 'longer' END AS band,
      |         n_lines
      |  FROM w),
      |t AS (SELECT count(*) AS n_orders FROM w)
      |SELECT CAST(band_id AS BIGINT) AS band_id, band,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(n_lines) AS BIGINT) AS n_lines,
      |       CAST((1000000 * count(*)) // t.n_orders AS BIGINT)
      |         AS share_ppm
      |FROM b CROSS JOIN t GROUP BY 1, 2, t.n_orders ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val w = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        expr("datediff(CAST(max(l_shipdate) AS DATE), " +
          "CAST(min(l_shipdate) AS DATE))").as("wd"))
      .materialize() // order dim feeds the total AND the band rollup
    val t = w.agg(count(lit(1)).as("n_orders"))
    w.select(
        expr("CASE WHEN wd = 0 THEN 0L WHEN wd <= 30 THEN 1L " +
          "WHEN wd <= 90 THEN 2L WHEN wd <= 365 THEN 3L ELSE 4L END")
          .as("band_id"),
        expr("CASE WHEN wd = 0 THEN 'same_day' WHEN wd <= 30 THEN 'month' " +
          "WHEN wd <= 90 THEN 'quarter' WHEN wd <= 365 THEN 'year' " +
          "ELSE 'longer' END").as("band"),
        col("n_lines"))
      .groupBy(col("band_id"), col("band"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_lines")).as("n_lines"))
      .crossJoin(broadcast(t.select(col("n_orders").as("__tot"))))
      .select(col("band_id"), col("band"), col("n_orders"), col("n_lines"),
        expr("(1000000 * n_orders) div __tot").as("share_ppm"))
      .orderBy(col("band_id"))
  }

  /** Brand × month-of-year seasonality lift: does a brand over- or
    * under-index in a calendar month vs the market (ppm of
    * independence, lift = cents·G / (brand_total·month_total)). The
    * numerators live in DECIMAL(38,0)/HUGEINT — cents·G overflows a
    * long at scale — with ONE integral divide at the end. */
  def q343: Q = Q(
    "q343_brand_month_seasonality",
    Some("""
      |WITH b AS (
      |  SELECT p.p_brand AS brand,
      |         CAST(month(l.l_shipdate) AS BIGINT) AS m,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |bb AS (SELECT brand, sum(cents) AS btot FROM b GROUP BY 1),
      |mm AS (SELECT m, sum(cents) AS mtot FROM b GROUP BY 1),
      |g AS (SELECT sum(cents) AS gtot FROM b)
      |SELECT b.brand, b.m, b.cents,
      |       CAST((1000000 * CAST(b.cents AS HUGEINT) * g.gtot)
      |            // (bb.btot * CAST(mm.mtot AS HUGEINT)) AS BIGINT)
      |         AS lift_ppm
      |FROM b JOIN bb USING (brand) JOIN mm USING (m) CROSS JOIN g
      |ORDER BY brand, m
      |""".stripMargin)) { (s, dir) =>
    val d38 = "decimal(38,0)"
    val b = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        month(col("l_shipdate")).cast("long").as("m"))
      .agg(sum((col("l_extendedprice") * 100).cast(d38))
        .cast("long").as("cents"))
      .materialize() // brand×month dim feeds 3 totals + the lift pass
    val bb = b.groupBy(col("brand")).agg(sum(col("cents")).as("btot"))
    val mm = b.groupBy(col("m")).agg(sum(col("cents")).as("mtot"))
    val g = b.agg(sum(col("cents")).as("gtot"))
    b.join(broadcast(bb), Seq("brand"))
      .join(broadcast(mm), Seq("m"))
      .crossJoin(broadcast(g))
      .select(col("brand"), col("m"), col("cents"),
        expr(s"CAST((1000000 * CAST(cents AS $d38) * gtot) div " +
          s"(btot * CAST(mtot AS $d38)) AS BIGINT)").as("lift_ppm"))
      .orderBy(col("brand"), col("m"))
  }

  /** Quarterly top supplier (TPC-H Q15 shape): per (year, quarter) the
    * revenue-leading supplier and its share — the rotating-leader view
    * next to q320's brand leaders. One fact aggregate on (y, q, supp),
    * then a per-quarter top-1 window over the supplier dim and a
    * broadcast name attach. */
  def q338: Q = Q(
    "q338_quarterly_top_supplier",
    Some("""
      |WITH b AS (
      |  SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
      |         CAST(quarter(l_shipdate) AS BIGINT) AS qt, l_suppkey,
      |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |           AS cents
      |  FROM lineitem GROUP BY 1, 2, 3),
      |t AS (SELECT y, qt, sum(cents) AS tot FROM b GROUP BY 1, 2),
      |r AS (
      |  SELECT b.*, t.tot,
      |         row_number() OVER (PARTITION BY b.y, b.qt
      |           ORDER BY b.cents DESC, b.l_suppkey) AS rn
      |  FROM b JOIN t ON b.y = t.y AND b.qt = t.qt)
      |SELECT r.y, r.qt, s.s_name AS leader, r.cents AS leader_cents,
      |       CAST((1000000 * r.cents) // r.tot AS BIGINT)
      |         AS leader_share_ppm
      |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
      |WHERE r.rn = 1 ORDER BY r.y, r.qt
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val b = Tables.lineitem(s, dir)
      .groupBy(year(col("l_shipdate")).cast("long").as("y"),
        quarter(col("l_shipdate")).cast("long").as("qt"),
        col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
        .cast("long").as("cents"))
      .materialize() // feeds the quarter totals AND the rank pass
    val t = b.groupBy(col("y"), col("qt")).agg(sum(col("cents")).as("tot"))
    b.join(broadcast(t), Seq("y", "qt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("y"), col("qt"))
          .orderBy(col("cents").desc, col("l_suppkey"))))
      .where(col("rn") === 1)
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("y"), col("qt"), col("s_name").as("leader"),
        col("cents").as("leader_cents"),
        expr("(1000000 * cents) div tot").as("leader_share_ppm"))
      .orderBy(col("y"), col("qt"))
  }

  /** Small-quantity revenue per brand (TPC-H Q17 shape, reference
    * `src/queries` analytics family): lineitems whose quantity is
    * below half the part's average quantity, attributed to the brand.
    * The avg compare stays INTEGER (2·qty·cnt < Σqty — quantities are
    * integral) so both engines pick the identical row set; revenue is
    * the exact cent sum. One part-keyed fact aggregate joined back to
    * the fact (shuffle on l_partkey both sides — AQE co-locates), then
    * a broadcast part-dim attach. */
  def q321: Q = Q(
    "q321_small_quantity_revenue",
    Some("""
      |WITH pa AS (
      |  SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS sq,
      |         count(*) AS cnt
      |  FROM lineitem GROUP BY 1)
      |SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |         AS rev_cents
      |FROM lineitem l
      |JOIN pa ON l.l_partkey = pa.l_partkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE 2 * CAST(l.l_quantity AS BIGINT) * pa.cnt < pa.sq
      |GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val pa = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"),
        count(lit(1)).as("cnt"))
    Tables.lineitem(s, dir)
      .join(pa, Seq("l_partkey"))
      .where(lit(2) * col("l_quantity").cast("long") * col("cnt")
        < col("sq"))
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
          .cast("long").as("rev_cents"))
      .orderBy(col("brand"))
  }

  /** Late-shipment order counts per priority (TPC-H Q4 shape): orders
    * with ANY lineitem shipped more than 60 days after the order date,
    * as a count and ppm share of the priority's orders. The existence
    * test is a left-semi join (no fact fan-out), the share an integer
    * division. */
  def q322: Q = Q(
    "q322_late_shipment_priority",
    Some("""
      |WITH late AS (
      |  SELECT o.o_orderkey, o.o_orderpriority
      |  FROM orders o
      |  WHERE EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND date_diff('day', o.o_orderdate, l.l_shipdate) > 60)),
      |tot AS (
      |  SELECT o_orderpriority, count(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |lc AS (
      |  SELECT o_orderpriority, count(*) AS late_orders
      |  FROM late GROUP BY 1)
      |SELECT tot.o_orderpriority AS priority,
      |       CAST(coalesce(lc.late_orders, 0) AS BIGINT) AS late_orders,
      |       CAST(tot.n_orders AS BIGINT) AS n_orders,
      |       CAST((1000000 * coalesce(lc.late_orders, 0)) // tot.n_orders
      |            AS BIGINT) AS late_ppm
      |FROM tot LEFT JOIN lc ON tot.o_orderpriority = lc.o_orderpriority
      |ORDER BY priority
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val late = o.join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey") &&
          expr("datediff(CAST(l_shipdate AS DATE), " +
            "CAST(o_orderdate AS DATE)) > 60"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("late_orders"))
    val tot = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    tot.join(late, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority").as("priority"),
        coalesce(col("late_orders"), lit(0L)).as("late_orders"),
        col("n_orders"),
        expr("(1000000 * coalesce(late_orders, 0)) div n_orders")
          .as("late_ppm"))
      .orderBy(col("priority"))
  }

  /** Idle high-balance customers per nation (TPC-H Q22 adapted — every
    * synthetic customer has SOME order, so "never ordered" is replaced
    * by "no order since 2000-08-01"): balance above the positive-only
    * average, tested entirely in the integer cent domain
    * (bal_cents·n_pos > total_pos_cents — no double average crosses the
    * comparison), then an anti join against recent orders. */
  def q323: Q = Q(
    "q323_idle_rich_customers",
    Some("""
      |WITH pos AS (
      |  SELECT count(*) AS n_pos,
      |         sum(CAST(c_acctbal * 100 AS HUGEINT)) AS tot_cents
      |  FROM customer WHERE c_acctbal > 0),
      |idle AS (
      |  SELECT c.c_nationkey, CAST(c.c_acctbal * 100 AS HUGEINT)
      |           AS bal_cents
      |  FROM customer c CROSS JOIN pos
      |  WHERE CAST(c.c_acctbal * 100 AS HUGEINT) * pos.n_pos
      |          > pos.tot_cents
      |    AND NOT EXISTS (
      |      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |        AND o.o_orderdate >= TIMESTAMP '2000-08-01 00:00:00'))
      |SELECT n.n_name AS nation,
      |       CAST(count(*) AS BIGINT) AS n_idle,
      |       CAST(sum(bal_cents) AS BIGINT) AS idle_cents
      |FROM idle JOIN nation n ON idle.c_nationkey = n.n_nationkey
      |GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val cust = Tables.customer(s, dir)
      .withColumn("bal_cents",
        (col("c_acctbal") * 100).cast("decimal(38,0)").cast("long"))
    val pos = cust.where(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal_cents")).as("tot_cents"))
    val recent = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("2000-08-01 00:00:00")
        .cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(pos))
      .where(col("bal_cents") * col("n_pos") > col("tot_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_idle"), sum(col("bal_cents")).as("idle_cents"))
      .orderBy(col("nation"))
  }

  /** Cross-nation trade flows per year (TPC-H Q7 shape): revenue
    * shipped from a supplier nation to a DIFFERENT customer nation.
    * The two nation attaches are broadcast dims; the only fact-sized
    * shuffle is lineitem⋈orders on the order key. */
  def q324: Q = Q(
    "q324_nation_trade_flows",
    Some("""
      |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |       CAST(year(l.l_shipdate) AS BIGINT) AS y,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |         AS rev_cents
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |WHERE c.c_nationkey <> s.s_nationkey
      |GROUP BY 1, 2, 3 ORDER BY rev_cents DESC, supp_nation, cust_nation, y
      |LIMIT 50
      |""".stripMargin)) { (s, dir) =>
    val custN = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"),
        col("n_name").as("cust_nation"))
    val suppN = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"),
        col("n_name").as("supp_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("y"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * 100).cast("decimal(38,0)"))
          .cast("long").as("rev_cents"))
      .orderBy(col("rev_cents").desc, col("supp_nation"),
        col("cust_nation"), col("y")).limit(50)
  }

  /** Supplier-nation profit by year (TPC-H Q9 shape; the synthetic
    * schema has no partsupp, so cost is modeled as 60% of retail —
    * stated in exact integers: profit_mc = net_cents·1000 −
    * qty·retail_cents·600, all in milli-cents). Net revenue is per-row
    * DECIMAL-quantized before any sum (q292 discipline). */
  def q325: Q = Q(
    "q325_nation_profit",
    Some("""
      |SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS y,
      |       CAST(sum(
      |         CAST(floor(CAST(l.l_extendedprice * (1.0 - l.l_discount)
      |                    AS DECIMAL(18,9)) * 100) AS BIGINT) * 1000
      |         - CAST(l.l_quantity AS BIGINT)
      |           * CAST(p.p_retailprice * 100 AS BIGINT) * 600
      |       ) AS BIGINT) AS profit_mc
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2
      |""".stripMargin)) { (s, dir) =>
    val suppN = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"),
          (col("p_retailprice") * 100).cast("decimal(38,0)").cast("long")
            .as("retail_cents"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .select(col("nation"), year(col("l_shipdate")).cast("long").as("y"),
        (floor((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,9)") * 100).cast("long") * 1000
          - col("l_quantity").cast("long") * col("retail_cents") * 600)
          .as("__pmc"))
      .groupBy(col("nation"), col("y"))
      .agg(sum(col("__pmc")).as("profit_mc"))
      .orderBy(col("nation"), col("y"))
  }
}
