package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-7 operations-research + retrieval-eval wave: EOQ lot sizing,
  * TOPSIS multi-criteria supplier ranking, risk-pooling benefit,
  * graded retrieval metrics (NDCG/MRR/P@k), and the Kupiec VaR
  * backtest. Discipline unchanged: exact integer inputs, shared
  * double fragments, per-item quantization before any mean.
  */
object OpsQueries {

  val all: Seq[Q] = Seq(q411, q412, q413, q414, q415, q416, q417, q418,
    q419, q420)

  /** Economic order quantity per brand: EOQ = √(2DS/H) with ordering
    * cost S = $100 and holding cost H = 20% of the realized unit
    * price — plus the implied orders/year and cycle length. D (annual
    * demand) and the unit price come from exact integer sums; the
    * √ chain is one shared fragment. */
  def q411: Q = {
    val dD = "(CAST(q AS DOUBLE) / CAST(ny AS DOUBLE))"
    val hD = "(0.2 * (CAST(net AS DOUBLE) / CAST(q AS DOUBLE) / 100.0))"
    val eoq = s"sqrt(2.0 * $dD * 100.0 / $hD)"
    def qm(x: String) =
      s"CAST(floor(CAST(($x) * 1000 AS DECIMAL(28,6))) AS BIGINT)"
    Q("q411_eoq_lot_size",
      Some(s"""
        |WITH b AS (
        |  SELECT p.p_brand AS brand,
        |         sum(CAST(l.l_quantity AS BIGINT)) AS q,
        |         sum(CAST(floor(CAST(l.l_extendedprice
        |              * (1.0 - l.l_discount) AS DECIMAL(18,9)) * 100)
        |              AS BIGINT)) AS net,
        |         count(DISTINCT year(l.l_shipdate)) AS ny
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY 1)
        |SELECT brand, CAST(q AS BIGINT) AS qty,
        |       ${qm(eoq)} AS eoq_milli,
        |       ${qm(s"$dD / ($eoq)")} AS orders_per_year_milli,
        |       ${qm(s"365.0 * ($eoq) / $dD")} AS cycle_days_milli
        |FROM b ORDER BY brand
        |""".stripMargin)) { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(col("l_quantity").cast("long")).as("q"),
          sum(floor((col("l_extendedprice")
            * (lit(1.0) - col("l_discount"))).cast("decimal(18,9)")
            * 100).cast("long")).as("net"),
          countDistinct(year(col("l_shipdate"))).as("ny"))
        .select(col("brand"), col("q").as("qty"),
          expr(qm(eoq)).as("eoq_milli"),
          expr(qm(s"$dD / ($eoq)")).as("orders_per_year_milli"),
          expr(qm(s"365.0 * ($eoq) / $dD")).as("cycle_days_milli"))
        .orderBy(col("brand"))
    }
  }

  /** TOPSIS multi-criteria supplier ranking: criteria = revenue
    * (benefit), return rate (cost), mean ship lead time (cost), each
    * vector-normalized and equally weighted; closeness =
    * d⁻/(d⁺ + d⁻) to the ideal/anti-ideal points (which are the
    * normalized images of the exact per-criterion extremes — the
    * normalization is monotone). Top-10 suppliers; every distance
    * rides ONE fragment family. */
  def q412: Q = {
    def v(x: String, ssq: String) =
      s"((CAST($x AS DOUBLE) / sqrt(CAST($ssq AS DOUBLE))) / 3.0)"
    def sq(a: String, b: String) = s"(($a - $b) * ($a - $b))"
    val dPlus = "sqrt(" + sq(v("x1", "ssq1"), v("mx1", "ssq1")) + " + " +
      sq(v("x2", "ssq2"), v("mn2", "ssq2")) + " + " +
      sq(v("x3", "ssq3"), v("mn3", "ssq3")) + ")"
    val dMinus = "sqrt(" + sq(v("x1", "ssq1"), v("mn1", "ssq1")) + " + " +
      sq(v("x2", "ssq2"), v("mx2", "ssq2")) + " + " +
      sq(v("x3", "ssq3"), v("mx3", "ssq3")) + ")"
    val close = s"CASE WHEN ($dPlus) + ($dMinus) > 0.0" +
      s" THEN ($dMinus) / (($dPlus) + ($dMinus)) END"
    val closeMicro = s"CAST(floor(CAST(($close) * 1000000" +
      " AS DECIMAL(28,6))) AS BIGINT)"
    Q("q412_topsis_suppliers",
      Some(s"""
        |WITH su AS (
        |  SELECT l.l_suppkey AS supp,
        |         sum(CAST(floor(CAST(l.l_extendedprice
        |              * (1.0 - l.l_discount) AS DECIMAL(18,9)) * 100)
        |              AS BIGINT)) AS x1,
        |         (1000000 * sum(CASE WHEN l.l_returnflag = 'R'
        |                        THEN 1 ELSE 0 END)) // count(*) AS x2,
        |         (1000 * sum(date_diff('day', o.o_orderdate,
        |                               l.l_shipdate)))
        |           // count(*) AS x3
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1),
        |t AS (
        |  SELECT sum(CAST(x1 AS HUGEINT) * x1) AS ssq1,
        |         sum(CAST(x2 AS HUGEINT) * x2) AS ssq2,
        |         sum(CAST(x3 AS HUGEINT) * x3) AS ssq3,
        |         max(x1) AS mx1, min(x1) AS mn1,
        |         max(x2) AS mx2, min(x2) AS mn2,
        |         max(x3) AS mx3, min(x3) AS mn3
        |  FROM su)
        |SELECT CAST(supp AS BIGINT) AS supp,
        |       CAST(x1 AS BIGINT) AS revenue_cents,
        |       CAST(x2 AS BIGINT) AS return_ppm,
        |       CAST(x3 AS BIGINT) AS lead_milli,
        |       $closeMicro AS closeness_micro
        |FROM su CROSS JOIN t
        |ORDER BY $close DESC, supp LIMIT 10
        |""".stripMargin)) { (s, dir) =>
      val d38 = "decimal(38,0)"
      val su = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_suppkey").as("supp"))
        .agg(sum(floor((col("l_extendedprice")
            * (lit(1.0) - col("l_discount"))).cast("decimal(18,9)")
            * 100).cast("long")).as("net"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("nr"),
          sum(datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
            .as("sl"),
          count(lit(1)).as("n"))
        .select(col("supp"), col("net").as("x1"),
          expr("(1000000 * nr) div n").as("x2"),
          expr("(1000 * sl) div n").as("x3"))
        .materialize() // supplier dim feeds the extremes AND the ranks
      val t = su.agg(
        sum(col("x1").cast(d38) * col("x1")).cast(d38).as("ssq1"),
        sum(col("x2").cast(d38) * col("x2")).cast(d38).as("ssq2"),
        sum(col("x3").cast(d38) * col("x3")).cast(d38).as("ssq3"),
        max(col("x1")).as("mx1"), min(col("x1")).as("mn1"),
        max(col("x2")).as("mx2"), min(col("x2")).as("mn2"),
        max(col("x3")).as("mx3"), min(col("x3")).as("mn3"))
      su.crossJoin(broadcast(t))
        .orderBy(expr(close).desc, col("supp"))
        .limit(10)
        .select(col("supp"), col("x1").as("revenue_cents"),
          col("x2").as("return_ppm"), col("x3").as("lead_milli"),
          expr(closeMicro).as("closeness_micro"))
    }
  }

  /** Risk-pooling benefit: the std-dev of TOTAL daily demand vs the
    * sum of per-brand daily std-devs (each σ_b floor-micro-quantized
    * BEFORE the 25-term sum — order-free), ratio < 1 quantifies the
    * variance a pooled warehouse absorbs. Population variance over
    * each series' demand days, exact integer moments throughout. */
  def q413: Q = {
    def sig(n: String, s: String, ss: String) =
      s"sqrt((CAST($n AS DOUBLE) * CAST($ss AS DOUBLE)" +
        s" - CAST($s AS DOUBLE) * CAST($s AS DOUBLE))" +
        s" / (CAST($n AS DOUBLE) * CAST($n AS DOUBLE)))"
    def micro(x: String) =
      s"CAST(floor(CAST(($x) * 1000000 AS DECIMAL(28,6))) AS BIGINT)"
    Q("q413_risk_pooling",
      Some(s"""
        |WITH bd AS (
        |  SELECT p.p_brand AS b,
        |         epoch_us(l.l_shipdate) // 86400000000 AS d,
        |         sum(CAST(l.l_quantity AS BIGINT)) AS q
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY 1, 2),
        |bs AS (
        |  SELECT b, count(*) AS n, sum(q) AS s,
        |         sum(CAST(q AS HUGEINT) * q) AS ss
        |  FROM bd GROUP BY 1),
        |bq AS (SELECT ${micro(sig("n", "s", "ss"))} AS sm FROM bs),
        |sb AS (SELECT count(*) AS n_brands, sum(sm) AS ssum_micro
        |       FROM bq),
        |td AS (SELECT d, sum(q) AS q FROM bd GROUP BY 1),
        |ts AS (
        |  SELECT count(*) AS n, sum(q) AS s,
        |         sum(CAST(q AS HUGEINT) * q) AS ss
        |  FROM td)
        |SELECT CAST(sb.n_brands AS BIGINT) AS n_brands,
        |       ${micro(sig("ts.n", "ts.s", "ts.ss"))} AS sigma_total_micro,
        |       CAST(sb.ssum_micro AS BIGINT) AS sigma_sum_micro,
        |       CAST(floor(CAST(
        |         1000000000.0 * ${sig("ts.n", "ts.s", "ts.ss")}
        |         / CAST(sb.ssum_micro AS DOUBLE)
        |       AS DECIMAL(28,6))) AS BIGINT) AS pooling_ratio_milli
        |FROM sb CROSS JOIN ts
        |""".stripMargin)) { (s, dir) =>
      val d38 = "decimal(38,0)"
      val bd = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand").as("b"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
            "div 86400000000").as("d"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .materialize() // brand-day dim feeds per-brand AND pooled σ
      val sb = bd.groupBy(col("b"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
          sum(col("q").cast(d38) * col("q")).cast(d38).as("ss"))
        .select(expr(micro(sig("n", "s", "ss"))).as("sm"))
        .agg(count(lit(1)).as("n_brands"), sum(col("sm")).as("ssum_micro"))
      val ts = bd.groupBy(col("d")).agg(sum(col("q")).as("q"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
          sum(col("q").cast(d38) * col("q")).cast(d38).as("ss"))
      sb.crossJoin(broadcast(ts))
        .select(col("n_brands"),
          expr(micro(sig("n", "s", "ss"))).as("sigma_total_micro"),
          col("ssum_micro").as("sigma_sum_micro"),
          expr("CAST(floor(CAST(1000000000.0 * " +
            sig("n", "s", "ss") +
            " / CAST(ssum_micro AS DOUBLE) AS DECIMAL(28,6))) " +
            "AS BIGINT)").as("pooling_ratio_milli"))
    }
  }

  /** Graded retrieval metrics over the exact cosine top-10
    * (composition: Similarity.bruteForceTopK → label relevance):
    * NDCG@10 with floor-micro gains 1/log₂(r+1), MRR, and P@10,
    * each query's metric quantized BEFORE the mean. Relevance =
    * same label as the query; the ideal DCG uses min(10, #relevant
    * in corpus). The ranking reuses q30's bit-identical left-fold
    * cosine, so ranks agree across engines. */
  def q414: Q = {
    val k = 10
    // DuckDB's list-fold dot product — q30's fragment verbatim
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
         |  (x, y) -> x + y)""".stripMargin
    val gain = "CAST(floor(1000000.0 / log2(CAST(r AS DOUBLE) + 1.0))" +
      " AS BIGINT)"
    Q("q414_retrieval_ndcg",
      Some(s"""
        |WITH q AS (SELECT vec_id, embedding, label FROM embeddings
        |           WHERE vec_id < 50),
        |c AS (SELECT vec_id, embedding, label FROM embeddings),
        |lc AS (SELECT label, count(*) AS nl FROM c GROUP BY 1),
        |pairs AS (
        |  SELECT q.vec_id, q.label AS ql, c.vec_id AS nid,
        |         c.label AS nl,
        |         ${dot("q.embedding", "c.embedding")}
        |           / (sqrt(${dot("q.embedding", "q.embedding")})
        |              * sqrt(${dot("c.embedding", "c.embedding")}))
        |           AS cos
        |  FROM q JOIN c ON q.vec_id != c.vec_id),
        |ranked AS (
        |  SELECT vec_id, ql, nl, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, nid) AS r
        |  FROM pairs),
        |top AS (SELECT * FROM ranked WHERE r <= $k),
        |perq AS (
        |  SELECT vec_id, max(ql) AS ql,
        |         sum(CASE WHEN nl = ql THEN $gain ELSE 0 END) AS dcg,
        |         min(CASE WHEN nl = ql THEN r END) AS fr,
        |         sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS nrel
        |  FROM top GROUP BY vec_id),
        |ideal AS (
        |  SELECT perq.vec_id,
        |         sum(CASE WHEN u.r <= least($k, lc.nl - 1)
        |             THEN CAST(floor(1000000.0
        |               / log2(CAST(u.r AS DOUBLE) + 1.0)) AS BIGINT)
        |             ELSE 0 END) AS idcg
        |  FROM perq JOIN lc ON lc.label = perq.ql
        |       CROSS JOIN (SELECT unnest(range(1, $k + 1)) AS r) u
        |  GROUP BY 1),
        |pm AS (
        |  SELECT p.vec_id,
        |         CASE WHEN i.idcg > 0
        |           THEN (1000 * p.dcg) // i.idcg ELSE 0 END AS ndcg_milli,
        |         CASE WHEN p.fr IS NOT NULL
        |           THEN 1000000 // p.fr ELSE 0 END AS rr_micro,
        |         p.nrel
        |  FROM perq p JOIN ideal i ON i.vec_id = p.vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(sum(ndcg_milli) // count(*) AS BIGINT)
        |         AS mean_ndcg_milli,
        |       CAST(sum(rr_micro) // count(*) AS BIGINT)
        |         AS mean_mrr_micro,
        |       CAST((1000000 * sum(nrel)) // ($k * count(*)) AS BIGINT)
        |         AS p_at_k_ppm
        |FROM pm
        |""".stripMargin)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val labels = emb.select(col("vec_id").as("__lid"),
        col("label").as("__lab")).materialize()
      val lc = labels.groupBy(col("__lab")).agg(count(lit(1)).as("nl"))
      val top = graft.sim.Similarity.bruteForceTopK(
        corpus = emb, queries = emb.filter(col("vec_id") < 50),
        idCol = "vec_id", vecCol = "embedding", k = k)
        .join(broadcast(labels), col("__lid") === col("vec_id"))
        .withColumnRenamed("__lab", "ql").drop("__lid")
        .join(broadcast(labels), col("__lid") === col("neighbor_id"))
        .withColumnRenamed("__lab", "nl").drop("__lid")
        .withColumnRenamed("rank", "r")
      val perq = top.groupBy(col("vec_id"))
        .agg(max(col("ql")).as("ql"),
          sum(when(col("nl") === col("ql"), expr(gain)).otherwise(0L))
            .as("dcg"),
          min(when(col("nl") === col("ql"), col("r"))).as("fr"),
          sum(when(col("nl") === col("ql"), 1L).otherwise(0L))
            .as("nrel"))
      val ranks = s.range(1, k + 1).select(col("id").as("r"))
      val ideal = perq
        .join(broadcast(lc), col("__lab") === col("ql"))
        .crossJoin(broadcast(ranks))
        .groupBy(col("vec_id"))
        .agg(sum(when(col("r") <= least(lit(k.toLong), col("nl") - 1),
          expr("CAST(floor(1000000.0 / log2(CAST(r AS DOUBLE) + 1.0)) " +
            "AS BIGINT)")).otherwise(0L)).as("idcg"))
      perq.join(ideal.withColumnRenamed("vec_id", "__iv"),
          col("__iv") === col("vec_id"))
        .select(
          when(col("idcg") > 0, expr("(1000 * dcg) div idcg"))
            .otherwise(0L).as("ndcg_milli"),
          when(col("fr").isNotNull, expr("1000000 div fr"))
            .otherwise(0L).as("rr_micro"),
          col("nrel"))
        .agg(count(lit(1)).as("n_queries"),
          expr("CAST(sum(ndcg_milli) div count(1) AS BIGINT)")
            .as("mean_ndcg_milli"),
          expr("CAST(sum(rr_micro) div count(1) AS BIGINT)")
            .as("mean_mrr_micro"),
          expr(s"CAST((1000000 * sum(nrel)) div ($k * count(1)) " +
            "AS BIGINT)").as("p_at_k_ppm"))
    }
  }

  /** Kupiec proportion-of-failures VaR backtest: the 5% VaR of daily
    * revenue estimated on 1995-1997 (discrete 50‰ quantile over the
    * train-day dim), violations counted strictly below it on 1998+,
    * and the likelihood-ratio statistic −2·ln Λ with the 0·ln 0 = 0
    * convention — "is the historical quantile still calibrated".
    * Counts exact; the ln chain is one shared fragment. */
  def q415: Q = {
    val xr = "(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
    val lr = "(-2.0 * ((CAST(n AS DOUBLE) - CAST(x AS DOUBLE))" +
      " * ln(0.95) + CAST(x AS DOUBLE) * ln(0.05))" +
      " + 2.0 * ((CASE WHEN x < n THEN (CAST(n AS DOUBLE)" +
      s" - CAST(x AS DOUBLE)) * ln(1.0 - $xr) ELSE 0.0 END)" +
      s" + (CASE WHEN x > 0 THEN CAST(x AS DOUBLE) * ln($xr)" +
      " ELSE 0.0 END)))"
    Q("q415_kupiec_var_backtest",
      Some(s"""
        |WITH daily AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS d,
        |         CAST(year(l_shipdate) AS BIGINT) AS y,
        |         CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |tr AS (
        |  SELECT r, row_number() OVER (ORDER BY r) AS rn,
        |         count(*) OVER () AS n
        |  FROM daily WHERE y <= 1997),
        |var AS (SELECT r AS var_cents FROM tr
        |        WHERE rn = (50 * n + 999) // 1000),
        |te AS (
        |  SELECT count(*) AS n,
        |         sum(CASE WHEN daily.r < var.var_cents THEN 1 ELSE 0 END)
        |           AS x,
        |         max(var.var_cents) AS var_cents
        |  FROM daily CROSS JOIN var WHERE daily.y >= 1998)
        |SELECT CAST(var_cents AS BIGINT) AS var_cents,
        |       CAST(n AS BIGINT) AS n_test, CAST(x AS BIGINT) AS x_viol,
        |       CAST(floor(CAST(1000.0 * $lr AS DECIMAL(28,6)))
        |            AS BIGINT) AS lr_milli
        |FROM te
        |""".stripMargin)) { (s, dir) =>
      val daily = Tables.lineitem(s, dir)
        .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
          "div 86400000000").as("d"),
          year(col("l_shipdate")).cast("long").as("y"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100 " +
          "AS DECIMAL(38,0))) AS BIGINT)").as("r"))
        .materialize() // day dim feeds the train quantile AND the test
      val v = graft.operators.OrderStats.quantilesDisc(
        daily.where(col("y") <= 1997).withColumn("g", lit(0L)),
        Seq("g"), "r", Seq(50))
        .select(col("value").as("var_cents"))
      daily.where(col("y") >= 1998)
        .crossJoin(broadcast(v))
        .agg(count(lit(1)).as("n"),
          sum(when(col("r") < col("var_cents"), 1L).otherwise(0L))
            .as("x"),
          max(col("var_cents")).as("var_cents"))
        .select(col("var_cents"), col("n").as("n_test"),
          col("x").as("x_viol"),
          expr(s"CAST(floor(CAST(1000.0 * $lr AS DECIMAL(28,6))) " +
            "AS BIGINT)").as("lr_milli"))
    }
  }

  /** HITS hubs-and-authorities on the customer→supplier purchase
    * bipartite graph (edge weight = lineitem count): two full power
    * iterations with max-normalization to EXACT milli integers after
    * every half-step — no floats anywhere, so the oracle replays the
    * identical integer chain. Output: the top-10 authority
    * suppliers. */
  def q416: Q = Q(
    "q416_hits_authorities",
    Some("""
      |WITH e AS (
      |  SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, 2),
      |h1 AS (SELECT cust, sum(w * 1000) AS h FROM e GROUP BY 1),
      |h1m AS (SELECT cust, (1000 * h) // (SELECT max(h) FROM h1) AS hm
      |        FROM h1),
      |a1 AS (SELECT e.supp, sum(e.w * h1m.hm) AS a
      |       FROM e JOIN h1m ON h1m.cust = e.cust GROUP BY 1),
      |a1m AS (SELECT supp, (1000 * a) // (SELECT max(a) FROM a1) AS am
      |        FROM a1),
      |h2 AS (SELECT e.cust, sum(e.w * a1m.am) AS h
      |       FROM e JOIN a1m ON a1m.supp = e.supp GROUP BY 1),
      |h2m AS (SELECT cust, (1000 * h) // (SELECT max(h) FROM h2) AS hm
      |        FROM h2),
      |a2 AS (SELECT e.supp, sum(e.w * h2m.hm) AS a
      |       FROM e JOIN h2m ON h2m.cust = e.cust GROUP BY 1),
      |a2m AS (SELECT supp, (1000 * a) // (SELECT max(a) FROM a2) AS am
      |        FROM a2)
      |SELECT CAST(supp AS BIGINT) AS supp, CAST(am AS BIGINT)
      |         AS auth_milli
      |FROM a2m ORDER BY am DESC, supp LIMIT 10
      |""".stripMargin)) { (s, dir) =>
    // the weighted trading-pair edge dim is the shared TradeGraph
    // spine (same (cust, supp) groupBy-count; q981-q985 read its
    // binary projection) — it feeds all four half-steps
    val e = TradeGraph.pairs(s, dir)
      .select(col("cu").as("cust"), col("su").as("supp"), col("w"))
    hitsAuth2(e).orderBy(col("am").desc, col("supp")).limit(10)
      .select(col("supp"), col("am").as("auth_milli"))
  }

  /** q416's two unrolled weighted HITS iterations (supp, am), size-
    * gated on the pair-dim row count (the SupplierGraph fixpoint
    * discipline): under [[SizeGate.EdgeRows]] pairs the four
    * half-steps (each a shuffle
    * join + aggregate + max-normalize in the dataframe loop) fold
    * inside ONE executor task of identical Long arithmetic —
    * `Math.*Exact` so an overflow throws exactly where the ANSI
    * dataframe loop would; above the bound the per-step loop runs
    * unchanged. */
  private[graft] def hitsAuth2(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = e.sparkSession
    if (SizeGate.local(e, SizeGate.EdgeRows)) {
      import s.implicits._
      e.select(col("cust").cast("long"), col("supp").cast("long"),
          col("w").cast("long"))
        .as[(Long, Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val edges = it.toArray
          def normalize(m: collection.mutable.HashMap[Long, Long])
              : collection.mutable.HashMap[Long, Long] = {
            val mx = m.valuesIterator.max
            m.map { case (k, v) =>
              k -> Math.multiplyExact(1000L, v) / mx
            }
          }
          // h1(cust) = Σ w·1000; a(supp) = Σ w·hm(cust); repeat
          val h1 = collection.mutable.HashMap.empty[Long, Long]
          edges.foreach { case (cu, _, w) =>
            h1.update(cu, Math.addExact(h1.getOrElse(cu, 0L),
              Math.multiplyExact(w, 1000L)))
          }
          val h1m = normalize(h1)
          def stepA(hm: collection.mutable.HashMap[Long, Long]) = {
            val m = collection.mutable.HashMap.empty[Long, Long]
            edges.foreach { case (cu, su, w) =>
              m.update(su, Math.addExact(m.getOrElse(su, 0L),
                Math.multiplyExact(w, hm(cu))))
            }
            m
          }
          def stepH(am: collection.mutable.HashMap[Long, Long]) = {
            val m = collection.mutable.HashMap.empty[Long, Long]
            edges.foreach { case (cu, su, w) =>
              m.update(cu, Math.addExact(m.getOrElse(cu, 0L),
                Math.multiplyExact(w, am(su))))
            }
            m
          }
          val a1 = normalize(stepA(h1m))
          val h2 = normalize(stepH(a1))
          val a2 = normalize(stepA(h2))
          a2.iterator.map { case (su, am) => (su, am) }
        }
        .toDF("supp", "am")
    } else {
      def normalize(df: org.apache.spark.sql.DataFrame, v: String) = {
        val mx = df.agg(max(col(v)).as("__mx"))
        df.crossJoin(broadcast(mx))
          .select(df.columns.filter(_ != v).map(col) :+
            expr(s"(1000 * $v) div __mx").as(v + "m"): _*)
      }
      val h1 = normalize(e.groupBy(col("cust"))
        .agg(sum(col("w") * 1000).as("h")), "h")
      val a1 = normalize(e.join(h1, Seq("cust"))
        .groupBy(col("supp")).agg(sum(col("w") * col("hm")).as("a")), "a")
      val h2 = normalize(e.join(a1, Seq("supp"))
        .groupBy(col("cust")).agg(sum(col("w") * col("am")).as("h")), "h")
      normalize(e.join(h2, Seq("cust"))
        .groupBy(col("supp")).agg(sum(col("w") * col("hm")).as("a")), "a")
    }
  }

  /** Shapley (LMG) decomposition of two-feature R²: how much of the
    * quantity variance belongs to discount vs part size when they
    * overlap — φ₁ = ½r₁² + ½(R²_full − r₂²), with R²_full from the
    * two-regressor closed form (r₁² + r₂² − 2r₁r₂r₁₂)/(1 − r₁₂²).
    * All three correlations come from exact integer moments; the φ
    * chain is one shared fragment family over the staged r columns. */
  def q417: Q = {
    def corr(sxy: String, sx: String, sy: String, sxx: String,
        syy: String) =
      s"((CAST(n AS DOUBLE) * CAST($sxy AS DOUBLE)" +
        s" - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))" +
        s" / sqrt((CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE)" +
        s" - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))" +
        s" * (CAST(n AS DOUBLE) * CAST($syy AS DOUBLE)" +
        s" - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE))))"
    val r2full = "CASE WHEN 1.0 - r12 * r12 <> 0.0 THEN" +
      " (r1 * r1 + r2 * r2 - 2.0 * r1 * r2 * r12)" +
      " / (1.0 - r12 * r12) END"
    def qm(x: String, scale: String) =
      s"CAST(floor(CAST(($x) * $scale AS DECIMAL(28,6))) AS BIGINT)"
    Q("q417_shapley_r2_decomposition",
      Some(s"""
        |WITH v AS (
        |  SELECT CAST(l.l_discount * 1000 AS BIGINT) AS x1,
        |         CAST(p.p_size AS BIGINT) AS x2,
        |         CAST(l.l_quantity AS BIGINT) AS y
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |m AS (
        |  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
        |         sum(y) AS sy, sum(x1 * x1) AS s11,
        |         sum(x2 * x2) AS s22, sum(y * y) AS syy,
        |         sum(x1 * x2) AS s12, sum(x1 * y) AS s1y,
        |         sum(x2 * y) AS s2y
        |  FROM v),
        |r AS (
        |  SELECT n, ${corr("s1y", "s1", "sy", "s11", "syy")} AS r1,
        |         ${corr("s2y", "s2", "sy", "s22", "syy")} AS r2,
        |         ${corr("s12", "s1", "s2", "s11", "s22")} AS r12
        |  FROM m),
        |f AS (SELECT n, r1, r2, r12, $r2full AS rf FROM r)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |       ${qm("r1", "1000")} AS r1_milli,
        |       ${qm("r2", "1000")} AS r2_milli,
        |       ${qm("r12", "1000")} AS r12_milli,
        |       ${qm("rf", "1000")} AS r2_full_milli,
        |       ${qm("0.5 * r1 * r1 + 0.5 * (rf - r2 * r2)", "1000000")}
        |         AS shapley1_micro,
        |       ${qm("0.5 * r2 * r2 + 0.5 * (rf - r1 * r1)", "1000000")}
        |         AS shapley2_micro
        |FROM f
        |""".stripMargin)) { (s, dir) =>
      val v = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("p_partkey") === col("l_partkey"))
        .select((col("l_discount") * 1000).cast("decimal(38,0)")
          .cast("long").as("x1"),
          col("p_size").cast("long").as("x2"),
          col("l_quantity").cast("long").as("y"))
      v.agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"),
        sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
        .select(col("n"),
          expr(corr("s1y", "s1", "sy", "s11", "syy")).as("r1"),
          expr(corr("s2y", "s2", "sy", "s22", "syy")).as("r2"),
          expr(corr("s12", "s1", "s2", "s11", "s22")).as("r12"))
        .select(col("n"), col("r1"), col("r2"), col("r12"),
          expr(r2full).as("rf"))
        .select(col("n").as("n_rows"),
          expr(qm("r1", "1000")).as("r1_milli"),
          expr(qm("r2", "1000")).as("r2_milli"),
          expr(qm("r12", "1000")).as("r12_milli"),
          expr(qm("rf", "1000")).as("r2_full_milli"),
          expr(qm("0.5 * r1 * r1 + 0.5 * (rf - r2 * r2)", "1000000"))
            .as("shapley1_micro"),
          expr(qm("0.5 * r2 * r2 + 0.5 * (rf - r1 * r1)", "1000000"))
            .as("shapley2_micro"))
    }
  }

  /** RAKE keyword extraction: phrases = maximal stopword-free token
    * runs (position-island grouping), word score = degree/frequency
    * over phrase co-membership (micro-quantized integer division),
    * phrase score = Σ member word scores — the classic unsupervised
    * keyword extractor, top-20 phrases. Everything integer; the only
    * windows are per-document position islands and the global
    * value dim never sorts. */
  def q418: Q = {
    val swList = PipelineQueries.sqlInList(
      graft.text.TextAnalysis.LangStopwords.flatMap(_._2).distinct)
    Q("q418_rake_keywords",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id,
        |         ${PipelineQueries.sqlTokens("lower(text)")} AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |u AS (
        |  SELECT doc_id, s.p AS p, s.w AS w
        |  FROM t, unnest(list_transform(range(1, len(toks) + 1),
        |         i -> {'p': i, 'w': toks[i]})) AS uu(s)),
        |ns AS (
        |  SELECT doc_id, p, w,
        |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
        |           AS grp
        |  FROM u WHERE w NOT IN $swList AND w <> ''),
        |ph AS (
        |  SELECT doc_id, grp,
        |         string_agg(w, ' ' ORDER BY p) AS phrase,
        |         count(*) AS k
        |  FROM ns GROUP BY 1, 2),
        |wt AS (
        |  SELECT ns.w, count(*) AS freq, sum(ph.k) AS deg
        |  FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.grp = ns.grp
        |  GROUP BY 1),
        |ws AS (SELECT w, (1000000 * deg) // freq AS score FROM wt),
        |ps AS (
        |  SELECT ns.doc_id, ns.grp, sum(ws.score) AS score
        |  FROM ns JOIN ws ON ws.w = ns.w GROUP BY 1, 2),
        |pg AS (
        |  SELECT ph.phrase, count(*) AS n_occ,
        |         max(ps.score) AS score_micro
        |  FROM ph JOIN ps ON ps.doc_id = ph.doc_id AND ps.grp = ph.grp
        |  GROUP BY 1)
        |SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ,
        |       CAST(score_micro AS BIGINT) AS score_micro
        |FROM pg ORDER BY score_micro DESC, phrase LIMIT 20
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sw = graft.text.TextAnalysis.LangStopwords.flatMap(_._2).distinct
      val u = Tables.documents(s, dir)
        .where(trim(col("text")) =!= "")
        .select(col("doc_id"),
          posexplode(graft.text.TextAnalysis.tokens(lower(col("text")))))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
      val ns = u.where(!col("w").isin(sw: _*) && col("w") =!= "")
        .withColumn("grp", col("p") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("p"))))
        .materialize() // the island dim feeds phrases, words, scores
      val ph = ns.groupBy(col("doc_id"), col("grp"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ").as("phrase"),
          count(lit(1)).as("k"))
        .materialize()
      val wt = ns.join(ph.select(col("doc_id").as("__pd"),
          col("grp").as("__pg"), col("k")),
        col("doc_id") === col("__pd") && col("grp") === col("__pg"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("k")).as("deg"))
        .select(col("w"), expr("(1000000 * deg) div freq").as("score"))
      val ps = ns.join(wt, Seq("w"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(sum(col("score")).as("score"))
      ph.join(ps.select(col("doc_id").as("__sd"), col("grp").as("__sg"),
          col("score")),
        col("doc_id") === col("__sd") && col("grp") === col("__sg"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occ"), max(col("score")).as("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase"))
        .limit(20)
    }
  }

  /** Sequential probability-ratio test on the event stream: is the
    * purchase share 15% (H0) or 25% (H1)? Each event contributes one
    * of TWO micro-quantized log-likelihood constants, the cumulative
    * walk rides the bucket-parallel globalRankCum (day buckets — no
    * fact-sized total-order window), and the decision is the first
    * rank crossing ±ln 19 (α = β = 0.05). Integer-exact end to
    * end. */
  def q419: Q = {
    val tS = "CAST(floor(1000000 * ln(0.25 / 0.15)) AS BIGINT)"
    val tF = "CAST(floor(1000000 * ln(0.75 / 0.85)) AS BIGINT)"
    val th = "CAST(floor(1000000 * ln(19.0)) AS BIGINT)"
    Q("q419_sprt_purchase_share",
      Some(s"""
        |WITH ev AS (
        |  SELECT event_id, epoch_ns(ts) AS t,
        |         CASE WHEN event_type = 'purchase' THEN $tS
        |              ELSE $tF END AS term
        |  FROM events),
        |c AS (
        |  SELECT event_id, term,
        |         row_number() OVER (ORDER BY t, event_id) AS rn,
        |         sum(term) OVER (ORDER BY t, event_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ev),
        |x AS (
        |  SELECT count(*) AS n,
        |         min(CASE WHEN cum >= $th THEN rn END) AS r1,
        |         min(CASE WHEN cum <= -($th) THEN rn END) AS r0,
        |         sum(term) AS fin
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_events,
        |       CASE WHEN r1 IS NOT NULL AND (r0 IS NULL OR r1 < r0)
        |              THEN 'accept_h1'
        |            WHEN r0 IS NOT NULL THEN 'accept_h0'
        |            ELSE 'none' END AS decision,
        |       CAST(CASE WHEN r1 IS NOT NULL AND (r0 IS NULL OR r1 < r0)
        |                 THEN r1 ELSE r0 END AS BIGINT) AS cross_rank,
        |       CAST(fin AS BIGINT) AS llr_final_micro
        |FROM x
        |""".stripMargin)) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"),
          expr("ts div 86400000000000").as("day"),
          when(col("event_type") === "purchase", expr(tS))
            .otherwise(expr(tF)).as("term"))
      val c = graft.dedup.SortedNeighborhood.globalRankCum(
        ev, idCol = "event_id", bucketCol = "day",
        tieCols = Seq("ts"), cumCol = Some("term"))
      c.agg(count(lit(1)).as("n"),
        min(when(col("__cum") >= expr(th), col("__rank"))).as("r1"),
        min(when(col("__cum") <= -expr(th), col("__rank"))).as("r0"),
        sum(col("term")).as("fin"))
        .select(col("n").as("n_events"),
          when(col("r1").isNotNull &&
            (col("r0").isNull || col("r1") < col("r0")), "accept_h1")
            .when(col("r0").isNotNull, "accept_h0")
            .otherwise("none").as("decision"),
          when(col("r1").isNotNull &&
            (col("r0").isNull || col("r1") < col("r0")), col("r1"))
            .otherwise(col("r0")).as("cross_rank"),
          col("fin").as("llr_final_micro"))
    }
  }

  /** Gravity model of inter-nation trade: ln F_ij regressed on
    * ln(M_i·M_j) over the 625 nonzero flow cells (masses = nation
    * revenue totals as customer / supplier side). Both logs are
    * floor-micro-quantized per cell, so the OLS moments are exact
    * integers and only the final slope/intercept/r² ride shared
    * double fragments — "does trade scale with economic mass". */
  def q420: Q = {
    val slope = "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    val icept = s"((CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE))" +
      " / CAST(n AS DOUBLE))"
    val r2 = "(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))" +
      " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
      " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
    def qm(x: String, scale: String) =
      s"CAST(floor(CAST(($x) * $scale AS DECIMAL(28,6))) AS BIGINT)"
    val xMicro = "CAST(floor(CAST(1000000.0 * ln(CAST(mi AS DOUBLE)" +
      " * CAST(mj AS DOUBLE)) AS DECIMAL(28,6))) AS BIGINT)"
    val yMicro = "CAST(floor(CAST(1000000.0 * ln(CAST(f AS DOUBLE))" +
      " AS DECIMAL(28,6))) AS BIGINT)"
    Q("q420_gravity_trade_fit",
      Some(s"""
        |WITH fl AS (
        |  SELECT c.c_nationkey AS ci, s.s_nationkey AS sj,
        |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
        |              AS BIGINT) AS f
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |mc AS (SELECT ci, CAST(sum(f) AS BIGINT) AS mi FROM fl
        |       GROUP BY 1),
        |ms AS (SELECT sj, CAST(sum(f) AS BIGINT) AS mj FROM fl
        |       GROUP BY 1),
        |xy AS (
        |  SELECT $xMicro AS x, $yMicro AS y
        |  FROM fl JOIN mc USING (ci) JOIN ms USING (sj) WHERE f > 0),
        |m AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |       ${qm(slope, "1000")} AS slope_milli,
        |       ${qm(icept, "1")} AS intercept_micro,
        |       ${qm(r2, "1000")} AS r2_milli
        |FROM m
        |""".stripMargin)) { (s, dir) =>
      val d38 = "decimal(38,0)"
      val fl = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").as("ci"))),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey").as("sj"))),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("ci"), col("sj"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100 " +
          "AS DECIMAL(38,0))) AS BIGINT)").as("f"))
        .materialize() // the 625-cell flow dim feeds masses AND the fit
      val mc = fl.groupBy(col("ci")).agg(sum(col("f")).as("mi"))
      val ms = fl.groupBy(col("sj")).agg(sum(col("f")).as("mj"))
      fl.where(col("f") > 0)
        .join(broadcast(mc), Seq("ci"))
        .join(broadcast(ms), Seq("sj"))
        .select(expr(xMicro).as("x"), expr(yMicro).as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast(d38) * col("y")).cast(d38).as("sxy"),
          sum(col("x").cast(d38) * col("x")).cast(d38).as("sxx"),
          sum(col("y").cast(d38) * col("y")).cast(d38).as("syy"))
        .select(col("n").as("n_pairs"),
          expr(qm(slope, "1000")).as("slope_milli"),
          expr(qm(icept, "1")).as("intercept_micro"),
          expr(qm(r2, "1000")).as("r2_milli"))
    }
  }
}
