package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-7 replay-and-residuals wave: LRU cache replay against static
  * baselines, a synthetic-control counterfactual gap, the
  * Durbin–Watson residual-autocorrelation statistic on EXACT integer
  * residuals, Christoffersen's VaR-independence test, and a
  * deterministic permutation test. The cache fold encodes its recency
  * list as a delimited string (the list_reduce list-field quirk —
  * see q497); residuals come from the n·DEN-scaled closed form so DW
  * never sums a float. */
object ReplayQueries {

  val all: Seq[Q] = Seq(q501, q502, q503, q504, q505)

  /** LRU cache replay over the event stream's user accesses (capacity
    * 20): hit ratio vs the static top-20-frequent baseline and the
    * compulsory-miss floor — the working-set analysis behind cache
    * sizing. The LRU recency list is inherently sequential ⇒
    * OrderedFold with a bounded string-encoded state; the oracle
    * replays the identical eviction order via list_reduce. */
  def q501: Q = {
    val cap = 20
    Q("q501_lru_cache_replay",
      Some(s"""
        |WITH ev AS (
        |  SELECT epoch_ns(ts) AS tns, event_id,
        |         CAST(user_id AS VARCHAR) AS u
        |  FROM events),
        |f AS (
        |  SELECT list_reduce(
        |    list_prepend({'d': ',', 'h': CAST(0 AS BIGINT),
        |                  'n': CAST(0 AS BIGINT), 'x': ''},
        |      list({'d': ',', 'h': CAST(0 AS BIGINT),
        |            'n': CAST(0 AS BIGINT), 'x': u}
        |           ORDER BY tns, event_id)),
        |    (acc, e) -> CASE WHEN strpos(acc.d, ',' || e.x || ',') > 0 THEN
        |      {'d': ',' || e.x || replace(acc.d, ',' || e.x || ',', ','),
        |       'h': acc.h + 1, 'n': acc.n + 1, 'x': ''}
        |    ELSE
        |      {'d': CASE WHEN len(string_split(acc.d, ',')) - 2 >= $cap
        |            THEN ',' || e.x || ',' || array_to_string(
        |              (string_split(acc.d, ','))[2:$cap], ',') || ','
        |            ELSE ',' || e.x || acc.d END,
        |       'h': acc.h, 'n': acc.n + 1, 'x': ''}
        |    END) AS st
        |  FROM ev),
        |freq AS (
        |  SELECT u FROM (SELECT u, count(*) AS c FROM ev GROUP BY 1
        |                 ORDER BY c DESC, u LIMIT $cap) t),
        |topk AS (SELECT count(*) AS hits FROM ev JOIN freq USING (u)),
        |comp AS (SELECT count(DISTINCT u) AS firsts, count(*) AS n FROM ev)
        |SELECT CAST(comp.n AS BIGINT) AS n_accesses,
        |       CAST(st.h AS BIGINT) AS lru_hits,
        |       CAST((1000 * st.h) // comp.n AS BIGINT) AS lru_hit_milli,
        |       CAST((1000 * topk.hits) // comp.n AS BIGINT)
        |         AS topk_hit_milli,
        |       CAST((1000 * (comp.n - comp.firsts)) // comp.n AS BIGINT)
        |         AS max_hit_milli
        |FROM f CROSS JOIN topk CROSS JOIN comp
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      val ev = Tables.events(s, dir)
        .select(lit(0L).as("g"), col("ts").as("tns"), col("event_id"),
          col("user_id").cast("string").as("u"))
        .materialize() // feeds the fold, the top-k dim, the scalars
      val out = StructType(Seq(
        StructField("lru_hits", LongType, nullable = false),
        StructField("n_accesses", LongType, nullable = false)))
      // state: (recency list newest-first, hits, accesses)
      val folded = graft.operators.OrderedFold.foldGroups[
          (List[String], Long, Long)](
        ev, Seq("g"), Seq(col("tns"), col("event_id")), out)(
        init = _ => (Nil, 0L, 0L),
        step = { case ((lru, h, n), row) =>
          val u = row.getString(3)
          if (lru.contains(u)) ((u :: lru.filterNot(_ == u)), h + 1, n + 1)
          else ((u :: lru).take(cap), h, n + 1)
        },
        emit = (_, st) => Iterator(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](st._2, st._3))))
      val freq = ev.groupBy(col("u")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("u")).limit(cap).select(col("u"))
      val topk = ev.join(broadcast(freq), Seq("u"))
        .agg(count(lit(1)).as("hits"))
      val comp = ev.agg(countDistinct(col("u")).as("firsts"),
        count(lit(1)).as("n"))
      folded.crossJoin(broadcast(topk)).crossJoin(broadcast(comp))
        .select(col("n_accesses"), col("lru_hits"),
          expr("(1000 * lru_hits) div n_accesses").as("lru_hit_milli"),
          expr("(1000 * hits) div n_accesses").as("topk_hit_milli"),
          expr("(1000 * (n - firsts)) div n_accesses").as("max_hit_milli"))
    }
  }

  /** Synthetic-control counterfactual: regress Brand#11's pre-1999
    * monthly revenue on the rest-of-market series (exact-moment OLS),
    * project the post-1999 counterfactual, and report the cumulative
    * actual-minus-predicted gap — the regression-counterfactual
    * sibling of the shipped DiD (q407). Predictions are per-month
    * pinned doubles quantized to dollars BEFORE the cumulative sum, so
    * the gap is exact integer arithmetic. */
  def q502: Q = {
    // b1 = kn/dn, b0 = (sy*dn - kn*sx)/(n*dn); pred = b0 + b1*x
    val pred = "(CAST(sy AS DOUBLE) * CAST(dn AS DOUBLE)" +
      " - CAST(kn AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * CAST(dn AS DOUBLE))" +
      " + CAST(kn AS DOUBLE) / CAST(dn AS DOUBLE) * CAST(x AS DOUBLE)"
    val predQ = s"CAST(floor(CAST($pred AS DECIMAL(28,2))) AS BIGINT)"
    Q("q502_synthetic_control_gap",
      Some(s"""
        |WITH m AS (
        |  SELECT year(l.l_shipdate) * 12 + month(l.l_shipdate) AS mo,
        |         CAST(sum(CASE WHEN p.p_brand = 'Brand#11'
        |              THEN CAST(l.l_extendedprice * 100 AS HUGEINT)
        |              ELSE 0 END) // 100 AS BIGINT) AS y,
        |         CAST(sum(CASE WHEN p.p_brand != 'Brand#11'
        |              THEN CAST(l.l_extendedprice * 100 AS HUGEINT)
        |              ELSE 0 END) // 100 AS BIGINT) AS x,
        |         CASE WHEN year(l.l_shipdate) <= 1998 THEN 0 ELSE 1 END
        |           AS post
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 4),
        |mo_ AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM m WHERE post = 0),
        |fr AS (
        |  SELECT n, sx, sy,
        |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS kn,
        |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dn
        |  FROM mo_),
        |gap AS (
        |  SELECT count(*) AS n_post, sum(m.y) AS actual,
        |         sum($predQ) AS predicted
        |  FROM m CROSS JOIN fr WHERE m.post = 1)
        |SELECT (SELECT CAST(n AS BIGINT) FROM fr) AS n_pre_months,
        |       CAST(n_post AS BIGINT) AS n_post_months,
        |       CAST(actual AS BIGINT) AS actual_dollars,
        |       CAST(predicted AS BIGINT) AS counterfactual_dollars,
        |       CAST(actual - predicted AS BIGINT) AS gap_dollars,
        |       CAST(floor(CAST(CAST(actual - predicted AS DOUBLE)
        |              / CAST(predicted AS DOUBLE) AS DECIMAL(28,6))
        |            * 1000) AS BIGINT) AS gap_permille
        |FROM gap
        |""".stripMargin)) { (s, dir) =>
      val m = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .as("mo"),
          when(year(col("l_shipdate")) <= 1998, 0).otherwise(1).as("post"))
        .agg(expr("CAST(sum(CASE WHEN p_brand = 'Brand#11'" +
          " THEN CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
          " ELSE CAST(0 AS DECIMAL(38,0)) END) div 100 AS BIGINT)")
          .as("y"),
          expr("CAST(sum(CASE WHEN p_brand != 'Brand#11'" +
            " THEN CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
            " ELSE CAST(0 AS DECIMAL(38,0)) END) div 100 AS BIGINT)")
            .as("x"))
        .materialize() // month dim
      val mo = m.where(col("post") === 0)
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      val fr = mo.select(col("n"), col("sx"), col("sy"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0))" +
          " * sy").as("kn"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0))" +
          " * sx").as("dn"))
      m.where(col("post") === 1).crossJoin(broadcast(fr))
        .agg(max(col("n")).as("n_pre_months"),
          count(lit(1)).as("n_post_months"),
          sum(col("y")).as("actual"),
          sum(expr(predQ)).as("predicted"))
        .select(col("n_pre_months"), col("n_post_months"),
          col("actual").as("actual_dollars"),
          col("predicted").as("counterfactual_dollars"),
          (col("actual") - col("predicted")).as("gap_dollars"),
          expr("CAST(floor(CAST(CAST(actual - predicted AS DOUBLE)" +
            " / CAST(predicted AS DOUBLE) AS DECIMAL(28,6)) * 1000)" +
            " AS BIGINT)").as("gap_permille"))
    }
  }

  /** Durbin–Watson autocorrelation statistic of the daily-revenue
    * trend residuals: the scaled residual E_t = n·DEN·y_t − (Sy·DEN −
    * KN·Sx) − n·KN·x_t is EXACT integer (the common denominator n·DEN
    * cancels in the ratio), down-quantized by 2⁴⁰ so Σ(ΔE)² stays in
    * 38 digits — DW = ΣΔ²/ΣE² with zero float sums anywhere. DW ≈ 2
    * means uncorrelated residuals; the regression-health check after
    * any trend fit here. */
  def q503: Q = Q(
    "q503_durbin_watson",
    Some(s"""
      |WITH ${Scaffolds.sqlOrderDollars("y")},
      |mm AS (SELECT min(d) AS lo FROM o),
      |pt AS (SELECT d, d - mm.lo AS x, y FROM rev CROSS JOIN mm),
      |mo AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |              sum(x * y) AS sxy, sum(x * x) AS sxx FROM pt),
      |fr AS (
      |  SELECT n, sx, sy,
      |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS kn,
      |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dn
      |  FROM mo),
      |res AS (
      |  SELECT pt.d,
      |         CAST(floor(CAST(CAST(pt.y AS HUGEINT) * fr.n * fr.dn
      |            - (CAST(fr.sy AS HUGEINT) * fr.dn - fr.kn * fr.sx)
      |            - fr.n * fr.kn * pt.x AS DOUBLE)
      |            / 1099511627776.0) AS BIGINT) AS e
      |  FROM pt CROSS JOIN fr),
      |lagged AS (
      |  SELECT a.e AS e, b.e AS ep
      |  FROM res a JOIN res b ON b.d = a.d - 1),
      |dw AS (
      |  SELECT sum(CAST(e - ep AS HUGEINT) * (e - ep)) AS num,
      |         (SELECT sum(CAST(e AS HUGEINT) * e) FROM res) AS den
      |  FROM lagged)
      |SELECT (SELECT CAST(n AS BIGINT) FROM fr) AS n_days,
      |       CAST((1000 * num) // den AS BIGINT) AS dw_milli
      |FROM dw
      |""".stripMargin)) { (s, dir) =>
    val o = Scaffolds.orderCents(s, dir).materialize()
    val rev = Scaffolds.dollarsByDay(o, "y")
    val mm = o.agg(min(col("d")).as("lo"))
    val pt = rev.crossJoin(broadcast(mm))
      .select(col("d"), (col("d") - col("lo")).as("x"), col("y"))
      .materialize()
    val mo = pt.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val fr = mo.select(col("n"), col("sx"), col("sy"),
      expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0))" +
        " * sy").as("kn"),
      expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0))" +
        " * sx").as("dn"))
    val res = pt.crossJoin(broadcast(fr))
      .select(col("d"),
        expr("CAST(floor(CAST(CAST(y AS DECIMAL(38,0)) * n * dn" +
          " - (CAST(sy AS DECIMAL(38,0)) * dn - kn * sx)" +
          " - n * kn * x AS DOUBLE) / 1099511627776.0) AS BIGINT)")
          .as("e"),
        col("n"))
      .materialize() // day dim: feeds num and den
    val lagged = res.as("a")
      .join(res.select(col("d").as("bd"), col("e").as("ep")),
        col("bd") === col("d") - 1)
      .agg(sum((col("e") - col("ep")).cast("decimal(38,0)")
        * (col("e") - col("ep"))).as("num"))
    val den = res.agg(sum(col("e").cast("decimal(38,0)") * col("e"))
      .as("den"),
      max(col("n")).as("n"))
    lagged.crossJoin(broadcast(den))
      .select(col("n").as("n_days"),
        expr("(1000 * num) div den").as("dw_milli"))
  }

  /** Christoffersen's independence test for VaR exceedances: do
    * breach days cluster? Transition counts n00/n01/n10/n11 of the
    * daily breach indicator (95th-percentile VaR, same convention as
    * the shipped Kupiec face q415), and the likelihood-ratio statistic
    * from micro-quantized ln terms — exceedance clustering that the
    * unconditional-coverage test cannot see. */
  def q504: Q = {
    // LR = 2[ln L1 - ln L0]; terms quantized per count
    def plnp(num: String, den: String, cnt: String) =
      s"(CASE WHEN $num = 0 OR $cnt = 0 THEN 0 ELSE " +
        s"$cnt * CAST(floor(CAST(ln(CAST($num AS DOUBLE)" +
        s" / CAST($den AS DOUBLE)) AS DECIMAL(28,9)) * 1000000)" +
        s" AS BIGINT) END)"
    val lnL1 = plnp("n01", "(n00 + n01)", "n01") + " + " +
      plnp("n00", "(n00 + n01)", "n00") + " + " +
      plnp("n11", "(n10 + n11)", "n11") + " + " +
      plnp("n10", "(n10 + n11)", "n10")
    val lnL0 = plnp("(n01 + n11)", "(n00 + n01 + n10 + n11)",
      "(n01 + n11)") + " + " +
      plnp("(n00 + n10)", "(n00 + n01 + n10 + n11)", "(n00 + n10)")
    Q("q504_christoffersen_var",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |u AS (
        |  SELECT max(CASE WHEN rn = (950 * n + 999) // 1000 THEN x END)
        |           AS var95
        |  FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn,
        |               count(*) OVER () AS n FROM rev) r),
        |br AS (
        |  SELECT d, CASE WHEN x > var95 THEN 1 ELSE 0 END AS b
        |  FROM rev CROSS JOIN u),
        |tr AS (
        |  SELECT a.b AS pb, c.b AS cb
        |  FROM br a JOIN br c ON c.d = a.d + 1),
        |cnt AS (
        |  SELECT sum(CASE WHEN pb = 0 AND cb = 0 THEN 1 ELSE 0 END) AS n00,
        |         sum(CASE WHEN pb = 0 AND cb = 1 THEN 1 ELSE 0 END) AS n01,
        |         sum(CASE WHEN pb = 1 AND cb = 0 THEN 1 ELSE 0 END) AS n10,
        |         sum(CASE WHEN pb = 1 AND cb = 1 THEN 1 ELSE 0 END) AS n11
        |  FROM tr)
        |SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
        |       CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
        |       CAST(greatest(2 * (($lnL1) - ($lnL0)), 0) // 1000
        |            AS BIGINT) AS lr_milli
        |FROM cnt
        |""".stripMargin)) { (s, dir) =>
      val rev = Tables.orders(s, dir)
        .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("d"))
        .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0)))" +
          " div 100 AS BIGINT)").as("x"))
        .materialize()
      val u = graft.operators.OrderStats.quantilesDisc(
          rev.withColumn("k", lit(0L)), Seq("k"), "x", Seq(950))
        .select(col("value").as("var95"))
      val br = rev.crossJoin(broadcast(u))
        .select(col("d"),
          when(col("x") > col("var95"), 1L).otherwise(0L).as("b"))
        .materialize()
      val tr = br.as("a")
        .join(br.select(col("d").as("cd"), col("b").as("cb")),
          col("cd") === col("d") + 1)
        .select(col("b").as("pb"), col("cb"))
      val cnt = tr.agg(
        sum(when(col("pb") === 0 && col("cb") === 0, 1L).otherwise(0L))
          .as("n00"),
        sum(when(col("pb") === 0 && col("cb") === 1, 1L).otherwise(0L))
          .as("n01"),
        sum(when(col("pb") === 1 && col("cb") === 0, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("pb") === 1 && col("cb") === 1, 1L).otherwise(0L))
          .as("n11"))
      cnt.select(col("n00"), col("n01"), col("n10"), col("n11"),
        expr(s"greatest(2 * (($lnL1) - ($lnL0)), 0) div 1000")
          .as("lr_milli"))
    }
  }

  /** Per-permutation group sums pm(b, n1, ps1, ps2) over the span
    * frame ord(id, g, t): for each pseudo-permutation b, rows rank by the
    * salted LCG-mixed hash (ties by id) and ps1/ps2 sum t over the first
    * n1 / remaining ranks (n1 = |g = 1|). Size-gated on the frame's row
    * count (the SupplierGraph fixpoint discipline): under
    * [[SizeGate.EdgeRows]] the whole 40-way fan-out + per-permutation
    * rank split folds into ONE executor task — same Long arithmetic
    * (multiplyExact/addExact mirror the ANSI plan's overflow throws),
    * same (hash, id) sort order; above the bound the crossJoin +
    * partitioned row_number window runs unchanged (the order frame is
    * fact-scaled at 100 TB). `PermutationTwinSpec` forces both branches. */
  private[graft] def permSums(ord: org.apache.spark.sql.DataFrame,
      nPerm: Int): org.apache.spark.sql.DataFrame = {
    val s = ord.sparkSession
    import s.implicits._
    if (SizeGate.local(ord, SizeGate.EdgeRows)) {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n1",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ps1",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ps2",
          org.apache.spark.sql.types.LongType)))
      val rdd = ord.select(col("id").cast("long"), col("g").cast("long"),
          col("t").cast("long"))
        .as[(Long, Long, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray
          val n = rows.length
          val n1 = rows.count(_._2 == 1L).toLong
          // pre-sort by id ONCE into primitive arrays: per-b keys then
          // pack (hash << 32 | idx) into one long — hash ∈ [0, 2³¹)
          // (positive operands mod 2³¹) and idx preserves id order on
          // hash ties, so one primitive Arrays.sort per b replaces a
          // boxed-tuple comparator sort (the first cut of this fold
          // measured SLOWER than the window plan it replaced)
          val byId = rows.sortBy(_._1)
          val ids = byId.map(_._1)
          val ts = byId.map(_._3)
          val keys = new Array[Long](n)
          (1 to nPerm).iterator.map { b =>
            var i = 0
            while (i < n) {
              val m1 = Math.addExact(
                Math.multiplyExact(ids(i), 2654435761L),
                Math.multiplyExact(b.toLong, 40503L)) % 2147483648L
              val h = Math.addExact(
                Math.multiplyExact(1103515245L, m1), 12345L) %
                2147483648L
              keys(i) = (h << 32) | i.toLong
              i += 1
            }
            java.util.Arrays.sort(keys)
            var ps1 = 0L; var ps2 = 0L
            i = 0
            while (i < n) {
              val t = ts((keys(i) & 0xffffffffL).toInt)
              if (i < n1) ps1 = Math.addExact(ps1, t)
              else ps2 = Math.addExact(ps2, t)
              i += 1
            }
            org.apache.spark.sql.Row(b, n1, ps1, ps2)
          }
        }
      s.createDataFrame(rdd, schema)
    } else {
      val obs1 = ord.agg(
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"))
      val perms = (1 to nPerm).toDF("b")
      val ranked = ord.crossJoin(broadcast(perms))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("b")).orderBy(
            expr("(1103515245 * ((id * 2654435761 + b * 40503)" +
              " % 2147483648) + 12345) % 2147483648"), col("id"))))
      ranked.crossJoin(broadcast(obs1))
        .groupBy(col("b"), col("n1"))
        .agg(sum(when(col("rn") <= col("n1"), col("t")).otherwise(0L))
          .as("ps1"),
          sum(when(col("rn") > col("n1"), col("t")).otherwise(0L))
            .as("ps2"))
    }
  }

  /** Deterministic permutation test for the urgent-vs-other span
    * difference: 40 pseudo-permutations relabel orders by rank of the
    * salted LCG-mixed hash (group sizes preserved exactly), the
    * observed |mean difference| is compared against the permutation
    * distribution — a distribution-free p-value with zero parametric
    * assumptions, every draw replayable. Compares via exact cross-
    * multiplied integer means (no division inside the comparison). */
  def q505: Q = {
    val nPerm = 40
    // |m1 - m2| comparison via cross-multiplication on exact sums:
    // |s1/n1 - s2/n2| >= |S1/N1 - S2/N2|
    // <=> |s1*n2 - s2*n1| * N1*N2 >= |S1*N2 - S2*N1| * n1*n2
    Q("q505_permutation_test_spans",
      Some(s"""
        |WITH ord AS (
        |  SELECT o.o_orderkey AS id,
        |         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |         END AS g,
        |         max(epoch_us(l.l_shipdate) // 86400000000)
        |           - epoch_us(o.o_orderdate) // 86400000000 + 1 AS t
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2, o.o_orderdate
        |  HAVING max(epoch_us(l.l_shipdate) // 86400000000)
        |         >= epoch_us(o.o_orderdate) // 86400000000),
        |obs AS (
        |  SELECT sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN g = 1 THEN t ELSE 0 END) AS s1,
        |         sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n2,
        |         sum(CASE WHEN g = 0 THEN t ELSE 0 END) AS s2
        |  FROM ord),
        |ranked AS (
        |  SELECT p.b, ord.t,
        |         row_number() OVER (PARTITION BY p.b ORDER BY
        |           (1103515245 * ((ord.id * 2654435761 + p.b * 40503)
        |            % 2147483648) + 12345) % 2147483648, ord.id) AS rn
        |  FROM ord CROSS JOIN
        |       (SELECT unnest(range(1, $nPerm + 1)) AS b) p),
        |pm AS (
        |  SELECT b,
        |         sum(CASE WHEN rn <= obs.n1 THEN t ELSE 0 END) AS ps1,
        |         sum(CASE WHEN rn > obs.n1 THEN t ELSE 0 END) AS ps2
        |  FROM ranked CROSS JOIN obs GROUP BY b, obs.n1),
        |cmp AS (
        |  SELECT count(*) AS n_ge
        |  FROM pm CROSS JOIN obs
        |  WHERE abs(CAST(ps1 AS HUGEINT) * obs.n2
        |            - CAST(ps2 AS HUGEINT) * obs.n1)
        |        >= abs(CAST(obs.s1 AS HUGEINT) * obs.n2
        |               - CAST(obs.s2 AS HUGEINT) * obs.n1))
        |SELECT CAST(obs.n1 AS BIGINT) AS n_urgent,
        |       CAST(obs.n2 AS BIGINT) AS n_other,
        |       CAST(floor(CAST(
        |           CAST(obs.s1 AS DOUBLE) / CAST(obs.n1 AS DOUBLE)
        |             - CAST(obs.s2 AS DOUBLE) / CAST(obs.n2 AS DOUBLE)
        |         AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS observed_diff_milli,
        |       CAST($nPerm AS BIGINT) AS n_perms,
        |       (SELECT CAST(n_ge AS BIGINT) FROM cmp) AS n_ge,
        |       (SELECT CAST((1000 * (n_ge + 1)) // ($nPerm + 1)
        |               AS BIGINT) FROM cmp) AS p_milli
        |FROM obs
        |""".stripMargin)) { (s, dir) =>
      val ord = UrgentSpans.frame(s, dir)
      val obs = ord.agg(
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 1, col("t")).otherwise(0L)).as("s1"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === 0, col("t")).otherwise(0L)).as("s2"))
      val pm = permSums(ord, nPerm)
      val cmp = pm.crossJoin(broadcast(obs.select(col("n1").as("on1"),
          col("s1"), col("n2"), col("s2"))))
        .where(abs(col("ps1").cast("decimal(38,0)") * col("n2")
          - col("ps2").cast("decimal(38,0)") * col("on1"))
          >= abs(col("s1").cast("decimal(38,0)") * col("n2")
            - col("s2").cast("decimal(38,0)") * col("on1")))
        .agg(count(lit(1)).as("n_ge"))
      obs.crossJoin(broadcast(cmp))
        .select(col("n1").as("n_urgent"), col("n2").as("n_other"),
          expr("""CAST(floor(CAST(
              CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)
            AS DECIMAL(28,6)) * 1000) AS BIGINT)""")
            .as("observed_diff_milli"),
          lit(nPerm.toLong).as("n_perms"), col("n_ge"),
          expr(s"(1000 * (n_ge + 1)) div ($nPerm + 1)").as("p_milli"))
    }
  }
}
