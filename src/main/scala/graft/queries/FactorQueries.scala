package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-7 factorization wave: a rank-1 matrix factorization of the
  * brand × nation revenue matrix (the registry's first MF, on
  * integer-quantized alternating updates), cross-spectral coherence at
  * the weekly period, decision-curve net benefit, the McLeod–Li ARCH
  * test, and coincident-peak allocation. Iterative state follows the
  * PageRank discipline (quantized per round, MATERIALIZED oracle
  * CTEs); DFT weights are Scala-embedded integers. */
object FactorQueries {

  val all: Seq[Q] = Seq(q576, q577, q578, q579, q580)

  /** Rank-1 factorization of the brand × nation revenue matrix by six
    * alternating least-squares updates u ← Rv/vᵀv, v ← Rᵀu/uᵀu on
    * micro-scaled integers — the dominant "market axis" and how much
    * of the matrix one factor explains. Every round is dim-sized
    * (25 × 25 cells); the trajectory hash-replays via generated
    * MATERIALIZED CTEs. */
  def q576: Q = {
    val iters = 3 // u+v pairs
    val duckRounds = (1 to iters).map { k =>
      s"""vv$k AS MATERIALIZED (
         |  SELECT sum(v * v) AS s FROM v${k - 1}),
         |u$k AS MATERIALIZED (
         |  SELECT r.br, (1000000 * sum(r.x * v${k - 1}.v))
         |           // (SELECT s FROM vv$k) AS u
         |  FROM r JOIN v${k - 1} ON v${k - 1}.na = r.na GROUP BY 1),
         |uu$k AS MATERIALIZED (
         |  SELECT sum(CAST(u AS HUGEINT) * u) AS s FROM u$k),
         |v$k AS MATERIALIZED (
         |  SELECT r.na, (1000000 * sum(CAST(r.x AS HUGEINT) * u$k.u))
         |           // (SELECT s FROM uu$k) AS v
         |  FROM r JOIN u$k ON u$k.br = r.br GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    Q("q576_rank1_factorization",
      Some(s"""
        |WITH r AS MATERIALIZED (
        |  SELECT p.p_brand AS br, c.c_nationkey AS na,
        |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
        |              // 100000 AS BIGINT) AS x
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |       JOIN orders o ON o.o_orderkey = l.l_orderkey
        |       JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |v0 AS MATERIALIZED (
        |  SELECT DISTINCT na, CAST(1000 AS BIGINT) AS v FROM r),
        |$duckRounds,
        |sse AS (
        |  SELECT sum(CAST(r.x AS HUGEINT) * r.x) AS tot,
        |         sum(CAST(r.x - (u$iters.u * v$iters.v) // 1000000
        |                  AS HUGEINT)
        |             * (r.x - (u$iters.u * v$iters.v) // 1000000))
        |           AS res
        |  FROM r JOIN u$iters ON u$iters.br = r.br
        |       JOIN v$iters ON v$iters.na = r.na),
        |topb AS (SELECT br, u FROM u$iters ORDER BY u DESC, br LIMIT 1),
        |topn AS (SELECT na, v FROM v$iters ORDER BY v DESC, na LIMIT 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_cells,
        |       (SELECT br FROM topb) AS top_brand,
        |       (SELECT CAST(na AS BIGINT) FROM topn) AS top_nation,
        |       CAST((1000 * (sse.tot - sse.res)) // sse.tot AS BIGINT)
        |         AS variance_explained_milli
        |FROM sse
        |""".stripMargin)) { (s, dir) =>
      val r = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand").as("br")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").as("na")),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("br"), col("na"))
        .agg(expr("CAST(sum(CAST(l_extendedprice * 100" +
          " AS DECIMAL(38,0))) div 100000 AS BIGINT)").as("x"))
        .materialize() // 625-cell dim
      val (u, v) = alsRank1(r, iters)
      val sse = r
        .join(broadcast(u.withColumnRenamed("br", "ubr")),
          col("ubr") === col("br"))
        .join(broadcast(v.withColumnRenamed("na", "vna")),
          col("vna") === col("na"))
        .agg(sum(col("x").cast("decimal(38,0)") * col("x")).as("tot"),
          sum((col("x") - expr("(u * v) div 1000000"))
            .cast("decimal(38,0)")
            * (col("x") - expr("(u * v) div 1000000"))).as("res"))
      val topb = u.orderBy(col("u").desc, col("br")).limit(1)
        .select(col("br").as("top_brand"))
      val topn = v.orderBy(col("v").desc, col("na")).limit(1)
        .select(col("na").cast("long").as("top_nation"))
      val nc = r.agg(count(lit(1)).as("n_cells"))
      nc.crossJoin(broadcast(topb)).crossJoin(broadcast(topn))
        .crossJoin(broadcast(sse))
        .select(col("n_cells"), col("top_brand"), col("top_nation"),
          expr("CAST((1000 * (tot - res)) div tot AS BIGINT)")
            .as("variance_explained_milli"))
    }
  }

  /** Rank-1 ALS trajectory over the brand × nation cell dim r(br, na,
    * x): `iters` alternating updates, returning the final (u(br, u),
    * v(na, v)) frames. Size-gated on the cell count (the SupplierGraph
    * fixpoint discipline): under [[SizeGate.PairRows]] cells the whole
    * trajectory folds
    * into ONE executor task — u rounds in overflow-checked Long
    * arithmetic (multiplyExact/addExact mirror the plan's ANSI LONG
    * sums), v rounds in BigInt (the plan's DECIMAL(38,0) sums), both
    * closed by the same truncating division on nonnegative values;
    * above the bound the 6-round broadcast-join loop runs unchanged
    * (round 11's plan: 2 materialize + ~2 jobs per half-round).
    * `AlsTwinSpec` forces both branches. */
  private[graft] def alsRank1(r: org.apache.spark.sql.DataFrame,
      iters: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val s = r.sparkSession
    import s.implicits._
    if (SizeGate.local(r, SizeGate.PairRows)) {
      val tagged = r.select(col("br"), col("na").cast("long"), col("x"))
        .as[(String, Long, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val cells = it.toArray
          val nas = cells.map(_._2).distinct.sorted
          var v: Map[Long, Long] = nas.map(_ -> 1000L).toMap
          var u: Map[String, Long] = Map.empty
          for (_ <- 1 to iters) {
            // u ← (1e6·Σ x·v) div Σv² — the ANSI LONG half-round
            val vv = v.valuesIterator
              .map(x => Math.multiplyExact(x, x))
              .reduce(Math.addExact(_, _))
            u = cells.groupBy(_._1).map { case (br, cs) =>
              val sxv = cs.iterator
                .map { case (_, na, x) =>
                  Math.multiplyExact(x, v(na))
                }
                .reduce(Math.addExact(_, _))
              br -> Math.multiplyExact(1000000L, sxv) / vv
            }
            // v ← (1e6·Σ x·u) div Σu² — the DECIMAL(38,0) half-round
            val uu = u.valuesIterator
              .map(x => BigInt(x) * BigInt(x)).sum
            v = cells.groupBy(_._2).map { case (na, cs) =>
              val sxu = cs.iterator
                .map { case (br, _, x) => BigInt(x) * BigInt(u(br)) }
                .sum
              na -> ((BigInt(1000000) * sxu) / uu).toLong
            }
          }
          u.iterator.map { case (br, uv) =>
            (0L, br, 0L, uv)
          } ++ v.iterator.map { case (na, vv2) =>
            (1L, null.asInstanceOf[String], na, vv2)
          }
        }
        .toDF("tag", "br", "na", "value")
        .materialize()
      (tagged.where(col("tag") === 0L)
        .select(col("br"), col("value").as("u")),
        tagged.where(col("tag") === 1L)
          .select(col("na"), col("value").as("v")))
    } else {
      var v = r.select(col("na")).distinct()
        .select(col("na"), lit(1000L).as("v")).materialize()
      var u: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to iters) {
        val vv = v.agg(sum(col("v") * col("v")).as("s"))
        u = r.join(broadcast(v.withColumnRenamed("na", "vna")),
            col("vna") === col("na"))
          .crossJoin(broadcast(vv))
          .groupBy(col("br"))
          .agg(expr("(1000000 * sum(x * v)) div max(s)").as("u"))
          .materialize(truncate = true)
        val uu = u.agg(sum(col("u").cast("decimal(38,0)") * col("u"))
          .as("s"))
        v = r.join(broadcast(u.withColumnRenamed("br", "ubr")),
            col("ubr") === col("br"))
          .crossJoin(broadcast(uu))
          .groupBy(col("na"))
          .agg(expr("(1000000 * sum(CAST(x AS DECIMAL(38,0)) * u))" +
            " div max(s)").as("v"))
          .materialize(truncate = true)
      }
      (u, v)
    }
  }

  /** Cross-spectral coherence at the weekly period between the two
    * biggest brands' daily revenue: C = (SxSx'+SySy')²+(SxSy'−SySx')²
    * over the product of own powers — do their weekly cycles LOCK
    * PHASE? Welch-style: per-364-day segment cross-spectra averaged
    * before the magnitude (single-segment coherence is identically 1
    * — the degenerate trap), residue-class DFT sums with the q451
    * embedded integer weight table; one pinned division. */
  def q577: Q = {
    val p = 7
    val weights = (0 until p).map { rr =>
      val th = 2.0 * math.Pi * rr / p
      (rr, math.floor(math.cos(th) * 1000).toLong,
        math.floor(math.sin(th) * 1000).toLong)
    }
    val sqlW = weights.map { case (rr, c, sn) => s"($rr, $c, $sn)" }
      .mkString(", ")
    val coh = "(CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)" +
      " + CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))" +
      " * (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)" +
      " + CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))" +
      " + (CAST(c1 AS DOUBLE) * CAST(s2 AS DOUBLE)" +
      " - CAST(s1 AS DOUBLE) * CAST(c2 AS DOUBLE))" +
      " * (CAST(c1 AS DOUBLE) * CAST(s2 AS DOUBLE)" +
      " - CAST(s1 AS DOUBLE) * CAST(c2 AS DOUBLE))"
    val pw = "(CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)" +
      " + CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))" +
      " * (CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)" +
      " + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
    Q("q577_spectral_coherence",
      Some(s"""
        |WITH br AS (
        |  SELECT p.p_brand AS brand,
        |         epoch_us(l.l_shipdate) // 86400000000 AS d,
        |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT))
        |              // 100 AS BIGINT) AS x
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |top2 AS (
        |  SELECT brand, row_number() OVER (ORDER BY s DESC, brand) AS rk
        |  FROM (SELECT brand, sum(x) AS s FROM br GROUP BY 1) t
        |  QUALIFY rk <= 2),
        |mm AS (SELECT min(d) AS lo, max(d) AS hi FROM br),
        |grid AS (
        |  SELECT g.d,
        |         coalesce(max(CASE WHEN t.rk = 1 THEN br.x END), 0) AS x1,
        |         coalesce(max(CASE WHEN t.rk = 2 THEN br.x END), 0) AS x2
        |  FROM (SELECT unnest(range(mm.lo, mm.hi + 1)) AS d FROM mm) g
        |  LEFT JOIN (br JOIN top2 t ON br.brand = t.brand)
        |    ON br.d = g.d
        |  GROUP BY 1),
        |mt AS (SELECT (SELECT lo FROM mm) AS lo,
        |              sum(x1) // count(*) AS m1,
        |              sum(x2) // count(*) AS m2 FROM grid),
        |w(r, c, sn) AS (VALUES $sqlW),
        |res AS (
        |  SELECT (grid.d - mt.lo) // 364 AS seg,
        |         (grid.d - mt.lo) % $p AS r,
        |         sum(grid.x1 - mt.m1) AS g1, sum(grid.x2 - mt.m2) AS g2
        |  FROM grid CROSS JOIN mt GROUP BY 1, 2),
        |ft AS (
        |  SELECT res.seg,
        |         sum(w.c * res.g1) AS c1, sum(w.sn * res.g1) AS s1,
        |         sum(w.c * res.g2) AS c2, sum(w.sn * res.g2) AS s2
        |  FROM res JOIN w ON w.r = res.r GROUP BY 1),
        |av AS (
        |  SELECT sum(CAST(c1 AS HUGEINT) * c2 + CAST(s1 AS HUGEINT) * s2)
        |           AS xr,
        |         sum(CAST(c1 AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * c2)
        |           AS xi,
        |         sum(CAST(c1 AS HUGEINT) * c1 + CAST(s1 AS HUGEINT) * s1)
        |           AS p1,
        |         sum(CAST(c2 AS HUGEINT) * c2 + CAST(s2 AS HUGEINT) * s2)
        |           AS p2,
        |         count(*) AS n_segments
        |  FROM ft)
        |SELECT CAST(n_segments AS BIGINT) AS n_segments,
        |       CAST(floor(CAST(
        |           (CAST(xr AS DOUBLE) * CAST(xr AS DOUBLE)
        |            + CAST(xi AS DOUBLE) * CAST(xi AS DOUBLE))
        |           / (CAST(p1 AS DOUBLE) * CAST(p2 AS DOUBLE))
        |         AS DECIMAL(28,6)) * 1000) AS BIGINT) AS coherence_milli
        |FROM av
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val br = PortmanteauQueries.brandDayDollars(s, dir).materialize()
      val top2 = br.groupBy(col("brand")).agg(sum(col("x")).as("s"))
        .orderBy(col("s").desc, col("brand")).limit(2)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("s").desc, col("brand")))) // 2-row frame
        .select(col("brand").as("tb"), col("rk"))
      val mm = br.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val grid = mm.select(explode(sequence(col("lo"), col("hi")))
          .as("gd"), col("lo"))
        .join(br.join(broadcast(top2), col("brand") === col("tb")),
          col("d") === col("gd"), "left")
        .groupBy(col("gd"), col("lo"))
        .agg(coalesce(max(when(col("rk") === 1, col("x"))), lit(0L))
          .as("x1"),
          coalesce(max(when(col("rk") === 2, col("x"))), lit(0L))
            .as("x2"))
        .materialize()
      val mt = grid.agg(expr("sum(x1) div count(1)").as("m1"),
        expr("sum(x2) div count(1)").as("m2"))
      val wdf = weights.toDF("r", "c", "sn")
      val res = grid.crossJoin(broadcast(mt))
        .groupBy(expr("(gd - lo) div 364").as("seg"),
          pmod(col("gd") - col("lo"), lit(p)).as("r"))
        .agg(sum(col("x1") - col("m1")).as("g1"),
          sum(col("x2") - col("m2")).as("g2"))
      val ft = res.join(broadcast(wdf), Seq("r"))
        .groupBy(col("seg"))
        .agg(sum(col("c") * col("g1")).as("c1"),
          sum(col("sn") * col("g1")).as("s1"),
          sum(col("c") * col("g2")).as("c2"),
          sum(col("sn") * col("g2")).as("s2"))
      ft.agg(
          sum(col("c1").cast("decimal(38,0)") * col("c2")
            + col("s1").cast("decimal(38,0)") * col("s2")).as("xr"),
          sum(col("c1").cast("decimal(38,0)") * col("s2")
            - col("s1").cast("decimal(38,0)") * col("c2")).as("xi"),
          sum(col("c1").cast("decimal(38,0)") * col("c1")
            + col("s1").cast("decimal(38,0)") * col("s1")).as("p1"),
          sum(col("c2").cast("decimal(38,0)") * col("c2")
            + col("s2").cast("decimal(38,0)") * col("s2")).as("p2"),
          count(lit(1)).as("n_segments"))
        .select(col("n_segments"),
          expr("""CAST(floor(CAST(
              (CAST(xr AS DOUBLE) * CAST(xr AS DOUBLE)
               + CAST(xi AS DOUBLE) * CAST(xi AS DOUBLE))
              / (CAST(p1 AS DOUBLE) * CAST(p2 AS DOUBLE))
            AS DECIMAL(28,6)) * 1000) AS BIGINT)""")
            .as("coherence_milli"))
    }
  }

  /** Decision-curve analysis of the calibrated return-rate model
    * (q516's predictor): net benefit = TP/n − FP/n · pt/(1−pt) at
    * decision thresholds 250-450‰, against treat-all and treat-none —
    * the clinical-decision standard that says WHEN a model is worth
    * acting on. Exact rational arithmetic per threshold. */
  def q578: Q = {
    val thresholds = Seq(250, 300, 330, 350, 400, 450)
    Q("q578_decision_curve",
      Some(s"""
        |WITH l AS (
        |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS b,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |         year(l_shipdate) AS yr
        |  FROM lineitem),
        |tr AS (SELECT b, (1000 * sum(y)) // count(*) AS p
        |       FROM l WHERE yr <= 1997 GROUP BY 1),
        |ev AS (
        |  SELECT l.b, tr.p, l.y FROM l JOIN tr ON l.b = tr.b
        |  WHERE l.yr >= 1998),
        |th(t) AS (VALUES ${thresholds.map(t => s"($t)").mkString(", ")}),
        |nb AS (
        |  SELECT th.t, count(*) AS n,
        |         sum(CASE WHEN ev.p >= th.t THEN ev.y ELSE 0 END) AS tp,
        |         sum(CASE WHEN ev.p >= th.t THEN 1 - ev.y ELSE 0 END)
        |           AS fp,
        |         sum(ev.y) AS pos
        |  FROM ev CROSS JOIN th GROUP BY 1)
        |SELECT CAST(t AS BIGINT) AS threshold_permille,
        |       CAST((1000000 * tp) // n
        |            - ((1000000 * fp) // n) * t // (1000 - t) AS BIGINT)
        |         AS net_benefit_micro,
        |       CAST((1000000 * pos) // n
        |            - ((1000000 * (n - pos)) // n) * t // (1000 - t)
        |            AS BIGINT) AS treat_all_micro
        |FROM nb ORDER BY threshold_permille
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val l = Tables.lineitem(s, dir)
        .select(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")
          .as("b"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
          year(col("l_shipdate")).as("yr"))
        .materialize()
      val tr = l.where(col("yr") <= 1997).groupBy(col("b"))
        .agg(expr("(1000 * sum(y)) div count(1)").as("p"))
      val ev = l.where(col("yr") >= 1998)
        .join(broadcast(tr.withColumnRenamed("b", "tb")),
          col("b") === col("tb"))
        .select(col("p"), col("y"))
      val th = thresholds.toDF("t")
      ev.crossJoin(broadcast(th))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p") >= col("t"), col("y")).otherwise(0L))
            .as("tp"),
          sum(when(col("p") >= col("t"), lit(1L) - col("y"))
            .otherwise(0L)).as("fp"),
          sum(col("y")).as("pos"))
        .select(col("t").cast("long").as("threshold_permille"),
          expr("(1000000 * tp) div n" +
            " - ((1000000 * fp) div n) * t div (1000 - t)")
            .as("net_benefit_micro"),
          expr("(1000000 * pos) div n" +
            " - ((1000000 * (n - pos)) div n) * t div (1000 - t)")
            .as("treat_all_micro"))
        .orderBy(col("threshold_permille"))
    }
  }

  /** McLeod–Li ARCH test: Ljung–Box over lags 1..10 of the SQUARED
    * centered daily revenue — volatility clustering that q560's
    * levels test can't see (a series can be white in levels and
    * heavily dependent in squares). Same exact-integer portmanteau
    * machinery on the squared series. */
  def q579: Q = Q(
    "q579_arch_test",
    Some(s"""
      |WITH ${Scaffolds.sqlDailyDollars},
      |ct AS (SELECT count(*) AS n, sum(x) // count(*) AS m FROM grid),
      |cx AS (
      |  SELECT day, CAST(x - ct.m AS HUGEINT) * (x - ct.m)
      |           // 1000000 AS e, ct.n
      |  FROM grid CROSS JOIN ct),
      |c0 AS (
      |  SELECT sum(CAST(e - (SELECT sum(e) // max(n) FROM cx)
      |             AS HUGEINT)
      |             * (e - (SELECT sum(e) // max(n) FROM cx))) AS c
      |  FROM cx),
      |lags AS (
      |  SELECT k.k,
      |         (SELECT sum(CAST(a.e - (SELECT sum(e) // max(n) FROM cx)
      |                  AS HUGEINT)
      |                  * (b.e - (SELECT sum(e) // max(n) FROM cx)))
      |          FROM cx a JOIN cx b ON b.day = a.day - k.k) AS ck
      |  FROM (SELECT unnest(range(1, 11)) AS k) k),
      |rk AS (
      |  SELECT k, CAST(floor(CAST(CAST(ck AS DOUBLE)
      |            / CAST((SELECT c FROM c0) AS DOUBLE)
      |          AS DECIMAL(28,6)) * 1000) AS BIGINT) AS r
      |  FROM lags),
      |lb AS (
      |  SELECT sum((1000000 * r * r)
      |             // ((SELECT max(n) FROM cx) - k)) AS s
      |  FROM rk)
      |SELECT (SELECT CAST(max(n) AS BIGINT) FROM cx) AS n_days,
      |       CAST((1000 * (SELECT CAST(max(n) AS HUGEINT) FROM cx)
      |             * ((SELECT max(n) FROM cx) + 2) * (SELECT s FROM lb))
      |            // 1000000000000 AS BIGINT) AS mcleod_li_milli
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val grid = Scaffolds.dailyDollars(s, dir)
    val ct = grid.agg(count(lit(1)).as("n"),
      expr("sum(x) div count(1)").as("m"))
    val cx = grid.crossJoin(broadcast(ct))
      .select(col("day"),
        expr("CAST(x - m AS DECIMAL(38,0)) * (x - m) div 1000000")
          .as("e"), col("n"))
      .materialize() // day dim
    val em = cx.agg(expr("sum(e) div max(n)").as("em"),
      max(col("n")).as("n"))
    val cxc = cx.crossJoin(broadcast(em.select(col("em"))))
      .select(col("day"), (col("e") - col("em")).as("e"), col("n"))
      .materialize()
    val c0 = cxc.agg(sum(col("e").cast("decimal(38,0)") * col("e"))
      .as("c"))
    val ks = (1 to 10).toDF("k")
    val lags = cxc.crossJoin(broadcast(ks))
      .join(cxc.select(col("day").as("bday"), col("e").as("be")),
        col("bday") === col("day") - col("k"))
      .groupBy(col("k"))
      .agg(sum(col("e").cast("decimal(38,0)") * col("be")).as("ck"))
    val rk = lags.crossJoin(broadcast(c0))
      .select(col("k"),
        expr("CAST(floor(CAST(CAST(ck AS DOUBLE) / CAST(c AS DOUBLE)" +
          " AS DECIMAL(28,6)) * 1000) AS BIGINT)").as("r"))
    rk.crossJoin(broadcast(em.select(col("n"))))
      .agg(sum(expr("(1000000 * r * r) div (n - k)")).as("s"),
        max(col("n")).as("n"))
      .select(col("n").as("n_days"),
        expr("CAST((1000 * CAST(n AS DECIMAL(38,0)) * (n + 2) * s)" +
          " div 1000000000000 AS BIGINT)").as("mcleod_li_milli"))
  }

  /** Coincident-peak allocation: each brand's revenue share ON the
    * system's ten biggest revenue days vs its everyday share — the
    * "who drives the peaks" table capacity pricing allocates by
    * (energy-market 10CP method). Exact integers; the peak set comes
    * from TakeOrdered, never a global rank. */
  def q580: Q = Q(
    "q580_coincident_peak",
    Some("""
      |WITH bd AS (
      |  SELECT p.p_brand AS brand,
      |         epoch_us(l.l_shipdate) // 86400000000 AS d,
      |         CAST(sum(CAST(l.l_extendedprice * 100 AS HUGEINT)) // 100
      |              AS BIGINT) AS x
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |dt AS (SELECT d, sum(x) AS tot FROM bd GROUP BY 1),
      |pk AS (SELECT d FROM dt ORDER BY tot DESC, d LIMIT 10),
      |onpk AS (
      |  SELECT bd.brand, sum(bd.x) AS px
      |  FROM bd JOIN pk ON pk.d = bd.d GROUP BY 1),
      |alls AS (SELECT brand, sum(x) AS ax FROM bd GROUP BY 1),
      |tots AS (
      |  SELECT (SELECT sum(px) FROM onpk) AS tp,
      |         (SELECT sum(ax) FROM alls) AS ta)
      |SELECT alls.brand,
      |       CAST((1000 * coalesce(onpk.px, 0)) // tots.tp AS BIGINT)
      |         AS peak_share_milli,
      |       CAST((1000 * alls.ax) // tots.ta AS BIGINT)
      |         AS base_share_milli,
      |       CAST((1000 * coalesce(onpk.px, 0)) // tots.tp
      |            - (1000 * alls.ax) // tots.ta AS BIGINT)
      |         AS peak_tilt_milli
      |FROM alls LEFT JOIN onpk ON onpk.brand = alls.brand
      |CROSS JOIN tots
      |ORDER BY alls.brand
      |""".stripMargin)) { (s, dir) =>
    val bd = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
          " div 86400000000").as("d"))
      .agg(expr("CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0)))" +
        " div 100 AS BIGINT)").as("x"))
      .materialize()
    val pk = bd.groupBy(col("d")).agg(sum(col("x")).as("tot"))
      .orderBy(col("tot").desc, col("d")).limit(10)
      .select(col("d").as("pd"))
    val onpk = bd.join(broadcast(pk), col("pd") === col("d"))
      .groupBy(col("brand").as("pbrand")).agg(sum(col("x")).as("px"))
    val alls = bd.groupBy(col("brand")).agg(sum(col("x")).as("ax"))
      .materialize()
    val tots = onpk.agg(sum(col("px")).as("tp"))
      .crossJoin(broadcast(alls.agg(sum(col("ax")).as("ta"))))
    alls.join(broadcast(onpk), col("pbrand") === col("brand"), "left")
      .crossJoin(broadcast(tots))
      .select(col("brand"),
        expr("(1000 * coalesce(px, 0)) div tp").as("peak_share_milli"),
        expr("(1000 * ax) div ta").as("base_share_milli"),
        expr("(1000 * coalesce(px, 0)) div tp - (1000 * ax) div ta")
          .as("peak_tilt_milli"))
      .orderBy(col("brand"))
  }
}
