package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-10 collective-risk wave: the compound frequency-severity
  * model of order total quantity — severity = the global l_quantity
  * pmf, frequency = the empirical lineitems-per-order pmf on the
  * k ≤ 10 book — against the book's actual total-quantity
  * distribution: banded model-vs-actual, total-variation distance,
  * stop-loss premiums, the Wald identity E[S] = E[N]·E[X], and tail
  * quantiles.
  *
  * Exactness: probabilities are ppm INTEGERS quantized by truncation;
  * the k-fold severity convolutions re-quantize to ppm after EACH
  * level (conv_k(v) = (Σ_a conv_{k−1}(a)·sev(v−a)) // 10⁶), so every
  * value is a deterministic integer both engines reach by the same
  * op order (integer sums are order-free, then one truncating
  * division). The oracle unrolls the same recurrence as MATERIALIZED
  * CTEs. The k ≤ 10 conditioning is part of the metric (max k grows
  * with sf — 12/13/17 at the three test sfs — so a fixed unroll must
  * condition; the coverage it leaves is itself an output of q977).
  *
  * Scale: two fact scans (severity counts, per-order totals), then
  * everything lives on ≤500-value pmf dims and the aggregated order
  * dim. */
object CompoundRiskQueries {

  val all: Seq[Q] = Seq(q976, q977, q978, q979, q980)

  private def maxK = 10

  // ------------------------------------------------------------------
  // shared SQL fragments
  // ------------------------------------------------------------------

  /** sev counts, sp(v, p ppm), book(o, k, tq), fq(k, g), gg(gt),
    * cv1..cv10, mix(v, p), emp(v, q). */
  private def sqlSpine: String = {
    val convs = (2 to maxK).map { k =>
      s"""cv$k AS MATERIALIZED (
         |  SELECT a.v + b.v AS v, sum(a.p * b.p) // 1000000 AS p
         |  FROM cv${k - 1} a CROSS JOIN sp b GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val mixU = (1 to maxK)
      .map(k => s"SELECT $k AS k, v, p FROM cv$k")
      .mkString(" UNION ALL ")
    s"""sev AS (SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS c
       |        FROM lineitem GROUP BY 1),
       |mm AS (SELECT sum(c) AS m FROM sev),
       |sp AS MATERIALIZED (
       |  SELECT v, (1000000 * c) // mm.m AS p FROM sev CROSS JOIN mm),
       |ord AS (SELECT l_orderkey AS o, count(*) AS k,
       |               sum(CAST(l_quantity AS BIGINT)) AS tq
       |        FROM lineitem GROUP BY 1),
       |book AS MATERIALIZED (SELECT * FROM ord WHERE k <= $maxK),
       |fq AS (SELECT k, count(*) AS g FROM book GROUP BY 1),
       |gg AS (SELECT sum(g) AS gt FROM fq),
       |cv1 AS MATERIALIZED (SELECT v, p FROM sp),
       |$convs,
       |mix AS MATERIALIZED (
       |  SELECT u.v, sum(fq.g * u.p) // (SELECT gt FROM gg) AS p
       |  FROM ($mixU) u JOIN fq ON fq.k = u.k GROUP BY 1),
       |emp AS MATERIALIZED (
       |  SELECT tq AS v, (1000000 * count(*)) // (SELECT gt FROM gg) AS q
       |  FROM book GROUP BY 1)""".stripMargin
  }

  // ------------------------------------------------------------------
  // shared Spark builders
  // ------------------------------------------------------------------

  /** Round 12: the five queries of this wave each rebuilt the WHOLE
    * model — two lineitem fact scans plus the 9-level convolution
    * chain (9 crossJoin+groupBy+checkpoint rounds) per query, ~13.5 s
    * of the sf0.1 bench combined. The shared reductions are exactly
    * the [[graft.sources.SpineCache]] shape (guide §6): sev counts,
    * the k ≤ 10 order book, fq, emp and mix are each built ONCE per
    * process/pass and read by every consumer (longs round-trip parquet
    * exactly; the DuckDB oracle keeps the inline CTEs, so the gate
    * proves cache ≡ from-scratch). The mix build itself is size-gated:
    * under the bound the convolution chain + frequency mixture folds
    * into ONE executor task of identical Long arithmetic
    * ([[mixOf]]). */
  private val spineSrc = "lineitem"

  /** Severity counts sev(v, c) — fact scan 1, also read by q979. */
  private def sevSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "crisk_sev", spineSrc) {
      Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
    }

  /** k ≤ 10 order book (o, k, tq) — fact scan 2, feeds fq/emp. */
  private def bookSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "crisk_book", spineSrc) {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"),
          col("l_quantity").cast("long").as("qv"))
        .groupBy(col("o"))
        .agg(count(lit(1)).as("k"), sum(col("qv")).as("tq"))
        .where(col("k") <= maxK)
    }

  private def fqSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "crisk_fq", spineSrc) {
      bookSpine(s, dir).groupBy(col("k")).agg(count(lit(1)).as("g"))
    }

  private def empSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "crisk_emp", spineSrc) {
      val gg = fqSpine(s, dir).agg(sum(col("g")).as("gt"))
      bookSpine(s, dir).groupBy(col("tq").as("v"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(gg))
        .select(col("v"), expr("(1000000 * n) div gt").as("q"))
    }

  private def mixSpine(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "crisk_mix", spineSrc)(
      mixOf(sevSpine(s, dir), fqSpine(s, dir)))

  /** Mixture pmf mix(v, p) from severity counts sev(v, c) and the
    * frequency pmf fq(k, g): 9 re-quantized self-convolutions of the
    * severity pmf, mixed by fq. Size-gated (the SupplierGraph fixpoint
    * discipline): when the severity dim has ≤ [[SizeGate.PairRows]]
    * distinct values and max value ≤ the same bound (the twin's dense
    * arrays are indexed by value), the whole chain folds into ONE
    * executor
    * task — same Long arithmetic ((1e6·c) div m, per-level
    * Σp·p div 1e6 re-quantization, Σg·p div gt), same SUPPORT
    * (a level-k value exists iff it is a sum of k severity values,
    * even when its quantized mass is 0 — zero-mass rows survive
    * exactly like the relational groupBy's); above the bound the
    * broadcast-join rounds run unchanged. `CompoundRiskTwinSpec`
    * forces both branches. */
  private[graft] def mixOf(sev: DataFrame, fq: DataFrame): DataFrame = {
    val s = sev.sparkSession
    val Array(nSev, maxV, minV) = sev
      .agg(count(lit(1)), coalesce(max(col("v")), lit(0L)),
        coalesce(min(col("v")), lit(0L)))
      .collect()(0).toSeq.map(x => x.asInstanceOf[Long]).toArray
    // minV ≥ 0: the dense-array twin indexes by value (severities are
    // quantities, nonnegative by domain; a negative value falls back
    // to the relational plan rather than assuming)
    if (SizeGate.local(s, SizeGate.PairRows)(nSev) &&
      maxV <= SizeGate.PairRows && minV >= 0L) mixLocal(sev, fq)
    else mixDistributed(sev, fq)
  }

  /** The relational (above-cap) mix build — unchanged round-11 plan. */
  private[graft] def mixDistributed(sev: DataFrame, fq: DataFrame)
      : DataFrame = {
    val mm = sev.agg(sum(col("c")).as("m"))
    val sp = sev.crossJoin(broadcast(mm))
      .select(col("v"), expr("(1000000 * c) div m").as("p"))
      .materialize() // severity pmf dim (≤50 rows), joined 10 times
    val gg = fq.agg(sum(col("g")).as("gt"))
    val spB = sp.select(col("v").as("bv"), col("p").as("bp"))
    val convs = (2 to maxK).foldLeft(Vector(sp)) { (acc, _) =>
      acc :+ acc.last.crossJoin(broadcast(spB))
        .groupBy((col("v") + col("bv")).as("v"))
        .agg(sum(col("p") * col("bp")).as("pp"))
        .select(col("v"), expr("pp div 1000000").as("p"))
        .materialize()
    }
    val mixU = convs.zipWithIndex.map { case (cv, ix) =>
      cv.select(lit(ix + 1L).as("k"), col("v"), col("p"))
    }.reduce(_ unionAll _)
    mixU.join(broadcast(fq), "k")
      .groupBy(col("v"))
      .agg(sum(col("g") * col("p")).as("gp"))
      .crossJoin(broadcast(gg))
      .select(col("v"), expr("gp div gt").as("p"))
  }

  /** Single-task convolution twin: dense Long arrays over 0..k·maxV,
    * present-flags tracking the exact relational SUPPORT (Minkowski
    * sums of the severity support), inner join on fq for the mixture
    * (a k absent from fq contributes neither mass nor support). All
    * quantities are nonnegative and bounded well inside Long
    * (p ≤ 1e6, per-level sums ≤ #pairs·1e12, gp ≤ Σg·1e6), so `/`
    * here IS the plan's `div`. */
  private def mixLocal(sev: DataFrame, fq: DataFrame): DataFrame = {
    val s = sev.sparkSession
    import s.implicits._
    val kMax = maxK
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.LongType)))
    val rdd = sev.select(lit(0L).as("t"), col("v"), col("c"))
      .unionAll(fq.select(lit(1L).as("t"), col("k").cast("long"),
        col("g").cast("long")))
      .as[(Long, Long, Long)].rdd.repartition(1)
      .mapPartitions { it =>
        val rows = it.toArray
        val sevA = rows.collect { case (0L, v, c) => (v.toInt, c) }
        val fqA = rows.collect { case (1L, k, g) => (k.toInt, g) }
        if (sevA.isEmpty) Iterator.empty
        else {
          val maxV = sevA.map(_._1).max
          val m = sevA.map(_._2).sum
          // sp: quantized severity pmf + support over 0..maxV
          val spP = new Array[Long](maxV + 1)
          val spIn = new Array[Boolean](maxV + 1)
          sevA.foreach { case (v, c) =>
            spP(v) = (1000000L * c) / m; spIn(v) = true
          }
          // conv levels 1..kMax, each over 0..k·maxV
          var cvP = spP; var cvIn = spIn
          val mixP = new Array[Long](kMax * maxV + 1)
          val mixIn = new Array[Boolean](kMax * maxV + 1)
          val fqM = fqA.toMap
          def mixAdd(k: Int, p: Array[Long], in: Array[Boolean]): Unit =
            fqM.get(k).foreach { g =>
              var v = 0
              while (v < p.length) {
                if (in(v)) { mixP(v) += g * p(v); mixIn(v) = true }
                v += 1
              }
            }
          mixAdd(1, cvP, cvIn)
          var k = 2
          while (k <= kMax) {
            val nP = new Array[Long](k * maxV + 1)
            val nIn = new Array[Boolean](k * maxV + 1)
            var a = 0
            while (a < cvP.length) {
              if (cvIn(a)) {
                sevA.foreach { case (b, _) =>
                  nP(a + b) += cvP(a) * spP(b); nIn(a + b) = true
                }
              }
              a += 1
            }
            var v = 0
            while (v < nP.length) { nP(v) = nP(v) / 1000000L; v += 1 }
            mixAdd(k, nP, nIn)
            cvP = nP; cvIn = nIn
            k += 1
          }
          val gt = fqA.map(_._2).sum
          if (gt <= 0L) Iterator.empty
          else (0 until mixP.length).iterator.filter(mixIn(_)).map(v =>
            org.apache.spark.sql.Row(v.toLong, mixP(v) / gt))
        }
      }
    s.createDataFrame(rdd, schema)
  }

  /** (mix(v, p), emp(v, q), fq, gt 1-row frame) — all spine-backed. */
  private def spine(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val fq = fqSpine(s, dir)
    (mixSpine(s, dir), empSpine(s, dir), fq,
      fq.agg(sum(col("g")).as("gt")))
  }

  /** Banded model-vs-actual pmf (50-quantity bands). */
  def q976: Q = Q(
    "q976_compound_model_bands",
    Some(s"""
      |WITH ${sqlSpine},
      |mb AS (SELECT (v - 1) // 50 + 1 AS band, sum(p) AS mp
      |       FROM mix GROUP BY 1),
      |eb AS (SELECT (v - 1) // 50 + 1 AS band, sum(q) AS eq
      |       FROM emp GROUP BY 1)
      |SELECT CAST(coalesce(mb.band, eb.band) AS BIGINT) AS band,
      |       CAST((coalesce(mb.band, eb.band) - 1) * 50 + 1 AS BIGINT)
      |         AS qty_lo,
      |       CAST(coalesce(mb.band, eb.band) * 50 AS BIGINT) AS qty_hi,
      |       CAST(coalesce(mp, 0) AS BIGINT) AS model_ppm,
      |       CAST(coalesce(eq, 0) AS BIGINT) AS actual_ppm
      |FROM mb FULL OUTER JOIN eb ON mb.band = eb.band
      |ORDER BY band
      |""".stripMargin)) { (s, dir) =>
    val (mix, emp, _, _) = spine(s, dir)
    val mb = mix.groupBy(expr("(v - 1) div 50 + 1").as("band"))
      .agg(sum(col("p")).as("mp"))
    val eb = emp.groupBy(expr("(v - 1) div 50 + 1").as("band"))
      .agg(sum(col("q")).as("eq"))
    mb.join(eb, Seq("band"), "full_outer")
      .select(col("band").cast("long").as("band"),
        ((col("band") - 1) * 50 + 1).cast("long").as("qty_lo"),
        (col("band") * 50).cast("long").as("qty_hi"),
        coalesce(col("mp"), lit(0L)).cast("long").as("model_ppm"),
        coalesce(col("eq"), lit(0L)).cast("long").as("actual_ppm"))
      .orderBy(col("band"))
  }

  /** Model fit: total-variation distance, max pointwise deviation,
    * support sizes, retained model mass, and the k ≤ 10 book's
    * coverage of all orders. */
  def q977: Q = Q(
    "q977_model_fit_distance",
    Some(s"""
      |WITH ${sqlSpine},
      |uni AS (
      |  SELECT coalesce(mix.v, emp.v) AS v, coalesce(p, 0) AS p,
      |         coalesce(q, 0) AS q
      |  FROM mix FULL OUTER JOIN emp ON mix.v = emp.v),
      |allo AS (SELECT count(*) AS n_all FROM ord)
      |SELECT CAST(sum(abs(p - q)) // 2 AS BIGINT) AS tv_ppm,
      |       CAST(max(abs(p - q)) AS BIGINT) AS max_dev_ppm,
      |       CAST(count(CASE WHEN p > 0 THEN 1 END) AS BIGINT)
      |         AS n_support_model,
      |       CAST(count(CASE WHEN q > 0 THEN 1 END) AS BIGINT)
      |         AS n_support_actual,
      |       CAST(sum(p) AS BIGINT) AS model_mass_ppm,
      |       CAST((1000 * (SELECT gt FROM gg))
      |            // (SELECT n_all FROM allo) AS BIGINT)
      |         AS book_coverage_milli
      |FROM uni
      |""".stripMargin)) { (s, dir) =>
    val (mix, emp, _, gg) = spine(s, dir)
    val allo = Tables.lineitem(s, dir)
      .select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_all"))
    val uni = mix.join(emp, Seq("v"), "full_outer")
      .select(coalesce(col("p"), lit(0L)).as("p"),
        coalesce(col("q"), lit(0L)).as("q"))
    uni.agg(
        expr("CAST(sum(abs(p - q)) div 2 AS BIGINT)").as("tv_ppm"),
        max(abs(col("p") - col("q"))).cast("long").as("max_dev_ppm"),
        sum(when(col("p") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_support_model"),
        sum(when(col("q") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_support_actual"),
        sum(col("p")).cast("long").as("model_mass_ppm"))
      .crossJoin(broadcast(gg)).crossJoin(broadcast(allo))
      .select(col("tv_ppm"), col("max_dev_ppm"),
        col("n_support_model"), col("n_support_actual"),
        col("model_mass_ppm"),
        expr("CAST((1000 * gt) div n_all AS BIGINT)")
          .as("book_coverage_milli"))
  }

  /** Stop-loss premiums E[(S−d)+] at three deductibles, model vs
    * actual (ppm·quantity units). */
  def q978: Q = Q(
    "q978_stop_loss_premiums",
    Some(s"""
      |WITH ${sqlSpine},
      |dd AS (SELECT * FROM (VALUES (100),(150),(200)) x(d)),
      |mo AS (SELECT dd.d, coalesce(sum(CASE WHEN mix.v > dd.d
      |         THEN (mix.v - dd.d) * mix.p END), 0) AS model_ppmqty
      |       FROM dd LEFT JOIN mix ON 1 = 1 GROUP BY 1),
      |ac AS (SELECT dd.d, coalesce(sum(CASE WHEN emp.v > dd.d
      |         THEN (emp.v - dd.d) * emp.q END), 0) AS actual_ppmqty
      |       FROM dd LEFT JOIN emp ON 1 = 1 GROUP BY 1)
      |SELECT CAST(mo.d AS BIGINT) AS deductible,
      |       CAST(model_ppmqty AS BIGINT) AS model_ppmqty,
      |       CAST(actual_ppmqty AS BIGINT) AS actual_ppmqty
      |FROM mo JOIN ac ON mo.d = ac.d ORDER BY deductible
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val (mix, emp, _, _) = spine(s, dir)
    val dd = broadcast(Seq(100L, 150L, 200L).toDF("d"))
    val mo = dd.join(mix, lit(true), "left_outer")
      .groupBy(col("d"))
      .agg(coalesce(sum(when(col("v") > col("d"),
        (col("v") - col("d")) * col("p"))), lit(0L)).as("model_ppmqty"))
    val ac = dd.join(emp, lit(true), "left_outer")
      .groupBy(col("d"))
      .agg(coalesce(sum(when(col("v") > col("d"),
        (col("v") - col("d")) * col("q"))), lit(0L)).as("actual_ppmqty"))
    mo.join(ac, "d")
      .select(col("d").cast("long").as("deductible"),
        col("model_ppmqty").cast("long"),
        col("actual_ppmqty").cast("long"))
      .orderBy(col("deductible"))
  }

  /** Wald identity audit: E[N] and E[X] (milli), their product
    * (micro), and the model/actual means (ppm·qty ≡ micro·qty after
    * ×1) — agreement up to quantization is the finding. */
  def q979: Q = Q(
    "q979_wald_identity",
    Some(s"""
      |WITH ${sqlSpine},
      |en AS (SELECT (1000 * sum(k * g)) // sum(g) AS en_milli FROM fq),
      |ex AS (SELECT (1000 * sum(v * c)) // sum(c) AS ex_milli FROM sev),
      |ms AS (SELECT sum(v * p) AS model_mean_ppm FROM mix),
      |es AS (SELECT sum(v * q) AS actual_mean_ppm FROM emp)
      |SELECT CAST(en_milli AS BIGINT) AS en_milli,
      |       CAST(ex_milli AS BIGINT) AS ex_milli,
      |       CAST(en_milli * ex_milli AS BIGINT) AS wald_micro,
      |       CAST(model_mean_ppm AS BIGINT) AS model_mean_ppm,
      |       CAST(actual_mean_ppm AS BIGINT) AS actual_mean_ppm
      |FROM en CROSS JOIN ex CROSS JOIN ms CROSS JOIN es
      |""".stripMargin)) { (s, dir) =>
    val (mix, emp, fq, _) = spine(s, dir)
    val sev = sevSpine(s, dir) // fact scan replaced by the spine read
    val en = fq.agg(expr("(1000 * sum(k * g)) div sum(g)").as("en_milli"))
    val ex = sev.agg(expr("(1000 * sum(v * c)) div sum(c)").as("ex_milli"))
    val ms = mix.agg(sum(col("v") * col("p")).as("model_mean_ppm"))
    val es = emp.agg(sum(col("v") * col("q")).as("actual_mean_ppm"))
    en.crossJoin(broadcast(ex)).crossJoin(broadcast(ms))
      .crossJoin(broadcast(es))
      .select(col("en_milli").cast("long"),
        col("ex_milli").cast("long"),
        (col("en_milli") * col("ex_milli")).cast("long")
          .as("wald_micro"),
        col("model_mean_ppm").cast("long"),
        col("actual_mean_ppm").cast("long"))
  }

  /** Tail quantiles of total order quantity, model vs actual: the
    * smallest v whose cumulative mass reaches p‰ of the distribution's
    * own retained mass. */
  def q980: Q = Q(
    "q980_compound_tail_quantiles",
    Some(s"""
      |WITH ${sqlSpine},
      |pm AS (SELECT * FROM (VALUES (500),(900),(990)) x(pm)),
      |mc AS (SELECT v, sum(p) OVER (ORDER BY v) AS cum,
      |              (SELECT sum(p) FROM mix) AS tot FROM mix),
      |ec AS (SELECT v, sum(q) OVER (ORDER BY v) AS cum,
      |              (SELECT sum(q) FROM emp) AS tot FROM emp),
      |mq AS (SELECT pm.pm, min(v) AS mv FROM pm JOIN mc
      |       ON 1000 * mc.cum >= pm.pm * mc.tot GROUP BY 1),
      |eq2 AS (SELECT pm.pm, min(v) AS ev FROM pm JOIN ec
      |        ON 1000 * ec.cum >= pm.pm * ec.tot GROUP BY 1)
      |SELECT CAST(mq.pm AS BIGINT) AS permille,
      |       CAST(mq.mv AS BIGINT) AS model_qty,
      |       CAST(eq2.ev AS BIGINT) AS actual_qty
      |FROM mq JOIN eq2 ON mq.pm = eq2.pm ORDER BY permille
      |""".stripMargin)) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (mix, emp, _, _) = spine(s, dir)
    val pm = broadcast(Seq(500L, 900L, 990L).toDF("pm"))
    def qtiles(df: DataFrame, massCol: String, out: String): DataFrame = {
      val tot = df.agg(sum(col(massCol)).as("tot"))
      val cum = df.select(col("v"),
          sum(col(massCol)).over(Window.orderBy(col("v"))).as("cum"))
        .crossJoin(broadcast(tot))
      pm.join(cum, cum("cum") * 1000 >= pm("pm") * cum("tot"))
        .groupBy(col("pm")).agg(min(col("v")).as(out))
    }
    qtiles(mix, "p", "model_qty")
      .join(qtiles(emp, "q", "actual_qty"), "pm")
      .select(col("pm").cast("long").as("permille"),
        col("model_qty").cast("long"), col("actual_qty").cast("long"))
      .orderBy(col("permille"))
  }
}
