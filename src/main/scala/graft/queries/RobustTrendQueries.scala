package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-8 robust-trend wave: seasonal Mann–Kendall, the Siegel
  * repeated-medians slope, the Quade weighted rank test, Dixon's Q
  * outlier ratio on brand means, and a 3-round generalized-ESD
  * outlier sweep. All pair/rank structures are day-dim² or
  * block×treatment dims — bounded by the calendar and the brand/
  * region dims, never the fact table. */
object RobustTrendQueries {

  val all: Seq[Q] = Seq(q646, q647, q648, q649, q650)

  /** Seasonal Mann–Kendall on daily net DOLLARS: the S statistic is
    * summed WITHIN each of 12 recurring 30-day seasonal blocks (a
    * 360-day pseudo-year — same-phase days compared only to each
    * other), so an annual cycle cannot masquerade as trend.
    * Per-block tie-corrected variances add; continuity-corrected z².
    * Day pairs stay calendar-bounded (12 blocks of ~210² pairs). */
  def q646: Q = Q(
    "q646_seasonal_mann_kendall",
    Some(s"""
      |WITH ${DailyNet.sql.stripPrefix("\n")},
      |dv AS (
      |  SELECT day, (day // 30) % 12 AS blk,
      |         CAST(floor(CAST(net AS DOUBLE) / 100.0) AS BIGINT) AS v
      |  FROM d),
      |pr AS (
      |  SELECT sum(CASE WHEN b.v > a.v THEN 1
      |                  WHEN b.v < a.v THEN -1 ELSE 0 END) AS s
      |  FROM dv a JOIN dv b ON a.blk = b.blk AND b.day > a.day),
      |vb AS (
      |  SELECT blk, count(*) AS n FROM dv GROUP BY 1),
      |tie AS (
      |  SELECT blk, coalesce(sum(CAST(t AS HUGEINT) * (t - 1)
      |           * (2 * t + 5)), 0) AS tc
      |  FROM (SELECT blk, v, count(*) AS t FROM dv GROUP BY 1, 2
      |        HAVING count(*) > 1) g GROUP BY 1),
      |vv AS (
      |  SELECT sum(CAST(vb.n AS HUGEINT) * (vb.n - 1) * (2 * vb.n + 5)
      |             - coalesce(tie.tc, 0)) AS vnum
      |  FROM vb LEFT JOIN tie ON vb.blk = tie.blk)
      |SELECT CAST((SELECT count(*) FROM dv) AS BIGINT) AS n_days,
      |       CAST(pr.s AS BIGINT) AS s,
      |       CAST(floor((CAST(greatest(abs(pr.s) - 1, 0) AS DOUBLE))
      |           * (CAST(greatest(abs(pr.s) - 1, 0) AS DOUBLE))
      |         / (CAST(vv.vnum AS DOUBLE) / 18.0) * 1000.0) AS BIGINT)
      |         AS z2_milli
      |FROM pr CROSS JOIN vv
      |""".stripMargin)) { (s, dir) =>
    val dv = DailyNet.frame(s, dir)
      .select(col("day"), expr("(day div 30) % 12").as("blk"),
        expr("CAST(floor(CAST(net AS DOUBLE) / 100.0) AS BIGINT)")
          .as("v"))
      .materialize() // the pair join, block sizes and ties read it
    val pr = dv.as("a").join(dv.as("b"),
        col("a.blk") === col("b.blk") && col("b.day") > col("a.day"))
      .agg(sum(when(col("b.v") > col("a.v"), 1L)
        .when(col("b.v") < col("a.v"), -1L).otherwise(0L)).as("s"))
    val vb = dv.groupBy(col("blk")).agg(count(lit(1)).as("n"))
    val tie = dv.groupBy(col("blk"), col("v")).agg(count(lit(1)).as("t"))
      .where(col("t") > 1)
      .groupBy(col("blk"))
      .agg(coalesce(sum(expr(
        "CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)")), lit(0))
        .as("tc"))
    val vv = vb.join(tie.withColumnRenamed("blk", "tblk"),
        col("blk") === col("tblk"), "left")
      .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)")
        - coalesce(col("tc"), lit(0))).as("vnum"))
    val nn = dv.agg(count(lit(1)).as("n_days"))
    // continuity correction clamps at 0: the standard statistic
    // defines z = 0 at S = 0, not the spurious (−1)² the raw formula
    // would yield (both engines share the clamped text)
    pr.crossJoin(broadcast(vv)).crossJoin(broadcast(nn))
      .select(col("n_days"), col("s"),
        expr("CAST(floor((CAST(greatest(abs(s) - 1, 0) AS DOUBLE))" +
          " * (CAST(greatest(abs(s) - 1, 0) AS DOUBLE))" +
          " / (CAST(vnum AS DOUBLE) / 18.0) * 1000.0) AS BIGINT)")
          .as("z2_milli"))
  }

  /** Siegel repeated-medians slope of daily net (cents/day): per day,
    * the MEDIAN of its pairwise slopes to every other day, then the
    * median of those per-day medians — breakdown point ½ (vs ¼ for
    * Theil–Sen). Slopes are micro-quantized once through shared
    * pinned text; both medians are exact order statistics; everything
    * lives on the calendar-bounded day² pair dim. */
  def q647: Q = Q(
    "q647_siegel_slope",
    Some(s"""
      |WITH ${DailyNet.sql.stripPrefix("\n")},
      |pp AS (
      |  SELECT a.day AS i,
      |         CAST(floor(CAST(b.net - a.net AS DOUBLE)
      |           / CAST(b.day - a.day AS DOUBLE) * 1000000.0) AS BIGINT)
      |           AS sl
      |  FROM d a JOIN d b ON b.day <> a.day),
      |pm AS (
      |  SELECT i, max(CASE WHEN rn = (500 * n + 999) // 1000 THEN sl END)
      |           AS med
      |  FROM (SELECT i, sl,
      |               row_number() OVER (PARTITION BY i ORDER BY sl) AS rn,
      |               count(*) OVER (PARTITION BY i) AS n
      |        FROM pp) r
      |  GROUP BY 1),
      |gm AS (
      |  SELECT max(CASE WHEN rn = (500 * n + 999) // 1000 THEN med END)
      |           AS siegel
      |  FROM (SELECT med, row_number() OVER (ORDER BY med) AS rn,
      |               count(*) OVER () AS n FROM pm) r)
      |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
      |       CAST((SELECT count(*) FROM pp) AS BIGINT) AS n_pairs,
      |       CAST(gm.siegel AS BIGINT) AS siegel_slope_micro
      |FROM gm
      |""".stripMargin)) { (s, dir) =>
    siegelFrame(DailyNet.frame(s, dir).materialize())
  }

  /** The q647 Siegel selection, size-gated on the day count
    * ([[SizeGate.PairRows]]): under the bound the
    * whole day² slope table, its per-day medians (rank
    * (500·(n−1)+999) div 1000 over ascending slopes — exactly
    * OrderStats.quantilesDisc at permille 500) and the global median
    * fold inside ONE executor task. Slopes replicate the pinned text
    * exactly: the net difference is a long (daily net cents fit far
    * inside a long at any real scale; the decimal cast would overflow
    * the same way), ONE IEEE double divide and multiply in the same
    * op order, floor to long. */
  private[graft] def siegelFrame(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    lazy val c = d.count()
    if (SizeGate.local(s, SizeGate.PairRows)(c) && c >= 2) {
      d.select(col("day").cast("long"), col("net").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val rows = it.toArray
          val n = rows.length
          val meds = new Array[Long](n)
          val sl = new Array[Long](n - 1)
          val rkI = (500L * (n - 1) + 999L) / 1000L
          var i = 0
          while (i < n) {
            var k = 0
            var j = 0
            while (j < n) {
              if (j != i) {
                sl(k) = math.floor(
                  (rows(j)._2 - rows(i)._2).toDouble
                    / (rows(j)._1 - rows(i)._1).toDouble
                    * 1000000.0).toLong
                k += 1
              }
              j += 1
            }
            java.util.Arrays.sort(sl)
            meds(i) = sl(rkI.toInt - 1)
            i += 1
          }
          java.util.Arrays.sort(meds)
          val rkG = (500L * n + 999L) / 1000L
          Iterator.single(
            (n.toLong, n.toLong * (n - 1L), meds(rkG.toInt - 1)))
        }
        .toDF("n_days", "n_pairs", "siegel_slope_micro")
    } else {
      val pp = d.select(col("day").as("da"), col("net").as("va"))
        .join(d.select(col("day").as("db"), col("net").as("vb")),
          col("db") =!= col("da"))
        .select(col("da").as("i"),
          expr("CAST(floor(CAST(vb - va AS DOUBLE)" +
            " / CAST(db - da AS DOUBLE) * 1000000.0) AS BIGINT)")
            .as("sl"))
        .materialize() // per-day medians AND the pair count read it
      val pm = graft.operators.OrderStats.quantilesDisc(
          pp, Seq("i"), "sl", Seq(500))
        .select(col("i"), col("value").as("med"))
      val gm = graft.operators.OrderStats.quantilesDisc(
          pm.withColumn("k", lit(0L)), Seq("k"), "med", Seq(500))
        .select(col("value").as("siegel"))
      val nd = d.agg(count(lit(1)).as("n_days"))
      val np = pp.agg(count(lit(1)).as("n_pairs"))
      gm.crossJoin(broadcast(nd)).crossJoin(broadcast(np))
        .select(col("n_days"), col("n_pairs"),
          col("siegel").as("siegel_slope_micro"))
    }
  }

  /** Quade test on the region × last-8-quarter revenue table: blocks
    * (regions) are WEIGHTED by the rank of their revenue range, so
    * big-spread regions drive the statistic —
    * T = (b−1)·B/(A−B) with A = ΣS²_ij, B = Σ_j S_j²/b, all exact
    * integers on doubled scores 2S = Q_i(2R_ij − k − 1). The
    * magnitude-aware sibling of Friedman/Page (q624). */
  def q648: Q = Q(
    "q648_quade_test",
    Some("""
      |WITH rq AS (
      |  SELECT n.n_regionkey AS rg,
      |         year(o.o_orderdate) * 4
      |           + (month(o.o_orderdate) - 1) // 3 AS q,
      |         sum(CAST(o.o_totalprice * 100 AS HUGEINT)) AS v
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE year(o.o_orderdate) * 4
      |          + (month(o.o_orderdate) - 1) // 3 BETWEEN 7999 AND 8006
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT rg, q, v,
      |         row_number() OVER (PARTITION BY rg ORDER BY v, q) AS r
      |  FROM rq),
      |spread AS (
      |  SELECT rg, max(v) - min(v) AS rng FROM rq GROUP BY 1),
      |qw AS (
      |  SELECT rg, row_number() OVER (ORDER BY rng, rg) AS qi
      |  FROM spread),
      |ks AS (SELECT count(DISTINCT q) AS k, count(DISTINCT rg) AS b
      |       FROM rq),
      |sc AS (
      |  SELECT rk.q, qw.qi * (2 * rk.r - ks.k - 1) AS s2
      |  FROM rk JOIN qw ON rk.rg = qw.rg CROSS JOIN ks),
      |ab AS (
      |  SELECT sum(CAST(s2 AS HUGEINT) * s2) AS a4,
      |         (SELECT sum(CAST(sj AS HUGEINT) * sj) FROM (
      |            SELECT q, sum(s2) AS sj FROM sc GROUP BY 1) t) AS bj4
      |  FROM sc)
      |SELECT CAST(ks.b AS BIGINT) AS n_blocks,
      |       CAST(ks.k AS BIGINT) AS n_treatments,
      |       CAST(floor(CAST((ks.b - 1) AS DOUBLE)
      |           * (CAST(ab.bj4 AS DOUBLE) / ks.b)
      |         / (CAST(ab.a4 AS DOUBLE)
      |            - CAST(ab.bj4 AS DOUBLE) / ks.b) * 1000.0) AS BIGINT)
      |         AS t_milli
      |FROM ab CROSS JOIN ks
      |""".stripMargin)) { (s, dir) =>
    val rq = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey").as("rg")),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("q", expr("CAST(year(o_orderdate) * 4" +
        " + (month(o_orderdate) - 1) div 3 AS BIGINT)"))
      .where(col("q").between(7999L, 8006L))
      .groupBy(col("rg"), col("q"))
      .agg(sum(expr("CAST(o_totalprice * 100 AS DECIMAL(38,0))")).as("v"))
      .materialize() // ranks, spreads and counts read the 40-cell dim
    val rk = rq.withColumn("r", row_number().over(
      Window.partitionBy(col("rg")).orderBy(col("v"), col("q"))))
    val qw = rq.groupBy(col("rg"))
      .agg((max(col("v")) - min(col("v"))).as("rng"))
      .withColumn("qi", row_number().over(
        Window.orderBy(col("rng"), col("rg"))))
      .select(col("rg").as("qrg"), col("qi"))
    val ks = rq.agg(countDistinct(col("q")).as("k"),
      countDistinct(col("rg")).as("b"))
    val sc = rk.join(broadcast(qw), col("rg") === col("qrg"))
      .crossJoin(broadcast(ks))
      .select(col("q"),
        (col("qi") * (lit(2) * col("r") - col("k") - 1)).as("s2"))
      .materialize()
    val a4 = sc.agg(sum(expr("CAST(s2 AS DECIMAL(38,0)) * s2")).as("a4"))
    val bj4 = sc.groupBy(col("q")).agg(sum(col("s2")).as("sj"))
      .agg(sum(expr("CAST(sj AS DECIMAL(38,0)) * sj")).as("bj4"))
    a4.crossJoin(broadcast(bj4)).crossJoin(broadcast(ks))
      .select(col("b").as("n_blocks"), col("k").as("n_treatments"),
        expr("CAST(floor(CAST((b - 1) AS DOUBLE)" +
          " * (CAST(bj4 AS DOUBLE) / b)" +
          " / (CAST(a4 AS DOUBLE) - CAST(bj4 AS DOUBLE) / b)" +
          " * 1000.0) AS BIGINT)").as("t_milli"))
  }

  /** Dixon's Q ratios on the 25 brand mean prices (milli-quantized
    * integer means): gap-to-range at both ends with the suspect
    * brands named — the small-sample outlier screen that needs
    * nothing but four order statistics. */
  def q649: Q = Q(
    "q649_dixon_q",
    Some("""
      |WITH bm AS (
      |  SELECT p_brand AS brand,
      |         (1000 * sum(CAST(floor(p_retailprice * 100 + 0.5)
      |            AS BIGINT))) // count(*) AS m
      |  FROM part GROUP BY 1),
      |rk AS (
      |  SELECT brand, m,
      |         row_number() OVER (ORDER BY m, brand) AS rn,
      |         count(*) OVER () AS n
      |  FROM bm),
      |pts AS (
      |  SELECT max(CASE WHEN rn = 1 THEN m END) AS x1,
      |         max(CASE WHEN rn = 2 THEN m END) AS x2,
      |         max(CASE WHEN rn = n - 1 THEN m END) AS xn1,
      |         max(CASE WHEN rn = n THEN m END) AS xn,
      |         max(CASE WHEN rn = 1 THEN brand END) AS lo_brand,
      |         max(CASE WHEN rn = n THEN brand END) AS hi_brand,
      |         max(n) AS n
      |  FROM rk)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |       lo_brand AS suspect_low, hi_brand AS suspect_high,
      |       CAST(floor(CAST(x2 - x1 AS DOUBLE)
      |         / CAST(xn - x1 AS DOUBLE) * 1000000.0) AS BIGINT)
      |         AS q_low_micro,
      |       CAST(floor(CAST(xn - xn1 AS DOUBLE)
      |         / CAST(xn - x1 AS DOUBLE) * 1000000.0) AS BIGINT)
      |         AS q_high_micro
      |FROM pts
      |""".stripMargin)) { (s, dir) =>
    val bm = Tables.part(s, dir)
      .groupBy(col("p_brand").as("brand"))
      .agg(expr("(1000 * sum(CAST(floor(p_retailprice * 100 + 0.5)" +
        " AS BIGINT))) div count(1)").as("m"))
    // 25-row brand dim — the global rank is trivially bounded
    val rk = bm.withColumn("rn", row_number().over(
        Window.orderBy(col("m"), col("brand"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    rk.agg(max(when(col("rn") === 1, col("m"))).as("x1"),
        max(when(col("rn") === 2, col("m"))).as("x2"),
        max(when(col("rn") === col("n") - 1, col("m"))).as("xn1"),
        max(when(col("rn") === col("n"), col("m"))).as("xn"),
        max(when(col("rn") === 1, col("brand"))).as("lo_brand"),
        max(when(col("rn") === col("n"), col("brand"))).as("hi_brand"),
        max(col("n")).as("n"))
      .select(col("n").as("n_brands"),
        col("lo_brand").as("suspect_low"),
        col("hi_brand").as("suspect_high"),
        expr("CAST(floor(CAST(x2 - x1 AS DOUBLE)" +
          " / CAST(xn - x1 AS DOUBLE) * 1000000.0) AS BIGINT)")
          .as("q_low_micro"),
        expr("CAST(floor(CAST(xn - xn1 AS DOUBLE)" +
          " / CAST(xn - x1 AS DOUBLE) * 1000000.0) AS BIGINT)")
          .as("q_high_micro"))
  }

  /** Generalized ESD: three Grubbs rounds on daily net, each removing
    * its argmax-deviation day before re-estimating the moments — the
    * masking-proof multi-outlier sweep a single Grubbs pass (q611)
    * cannot do. Three materialized rounds over the day dim; each
    * round's R and excluded day are exact/pinned. */
  def q650: Q = {
    def rSql(src: String, out: String, ex: String) = s"""
      |mo_$out AS (
      |  SELECT count(*) AS n, sum(net) AS sv, sum(net * net) AS q2
      |  FROM $src),
      |cz_$out AS (
      |  SELECT day, abs(CAST(mo_$out.n AS HUGEINT) * net - mo_$out.sv)
      |           AS ac
      |  FROM $src CROSS JOIN mo_$out),
      |mx_$out AS (SELECT max(ac) AS maxc FROM cz_$out),
      |$ex AS (
      |  SELECT min(day) AS exday FROM cz_$out CROSS JOIN mx_$out
      |  WHERE ac = mx_$out.maxc),
      |st_$out AS (
      |  SELECT $ex.exday,
      |         CAST(floor(CAST(mx_$out.maxc AS DOUBLE) / mo_$out.n
      |           / sqrt(CAST(CAST(mo_$out.n AS HUGEINT) * mo_$out.q2
      |                  - mo_$out.sv * mo_$out.sv AS DOUBLE)
      |                  / (CAST(mo_$out.n AS DOUBLE) * (mo_$out.n - 1)))
      |           * 1000.0) AS BIGINT) AS r_milli
      |  FROM mo_$out CROSS JOIN mx_$out CROSS JOIN $ex)""".stripMargin
    Q("q650_generalized_esd",
      Some(s"""
        |WITH ${DailyNet.sql.stripPrefix("\n")},
        |${rSql("d", "r1", "e1")},
        |d2 AS (SELECT d.* FROM d CROSS JOIN e1 WHERE d.day <> e1.exday),
        |${rSql("d2", "r2", "e2")},
        |d3 AS (SELECT d2.* FROM d2 CROSS JOIN e2
        |       WHERE d2.day <> e2.exday),
        |${rSql("d3", "r3", "e3")}
        |SELECT CAST(1 AS BIGINT) AS round, CAST(exday AS BIGINT) AS day,
        |       r_milli FROM st_r1
        |UNION ALL SELECT 2, CAST(exday AS BIGINT), r_milli FROM st_r2
        |UNION ALL SELECT 3, CAST(exday AS BIGINT), r_milli FROM st_r3
        |ORDER BY round
        |""".stripMargin)) { (s, dir) =>
      var cur = DailyNet.frame(s, dir).materialize(truncate = true)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)]
      for (round <- 1 to 3) {
        val mo = cur.agg(count(lit(1)).as("n"), sum(col("net")).as("sv"),
          sum(col("net") * col("net")).as("q2"))
        val cz = cur.crossJoin(broadcast(mo))
          .select(col("day"), col("n"), col("sv"), col("q2"),
            abs(col("n").cast("decimal(38,0)") * col("net") - col("sv"))
              .as("ac"))
          .materialize(truncate = true)
        val mx = cz.agg(max(col("ac")).as("maxc"))
        val row = cz.crossJoin(broadcast(mx))
          .where(col("ac") === col("maxc"))
          .agg(min(col("day")).as("exday"), max(col("n")).as("n"),
            max(col("sv")).as("sv"), max(col("q2")).as("q2"),
            max(col("maxc")).as("maxc"))
          .select(col("exday"),
            expr("CAST(floor(CAST(maxc AS DOUBLE) / n" +
              " / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q2 - sv * sv" +
              " AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))" +
              " * 1000.0) AS BIGINT)").as("r_milli"))
          .collect()(0)
        val exday = row.getLong(0)
        out += ((round.toLong, exday, row.getLong(1)))
        cur = cur.where(col("day") =!= exday).materialize(truncate = true)
      }
      import s.implicits._
      out.toSeq.toDF("round", "day", "r_milli").orderBy(col("round"))
    }
  }
}
