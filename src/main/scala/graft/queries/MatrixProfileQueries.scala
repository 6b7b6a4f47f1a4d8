package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.SizeGate
import graft.Tables

/** Round-9 matrix-profile wave: the exact (brute-force) matrix
  * profile of the daily-revenue series with subsequence length 7 and
  * a ±7 exclusion zone — profile summary, the top motif pair, the
  * top discord day, lag-k self-similarity, and the novelty-rate
  * audit against the median profile value.
  *
  * Scale: the day series is CALENDAR-bounded, so the pair frame
  * (~3.1M half-pairs) is CONSTANT-size at every sf — the same
  * legitimacy argument as the q846 Sn pair frame. All distances are
  * exact integer cents².
  *
  * Plan shape (round-10 rework): the Spark side no longer evaluates
  * the 7-term window distance per pair. For a fixed lag L,
  * d(t, t+L) = Σ_{i=t..t+6} (z_i − z_{i+L})² — a trailing window sum
  * of the SINGLE squared diagonal difference e_L(i), partitioned by
  * lag. So the half frame is: explode the lag range per day (no
  * BroadcastNestedLoopJoin — the old θ-join on s−t ≥ 7 is gone), one
  * broadcast equi-join attaches z_{i+L}, one exchange on lag feeds
  * the running-sum window, and each of the ~3.1M rows costs O(1)
  * arithmetic instead of 7 wide-row terms. The DuckDB oracle keeps
  * the NAIVE 7-term all-pairs definition, so the gate also proves
  * the prefix-sum identity. Ties in the nearest-neighbor argmin
  * break on smallest s via the key dist·(max(t)+1)+s — the shift is
  * DERIVED from the series length both sides, so a longer calendar
  * can never silently reorder ties (ADVICE r9 #2).
  */
object MatrixProfileQueries {

  val all: Seq[Q] = Seq(q956, q957, q958, q959, q960)

  // ------------------------------------------------------------------
  // shared spine
  // ------------------------------------------------------------------

  /** Day series (t, z): dense 1-based index over the lineitem
    * ship-date calendar, z = exact daily revenue cents. Materialized
    * (day-dim bounded) plus its driver-side length — every consumer
    * needs the length for the lag ranges and the tie-break shift. */
  private def seriesN(s: SparkSession, dir: String): (DataFrame, Int) = {
    val sq = DaySeries.revenue(s, dir)
    (sq, sq.count().toInt)
  }

  /** Diagonal difference frame (i, lg, e = (z_i − z_{i+lg})²) for the
    * requested lags (all ≥ 7 — the exclusion zone — when `lagsOpt` is
    * None). The lag fan-out explodes day-locally; z_{i+lg} attaches
    * via one broadcast equi-join against the day-dim series; the
    * explicit repartition on lg parallelizes the arithmetic AND is
    * exactly the distribution the profile window needs, so Catalyst
    * plans no second exchange. */
  private def diffFrame(sq: DataFrame, tMax: Int,
      lagsOpt: Option[Seq[Int]]): DataFrame = {
    val base = sq.select(col("t").as("i"), col("z").as("zi"))
    val withLag = lagsOpt match {
      case None =>
        base.where(col("i") + 7 <= tMax)
          .select(col("i"), col("zi"),
            explode(sequence(lit(7), lit(tMax) - col("i"))).as("lg"))
      case Some(ls) =>
        base.select(col("i"), col("zi"),
          explode(filter(array(ls.map(l => lit(l)): _*),
            l => col("i") + l <= lit(tMax))).as("lg"))
    }
    val b = sq.select(col("t").as("j"), col("z").as("zj"))
    withLag.repartition(col("lg"))
      .join(broadcast(b), col("i") + col("lg") === col("j"))
      .select(col("i"), col("lg"),
        (expr("CAST(zi - zj AS DECIMAL(38,0))") * (col("zi") - col("zj")))
          .as("e"))
  }

  /** Half pair frame (t, s, dist) with s − t ≥ 7 (or s − t ∈ lags)
    * and BOTH 7-day windows in range: the trailing rowsBetween(0, 6)
    * sum realizes the per-diagonal prefix-sum identity; i is dense
    * within each lag partition, so cnt = 7 ⇔ the window s..s+6 stays
    * inside the series (t's own window is implied by lg ≥ 7). */
  private def pairHalf(sq: DataFrame, tMax: Int,
      lagsOpt: Option[Seq[Int]] = None): DataFrame = {
    val w = Window.partitionBy(col("lg")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, 6)
    diffFrame(sq, tMax, lagsOpt)
      .select(col("i"), col("lg"),
        sum(col("e")).over(w).as("dist"),
        count(lit(1)).over(w).as("cnt"))
      .where(col("cnt") === 7)
      .select(col("i").as("t"), (col("i") + col("lg")).as("s"),
        col("dist"))
  }

  /** Per-window profile (t, p = min dist, sb = nearest s): d(t,s) =
    * d(s,t), so only the half frame is COMPUTED; the mirror is a
    * per-row 2-way explode of both orientations straight into the
    * partial aggregate — one pass, nothing materialized (the map-side
    * combine collapses the 2× fan-out to day-dim rows per partition
    * before the exchange on t). The argmin tie key dist·(tMax+1)+s is
    * lexicographic by construction: s ≤ tMax < tMax+1. */
  private[graft] def profileDistributed(sq: DataFrame, tMax: Int): DataFrame =
    pairHalf(sq, tMax)
      .select(explode(array(
        struct(col("t"), col("s"), col("dist")),
        struct(col("s").as("t"), col("t").as("s"), col("dist")))).as("r"))
      .select(col("r.t").as("t"), col("r.s").as("s"), col("r.dist").as("dist"))
      .groupBy(col("t"))
      .agg(min(col("dist")).as("p"),
        min_by(col("s"), col("dist") * (tMax + 1L) + col("s")).as("sb"))

  // ------------------------------------------------------------------
  // size-gated single-task twins (SizeGate.PairRows, the SupplierGraph
  // fixpoint discipline): the series is CALENDAR-bounded
  // (~2.5k rows at every sf), so the ~3.1M-row lag/diff fan-out, its
  // exchange on lg and the running-sum window fold inside ONE executor
  // task of identical arithmetic. Distances are exact BigInt (the
  // distributed plan's DECIMAL(38,0) — daily revenue cents square-sums
  // can exceed Long); above the bound the relational plan runs
  // unchanged.
  // ------------------------------------------------------------------

  private def distSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("t",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("s",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("dist",
      org.apache.spark.sql.types.DecimalType(38, 0))))

  /** Run `f(i, s, dist)` for every half pair of `lags` (anchor i,
    * partner s = i + lg, dist = Σ_{k=i..i+6} (z_k − z_{k+lg})²) — the
    * per-diagonal running-sum identity as one in-memory loop. */
  private def foreachPair(z: Array[Long], tMax: Int, lags: Seq[Int])
      (f: (Int, Int, BigInt) => Unit): Unit =
    lags.foreach { lg =>
      val nI = tMax - lg - 6
      if (nI >= 1) {
        def eAt(k: Int): BigInt = {
          val d = z(k) - z(k + lg)
          BigInt(d) * BigInt(d)
        }
        var acc = BigInt(0)
        var k = 1
        while (k <= 6) { acc += eAt(k); k += 1 }
        var i = 1
        while (i <= nI) {
          acc += eAt(i + 6)
          f(i, i + lg, acc)
          acc -= eAt(i)
          i += 1
        }
      }
    }

  /** Collect the day series into (z array indexed by t, tMax) inside
    * the single task. */
  private def seriesArray(it: Iterator[(Int, Long)], tMax: Int)
      : Array[Long] = {
    val z = new Array[Long](tMax + 1)
    it.foreach { case (t, v) => z(t) = v }
    z
  }

  private def localFold(sq: DataFrame, tMax: Int)
      (body: Array[Long] => Iterator[org.apache.spark.sql.Row])
      : DataFrame = {
    val s = sq.sparkSession
    import s.implicits._
    val rdd = sq.select(col("t").cast("int"), col("z").cast("long"))
      .as[(Int, Long)].rdd.repartition(1)
      .mapPartitions(it => body(seriesArray(it, tMax)))
    s.createDataFrame(rdd, distSchema)
  }

  private def dec(v: BigInt) = new java.math.BigDecimal(v.bigInteger)

  /** Gated profile frame (t, p, sb). */
  private[graft] def profileFrame(sq: DataFrame, tMax: Int): DataFrame =
    if (SizeGate.local(sq.sparkSession, SizeGate.PairRows)(tMax)) {
      val s = sq.sparkSession
      import s.implicits._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.DecimalType(38, 0)),
        org.apache.spark.sql.types.StructField("sb",
          org.apache.spark.sql.types.IntegerType)))
      val rdd = sq.select(col("t").cast("int"), col("z").cast("long"))
        .as[(Int, Long)].rdd.repartition(1)
        .mapPartitions { it =>
          val z = seriesArray(it, tMax)
          val bestD = new Array[BigInt](tMax + 1)
          val bestS = new Array[Int](tMax + 1)
          def upd(t: Int, s2: Int, d: BigInt): Unit = {
            val cur = bestD(t)
            // lexicographic (dist, s) — exactly min(dist) plus
            // min_by(s, dist·(tMax+1)+s)
            if (cur == null || d < cur || (d == cur && s2 < bestS(t))) {
              bestD(t) = d; bestS(t) = s2
            }
          }
          foreachPair(z, tMax, 7 to (tMax - 7)) { (i, s2, d) =>
            upd(i, s2, d); upd(s2, i, d)
          }
          (1 to tMax).iterator.filter(bestD(_) != null).map(t =>
            org.apache.spark.sql.Row(t, dec(bestD(t)), bestS(t)))
        }
      s.createDataFrame(rdd, schema)
    } else profileDistributed(sq, tMax)

  /** Gated top-motif frame: the single lex-min (dist, t, s) half pair
    * as a 1-row (t, s, dist) frame. */
  private[graft] def motifFrame(sq: DataFrame, tMax: Int): DataFrame =
    if (SizeGate.local(sq.sparkSession, SizeGate.PairRows)(tMax)) {
      localFold(sq, tMax) { z =>
        var bd: BigInt = null; var bt = 0; var bs = 0
        foreachPair(z, tMax, 7 to (tMax - 7)) { (i, s2, d) =>
          if (bd == null || d < bd ||
            (d == bd && (i < bt || (i == bt && s2 < bs)))) {
            bd = d; bt = i; bs = s2
          }
        }
        if (bd == null) Iterator.empty
        else Iterator.single(org.apache.spark.sql.Row(bt, bs, dec(bd)))
      }
    } else pairHalf(sq, tMax)
      .orderBy(col("dist"), col("t"), col("s")).limit(1)

  /** Gated fixed-lag half-pair frame (t, s, dist) for DISTINCT
    * positive lags (q959's 7/30/365). */
  private[graft] def lagPairs(sq: DataFrame, tMax: Int, lags: Seq[Int])
      : DataFrame =
    if (SizeGate.local(sq.sparkSession, SizeGate.PairRows)(tMax) &&
      lags.nonEmpty && lags.forall(_ >= 1) &&
      lags.distinct.size == lags.size) {
      localFold(sq, tMax) { z =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        foreachPair(z, tMax, lags) { (i, s2, d) =>
          out += org.apache.spark.sql.Row(i, s2, dec(d))
        }
        out.iterator
      }
    } else pairHalf(sq, tMax, Some(lags))

  // ------------------------------------------------------------------
  // oracle CTEs (deliberately NAIVE: 7-term all-pairs distances)
  // ------------------------------------------------------------------

  /** Oracle window CTEs: wd(t, z0..z6) 7-day subsequences. */
  private def sqlWd: String = """
    |day AS (SELECT CAST(l_shipdate AS DATE) AS d,
    |               sum(CAST(l_extendedprice * 100 AS BIGINT)) AS z
    |        FROM lineitem GROUP BY 1),
    |sq AS (SELECT row_number() OVER (ORDER BY d) AS t, z FROM day),
    |wd AS (
    |  SELECT t, z AS z0, lead(z, 1) OVER w AS z1, lead(z, 2) OVER w
    |           AS z2, lead(z, 3) OVER w AS z3, lead(z, 4) OVER w AS z4,
    |         lead(z, 5) OVER w AS z5, lead(z, 6) OVER w AS z6
    |  FROM sq WINDOW w AS (ORDER BY t)
    |  QUALIFY z6 IS NOT NULL)""".stripMargin

  private def dSql(a: String, b: String): String =
    (0 to 6).map(k =>
      s"CAST($a.z$k - $b.z$k AS HUGEINT) * ($a.z$k - $b.z$k)")
      .mkString(" + ")

  /** Profile CTE with the data-derived tie shift (mx = max(t) + 1). */
  private def sqlProf: String = s"""
    |mx AS (SELECT max(t) + 1 AS k FROM sq),
    |pr AS (
    |  SELECT a.t, b.t AS s, ${dSql("a", "b")} AS dist
    |  FROM wd a JOIN wd b ON abs(b.t - a.t) >= 7),
    |prof AS (
    |  SELECT t, min(dist) AS p,
    |         min_by(s, dist * k + s) AS sb
    |  FROM pr CROSS JOIN mx GROUP BY 1)""".stripMargin

  /** Matrix-profile summary: windows, min/mean/max profile value. */
  def q956: Q = Q(
    "q956_matrix_profile_summary",
    Some(s"""
      |WITH ${sqlWd},${sqlProf}
      |SELECT CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST(min(p) AS BIGINT) AS min_profile,
      |       CAST(sum(CAST(p AS HUGEINT)) // count(*) AS BIGINT)
      |         AS mean_profile,
      |       CAST(max(p) AS BIGINT) AS max_profile
      |FROM prof
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = seriesN(s, dir)
    profileFrame(sq, tMax)
      .agg(count(lit(1)).as("n"), min(col("p")).as("mn"),
        sum(col("p").cast("decimal(38,0)")).as("sp"),
        max(col("p")).as("mx"))
      .select(col("n").cast("long").as("n_windows"),
        col("mn").cast("long").as("min_profile"),
        expr("CAST((sp - sp % n) / n AS DECIMAL(38,0))").cast("long")
          .as("mean_profile"),
        col("mx").cast("long").as("max_profile"))
  }

  /** Top motif: the closest non-overlapping window pair. */
  def q957: Q = Q(
    "q957_top_motif",
    Some(s"""
      |WITH ${sqlWd},
      |pr AS (
      |  SELECT a.t, b.t AS s, ${dSql("a", "b")} AS dist
      |  FROM wd a JOIN wd b ON b.t - a.t >= 7)
      |SELECT CAST(t AS BIGINT) AS motif_t,
      |       CAST(s AS BIGINT) AS motif_s,
      |       CAST(dist AS BIGINT) AS dist_cents2
      |FROM pr ORDER BY dist, t, s LIMIT 1
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = seriesN(s, dir)
    motifFrame(sq, tMax)
      .select(col("t").cast("long").as("motif_t"),
        col("s").cast("long").as("motif_s"),
        col("dist").cast("long").as("dist_cents2"))
  }

  /** Top discord: the window farthest from its nearest neighbor. */
  def q958: Q = Q(
    "q958_top_discord",
    Some(s"""
      |WITH ${sqlWd},${sqlProf}
      |SELECT CAST(t AS BIGINT) AS discord_t,
      |       CAST(p AS BIGINT) AS nn_dist_cents2,
      |       CAST(sb AS BIGINT) AS nearest_s
      |FROM prof ORDER BY p DESC, t LIMIT 1
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = seriesN(s, dir)
    profileFrame(sq, tMax)
      .orderBy(col("p").desc, col("t")).limit(1)
      .select(col("t").cast("long").as("discord_t"),
        col("p").cast("long").as("nn_dist_cents2"),
        col("sb").cast("long").as("nearest_s"))
  }

  /** Lag-k self-similarity: mean window distance at lags 7/30/365 in
    * the OBSERVED-day index (steps of the dense day sequence, not
    * calendar days — renamed lag_steps per ADVICE r9 #1; on sparse
    * scale factors a step can span more than one calendar day). */
  def q959: Q = Q(
    "q959_lag_self_similarity",
    Some(s"""
      |WITH ${sqlWd},
      |lg AS (SELECT * FROM (VALUES (7),(30),(365)) v(lag)),
      |ld AS (
      |  SELECT lg.lag, ${dSql("a", "b")} AS dist
      |  FROM lg JOIN wd a ON 1 = 1 JOIN wd b ON b.t = a.t + lg.lag)
      |SELECT CAST(lag AS BIGINT) AS lag_steps,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(CAST(dist AS HUGEINT)) // count(*) AS BIGINT)
      |         AS mean_dist_cents2
      |FROM ld GROUP BY 1 ORDER BY lag_steps
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = seriesN(s, dir)
    lagPairs(sq, tMax, Seq(7, 30, 365))
      .select((col("s") - col("t")).as("lg"), col("dist"))
      .groupBy(col("lg"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("sd"))
      .select(col("lg").cast("long").as("lag_steps"),
        col("n").cast("long").as("n_pairs"),
        expr("CAST((sd - sd % n) / n AS DECIMAL(38,0))").cast("long")
          .as("mean_dist_cents2"))
      .orderBy(col("lag_steps"))
  }

  /** Novelty rate: share of windows whose profile value exceeds twice
    * the median profile (exact ECDF median over the profile dim). */
  def q960: Q = Q(
    "q960_novelty_rate",
    Some(s"""
      |WITH ${sqlWd},${sqlProf},
      |vc AS (SELECT p AS val, sum(c) OVER (ORDER BY p) AS cum FROM
      |  (SELECT p, count(*) AS c FROM prof GROUP BY 1)),
      |gl AS (SELECT count(*) AS n FROM prof),
      |md AS (SELECT min(val) AS m FROM vc CROSS JOIN gl
      |       WHERE 2 * cum >= gl.n)
      |SELECT CAST(md.m AS BIGINT) AS median_profile,
      |       CAST(sum(CASE WHEN prof.p > 2 * md.m THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_novel,
      |       CAST((1000 * sum(CASE WHEN prof.p > 2 * md.m THEN 1
      |            ELSE 0 END)) // count(*) AS BIGINT) AS novel_milli
      |FROM prof CROSS JOIN md GROUP BY md.m
      |""".stripMargin)) { (s, dir) =>
    val (sq, tMax) = seriesN(s, dir)
    val prof = profileFrame(sq, tMax).materialize()
    val gl = prof.agg(count(lit(1)).as("n"))
    val md = prof.groupBy(col("p").as("val")).agg(count(lit(1)).as("c"))
      .select(col("val"),
        sum(col("c")).over(Window.orderBy(col("val"))).as("cum"))
      .crossJoin(broadcast(gl))
      .where(col("cum") * 2 >= col("n"))
      .agg(min(col("val")).as("m"))
    prof.crossJoin(broadcast(md))
      .groupBy(col("m"))
      .agg(sum(when(col("p") > col("m") * 2, 1).otherwise(0)).as("nv"),
        count(lit(1)).as("nw"))
      .select(col("m").cast("long").as("median_profile"),
        col("nv").cast("long").as("n_novel"),
        expr("CAST((1000 * nv) div nw AS BIGINT)").as("novel_milli"))
  }
}
