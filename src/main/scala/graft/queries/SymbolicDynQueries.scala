package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Round-11 symbolic-dynamics wave on the mean-binarized daily
  * revenue sequence (b_t = 1 iff n·z_t > Σz — exact integers, zeros
  * map to 0, stated): block entropies and the entropy rate, LZ78
  * phrase complexity, a first-vs-second-order Markov likelihood
  * ratio, run-length geometry, and k-word coverage (topological
  * entropy).
  *
  * Exactness: words, counts, runs and phrase counts are pure
  * integers; every c·ln c / n·ln(ratio) term is micro-floored BEFORE
  * its order-free sum (the PSI discipline); final statistics are one
  * shared-text double step. The LZ78 parse is genuinely sequential:
  * Spark runs it as a single-group [[graft.operators.OrderedFold]]
  * (constant-memory dictionary stream over the day dim), the oracle
  * as a RECURSIVE CTE over the same bit string — one row per phrase,
  * dictionary carried as a VARCHAR list (NOTES.md: list_reduce state
  * is unreliable, recursive walks are not).
  *
  * Scale: everything is CALENDAR-bounded; the only fact-scaled pass
  * is the day aggregate served by [[DaySeries.revenue]]. The LZ78
  * fold's parallelism unit is the group (one here) — acceptable
  * because the sequence is the day dim (~2.5k), never the fact. */
object SymbolicDynQueries {

  val all: Seq[Q] = Seq(q1121, q1122, q1123, q1124, q1125)

  /** Oracle binarized sequence bt(t, b) + ag(n, sz). */
  private def sqlBt: String = s"""
    |${DaySeries.sql},
    |ag AS (SELECT count(*) AS n, sum(z) AS sz FROM sq),
    |bt AS (SELECT t, CASE WHEN n * z - sz > 0 THEN 1 ELSE 0 END AS b
    |       FROM sq CROSS JOIN ag)""".stripMargin

  /** Spark twin of [[sqlBt]] (t, b). */
  private def bt(s: SparkSession, dir: String): DataFrame = {
    val sq = DaySeries.revenue(s, dir)
    val ag = sq.agg(count(lit(1)).as("n"), sum(col("z")).as("sz"))
    sq.crossJoin(broadcast(ag))
      .select(col("t"),
        when(col("n") * col("z") - col("sz") > 0, 1L).otherwise(0L)
          .as("b"))
  }

  /** Shared k-word value text over lead columns b0..b7 and dim k. */
  private def wordExpr(maxK: Int): String =
    "b0" + (1 until maxK).map(i =>
      s" + (CASE WHEN k > $i THEN ${1L << i} * b$i ELSE 0 END)")
      .mkString

  /** Oracle k-word frame wk(k, t, w) for k = 1..maxK. */
  private def sqlWk(maxK: Int): String = s"""
    |bw AS (SELECT t, b AS b0,
    |  ${(1 until maxK).map(i =>
        s"lead(b, $i) OVER (ORDER BY t) AS b$i").mkString(",\n    |  ")}
    |  FROM bt),
    |lg AS (SELECT * FROM (VALUES ${(1 to maxK).map(k => s"($k)").mkString(",")}) v(k)),
    |wk AS (SELECT lg.k, bw.t, ${wordExpr(maxK)} AS w
    |       FROM lg CROSS JOIN bw CROSS JOIN ag
    |       WHERE bw.t + lg.k - 1 <= ag.n)""".stripMargin

  /** Spark twin of [[sqlWk]]. */
  private def wk(s: SparkSession, dir: String, maxK: Int): DataFrame = {
    import s.implicits._
    val wt = Window.orderBy(col("t"))
    val base = bt(s, dir)
    val bw = base.select(Seq(col("t"), col("b").as("b0")) ++
      (1 until maxK).map(i => lead(col("b"), i).over(wt).as(s"b$i")): _*)
    val n = base.agg(count(lit(1)).as("n"))
    bw.crossJoin(broadcast((1 to maxK).toDF("k")))
      .crossJoin(broadcast(n))
      .where(col("t") + col("k") - 1 <= col("n"))
      .select(col("k"), col("t"), expr(wordExpr(maxK)).as("w"))
  }

  /** Block entropies H_k (k = 1..6) and the entropy rate
    * h_k = H_k − H_{k−1} (micro, NULL at k = 1). */
  def q1121: Q = {
    val h = "(ln(CAST(tc AS DOUBLE))" +
      " - CAST(st AS DOUBLE) / 1000000.0 / CAST(tc AS DOUBLE))"
    Q("q1121_block_entropies",
      Some(s"""
        |WITH ${sqlBt},
        |${sqlWk(6)},
        |cnts AS (SELECT k, w, count(*) AS c FROM wk GROUP BY 1, 2),
        |tot AS (SELECT k, sum(c) AS tc, count(*) AS obs,
        |          sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
        |              AS BIGINT)) AS st
        |        FROM cnts GROUP BY 1),
        |hh AS (SELECT k, obs,
        |         CAST(floor(1000000.0 * $h) AS BIGINT) AS h_micro
        |       FROM tot)
        |SELECT CAST(k AS BIGINT) AS k, CAST(obs AS BIGINT) AS n_words,
        |       h_micro,
        |       h_micro - lag(h_micro, 1) OVER (ORDER BY k)
        |         AS hrate_micro
        |FROM hh ORDER BY k
        |""".stripMargin)) { (s, dir) =>
      val cnts = wk(s, dir, 6).groupBy(col("k"), col("w"))
        .agg(count(lit(1)).as("c"))
      val tot = cnts.groupBy(col("k"))
        .agg(sum(col("c")).as("tc"), count(lit(1)).as("obs"),
          sum(expr("CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))" +
            " AS BIGINT)")).as("st"))
      tot.select(col("k"), col("obs"),
        expr(s"CAST(floor(1000000.0 * $h) AS BIGINT)").as("h_micro"))
        .select(col("k").cast("long").as("k"),
          col("obs").cast("long").as("n_words"), col("h_micro"),
          (col("h_micro") - lag(col("h_micro"), 1)
            .over(Window.orderBy(col("k")))).as("hrate_micro"))
        .orderBy(col("k"))
    }
  }

  /** LZ78 phrase complexity: sequential parse (Spark: single-group
    * OrderedFold; oracle: recursive CTE, dictionary as VARCHAR list;
    * the unfinished suffix counts as a phrase, stated). */
  def q1122: Q = {
    val norm = "(1000.0 * CAST(np AS DOUBLE) * ln(CAST(nb AS DOUBLE))" +
      " / ln(2.0) / CAST(nb AS DOUBLE))"
    Q("q1122_lz78_complexity",
      Some(s"""
        |WITH RECURSIVE ${sqlBt},
        |bs AS (SELECT string_agg(CAST(b AS VARCHAR), '' ORDER BY t) AS s
        |       FROM bt),
        |pz AS (
        |  SELECT CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS dict,
        |         CAST(0 AS BIGINT) AS c, s, CAST(len(s) AS BIGINT) AS n
        |  FROM bs
        |  UNION ALL
        |  SELECT pos + l, list_append(dict, substr(s, CAST(pos AS INT),
        |           CAST(l AS INT))), c + 1, s, n
        |  FROM (SELECT pos, dict, c, s, n,
        |          coalesce(list_min(list_filter(range(1, n - pos + 2),
        |            l -> NOT list_contains(dict, substr(s, CAST(pos AS INT),
        |              CAST(l AS INT))))), n - pos + 1) AS l
        |        FROM pz WHERE pos <= n) q),
        |fin AS (SELECT n AS nb, c AS np FROM pz WHERE pos > n)
        |SELECT CAST(nb AS BIGINT) AS n_bits, CAST(np AS BIGINT) AS n_phrases,
        |       CAST(floor($norm) AS BIGINT) AS norm_complexity_milli
        |FROM fin
        |""".stripMargin)) { (s, dir) =>
      val in = bt(s, dir).select(lit(0L).as("g"), col("t"), col("b"))
      val out = StructType(Seq(
        StructField("nb", LongType, nullable = false),
        StructField("np", LongType, nullable = false)))
      // state: (dictionary, current phrase, bits seen, phrases)
      case class St(dict: scala.collection.mutable.HashSet[String],
        var cur: StringBuilder, var nb: Long, var np: Long)
      val folded = graft.operators.OrderedFold.foldGroups[St](
        in, Seq("g"), Seq(col("t")), out)(
        init = _ => St(scala.collection.mutable.HashSet.empty,
          new StringBuilder, 0L, 0L),
        step = { (st, row) =>
          st.cur.append(if (row.getLong(2) == 1L) '1' else '0')
          st.nb += 1
          val p = st.cur.toString
          if (!st.dict.contains(p)) {
            st.dict += p; st.np += 1; st.cur.clear()
          }
          st
        },
        emit = { (_, st) =>
          val np = if (st.cur.nonEmpty) st.np + 1 else st.np
          Iterator(new GenericInternalRow(Array[Any](st.nb, np)))
        })
      folded.select(col("nb").as("n_bits"), col("np").as("n_phrases"),
        expr(s"CAST(floor($norm) AS BIGINT)")
          .as("norm_complexity_milli"))
    }
  }

  /** Markov order test: G² that order 1 suffices vs order 2, from
    * trigram counts (marginals defined over the trigram frame —
    * self-consistent, stated). */
  def q1123: Q = {
    val g2 = "(2.0 * CAST(sg AS DOUBLE) / 1000000.0)"
    Q("q1123_markov_order_test",
      Some(s"""
        |WITH ${sqlBt},
        |${sqlWk(3)},
        |tri AS (SELECT t, w FROM wk WHERE k = 3),
        |n3 AS (SELECT w % 2 AS x, (w // 2) % 2 AS y, w // 4 AS zz,
        |              count(*) AS c
        |       FROM tri GROUP BY 1, 2, 3),
        |m AS (SELECT x, y, zz, c,
        |        sum(c) OVER (PARTITION BY x, y) AS nxy,
        |        sum(c) OVER (PARTITION BY y, zz) AS nyz,
        |        sum(c) OVER (PARTITION BY y) AS ny
        |      FROM n3),
        |tm AS (SELECT sum(CAST(floor(1000000.0 * c * ln(
        |           CAST(c AS DOUBLE) * CAST(ny AS DOUBLE)
        |           / (CAST(nxy AS DOUBLE) * CAST(nyz AS DOUBLE))))
        |           AS BIGINT)) AS sg,
        |          count(*) AS cells, sum(c) AS nt
        |       FROM m)
        |SELECT CAST(nt AS BIGINT) AS n_trigrams,
        |       CAST(cells AS BIGINT) AS n_cells,
        |       CAST(floor(1000.0 * $g2) AS BIGINT) AS g2_milli
        |FROM tm
        |""".stripMargin)) { (s, dir) =>
      val tri = wk(s, dir, 3).where(col("k") === 3)
      val n3 = tri.groupBy(pmod(col("w"), lit(2)).as("x"),
        pmod(expr("w div 2"), lit(2)).as("y"),
        expr("w div 4").as("zz"))
        .agg(count(lit(1)).as("c"))
      val m = n3
        .withColumn("nxy",
          sum(col("c")).over(Window.partitionBy(col("x"), col("y"))))
        .withColumn("nyz",
          sum(col("c")).over(Window.partitionBy(col("y"), col("zz"))))
        .withColumn("ny",
          sum(col("c")).over(Window.partitionBy(col("y"))))
      m.agg(sum(expr("CAST(floor(1000000.0 * c * ln(" +
        "CAST(c AS DOUBLE) * CAST(ny AS DOUBLE)" +
        " / (CAST(nxy AS DOUBLE) * CAST(nyz AS DOUBLE)))) AS BIGINT)"))
        .as("sg"), count(lit(1)).as("cells"), sum(col("c")).as("nt"))
        .select(col("nt").cast("long").as("n_trigrams"),
          col("cells").cast("long").as("n_cells"),
          expr(s"CAST(floor(1000.0 * $g2) AS BIGINT)").as("g2_milli"))
    }
  }

  /** Run-length geometry per symbol: run counts, mean/max length,
    * and the geometric continuation estimate p̂ = 1 − runs/len. */
  def q1124: Q = Q(
    "q1124_run_length_geometry",
    Some(s"""
      |WITH ${sqlBt},
      |ch AS (SELECT t, b, CASE WHEN lag(b, 1) OVER (ORDER BY t)
      |         IS DISTINCT FROM b THEN 1 ELSE 0 END AS flip
      |       FROM bt),
      |rn AS (SELECT t, b, sum(flip) OVER (ORDER BY t
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      |       FROM ch),
      |runs AS (SELECT b, rid, count(*) AS len FROM rn GROUP BY 1, 2)
      |SELECT CAST(b AS BIGINT) AS symbol,
      |       CAST(count(*) AS BIGINT) AS n_runs,
      |       CAST(sum(len) AS BIGINT) AS total_len,
      |       CAST((1000 * sum(len)) // count(*) AS BIGINT)
      |         AS mean_len_milli,
      |       CAST(max(len) AS BIGINT) AS max_len,
      |       CAST(1000 - (1000 * count(*)) // sum(len) AS BIGINT)
      |         AS p_cont_milli
      |FROM runs GROUP BY 1 ORDER BY symbol
      |""".stripMargin)) { (s, dir) =>
    val wt = Window.orderBy(col("t"))
    val ch = bt(s, dir)
      .select(col("t"), col("b"),
        when(not(lag(col("b"), 1).over(wt) <=> col("b")), 1L)
          .otherwise(0L).as("flip"))
    val rn = ch.select(col("t"), col("b"),
      sum(col("flip")).over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .as("rid"))
    rn.groupBy(col("b"), col("rid")).agg(count(lit(1)).as("len"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_runs"), sum(col("len")).as("tl"),
        max(col("len")).as("max_len"))
      .select(col("b").cast("long").as("symbol"),
        col("n_runs").cast("long").as("n_runs"),
        col("tl").as("total_len"),
        expr("CAST((1000 * tl) div n_runs AS BIGINT)")
          .as("mean_len_milli"),
        col("max_len").cast("long").as("max_len"),
        expr("CAST(1000 - (1000 * n_runs) div tl AS BIGINT)")
          .as("p_cont_milli"))
      .orderBy(col("symbol"))
  }

  /** k-word coverage (k = 1..8): observed vs 2^k possible words,
    * missing-word count, topological entropy log2(observed)/k. */
  def q1125: Q = {
    val te = "(ln(CAST(obs AS DOUBLE)) / ln(2.0) / CAST(k AS DOUBLE))"
    Q("q1125_kword_coverage",
      Some(s"""
        |WITH ${sqlBt},
        |${sqlWk(8)},
        |ob AS (SELECT k, count(DISTINCT w) AS obs, count(*) AS nw
        |       FROM wk GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS k,
        |       CAST(nw AS BIGINT) AS n_windows,
        |       CAST(2 ** k AS BIGINT) AS possible,
        |       CAST(obs AS BIGINT) AS observed,
        |       CAST(2 ** k - obs AS BIGINT) AS missing,
        |       CAST(floor(1000000.0 * $te) AS BIGINT) AS topent_micro
        |FROM ob ORDER BY k
        |""".stripMargin)) { (s, dir) =>
      wk(s, dir, 8).groupBy(col("k"))
        .agg(countDistinct(col("w")).as("obs"), count(lit(1)).as("nw"))
        .select(col("k").cast("long").as("k"),
          col("nw").cast("long").as("n_windows"),
          expr("CAST(CAST(pow(2.0, k) AS BIGINT) AS BIGINT)")
            .as("possible"),
          col("obs").cast("long").as("observed"),
          (expr("CAST(pow(2.0, k) AS BIGINT)") - col("obs"))
            .cast("long").as("missing"),
          expr(s"CAST(floor(1000000.0 * $te) AS BIGINT)")
            .as("topent_micro"))
        .orderBy(col("k"))
    }
  }
}
