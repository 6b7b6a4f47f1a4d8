package graft.queries
import graft.Materialize.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sim.{AnnEval, Similarity}
import graft.text.{Sampling, Sharding, TextAnalysis, Versioning}
import CorpusQueries.{sqlBandedCtes, sqlCosine, sqlHyperplaneCell, sqlQualityExpr}
import PipelineQueries.{sqlCharFold, sqlContentFp, sqlInList, sqlSaltedHash, sqlShingles, sqlSimhash, sqlTokens}

/** Round-5 evaluation + versioning operators: corpus snapshot diff,
  * ANN recall evaluation, budget-constrained greedy selection. Same
  * oracle discipline as the other query files — shared constants and
  * proven SQL fragments interpolated into both sides.
  */
object EvalQueries {

  val all: Seq[Q] =
    Seq(q102, q103, q104, q105, q106, q107, q108, q109, q110, q111, q112,
      q113, q114, q115, q116, q117, q118, q119, q120, q121, q122, q123,
      q124, q125, q126, q127, q128, q129, q130, q131, q132, q133, q134,
      q135, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149,
      q150, q151, q152, q153, q154, q155, q156, q157, q158, q159, q160,
      q161, q162, q163, q164, q165, q166, q167, q168, q169, q170, q171,
      q172, q173, q174, q175, q176, q177, q178, q179, q180, q181, q182,
      q183, q184, q186, q187, q188, q189, q190, q191, q192, q193, q195,
      q196, q197, q198, q199, q200, q201, q202, q203, q205, q206,
      q207, q208, q209)

  /** PPJoin pair SPINE at the LOOSEST consumer threshold (30):
    * q145 (t = 50), q164 (t = 30) and q201 (t ∈ {50, 70, 90}) each ran
    * their own full prefix-filter join over the same document shingle
    * sets (~9.4 s of the r11 driver bench combined). jaccardPairs is
    * LOSSLESS — it returns EVERY pair with Jaccard ≥ t together with
    * the exact (inter, uni) — so the t = 30 pair set is a superset of
    * every consumer's result and each consumer recovers ITS exact
    * output by re-applying its own cross-multiplied threshold to the
    * spine rows (guide §6: one candidate-generation pass per process
    * instead of three; longs round-trip parquet exactly, oracle
    * unchanged on all three). */
  private def jaccPairs30(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.sources.SpineCache.table(s, dir, "doc_jacc_pairs_30",
      "documents") {
      import graft.dedup.{Dedup, SetSimJoin}
      // the 0.6 MB documents parquet is a 1-split scan; shingling and
      // the prefix pass are per-row expensive — widen to the session's
      // parallelism (no-op at cluster scale)
      val sets = graft.plans.Spread.widen(Tables.documents(s, dir))
        .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      SetSimJoin.jaccardPairs(sets, "doc_id", "sh", 30)
    }

  /** Keyword-in-context concordance (KWIC): every occurrence of a
    * target term with its ±2-token context — the corpus-inspection
    * tool behind "how is this word actually used" (sense checks,
    * PII-context review, tokenizer debugging). The term filter runs
    * scan-stage BEFORE any context is sliced, so cost scales with
    * occurrences, not corpus size. */
  def q207: Q = {
    val term = "data"
    Q("q207_kwic_concordance",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |hits AS (
        |  SELECT doc_id, toks, u.p AS pos1
        |  FROM t, unnest(range(1, len(toks) + 1)) AS u(p)
        |  WHERE toks[u.p] = '$term')
        |SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos,
        |       coalesce(array_to_string(
        |         list_slice(toks, greatest(1, pos1 - 2), pos1 - 1), ' '),
        |         '') AS left_ctx,
        |       coalesce(array_to_string(
        |         list_slice(toks, pos1 + 1, pos1 + 2), ' '), '')
        |         AS right_ctx
        |FROM hits ORDER BY doc_id, pos
        |""".stripMargin)) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      // prune non-matching DOCUMENTS before the explode: the generate
      // stage then scales with matching docs, not total corpus tokens
      t.where(array_contains(col("toks"), term))
        .select(col("doc_id"), col("toks"),
          posexplode(col("toks")).as(Seq("pos", "__w")))
        .where(col("__w") === term)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          concat_ws(" ",
            slice(col("toks"), greatest(lit(1), col("pos") - 1),
              least(col("pos"), lit(2)))).as("left_ctx"),
          concat_ws(" ", slice(col("toks"), col("pos") + 2, lit(2)))
            .as("right_ctx"))
        .orderBy(col("doc_id"), col("pos"))
    }
  }

  /** Lexical richness per source: type-token ratio and hapax share as
    * exact ppm integers — templated/boilerplate sources score low TTR
    * and low hapax (everything repeats); natural prose scores high.
    * The vocabulary reductions are dim-sized; one corpus scan. */
  def q208: Q = Q(
    "q208_lexical_richness",
    Some(s"""
      |WITH t AS (
      |  SELECT source, unnest(${sqlTokens("text")}) AS w FROM documents
      |  WHERE text IS NOT NULL),
      |f AS (SELECT source, w, count(*) AS c FROM t GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, sum(c) AS n_tokens, count(*) AS n_types,
      |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
      |  FROM f GROUP BY source)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n_types AS BIGINT) AS n_types,
      |       CAST(n_hapax AS BIGINT) AS n_hapax,
      |       CAST((1000000 * n_types) // n_tokens AS BIGINT) AS ttr_ppm,
      |       CAST((1000000 * n_hapax) // n_types AS BIGINT) AS hapax_ppm
      |FROM agg ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        expr("(1000000 * n_types) div n_tokens").as("ttr_ppm"),
        expr("(1000000 * n_hapax) div n_types").as("hapax_ppm"))
      .orderBy(col("source"))
  }

  /** Vocabulary coverage curve: what share of all token OCCURRENCES
    * the top-k most frequent types cover, at k = 5, 10, 15, … 30 —
    * the tokenizer-vocab sizing evidence ("how big must the vocab be
    * before OOV is rare"). Rank the frequency dim once (ties broken by
    * token for a total cross-engine order), cumulative-sum it, read
    * the curve at the k boundaries. */
  def q209: Q = Q(
    "q209_vocab_coverage",
    Some(s"""
      |WITH t AS (
      |  SELECT unnest(${sqlTokens("text")}) AS w FROM documents
      |  WHERE text IS NOT NULL),
      |f AS (SELECT w, count(*) AS c FROM t GROUP BY w),
      |r AS (
      |  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk,
      |         sum(c) OVER () AS tot,
      |         sum(c) OVER (ORDER BY c DESC, w
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM f),
      |k AS (SELECT unnest([5, 10, 15, 20, 25, 30]) AS top_k)
      |SELECT k.top_k, CAST(r.cum AS BIGINT) AS covered_tokens,
      |       CAST(r.tot AS BIGINT) AS total_tokens,
      |       CAST((1000000 * r.cum) // r.tot AS BIGINT) AS coverage_ppm
      |FROM k JOIN r ON r.rk = k.top_k
      |ORDER BY k.top_k
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // only ranks <= 30 are consumed, so the term dim never takes a
    // global sort: orderBy.limit compiles to TakeOrderedAndProject
    // (per-partition top-k, k-row driver merge) and tot is a scalar
    // agg broadcast back — the 30-row window after it is dim-sized
    val f = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .materialize() // feeds tot AND the top-k
    val totd = f.agg(sum(col("c")).as("tot"))
    val wR = Window.orderBy(col("c").desc, col("w"))
    val r = f.orderBy(col("c").desc, col("w")).limit(30)
      .crossJoin(broadcast(totd))
      .withColumn("rk", row_number().over(wR))
      .withColumn("cum", sum(col("c")).over(
        wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = s.range(1, 7).select((col("id") * 5).as("top_k"))
    r.join(broadcast(ks), col("rk") === col("top_k"))
      .select(col("top_k"), col("cum").as("covered_tokens"),
        col("tot").as("total_tokens"),
        expr("(1000000 * cum) div tot").as("coverage_ppm"))
      .orderBy(col("top_k"))
  }

  /** Near-dup cluster-size distribution (q65's clusters → size
    * histogram): how many 2-doc pairs vs giant template families the
    * dedup graph holds — the shape that decides whether keep-one
    * dedup is a trim or a massacre. Two dim-sized reductions over the
    * CC labels; the oracle replays CC with the recursive reach CTE. */
  def q205: Q = Q(
    "q205_cluster_size_distribution",
    Some(s"""
      |WITH RECURSIVE
      |${PipelineQueries.sqlNearDupCcCtes},
      |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl
      |       GROUP BY cluster_id)
      |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
      |       CAST(count(*) AS BIGINT) AS n_clusters
      |FROM sz GROUP BY cluster_size ORDER BY cluster_size
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val clusters = Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.8))
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** Daily burstiness / Fano factor per event type: variance-to-mean
    * of the daily count series as the exact rational
    * (n·Σx² − (Σx)²) / (n·Σx) with ONE pinned divide — F ≈ 1 is
    * Poisson-like traffic, F ≫ 1 is bursty (campaign spikes, outages);
    * the capacity-planning number next to q179's uniformity test. */
  def q206: Q = Q(
    "q206_daily_fano",
    Some("""
      |WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x) AS HUGEINT) AS s1,
      |         CAST(sum(x * x) AS HUGEINT) AS s2
      |  FROM c GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |       CAST(n * s2 - s1 * s1 AS BIGINT) AS num,
      |       CAST(n * s1 AS BIGINT) AS den,
      |       CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * s1 AS DOUBLE)
      |         AS fano
      |FROM s ORDER BY event_type
      |""".stripMargin)) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val d38 = "decimal(38,0)"
    c.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).cast(d38).as("__s1"),
        sum((col("x") * col("x")).cast(d38)).cast(d38).as("__s2"))
      .select(col("event_type"), col("n_days"),
        (col("n_days").cast(d38) * col("__s2") - col("__s1") * col("__s1"))
          .cast(d38).cast("long").as("num"),
        (col("n_days").cast(d38) * col("__s1")).cast(d38).cast("long")
          .as("den"),
        ((col("n_days").cast(d38) * col("__s2") -
          col("__s1") * col("__s1")).cast(d38).cast("double") /
          (col("n_days").cast(d38) * col("__s1")).cast(d38).cast("double"))
          .as("fano"))
      .orderBy(col("event_type"))
  }

  /** Linear multi-touch attribution (Attribution.linearTouch rolled up
    * per channel) next to q171's last-touch counts — the two models a
    * marketing readout compares: last-touch over-credits the closer,
    * linear spreads credit over every eligible touch. Credits are
    * exact rationals quantized to DECIMAL(18,9) per (conversion,
    * channel), so the per-channel sums are order-free exact decimal
    * sums. */
  def q203: Q = {
    val lookback = 48L * 3600L * 1000000000L
    Q("q203_linear_attribution",
      Some(s"""
        |WITH c AS (
        |  SELECT user_id AS e, epoch_ns(ts) AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id AS e, epoch_ns(ts) AS tts, event_id AS tid,
        |         event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
        |elig AS (
        |  SELECT cid, channel FROM c JOIN t USING (e)
        |  WHERE (tts < cts OR (tts = cts AND tid < cid))
        |    AND cts - tts <= $lookback),
        |pc AS (
        |  SELECT cid, channel, count(*) AS nch FROM elig GROUP BY 1, 2),
        |tot AS (SELECT cid, sum(nch) AS ntot FROM pc GROUP BY 1),
        |cr AS (
        |  SELECT pc.cid, pc.channel,
        |         CAST(CAST(nch AS DOUBLE) / CAST(ntot AS DOUBLE)
        |              AS DECIMAL(18,9)) AS credit
        |  FROM pc JOIN tot USING (cid)),
        |un AS (
        |  SELECT c.cid, '(none)' AS channel,
        |         CAST(1 AS DECIMAL(18,9)) AS credit
        |  FROM c LEFT JOIN tot ON c.cid = tot.cid
        |  WHERE tot.cid IS NULL)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(sum(credit) AS DOUBLE) AS credit_sum
        |FROM (SELECT channel, credit FROM cr
        |      UNION ALL SELECT channel, credit FROM un)
        |GROUP BY channel ORDER BY channel
        |""".stripMargin)) { (s, dir) =>
      graft.operators.Attribution.linearTouch(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          convType = "purchase",
          touchTypes = Seq("click", "view", "signup"),
          lookback = lookback)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("credit")).cast("double").as("credit_sum"))
        .orderBy(col("channel"))
    }
  }

  /** Dedup-threshold sweep (SetSimJoin.jaccardPairs × Dedup
    * .nearDupClusters at t ∈ {50, 70, 90}): per threshold the exact
    * pair count, clustered-doc count, cluster count, and how many docs
    * a keep-one-per-cluster pass would DROP — the evidence table for
    * choosing a dedup threshold before committing a 100 TB pass
    * (PPJoin is lossless, so the sweep is exact, not recall-shaped).
    * The oracle replays the naive pair join + recursive-CC per
    * threshold. */
  def q201: Q = {
    val thresholds = Seq(50, 70, 90)
    val perT = thresholds.map { t =>
      s"""(WITH RECURSIVE pair AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) * 100 >=
         |         $t * ((SELECT c FROM n WHERE doc_id = a.doc_id)
         |               + (SELECT c FROM n WHERE doc_id = b.doc_id)
         |               - count(*))),
         |e AS (SELECT u, v FROM pair UNION SELECT v, u FROM pair),
         |reach(x, y) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e) nn(u)
         |  UNION
         |  SELECT e.v, r.y FROM reach r JOIN e ON e.u = r.x),
         |lbl AS (SELECT x, min(y) AS root FROM reach GROUP BY x)
         |SELECT CAST($t * 10 AS BIGINT) AS threshold_permille,
         |       CAST((SELECT count(*) FROM pair) AS BIGINT) AS n_pairs,
         |       CAST(count(*) AS BIGINT) AS n_clustered_docs,
         |       CAST(count(DISTINCT root) AS BIGINT) AS n_clusters,
         |       CAST(count(*) - count(DISTINCT root) AS BIGINT)
         |         AS n_dropped
         |FROM lbl)""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q("q201_dedup_threshold_sweep",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(${sqlShingles("toks")}) AS s
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id)
        |SELECT * FROM (
        |$perT
        |) ORDER BY threshold_permille
        |""".stripMargin)) { (s, dir) =>
      import graft.dedup.Dedup
      // sweep base from the shared t = 30 pair spine (the sweep
      // points are subsets: jaccard ≥ .9 ⊂ ≥ .7 ⊂ ≥ .5 ⊂ ≥ .3), so
      // the sweep costs ZERO similarity joins of its own — it filters
      // the already-verified (inter, uni) spine rows
      val base = jaccPairs30(s, dir)
        .where(col("inter") * 100 >=
          lit(thresholds.min.toLong) * col("uni"))
        .materialize()
      val rows = thresholds.map { t =>
        val pairs = base
          .where(col("inter") * 100 >= lit(t.toLong) * col("uni"))
          .select(col("a").as("doc_a"), col("b").as("doc_b"))
          .materialize() // feeds the pair count AND the clustering
        val clusters = Dedup.nearDupClusters(pairs)
        val agg = clusters.agg(
          count(lit(1)).as("n_clustered_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        agg.crossJoin(broadcast(
            pairs.agg(count(lit(1)).as("n_pairs"))))
          .select(lit(t.toLong * 10).as("threshold_permille"),
            col("n_pairs"), col("n_clustered_docs"), col("n_clusters"),
            (col("n_clustered_docs") - col("n_clusters")).as("n_dropped"))
      }
      rows.reduce(_ unionByName _).orderBy(col("threshold_permille"))
    }
  }

  /** Oracle CTEs `p`/`e`: the shared-prefix similarity graph (docs
    * joined on their first 12 trimmed chars), edges e(a, b) with a < b. */
  private def sqlPrefixEdges: String =
    """p AS (
      |  SELECT doc_id, substr(trim(text), 1, 12) AS s FROM documents
      |  WHERE text IS NOT NULL),
      |e AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b
      |  FROM p x JOIN p y ON x.s = y.s AND x.doc_id < y.doc_id)""".stripMargin

  /** Spark side of [[sqlPrefixEdges]]: edges (s, a, b), uncached. */
  private def prefixEdges(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), substring(trim(col("text")), 1, 12).as("s"))
    p.select(col("doc_id").as("a"), col("s"))
      .join(p.select(col("doc_id").as("b"), col("s")), Seq("s"))
      .where(col("a") < col("b"))
  }

  /** Global clustering coefficient (q130's triangles over q155's
    * graph, closed into the standard metric): 3·triangles / wedges as
    * an exact ppm integer, wedges = Σ deg·(deg−1)/2 — "how cliquish is
    * the similarity graph" (near-1 = template families, near-0 =
    * chains), one degree aggregate + the existing oriented triangle
    * count. */
  def q202: Q = Q(
    "q202_clustering_coefficient",
    Some(s"""
      |WITH ${sqlPrefixEdges},
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |deg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY node),
      |w AS (SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg)
      |SELECT CAST(tri.n_triangles AS BIGINT) AS n_triangles,
      |       CAST(w.n_wedges AS BIGINT) AS n_wedges,
      |       CAST(CASE WHEN w.n_wedges > 0
      |                 THEN (1000000 * 3 * tri.n_triangles) // w.n_wedges
      |            END AS BIGINT) AS coefficient_ppm
      |FROM tri CROSS JOIN w
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Triangles
    val edges = prefixEdges(s, dir)
      .select(col("a"), col("b"))
      .materialize() // feeds the triangle count AND the degree sum
    val tri = Triangles.triangleCount(edges, "a", "b")
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    tri.crossJoin(broadcast(deg))
      .select(col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          expr("(1000000 * 3 * n_triangles) div n_wedges"))
          .as("coefficient_ppm"))
  }

  /** Decile gain chart for the quality score (q170/q177's cumulative
    * face): documents ranked by score desc, cut into 10 equal-count
    * deciles, each reporting the cumulative share of positives
    * captured so far — "read the top 30% of the corpus by this score
    * and you have X% of the English docs". All integer ranks and ppm
    * divisions; the window runs over the 10-row decile dim. */
  def q196: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    Q("q196_score_gain_chart",
      Some(s"""
        |WITH t0 AS (
        |  SELECT doc_id, lang, text, ${sqlTokens("text")} AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         CAST(CAST(${sqlQualityExpr(sw)} AS DECIMAL(18,9))
        |              * 1000000000 AS BIGINT) AS s
        |  FROM t0 WHERE len(toks) > 0),
        |r AS (
        |  SELECT y, row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
        |         count(*) OVER () AS n, sum(y) OVER () AS tot
        |  FROM t),
        |d AS (
        |  SELECT least(((rk - 1) * 10) // n, 9) AS decile, y, n, tot
        |  FROM r),
        |g AS (
        |  SELECT decile, count(*) AS n_docs, sum(y) AS n_pos,
        |         min(tot) AS tot
        |  FROM d GROUP BY decile)
        |SELECT decile, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_pos AS BIGINT) AS n_pos,
        |       CAST((1000000 * sum(n_pos) OVER (ORDER BY decile
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |            // tot AS BIGINT) AS cum_capture_ppm
        |FROM g ORDER BY decile
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val sw0 = TextAnalysis.LangStopwords.head._2
      val base = Tables.documents(s, dir)
        .where(col("text").isNotNull &&
          TextAnalysis.tokenCount(col("text")) > 0)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          (TextAnalysis.qualityScore(col("text"), sw0)
            .cast(DecimalType(18, 9)) * lit(1000000000L)).cast("long")
            .as("s"))
      // tie-break on doc_id: a tied score group can straddle a decile
      // boundary with MIXED labels, so the rank must be total and
      // identical cross-engine, not merely stable. The rank is
      // bucket-parallel (globalRankCum over score-range buckets — a
      // single-partition Window.orderBy here would funnel every scored
      // document through one task at scale), and n/tot are a scalar
      // agg broadcast back, not partitionBy() windows.
      val based = base.materialize() // feeds totals AND the rank pass
      val totals = based.agg(count(lit(1)).as("n"), sum(col("y")).as("tot"))
      val r = graft.dedup.SortedNeighborhood.globalRankCum(
          based.withColumn("__negs", -col("s"))
            .withColumn("__bkt", expr("__negs div 100000000")),
          idCol = "doc_id", bucketCol = "__bkt", tieCols = Seq("__negs"))
        .withColumnRenamed("__rank", "rk")
        .crossJoin(broadcast(totals))
      val g = r
        .withColumn("decile",
          least(expr("((rk - 1) * 10) div n"), lit(9L)))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
          min(col("tot")).as("__tot"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("__cum", sum(col("n_pos")).over(wCum))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          expr("(1000000 * __cum) div __tot").as("cum_capture_ppm"))
        .orderBy(col("decile"))
    }
  }

  /** RFM profile (recency / frequency / monetary per user): the
    * segmentation table behind lifecycle marketing and value-weighted
    * sampling — recency in integer days from the corpus horizon,
    * purchase count, exact decimal spend, plus the monetary permille
    * rank (OrderStats.rankNormalize) for cross-user comparability. */
  def q197: Q = Q(
    "q197_rfm_profile",
    Some("""
      |WITH p AS (
      |  SELECT user_id, epoch_ns(ts) AS t, value FROM events
      |  WHERE event_type = 'purchase'),
      |h AS (SELECT max(t) AS horizon FROM p),
      |rfm AS (
      |  SELECT user_id,
      |         CAST((h.horizon - max(t)) // 86400000000000 AS BIGINT)
      |           AS recency_days,
      |         CAST(count(*) AS BIGINT) AS frequency,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
      |           AS monetary
      |  FROM p CROSS JOIN h GROUP BY user_id, h.horizon),
      |rk AS (
      |  SELECT *, rank() OVER (ORDER BY monetary) AS r,
      |         count(*) OVER () AS n
      |  FROM rfm)
      |SELECT user_id, recency_days, frequency, monetary,
      |       CAST(CASE WHEN n > 1 THEN ((r - 1) * 1000) // (n - 1)
      |                 ELSE 0 END AS BIGINT) AS monetary_permille
      |FROM rk ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.OrderStats
    val p = Tables.events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
      .materialize() // feeds the horizon scalar AND the per-user rollup
    val h = p.agg(max(col("ts")).as("__h"))
    val rfm = p.crossJoin(broadcast(h))
      .groupBy(col("user_id"))
      .agg(
        expr("(max(__h) - max(ts)) div 86400000000000").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(DecimalType(28, 6))).cast("double")
          .as("monetary"))
      .withColumn("__scope", lit("all")) // rankNormalize needs a key
    OrderStats.rankNormalize(rfm, Seq("__scope"), "monetary")
      .withColumnRenamed("permille", "monetary_permille")
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("monetary_permille"))
      .orderBy(col("user_id"))
  }

  /** Ship-lead-time percentiles by order priority (composition:
    * integer epoch-day delta → OrderStats.quantilesDisc): the
    * operations SLA table — exact order-stat p50/p90/p99 of days from
    * order to line shipment, per priority class. Day math is
    * epoch-microsecond integer division — timezone-free on both
    * engines. */
  def q198: Q = Q(
    "q198_leadtime_percentiles",
    Some("""
      |WITH lt AS (
      |  SELECT o.o_orderpriority AS priority,
      |         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
      |           // 86400000000 AS lead_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |r AS (
      |  SELECT priority, lead_days,
      |         row_number() OVER (PARTITION BY priority
      |                            ORDER BY lead_days) AS rn,
      |         count(*) OVER (PARTITION BY priority) AS n
      |  FROM lt),
      |p AS (SELECT unnest([500, 900, 990]) AS permille)
      |SELECT r.priority, p.permille, r.lead_days AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY priority, permille
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    val lt = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        expr("(unix_micros(CAST(l_shipdate AS TIMESTAMP)) - " +
          "unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000")
          .as("lead_days"))
    OrderStats.quantilesDisc(lt, Seq("priority"), "lead_days",
        Seq(500, 900, 990))
      .orderBy(col("priority"), col("permille"))
  }

  /** Lorenz curve of customer revenue (q153's Gini made visible):
    * customers ranked by revenue ascending, the cumulative revenue
    * share at each customer-decile boundary — "the bottom 70% of
    * customers hold X% of revenue". Revenue quantizes to exact cents
    * before any ranking, so ranks, cumulative sums, and the ppm shares
    * are all integers. */
  def q199: Q = Q(
    "q199_revenue_lorenz",
    Some("""
      |WITH rev AS (
      |  SELECT o_custkey AS cust,
      |         CAST(sum(CAST(o_totalprice * 100 AS HUGEINT)) AS HUGEINT)
      |           AS cents
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT cust, cents,
      |         row_number() OVER (ORDER BY cents, cust) AS rk,
      |         count(*) OVER () AS n,
      |         sum(cents) OVER () AS tot,
      |         sum(cents) OVER (ORDER BY cents, cust
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS cum
      |  FROM rev),
      |p AS (SELECT unnest(range(1, 11)) AS decile)
      |SELECT p.decile, CAST(r.rk AS BIGINT) AS n_customers,
      |       CAST((1000000 * r.cum) // r.tot AS BIGINT) AS cum_share_ppm
      |FROM r JOIN p ON r.rk = (CAST(p.decile AS BIGINT) * r.n + 9) // 10
      |ORDER BY p.decile
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // customer dim grows with the business: rank + running revenue
    // sum are bucket-parallel (globalRankCum over $10k revenue bands;
    // per-band count/sum offsets broadcast back), n/tot a broadcast
    // scalar agg — no fact-sized single-partition Exchange anywhere
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum((col("o_totalprice") * 100).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("cents"))
      .materialize() // feeds totals AND the rank/cum pass
    val totals = rev.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    val r = graft.dedup.SortedNeighborhood.globalRankCum(
        rev.withColumn("__bkt", expr("cents div 1000000")),
        idCol = "cust", bucketCol = "__bkt", tieCols = Seq("cents"),
        cumCol = Some("cents"))
      .withColumnRenamed("__rank", "rk")
      .withColumnRenamed("__cum", "cum")
      .crossJoin(broadcast(totals))
    val deciles = s.range(1, 11).select(col("id").as("decile"))
    r.join(broadcast(deciles),
        col("rk") === expr("(decile * n + 9) div 10"))
      .select(col("decile"), col("rk").as("n_customers"),
        expr("CAST((1000000 * cum) div tot AS BIGINT)")
          .as("cum_share_ppm"))
      .orderBy(col("decile"))
  }

  /** Cohort LTV curve (q112's retention triangle weighted by value):
    * users cohorted by first active day; per (cohort, age) the exact
    * decimal value sum and its running cumulative — the
    * lifetime-value-by-age table every growth model calibrates
    * against. The cumulative window runs over the cohort×age dim, not
    * the log. */
  def q200: Q = Q(
    "q200_cohort_ltv",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d, value
      |  FROM events),
      |c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id),
      |v AS (
      |  SELECT c.cohort, e.d - c.cohort AS age,
      |         sum(CAST(e.value AS DECIMAL(28,6))) AS val
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  GROUP BY c.cohort, e.d - c.cohort),
      |n AS (SELECT cohort, count(*) AS cohort_users FROM c GROUP BY cohort)
      |SELECT v.cohort, v.age,
      |       CAST(n.cohort_users AS BIGINT) AS cohort_users,
      |       CAST(v.val AS DOUBLE) AS value_at_age,
      |       CAST(sum(v.val) OVER (PARTITION BY v.cohort ORDER BY v.age
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS DOUBLE) AS cum_value
      |FROM v JOIN n ON v.cohort = n.cohort
      |ORDER BY v.cohort, v.age
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("d"),
        col("value"))
      .materialize() // feeds the cohort dim and the value rollup
    val c = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      .materialize()
    val v = e.join(c, Seq("user_id"))
      .groupBy(col("cohort"), (col("d") - col("cohort")).as("age"))
      .agg(sum(col("value").cast(DecimalType(28, 6))).as("__val"))
    val n = c.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_users"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v.join(n, Seq("cohort"))
      .select(col("cohort"), col("age"), col("cohort_users"),
        col("__val").cast("double").as("value_at_age"),
        sum(col("__val")).over(wCum).cast("double").as("cum_value"))
      .orderBy(col("cohort"), col("age"))
  }

  /** Per-source length-distribution shape (Profile.shape): skewness +
    * excess kurtosis from exact integer power sums — the "is this
    * source one regime or two" diagnostic next to q173's robust mean
    * and q134's basic profile. Central-moment combinations stay exact
    * integers (HUGEINT/decimal); the n powers cancel in both ratios so
    * each stat is one pinned IEEE sequence. */
  def q195: Q = Q(
    "q195_length_shape",
    Some("""
      |WITH b AS (
      |  SELECT source, CAST(TRY_CAST(n_chars AS DECIMAL(18,0)) AS HUGEINT)
      |           AS x
      |  FROM documents
      |  WHERE TRY_CAST(n_chars AS DECIMAL(18,0)) IS NOT NULL),
      |s AS (
      |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
      |         sum(x) AS s1,
      |         sum(x * x) AS s2,
      |         sum(x * x * x) AS s3,
      |         sum(x * x * x * x) AS s4
      |  FROM b GROUP BY source),
      |m AS (
      |  SELECT source, n,
      |         CAST(n * s2 - s1 * s1 AS DOUBLE) AS m2,
      |         CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      |              AS DOUBLE) AS m3,
      |         CAST(n * n * n * s4 - 4 * n * n * s1 * s3
      |              + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      |              AS DOUBLE) AS m4
      |  FROM s)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |       CASE WHEN m2 > 0 THEN m3 / (sqrt(m2) * m2) END AS skewness,
      |       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS ex_kurtosis
      |FROM m ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    graft.operators.Profile.shape(Tables.documents(s, dir),
        Seq("source"), "n_chars")
      .orderBy(col("source"))
  }

  /** Oracle CTEs `e`/`s1`/`s2`/`s3`: the view → click → purchase
    * funnel as three chained per-user windows; s3 carries t1, t2, t3,
    * each the first ns of its stage at or after the previous one. */
  private def sqlFunnelStages: String =
    """e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ns FROM events),
      |s1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN ns END)
      |    OVER (PARTITION BY user_id) AS t1 FROM e),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
      |                      AND ns >= t1 THEN ns END)
      |    OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
      |                      AND ns >= t2 THEN ns END)
      |    OVER (PARTITION BY user_id) AS t3 FROM s2)""".stripMargin

  /** Funnel stage-conversion report (over Funnel.funnel): the per-user
    * stage table collapsed to the marketing-facing shape — entities
    * reaching each stage, step conversion ppm (vs previous stage) and
    * overall conversion ppm (vs stage 1), all exact integer
    * divisions. */
  def q192: Q = Q(
    "q192_funnel_report",
    Some(s"""
      |WITH ${sqlFunnelStages},
      |agg AS (
      |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      |  FROM s3 GROUP BY user_id),
      |c AS (
      |  SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3
      |  FROM agg),
      |stages AS (
      |  SELECT 1 AS stage, 'view' AS name, n1 AS reached, n1 AS prev,
      |         n1 AS first FROM c
      |  UNION ALL SELECT 2, 'click', n2, n1, n1 FROM c
      |  UNION ALL SELECT 3, 'purchase', n3, n2, n1 FROM c)
      |SELECT CAST(stage AS BIGINT) AS stage, name,
      |       CAST(reached AS BIGINT) AS reached,
      |       CAST(CASE WHEN prev > 0 THEN (1000000 * reached) // prev END
      |            AS BIGINT) AS step_ppm,
      |       CAST(CASE WHEN first > 0 THEN (1000000 * reached) // first END
      |            AS BIGINT) AS overall_ppm
      |FROM stages ORDER BY stage
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Funnel
    val stages = Seq("view", "click", "purchase")
    val f = Funnel.funnel(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts")),
        "user_id", "event_type", "ts", stages)
      .agg(count(col("t_1")).as("n1"), count(col("t_2")).as("n2"),
        count(col("t_3")).as("n3"))
      .materialize() // 1-row dim feeding all three stage rows
    val rows = Seq((1, "view", "n1", "n1"), (2, "click", "n2", "n1"),
      (3, "purchase", "n3", "n2"))
    rows.map { case (i, name, reached, prev) =>
      f.select(lit(i.toLong).as("stage"), lit(name).as("name"),
        col(reached).as("reached"),
        expr(s"CASE WHEN $prev > 0 THEN (1000000 * $reached) div $prev END")
          .as("step_ppm"),
        expr(s"CASE WHEN n1 > 0 THEN (1000000 * $reached) div n1 END")
          .as("overall_ppm"))
    }.reduce(_ unionByName _).orderBy(col("stage"))
  }

  /** Deterministic A/B split + two-proportion z-test (composition:
    * Sampling.hashBucket → exact counts → one pinned IEEE sequence):
    * users hash-split 50/50, outcome = "ever purchased", and the
    * pooled z statistic computed from exact integers with the stated
    * op order — the experiment-readout shape, reproducible to the
    * bit because the split is content-addressed, never random. */
  def q193: Q = Q(
    "q193_ab_ztest",
    Some(s"""
      |WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN (${sqlSaltedHash("CAST(user_id AS VARCHAR)", "ab_v1")})
      |                   % 100 < 50 THEN 'A' ELSE 'B' END AS arm,
      |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS x_a,
      |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS x_b
      |  FROM u)
      |SELECT n_a, x_a, n_b, x_b,
      |       CASE WHEN n_a > 0 AND n_b > 0
      |                 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
      |         (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |         / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |                * (1.0 - CAST(x_a + x_b AS DOUBLE)
      |                         / CAST(n_a + n_b AS DOUBLE))
      |                * (1.0 / CAST(n_a AS DOUBLE)
      |                   + 1.0 / CAST(n_b AS DOUBLE)))
      |       END AS z
      |FROM c
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Sampling
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("y"))
      .withColumn("arm",
        when(Sampling.hashBucket(col("user_id"), "ab_v1") < 50, "A")
          .otherwise("B"))
    val c = u.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "A", col("y").cast("long")).otherwise(0L))
        .as("x_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "B", col("y").cast("long")).otherwise(0L))
        .as("x_b"))
    val pd = col("x_a").cast("double") / col("n_a").cast("double") -
      col("x_b").cast("double") / col("n_b").cast("double")
    val pool = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val z = pd / sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    c.withColumn("z",
      when(col("n_a") > 0 && col("n_b") > 0 &&
        col("x_a") + col("x_b") > 0 &&
        col("x_a") + col("x_b") < col("n_a") + col("n_b"), z))
  }

  /** Sliding-window HLL vs exact rolling actives (HyperLogLog
    * .rollingMerge × Funnel.rollingActives): 7-day distinct users per
    * day, exact AND sketch-estimated side by side with the signed
    * error — register max decomposes over windows, so the sketch
    * slide costs m·7 register rows per day where the exact form
    * re-touches every (user, day); this is the number that licenses
    * switching at 100 TB (q156's calibration discipline on sketches).
    * Every register and the estimate replay exactly in the oracle. */
  def q191: Q = {
    val m = 64
    val cap = graft.operators.HyperLogLog.RhoCap
    val rhoCase = graft.operators.HyperLogLog.sqlRhoCase
    val termCase = graft.operators.HyperLogLog.sqlTermCase
    val aM2 = graft.operators.HyperLogLog.alphaM2(m)
    Q("q191_rolling_hll",
      Some(s"""
        |WITH a AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM a),
        |contrib AS (
        |  SELECT DISTINCT user_id, d + off AS day
        |  FROM a, unnest(range(0, 7)) AS u(off)),
        |exact AS (
        |  SELECT c.day, count(*) AS rolling_exact
        |  FROM contrib c JOIN days USING (day)
        |  GROUP BY c.day),
        |h AS (
        |  SELECT DISTINCT d,
        |         (${sqlSaltedHash("CAST(user_id AS VARCHAR)", "hll")}) AS hv
        |  FROM a),
        |w AS (SELECT d, hv % $m AS bucket, hv // $m AS w FROM h),
        |reg AS (
        |  SELECT d, bucket, max(CASE $rhoCase ELSE $cap END) AS r
        |  FROM w GROUP BY d, bucket),
        |roll AS (
        |  SELECT rd.day, rg.bucket, max(rg.r) AS r
        |  FROM (SELECT d, d + off AS day
        |        FROM (SELECT DISTINCT d FROM reg), unnest(range(0, 7)) AS u(off)) rd
        |  JOIN days USING (day)
        |  JOIN reg rg ON rg.d = rd.d
        |  GROUP BY rd.day, rg.bucket),
        |agg AS (
        |  SELECT day, count(*) AS occ, sum(r) AS sum_r,
        |         sum(CASE $termCase END) AS occ_terms
        |  FROM roll GROUP BY day),
        |dd AS (
        |  SELECT day, occ, sum_r,
        |         CAST(CAST($m - occ AS DECIMAL(38,12))
        |              + CAST(occ_terms AS DECIMAL(38,12)) AS DOUBLE) AS denom
        |  FROM agg),
        |e AS (
        |  SELECT day, occ, sum_r, $aM2 / denom AS est_raw FROM dd),
        |est AS (
        |  SELECT day, CAST($m - occ AS BIGINT) AS v_empty,
        |         CAST(sum_r AS BIGINT) AS sum_r,
        |         CASE WHEN est_raw <= CAST($m AS DOUBLE) * 2.5
        |                   AND $m - occ > 0
        |              THEN CAST(CAST(-$m AS DECIMAL(10,0)) *
        |                     CAST(ln(CAST($m - occ AS DOUBLE)
        |                             / CAST($m AS DOUBLE)) AS DECIMAL(18,9))
        |                   AS DOUBLE)
        |              ELSE est_raw END AS est
        |  FROM e)
        |SELECT est.day, CAST(exact.rolling_exact AS BIGINT) AS rolling_exact,
        |       est.v_empty, est.sum_r, est.est,
        |       est.est - CAST(exact.rolling_exact AS DOUBLE) AS err
        |FROM est JOIN exact ON est.day = exact.day
        |ORDER BY est.day
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.{Funnel, HyperLogLog}
      val a = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      val exact = Funnel.rollingActives(a, "user_id", "d", window = 7)
        .select(col("day"), col("rolling_actives").as("rolling_exact"))
      val sk = HyperLogLog.sketch(a.distinct(), Seq("d"), "user_id", m, "hll")
      val est = HyperLogLog.estimate(
          HyperLogLog.rollingMerge(sk, "d", window = 7), Seq("d"))
        .select(col("d").as("day"), col("v_empty"), col("sum_r"), col("est"))
      est.join(exact, Seq("day"))
        .select(col("day"), col("rolling_exact"), col("v_empty"),
          col("sum_r"), col("est"),
          (col("est") - col("rolling_exact").cast("double")).as("err"))
        .orderBy(col("day"))
    }
  }

  /** Autocorrelation function of the daily event-count series
    * (composition: daily counts → per-lag self-join → Stats.linearFit
    * with keys = lag): ACF at lags 1-7, each lag's corr from exact
    * integer moment sums — the seasonality probe ("is there a weekly
    * cycle?") with q142's no-quantization exactness. The series dim is
    * day-sized, so the lag joins are dim joins. */
  def q189: Q = Q(
    "q189_daily_autocorrelation",
    Some("""
      |WITH c AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS d,
      |         CAST(count(*) AS BIGINT) AS v
      |  FROM events GROUP BY 1),
      |lags AS (SELECT unnest(range(1, 8)) AS lag),
      |b AS (
      |  SELECT lags.lag, prev.v AS x, cur.v AS y
      |  FROM lags
      |  JOIN c cur ON TRUE
      |  JOIN c prev ON prev.d = cur.d - lags.lag),
      |s AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM b GROUP BY lag),
      |d AS (
      |  SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) AS num_d,
      |         CAST(n * sxx - sx * sx AS DOUBLE) AS dx_d,
      |         CAST(n * syy - sy * sy AS DOUBLE) AS dy_d
      |  FROM s)
      |SELECT lag, n,
      |       CASE WHEN dx_d > 0 AND dy_d > 0
      |            THEN num_d / (sqrt(dx_d) * sqrt(dy_d)) END AS acf
      |FROM d ORDER BY lag
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Stats
    val c = Tables.events(s, dir)
      .groupBy(expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("v"))
      .materialize() // day-sized series dim feeding both join legs ×7 lags
    val lags = s.range(1, 8).select(col("id").as("lag"))
    val pairs = lags.crossJoin(c.select(col("d").as("__dc"), col("v").as("y")))
      .join(c.select(col("d").as("__dp"), col("v").as("x")),
        col("__dp") === col("__dc") - col("lag"))
    Stats.linearFit(pairs, Seq("lag"), col("x"), col("y"))
      .select(col("lag"), col("n"), col("corr").as("acf"))
      .orderBy(col("lag"))
  }

  /** Shard-balance audit (composition: Sharding.rendezvousAssign →
    * Stats.chiSquareGof): documents rendezvous-assigned to 8 shards,
    * the mix tested against the uniform 125000-ppm law — the "is my
    * sharding actually balanced" gate a 100 TB writer runs before
    * committing a layout. */
  def q190: Q = {
    val nShards = 8
    val expSql = (0 until nShards)
      .map(i => s"SELECT '$i' AS cat, 125000 AS eppm")
      .mkString(" UNION ALL ")
    Q("q190_shard_balance",
      Some(s"""
        |WITH s AS (SELECT unnest(range(0, $nShards)) AS shard),
        |wt AS (
        |  SELECT doc_id, s.shard,
        |         (${sqlSaltedHash(
                     "(CAST(doc_id AS VARCHAR) || '#' || CAST(s.shard AS VARCHAR))",
                     "rdv_v1:hrw")}) AS w
        |  FROM documents, s),
        |asg AS (
        |  SELECT doc_id, CAST(shard AS VARCHAR) AS shard FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY w DESC, shard) AS rn
        |    FROM wt)
        |  WHERE rn = 1),
        |obs AS (SELECT shard, count(*) AS o FROM asg GROUP BY 1),
        |exp AS ($expSql),
        |tot AS (SELECT sum(o) AS n FROM obs),
        |grid AS (
        |  SELECT tot.n, exp.cat, exp.eppm, coalesce(obs.o, 0) AS o
        |  FROM tot CROSS JOIN exp
        |  LEFT JOIN obs ON obs.shard = exp.cat),
        |terms AS (
        |  SELECT n,
        |         CAST(CAST((1000000 * CAST(o AS HUGEINT) - n * eppm)
        |                   * (1000000 * CAST(o AS HUGEINT) - n * eppm)
        |                   AS DOUBLE)
        |              / CAST(1000000 * CAST(n AS HUGEINT) * eppm AS DOUBLE)
        |              AS DECIMAL(18,9)) AS t
        |  FROM grid)
        |SELECT CAST(min(n) AS BIGINT) AS n,
        |       CAST(0 AS BIGINT) AS n_unexpected,
        |       CAST(sum(t) AS DOUBLE) AS chi2
        |FROM terms
        |""".stripMargin)) { (s, dir) =>
      import graft.text.Sharding
      val asg = Sharding.rendezvousAssign(
        Tables.documents(s, dir).select("doc_id"), "doc_id", nShards,
        "rdv_v1")
      graft.operators.Stats.chiSquareGof(asg, Seq(), col("shard"),
        (0 until nShards).map(i => i.toString -> 125000L))
    }
  }

  /** Funnel conversion-latency percentiles (composition: Funnel.funnel
    * → OrderStats.quantilesDisc): among users who completed
    * view→click→purchase, the exact p25/p50/p75/p90/p99 of the
    * view-to-purchase latency — "how long does conversion take", in
    * actual observed µs (no interpolation). */
  def q187: Q = Q(
    "q187_funnel_latency",
    Some(s"""
      |WITH ${sqlFunnelStages},
      |agg AS (
      |  SELECT user_id, max(t1) AS t1, max(t3) AS t3
      |  FROM s3 GROUP BY user_id),
      |lat AS (
      |  SELECT (t3 - t1) // 1000 AS lat_us FROM agg
      |  WHERE t3 IS NOT NULL),
      |r AS (
      |  SELECT 'all' AS scope, lat_us,
      |         row_number() OVER (ORDER BY lat_us) AS rn,
      |         count(*) OVER () AS n
      |  FROM lat),
      |p AS (SELECT unnest([250, 500, 750, 900, 990]) AS permille)
      |SELECT r.scope, p.permille, r.lat_us AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY permille
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.{Funnel, OrderStats}
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val lat = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .where(col("t_3").isNotNull)
      .select(lit("all").as("scope"),
        expr("(t_3 - t_1) div 1000").as("lat_us"))
    OrderStats.quantilesDisc(lat, Seq("scope"), "lat_us",
        Seq(250, 500, 750, 900, 990))
      .orderBy(col("permille"))
  }

  /** Rolling 7-day distinct actives (Funnel.rollingActives): per
    * observed day, DAU / trailing-7-day actives / stickiness — the
    * engagement profile whose sliding DISTINCT no window frame can
    * express; the exact shape is a bounded ×7 contribution explode of
    * deduped (user, day) rows, never a range self-join. */
  def q188: Q = Q(
    "q188_rolling_actives",
    Some("""
      |WITH a AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
      |  FROM events),
      |days AS (SELECT DISTINCT d AS day FROM a),
      |dau AS (SELECT d AS day, count(*) AS dau FROM a GROUP BY 1),
      |contrib AS (
      |  SELECT DISTINCT user_id, d + off AS day
      |  FROM a, unnest(range(0, 7)) AS u(off)),
      |rolling AS (
      |  SELECT c.day, count(*) AS rolling_actives
      |  FROM contrib c JOIN days USING (day)
      |  GROUP BY c.day)
      |SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
      |       CAST(rolling.rolling_actives AS BIGINT) AS rolling_actives,
      |       CAST((1000000 * dau.dau) // rolling.rolling_actives
      |            AS BIGINT) AS stickiness_ppm
      |FROM dau JOIN rolling USING (day)
      |ORDER BY dau.day
      |""".stripMargin)) { (s, dir) =>
    graft.operators.Funnel.rollingActives(
        Tables.events(s, dir)
          .select(col("user_id"), expr("ts div 86400000000000").as("d")),
        "user_id", "d", window = 7)
      .orderBy(col("day"))
  }

  /** Personalized PageRank (TextRank.personalizedPageRank): teleport
    * restricted to the src0 documents over q176's shared-prefix
    * similarity graph — "how much does the trusted core endorse this
    * doc", the seed-propagation scoring for graph-based curation.
    * Scaled-integer iteration (q99's discipline), oracle unrolls all
    * 4 rounds with the seed-gated teleport term. */
  def q186: Q = {
    val rounds = 4
    val roundCtes = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT e.dst AS node,
         |         sum((17 * ((e.w * l.rank) // outw.wout)) // 20) AS s
         |  FROM e JOIN outw USING (src)
         |  JOIN l${r - 1} l ON l.node = e.src
         |  GROUP BY 1),
         |l$r AS (
         |  SELECT n.node,
         |         (CASE WHEN sd.node IS NOT NULL
         |               THEN (3000000000 // (20 * ns.s)) ELSE 0 END
         |          + coalesce(c.s, 0)) AS rank
         |  FROM nodes n
         |  LEFT JOIN seeds sd ON n.node = sd.node
         |  LEFT JOIN c$r c ON n.node = c.node
         |  CROSS JOIN ns)""".stripMargin
    }.mkString(",\n")
    Q("q186_personalized_pagerank",
      Some(s"""
        |WITH pr AS (
        |  SELECT doc_id, substr(trim(text), 1, 12) AS sx FROM documents
        |  WHERE text IS NOT NULL),
        |p0 AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM pr x JOIN pr y ON x.sx = y.sx AND x.doc_id < y.doc_id),
        |e AS (
        |  SELECT a AS src, b AS dst, CAST(1 AS BIGINT) AS w FROM p0
        |  UNION ALL
        |  SELECT b AS src, a AS dst, CAST(1 AS BIGINT) AS w FROM p0),
        |outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |seeds AS (
        |  SELECT DISTINCT d.doc_id AS node FROM documents d
        |  JOIN nodes n ON n.node = d.doc_id
        |  WHERE d.source = 'src0'),
        |ns AS (SELECT count(*) AS s FROM seeds),
        |l0 AS (
        |  SELECT n.node,
        |         CASE WHEN sd.node IS NOT NULL
        |              THEN (1000000000 // ns.s) ELSE 0 END AS rank
        |  FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node
        |  CROSS JOIN ns),
        |$roundCtes
        |SELECT node, CAST(rank AS BIGINT) AS rank
        |FROM l$rounds ORDER BY node
        |""".stripMargin)) { (s, dir) =>
      import graft.text.TextRank
      val docs = Tables.documents(s, dir)
      val p = docs.where(col("text").isNotNull)
        .select(col("doc_id"), substring(trim(col("text")), 1, 12).as("sx"))
      val pairs = p.select(col("doc_id").as("a"), col("sx"))
        .join(p.select(col("doc_id").as("b"), col("sx")), Seq("sx"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"))
      val edges = pairs
        .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("w"))
        .unionByName(pairs
          .select(col("b").as("src"), col("a").as("dst"), lit(1L).as("w")))
      TextRank.personalizedPageRank(edges, "src", "dst", "w",
          docs.where(col("source") === "src0"), "doc_id",
          iterations = rounds)
        .orderBy(col("node"))
    }
  }

  /** DuckDB expression for RandomProject.projectMilli: per output dim
    * j, Σ_i s_ij·⌊1000·vec[i]⌋ with the salt-derived ±1 literals
    * interpolated (the MinHash-perms discipline — published constants
    * shared into both engines). */
  private def sqlJlProj(vec: String, inDims: Int, outDims: Int,
      salt: String): String = {
    val comps = (0 until outDims).map { j =>
      val signs = (0 until inDims)
        .map(i => graft.sim.RandomProject.sign(i, j, salt))
        .mkString("[", ", ", "]")
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(1, ${inDims + 1}),
         |    i -> CAST($signs[i] AS BIGINT)
         |         * CAST(floor(CAST($vec[i] AS DOUBLE) * 1000) AS BIGINT))),
         |  (x, y) -> x + y)""".stripMargin
    }
    comps.mkString("[", ",\n", "]")
  }

  /** JL random projection (sim/RandomProject.projectMilli): 64-dim
    * float embeddings squeezed to 16 exact integer dims through a
    * salt-derived ±1 matrix — scan-stage only, zero exchanges; the
    * whole projection is hash-comparable because milli-quantization
    * and the sign literals are shared constants. */
  def q183: Q = Q(
    "q183_jl_projection",
    // arrays never meet the driver hasher (q27's rule): emit the fold
    // checksum + the exact integer norm of each projected vector
    Some(s"""
      |WITH p AS (
      |  SELECT vec_id, ${sqlJlProj("embedding", 64, 16, "jl_v1")} AS proj
      |  FROM embeddings)
      |SELECT vec_id,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT), proj),
      |                   (a, v) -> (a * 31 + v) % 2147483647)
      |         AS proj_checksum,
      |       CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |              list_transform(proj, v -> CAST(v AS HUGEINT) * v)),
      |              (a, v) -> a + v) AS BIGINT) AS norm2
      |FROM p ORDER BY vec_id
      |""".stripMargin)) { (s, dir) =>
    graft.sim.RandomProject.projectMilli(
        Tables.embeddings(s, dir), col("embedding"), 64, 16, "jl_v1")
      .select(col("vec_id"),
        expr("aggregate(proj, CAST(0 AS BIGINT), " +
          "(a, v) -> (a * 31 + v) % 2147483647)").as("proj_checksum"),
        expr("aggregate(proj, CAST(0 AS DECIMAL(38,0)), " +
          "(a, v) -> CAST(a + CAST(v AS DECIMAL(38,0)) * v " +
          "AS DECIMAL(38,0)))").cast("long").as("norm2"))
      .orderBy(col("vec_id"))
  }

  /** JL distance-preservation calibration (q156's discipline applied
    * to q183): every pair among the first 50 vectors scored with the
    * ORIGINAL float cosine next to the PROJECTED integer cosine and
    * the signed error — the evidence that 16 dims preserve enough
    * geometry before an index switches to them. Projected dots/norms
    * are exact longs; each cosine is one pinned divide. */
  def q184: Q = Q(
    "q184_jl_calibration",
    Some(s"""
      |WITH e AS (
      |  SELECT vec_id, embedding,
      |         ${sqlJlProj("embedding", 64, 16, "jl_v1")} AS proj
      |  FROM embeddings WHERE vec_id < 50),
      |p AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |         ${sqlCosine("a.embedding", "b.embedding")} AS cos_orig,
      |         CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |                list_transform(range(1, 17),
      |                  i -> CAST(a.proj[i] AS HUGEINT) * b.proj[i])),
      |                (x, y) -> x + y) AS DOUBLE)
      |           / (sqrt(CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |                list_transform(range(1, 17),
      |                  i -> CAST(a.proj[i] AS HUGEINT) * a.proj[i])),
      |                (x, y) -> x + y) AS DOUBLE))
      |              * sqrt(CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |                list_transform(range(1, 17),
      |                  i -> CAST(b.proj[i] AS HUGEINT) * b.proj[i])),
      |                (x, y) -> x + y) AS DOUBLE))) AS cos_proj
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT va, vb, cos_orig, cos_proj, cos_proj - cos_orig AS err
      |FROM p ORDER BY va, vb
      |""".stripMargin)) { (s, dir) =>
    val base = graft.sim.RandomProject.projectMilli(
        Tables.embeddings(s, dir).where(col("vec_id") < 50),
        col("embedding"), 64, 16, "jl_v1")
      .select(col("vec_id"), col("embedding"), col("proj"))
    import org.apache.spark.sql.Column
    // native kernels, not interpreted lambda folds: dotDouble replays
    // the identical left-fold IEEE sequence; the integer dot is exact
    // (|proj| ≤ 64·10³·10³ ⇒ products ≪ 2⁵³, so the former
    // decimal-fold value survives both the long math and the final
    // double cast bit-for-bit)
    def dot(a: Column, b: Column): Column =
      graft.functions.SketchExprs.dotDouble(a, b)
    def dotL(a: Column, b: Column): Column =
      graft.functions.SketchExprs.dotLong(a, b)
    val x = base.select(col("vec_id").as("va"),
      col("embedding").as("__ea"), col("proj").as("__pa"))
    val y = base.select(col("vec_id").as("vb"),
      col("embedding").as("__eb"), col("proj").as("__pb"))
    x.join(y, col("va") < col("vb"))
      .withColumn("cos_orig",
        dot(col("__ea"), col("__eb")) /
          (sqrt(dot(col("__ea"), col("__ea"))) *
            sqrt(dot(col("__eb"), col("__eb")))))
      .withColumn("cos_proj",
        dotL(col("__pa"), col("__pb")).cast("double") /
          (sqrt(dotL(col("__pa"), col("__pa")).cast("double")) *
            sqrt(dotL(col("__pb"), col("__pb")).cast("double"))))
      .withColumn("err", col("cos_proj") - col("cos_orig"))
      .select(col("va"), col("vb"), col("cos_orig"), col("cos_proj"),
        col("err"))
      .orderBy(col("va"), col("vb"))
  }

  /** PMI collocations (text/Collocations.pmiPairs): adjacent token
    * pairs scored by ln(c_wv·T1²/(T2·c_w·c_v)) — the exact integer
    * rational inside one pinned divide, ln quantized to DECIMAL(18,9),
    * emitted as ⌊1000·q9⌋. T2 counts ALL bigrams (the rare-pair prune
    * happens after the totals, before the joins). */
  def q182: Q = Q(
    "q182_pmi_collocations",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |u AS (SELECT unnest(toks) AS w FROM t),
      |c1 AS (SELECT w, count(*) AS c_w FROM u GROUP BY w),
      |b AS (
      |  SELECT unnest(list_transform(
      |           range(1, greatest(len(toks) - 1, 0) + 1),
      |           i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM t),
      |bi_all AS (SELECT g, count(*) AS c_pair FROM b GROUP BY g),
      |t1 AS (SELECT sum(c_w) AS t1 FROM c1),
      |t2 AS (SELECT sum(c_pair) AS t2 FROM bi_all),
      |bi AS (
      |  SELECT string_split(g, ' ')[1] AS w, string_split(g, ' ')[2] AS v,
      |         c_pair
      |  FROM bi_all WHERE c_pair >= 30)
      |SELECT bi.w, bi.v, CAST(bi.c_pair AS BIGINT) AS c_pair,
      |       CAST(cw.c_w AS BIGINT) AS c_w,
      |       CAST(cv.c_w AS BIGINT) AS c_v,
      |       CAST(floor(CAST(ln(
      |         CAST(CAST(bi.c_pair AS HUGEINT) * t1.t1 * t1.t1 AS DOUBLE)
      |           / CAST(CAST(t2.t2 AS HUGEINT) * cw.c_w * cv.c_w AS DOUBLE))
      |         AS DECIMAL(18,9)) * 1000) AS BIGINT) AS pmi_milli
      |FROM bi
      |JOIN c1 cw ON bi.w = cw.w
      |JOIN c1 cv ON bi.v = cv.w
      |CROSS JOIN t1 CROSS JOIN t2
      |ORDER BY bi.w, bi.v
      |""".stripMargin)) { (s, dir) =>
    graft.text.Collocations.pmiPairs(
        Tables.documents(s, dir).where(col("text").isNotNull),
        col("text"), minCount = 30L)
      .orderBy(col("w"), col("v"))
  }

  /** Quantile normalization (OrderStats.quantileNormalize): every
    * document's length re-expressed as the CORPUS length at its
    * within-source percent rank — cross-source feature alignment with
    * pure integer rank math (q159's permille × q127's rank selection;
    * the normalized value is an actual datum, nothing interpolates).
    * The permille→value dim is ≤1001 rows and broadcasts. */
  def q181: Q = Q(
    "q181_quantile_normalize",
    Some("""
      |WITH c AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE n_chars IS NOT NULL),
      |g AS (
      |  SELECT doc_id, source, n_chars,
      |         CASE WHEN cnt > 1 THEN ((rk - 1) * 1000) // (cnt - 1)
      |              ELSE 0 END AS permille
      |  FROM (SELECT *,
      |               rank() OVER (PARTITION BY source ORDER BY n_chars)
      |                 AS rk,
      |               count(*) OVER (PARTITION BY source) AS cnt
      |        FROM c)),
      |r AS (
      |  SELECT n_chars,
      |         row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
      |  FROM c),
      |n AS (SELECT count(*) AS cnt FROM c),
      |t AS (
      |  SELECT p AS permille,
      |         greatest(1, (p * cnt + 999) // 1000) AS rnk
      |  FROM (SELECT unnest(range(0, 1001)) AS p) CROSS JOIN n),
      |q AS (SELECT t.permille, r.n_chars AS normalized FROM t JOIN r USING (rnk))
      |SELECT g.doc_id, g.source, g.n_chars, g.permille, q.normalized
      |FROM g JOIN q USING (permille)
      |ORDER BY g.doc_id
      |""".stripMargin)) { (s, dir) =>
    graft.operators.OrderStats.quantileNormalize(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        Seq("source"), "n_chars", "doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("permille"), col("normalized"))
      .orderBy(col("doc_id"))
  }

  /** Hour-of-day uniformity test per event type (Stats.chiSquareGof):
    * χ² against a stated uniform law (41666 ppm × 24 hours — the
    * STATED weights are the contract, so no 1/24 rational ever meets a
    * float). Every term is the exact rational
    * (10⁶·o − n·e)²/(10⁶·n·e), quantized to DECIMAL(18,9) before the
    * order-free sum — the PSI discipline for goodness-of-fit. */
  def q179: Q = {
    val expSql = (0 until 24)
      .map(h => s"SELECT '$h' AS cat, 41666 AS eppm").mkString(" UNION ALL ")
    Q("q179_hourly_uniformity",
      Some(s"""
        |WITH ev AS (
        |  SELECT event_type,
        |         CAST((epoch_ns(ts) // 3600000000000) % 24 AS VARCHAR) AS h
        |  FROM events),
        |obs AS (SELECT event_type, h, count(*) AS o FROM ev GROUP BY 1, 2),
        |exp AS ($expSql),
        |tot AS (SELECT event_type, sum(o) AS n FROM obs GROUP BY 1),
        |grid AS (
        |  SELECT tot.event_type, tot.n, exp.cat, exp.eppm,
        |         coalesce(obs.o, 0) AS o
        |  FROM tot CROSS JOIN exp
        |  LEFT JOIN obs ON obs.event_type = tot.event_type
        |                AND obs.h = exp.cat),
        |terms AS (
        |  SELECT event_type, n,
        |         CAST(CAST((1000000 * CAST(o AS HUGEINT) - n * eppm)
        |                   * (1000000 * CAST(o AS HUGEINT) - n * eppm)
        |                   AS DOUBLE)
        |              / CAST(1000000 * CAST(n AS HUGEINT) * eppm AS DOUBLE)
        |              AS DECIMAL(18,9)) AS t
        |  FROM grid)
        |SELECT event_type, CAST(min(n) AS BIGINT) AS n,
        |       CAST(0 AS BIGINT) AS n_unexpected,
        |       CAST(sum(t) AS DOUBLE) AS chi2
        |FROM terms GROUP BY event_type ORDER BY event_type
        |""".stripMargin)) { (s, dir) =>
      val hoursScala = (0 until 24).map(h => h.toString -> 41666L)
      graft.operators.Stats.chiSquareGof(
          Tables.events(s, dir),
          Seq("event_type"),
          expr("CAST((ts div 3600000000000) % 24 AS STRING)"),
          hoursScala)
        .orderBy(col("event_type"))
    }
  }

  /** Benford first-digit test over order prices (Stats.chiSquareGof):
    * the fraud/synthetic-data screen — first digits of
    * l_extendedprice against the Benford ppm law (quantized once as
    * shared literals). Digit extraction goes through an exact long
    * floor then substring of the INTEGER's string (a double's string
    * is not cross-engine; a bigint's is). */
  def q180: Q = {
    val benford = Seq("1" -> 301029L, "2" -> 176091L, "3" -> 124938L,
      "4" -> 96910L, "5" -> 79181L, "6" -> 66946L, "7" -> 57991L,
      "8" -> 51152L, "9" -> 45757L)
    val expSql = benford
      .map { case (d, p) => s"SELECT '$d' AS cat, $p AS eppm" }
      .mkString(" UNION ALL ")
    Q("q180_benford_prices",
      Some(s"""
        |WITH src AS (
        |  SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
        |                     AS VARCHAR), 1, 1) AS d
        |  FROM lineitem WHERE l_extendedprice >= 1),
        |obs AS (SELECT d, count(*) AS o FROM src GROUP BY 1),
        |exp AS ($expSql),
        |tot AS (
        |  SELECT sum(CASE WHEN exp.cat IS NOT NULL THEN o ELSE 0 END) AS n,
        |         sum(CASE WHEN exp.cat IS NULL THEN o ELSE 0 END) AS nu
        |  FROM obs LEFT JOIN exp ON obs.d = exp.cat),
        |grid AS (
        |  SELECT tot.n, tot.nu, exp.cat, exp.eppm, coalesce(obs.o, 0) AS o
        |  FROM tot CROSS JOIN exp
        |  LEFT JOIN obs ON obs.d = exp.cat),
        |terms AS (
        |  SELECT n, nu,
        |         CAST(CAST((1000000 * CAST(o AS HUGEINT) - n * eppm)
        |                   * (1000000 * CAST(o AS HUGEINT) - n * eppm)
        |                   AS DOUBLE)
        |              / CAST(1000000 * CAST(n AS HUGEINT) * eppm AS DOUBLE)
        |              AS DECIMAL(18,9)) AS t
        |  FROM grid)
        |SELECT CAST(min(n) AS BIGINT) AS n,
        |       CAST(min(nu) AS BIGINT) AS n_unexpected,
        |       CAST(sum(t) AS DOUBLE) AS chi2
        |FROM terms
        |""".stripMargin)) { (s, dir) =>
      graft.operators.Stats.chiSquareGof(
        Tables.lineitem(s, dir).where(col("l_extendedprice") >= 1),
        Seq(),
        expr("substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) " +
          "AS STRING), 1, 1)"),
        benford)
    }
  }

  /** Score-reliability bins — q170's ranking verdict made actionable:
    * the quantized quality score cut into 10 fixed-width bins, each
    * reporting its English rate as an exact ppm integer plus the exact
    * decimal mean score. A monotone rate column = the score is
    * calibratable; a flat one = the AUC was luck. ONE scan, a
    * 10-row aggregate. */
  def q177: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    Q("q177_score_reliability",
      Some(s"""
        |WITH t0 AS (
        |  SELECT lang, text, ${sqlTokens("text")} AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         CAST(CAST(${sqlQualityExpr(sw)} AS DECIMAL(18,9))
        |              * 1000000000 AS BIGINT) AS s
        |  FROM t0 WHERE len(toks) > 0)
        |SELECT least(s * 10 // 1000000000, 9) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(y) AS BIGINT) AS n_pos,
        |       CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS rate_ppm,
        |       CAST(sum(CAST(s AS HUGEINT)) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS mean_score
        |FROM t GROUP BY 1 ORDER BY bin
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val sw0 = TextAnalysis.LangStopwords.head._2
      Tables.documents(s, dir)
        .where(col("text").isNotNull &&
          TextAnalysis.tokenCount(col("text")) > 0)
        .select(
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          (TextAnalysis.qualityScore(col("text"), sw0)
            .cast(DecimalType(18, 9)) * lit(1000000000L)).cast("long")
            .as("s"))
        .groupBy(least(expr("(s * 10) div 1000000000"), lit(9L)).as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          expr("(1000000 * sum(y)) div count(1)").as("rate_ppm"),
          (sum(col("s").cast("decimal(38,0)")).cast("double") /
            count(lit(1)).cast("double")).as("mean_score"))
        .orderBy(col("bin"))
    }
  }

  /** Entity-resolution capstone (composition: SortedNeighborhood
    * blocking → exact-Jaccard verify → adaptive-CC clustering): every
    * document labeled with its resolved entity, the entity's size, and
    * whether this row is the canonical (min-id) representative — the
    * master-data table an ER pipeline publishes. Candidates come from
    * q146's rank window (never a cross join), the verify is the
    * cross-multiplied integer Jaccard at 0.5, and the transitive
    * closure is q65's CC (driver union-find at this edge count, the
    * distributed fixpoint above 2^20 edges — identical labels). The
    * oracle replays blocking + verify + a recursive reach CTE. */
  def q178: Q = Q(
    "q178_entity_resolution",
    Some(s"""
      |WITH RECURSIVE
      |r AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY n_chars, doc_id) AS rn
      |  FROM documents WHERE n_chars IS NOT NULL),
      |cand AS (
      |  SELECT ra.doc_id AS a, rb.doc_id AS b
      |  FROM r ra JOIN r rb ON rb.rn > ra.rn AND rb.rn <= ra.rn + 3),
      |t AS (
      |  SELECT doc_id,
      |         list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
      |  FROM documents),
      |m AS (
      |  SELECT cand.a AS u, cand.b AS v
      |  FROM cand
      |  JOIN t ta ON ta.doc_id = cand.a
      |  JOIN t tb ON tb.doc_id = cand.b
      |  WHERE len(ta.sh) + len(tb.sh)
      |          - len(list_intersect(ta.sh, tb.sh)) > 0
      |    AND len(list_intersect(ta.sh, tb.sh)) * 100 >=
      |        50 * (len(ta.sh) + len(tb.sh)
      |              - len(list_intersect(ta.sh, tb.sh)))),
      |e AS (SELECT u, v FROM m UNION SELECT v, u FROM m),
      |reach(n, m) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM e) nn(u)
      |  UNION
      |  SELECT e.v, r2.m FROM reach r2 JOIN e ON e.u = r2.n),
      |lbl AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
      |ent AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS entity_id
      |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
      |sz AS (SELECT entity_id, count(*) AS entity_size FROM ent GROUP BY 1)
      |SELECT ent.doc_id, ent.entity_id,
      |       CAST(sz.entity_size AS BIGINT) AS entity_size,
      |       ent.doc_id = ent.entity_id AS is_canonical
      |FROM ent JOIN sz USING (entity_id)
      |ORDER BY ent.doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.{Dedup, SortedNeighborhood}
    val docs = Tables.documents(s, dir)
    val cands = SortedNeighborhood.candidatePairs(
      docs.select(col("doc_id"), col("n_chars"),
        expr("n_chars div 16").as("len_bucket")),
      "doc_id", "len_bucket", Seq("n_chars"), 3)
    val sized = docs
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("__sh"))
      .withColumn("__n", size(col("__sh")).cast("long"))
    val matches = cands
      .join(sized.select(col("doc_id").as("a"), col("__sh").as("__sa"),
        col("__n").as("__na")), "a")
      .join(sized.select(col("doc_id").as("b"), col("__sh").as("__sb"),
        col("__n").as("__nb")), "b")
      .withColumn("__i",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("__u", col("__na") + col("__nb") - col("__i"))
      .where(col("__u") > 0 && col("__i") * 100 >= lit(50L) * col("__u"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val clusters = Dedup.nearDupClusters(matches)
    val ent = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("entity_id"))
    val sizes = ent.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("entity_size"))
    ent.join(sizes, Seq("entity_id"))
      .select(col("doc_id"), col("entity_id"), col("entity_size"),
        (col("doc_id") === col("entity_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Label-propagation communities (operators/LabelProp.propagate)
    * over q155's shared-prefix similarity graph: 4 synchronous rounds,
    * plurality vote with min-label ties — deterministic, so the oracle
    * unrolls every round as CTEs (the TextRank discipline applied to
    * LPA) and the driver hash pins each round's join+count+top-1
    * exactly. */
  def q176: Q = {
    val rounds = 4
    val roundCtes = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT adj.v, l.lab, count(*) AS c
         |  FROM adj JOIN l${r - 1} l ON adj.u = l.v
         |  GROUP BY 1, 2),
         |p$r AS (
         |  SELECT v, lab FROM (
         |    SELECT v, lab,
         |           row_number() OVER (PARTITION BY v
         |                              ORDER BY c DESC, lab) AS rn
         |    FROM c$r)
         |  WHERE rn = 1),
         |l$r AS (
         |  SELECT l.v, coalesce(p.lab, l.lab) AS lab
         |  FROM l${r - 1} l LEFT JOIN p$r p ON l.v = p.v)""".stripMargin
    }.mkString(",\n")
    Q("q176_label_propagation",
      Some(s"""
        |WITH pr AS (
        |  SELECT doc_id, substr(trim(text), 1, 12) AS s FROM documents
        |  WHERE text IS NOT NULL),
        |e0 AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM pr x JOIN pr y ON x.s = y.s AND x.doc_id < y.doc_id),
        |adj AS (
        |  SELECT a AS v, b AS u FROM e0
        |  UNION ALL SELECT b AS v, a AS u FROM e0),
        |l0 AS (SELECT v, v AS lab FROM (SELECT DISTINCT v FROM adj)),
        |$roundCtes
        |SELECT v AS node, lab AS label FROM l$rounds ORDER BY node
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.LabelProp
      val p = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"), substring(trim(col("text")), 1, 12).as("s"))
      val edges = p.select(col("doc_id").as("a"), col("s"))
        .join(p.select(col("doc_id").as("b"), col("s")), Seq("s"))
        .where(col("a") < col("b"))
      LabelProp.propagate(edges, "a", "b", rounds)
        .orderBy(col("node"))
    }
  }

  /** Pairwise Cohen's kappa between q165's four labeling rules
    * (WeakSupervision.pairwiseKappa): chance-corrected agreement from
    * the exact contingency table — κ = (N·A − P)/(N² − P) with every
    * term an integer, so the driver hash pins the whole computation;
    * the self-pairing fans out k²/2 per doc then collapses to a
    * ≤ 9·C(k,2)-row dim. The redundancy report a rule set needs
    * before anyone trusts its majority votes. */
  def q175: Q = Q(
    "q175_rule_kappa",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, lang, n_chars, ${sqlTokens("text")} AS toks
      |  FROM documents),
      |v AS (
      |  SELECT doc_id,
      |         CASE WHEN n_chars BETWEEN 100 AND 520 THEN 1 ELSE -1 END
      |           AS r1,
      |         CASE WHEN lang IN ('en', 'de') THEN 1 ELSE 0 END AS r2,
      |         CASE WHEN len(toks) BETWEEN 20 AND 95 THEN 1 ELSE -1 END
      |           AS r3,
      |         CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
      |              THEN 1 ELSE -1 END AS r4
      |  FROM t),
      |m AS (
      |  SELECT doc_id, 'r1' AS rule, r1 AS vote FROM v
      |  UNION ALL SELECT doc_id, 'r2', r2 FROM v
      |  UNION ALL SELECT doc_id, 'r3', r3 FROM v
      |  UNION ALL SELECT doc_id, 'r4', r4 FROM v),
      |j AS (
      |  SELECT x.rule AS rule_a, y.rule AS rule_b,
      |         x.vote AS va, y.vote AS vb, count(*) AS n
      |  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.rule < y.rule
      |  GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT rule_a, rule_b, sum(n) AS n,
      |         sum(CASE WHEN va = vb THEN n ELSE 0 END) AS agree
      |  FROM j GROUP BY 1, 2),
      |rm AS (SELECT rule_a, rule_b, va, sum(n) AS na FROM j GROUP BY 1,2,3),
      |cm AS (SELECT rule_a, rule_b, vb, sum(n) AS nb FROM j GROUP BY 1,2,3),
      |p AS (
      |  SELECT rm.rule_a, rm.rule_b, sum(CAST(na AS HUGEINT) * nb) AS p
      |  FROM rm JOIN cm ON rm.rule_a = cm.rule_a AND rm.rule_b = cm.rule_b
      |                 AND rm.va = cm.vb
      |  GROUP BY 1, 2)
      |SELECT tot.rule_a, tot.rule_b,
      |       CAST(tot.n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
      |       CAST(CAST(tot.n AS HUGEINT) * agree - coalesce(p, 0)
      |            AS BIGINT) AS num,
      |       CAST(CAST(tot.n AS HUGEINT) * tot.n - coalesce(p, 0)
      |            AS BIGINT) AS den,
      |       CASE WHEN CAST(tot.n AS HUGEINT) * tot.n - coalesce(p, 0) != 0
      |            THEN
      |         CAST(CAST(tot.n AS HUGEINT) * agree - coalesce(p, 0) AS DOUBLE)
      |           / CAST(CAST(tot.n AS HUGEINT) * tot.n - coalesce(p, 0)
      |                  AS DOUBLE)
      |       END AS kappa
      |FROM tot
      |LEFT JOIN p ON tot.rule_a = p.rule_a AND tot.rule_b = p.rule_b
      |ORDER BY tot.rule_a, tot.rule_b
      |""".stripMargin)) { (s, dir) =>
    import graft.text.WeakSupervision
    val toks = TextAnalysis.tokens(col("text"))
    WeakSupervision.pairwiseKappa(
        Tables.documents(s, dir), "doc_id",
        Seq(
          "r1" -> when(col("n_chars").between(100, 520), 1).otherwise(-1),
          "r2" -> when(col("lang").isin("en", "de"), 1).otherwise(0),
          "r3" -> when(size(toks).between(20, 95), 1).otherwise(-1),
          "r4" -> when(size(array_distinct(toks)) * 2 >= size(toks), 1)
            .otherwise(-1)))
      .select(col("rule_a"), col("rule_b"), col("n"), col("agree"),
        col("num").cast("long").as("num"),
        col("den").cast("long").as("den"), col("kappa"))
      .orderBy(col("rule_a"), col("rule_b"))
  }

  /** Sparse TF-IDF cosine pairs (sim/SparseSim.tfidfCosinePairs) over
    * bigram terms: posting-list candidates (term-keyed self-join,
    * df ≤ 150 stop-term prune = quality AND skew bound), milli-scaled
    * integer idf from a DECIMAL(18,9)-quantized ln, exact decimal
    * dots/norms, one pinned cosine divide. At minCos 0.5 this
    * surfaces exactly the planted near-duplicate pairs — the lexical
    * cross-check of q28's MinHash path. */
  def q174: Q = Q(
    "q174_tfidf_cosine_pairs",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |b AS (
      |  SELECT doc_id, unnest(list_transform(
      |           range(1, greatest(len(toks) - 1, 0) + 1),
      |           i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM t),
      |tf AS (SELECT doc_id, g, count(*) AS tf FROM b GROUP BY doc_id, g),
      |tot AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |dfreq AS (
      |  SELECT g, count(*) AS df FROM tf GROUP BY g
      |  HAVING count(*) <= 150),
      |w AS (
      |  SELECT g, CAST(floor(CAST(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
      |                             AS DECIMAL(18,9)) * 1000) AS BIGINT) AS w
      |  FROM dfreq CROSS JOIN tot),
      |c AS (
      |  SELECT tf.doc_id, tf.g, tf.tf * w.w AS c
      |  FROM tf JOIN w USING (g)),
      |norms AS (
      |  SELECT doc_id, sum(CAST(c AS HUGEINT) * c) AS n2
      |  FROM c GROUP BY doc_id),
      |dots AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |         sum(CAST(x.c AS HUGEINT) * y.c) AS dot
      |  FROM c x JOIN c y ON x.g = y.g AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT doc_a, doc_b, dot, na.n2 AS norm_a, nb.n2 AS norm_b,
      |         CAST(dot AS DOUBLE)
      |           / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
      |           AS cos
      |  FROM dots
      |  JOIN norms na ON dots.doc_a = na.doc_id
      |  JOIN norms nb ON dots.doc_b = nb.doc_id)
      |SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
      |       CAST(norm_a AS BIGINT) AS norm_a,
      |       CAST(norm_b AS BIGINT) AS norm_b, cos
      |FROM cos WHERE cos >= 0.5
      |ORDER BY doc_a, doc_b
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    graft.sim.SparseSim.tfidfCosinePairs(
        Tables.documents(s, dir).where(col("text").isNotNull),
        "doc_id", Dedup.shingles(col("text"), 2),
        maxDf = 150L, minCos = 0.5)
      .select(col("doc_a"), col("doc_b"),
        col("dot").cast("long").as("dot"),
        col("norm_a").cast("long").as("norm_a"),
        col("norm_b").cast("long").as("norm_b"), col("cos"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winsorized per-source length stats (OrderStats.winsorizedStats):
    * document sizes clipped into the exact [p10, p90] order-statistic
    * bounds before averaging — the robust data-card mean plus the
    * "how many rows did robustness clip" counts. Bounds are actual
    * data values (q127's rank selection), the mean is an exact decimal
    * sum with one pinned divide. */
  def q173: Q = Q(
    "q173_winsorized_lengths",
    Some("""
      |WITH r AS (
      |  SELECT source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars)
      |           AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents WHERE n_chars IS NOT NULL),
      |b AS (
      |  SELECT source,
      |         min(CASE WHEN rn = (100 * n + 999) // 1000
      |                  THEN n_chars END) AS lo,
      |         min(CASE WHEN rn = (900 * n + 999) // 1000
      |                  THEN n_chars END) AS hi
      |  FROM r GROUP BY source),
      |c AS (
      |  SELECT d.source, d.n_chars, b.lo, b.hi,
      |         least(greatest(d.n_chars, b.lo), b.hi) AS cv
      |  FROM documents d JOIN b USING (source)
      |  WHERE d.n_chars IS NOT NULL)
      |SELECT source, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(lo) AS BIGINT) AS lo,
      |       CAST(min(hi) AS BIGINT) AS hi,
      |       CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_clipped_lo,
      |       CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_clipped_hi,
      |       CAST(sum(CAST(cv AS HUGEINT)) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS winsor_mean
      |FROM c GROUP BY source ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    graft.operators.OrderStats.winsorizedStats(Tables.documents(s, dir),
        Seq("source"), "n_chars", loPermille = 100, hiPermille = 900)
      .orderBy(col("source"))
  }

  /** Contiguous event trigram patterns (operators/Sequences
    * .kgramCounts): every 3-step path through the event log with its
    * occurrence count and entity support — q125's Markov transitions
    * one order up, still ONE per-user window (leads share the sort)
    * and a pattern-vocabulary-sized aggregate. */
  def q172: Q = Q(
    "q172_event_trigrams",
    Some("""
      |WITH ev AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS t, event_type
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_type AS s0,
      |         lead(event_type, 1) OVER w AS s1,
      |         lead(event_type, 2) OVER w AS s2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
      |SELECT s0 || ' ' || s1 || ' ' || s2 AS kgram,
      |       CAST(count(*) AS BIGINT) AS n_occurrences,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities
      |FROM s
      |WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
      |GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    graft.operators.Sequences.kgramCounts(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type", k = 3)
      .orderBy(col("kgram"))
  }

  /** Last-touch conversion attribution (operators/Attribution
    * .lastTouch): every purchase credited to the user's most recent
    * click/view/signup within 48 h, rolled up per channel — one
    * per-user window over the log, never a conversions×touches
    * self-join. The oracle states the identical strictly-preceding
    * (ts, id) frame with IGNORE NULLS carries, so eligibility and the
    * same-timestamp tie rule are pinned cross-engine. */
  def q171: Q = {
    val lookback = 48L * 3600L * 1000000000L // 48h in ns
    Q("q171_attribution",
      Some(s"""
        |WITH ev AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS t, event_type, value
        |  FROM events),
        |a AS (
        |  SELECT user_id, event_id, t, event_type, value,
        |         last_value(CASE WHEN event_type IN ('click','view','signup')
        |                         THEN t END IGNORE NULLS) OVER w AS lt,
        |         last_value(CASE WHEN event_type IN ('click','view','signup')
        |                         THEN event_type END IGNORE NULLS) OVER w AS lc
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (
        |  SELECT CASE WHEN lt IS NOT NULL AND t - lt <= $lookback
        |              THEN lc ELSE '(none)' END AS attributed_channel,
        |         user_id, value
        |  FROM a WHERE event_type = 'purchase')
        |SELECT attributed_channel,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM c GROUP BY attributed_channel
        |ORDER BY attributed_channel
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      graft.operators.Attribution.lastTouch(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          convType = "purchase",
          touchTypes = Seq("click", "view", "signup"),
          lookback = lookback)
        .groupBy(col("attributed_channel"))
        .agg(count(lit(1)).as("n_conversions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(28, 6))).cast("double")
            .as("total_value"))
        .orderBy(col("attributed_channel"))
    }
  }

  /** Ranking AUC of the quality signal as an English detector, per
    * source (Stats.rankAuc): Mann–Whitney with average-rank ties over
    * per-score COUNTS — the window runs on the distinct-score table,
    * never per-row; 2U stays an exact integer and the one divide is
    * pinned. The score is the DECIMAL(18,9)-quantized quality ×1e9
    * (integral, q104's representation discipline), so tie structure is
    * identical cross-engine. */
  def q170: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    Q("q170_quality_auc",
      Some(s"""
        |WITH t0 AS (
        |  SELECT source, lang, text, ${sqlTokens("text")} AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (
        |  SELECT source,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         CAST(CAST(${sqlQualityExpr(sw)} AS DECIMAL(18,9))
        |              * 1000000000 AS BIGINT) AS s
        |  FROM t0 WHERE len(toks) > 0),
        |g AS (
        |  SELECT source, s, CAST(sum(y) AS BIGINT) AS p,
        |         CAST(count(*) - sum(y) AS BIGINT) AS q
        |  FROM t GROUP BY source, s),
        |c AS (
        |  SELECT source, s, p, q,
        |         CAST(coalesce(sum(q) OVER (
        |           PARTITION BY source ORDER BY s
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS nb
        |  FROM g),
        |u AS (
        |  SELECT source, CAST(sum(p) AS BIGINT) AS n_pos,
        |         CAST(sum(q) AS BIGINT) AS n_neg,
        |         CAST(sum(CAST(p AS HUGEINT) * (2 * nb + q)) AS BIGINT) AS u2
        |  FROM c GROUP BY source)
        |SELECT source, n_pos, n_neg, u2,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |         CAST(u2 AS DOUBLE)
        |           / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |       END AS auc
        |FROM u ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val sw0 = TextAnalysis.LangStopwords.head._2
      val base = Tables.documents(s, dir)
        .where(col("text").isNotNull &&
          TextAnalysis.tokenCount(col("text")) > 0)
        .select(col("source"),
          when(col("lang") === "en", 1).otherwise(0).as("y"),
          (TextAnalysis.qualityScore(col("text"), sw0)
            .cast(DecimalType(18, 9)) * lit(1000000000L)).cast("long")
            .as("s"))
      graft.operators.Stats.rankAuc(base, Seq("source"), col("y"), col("s"))
        .select(col("source"), col("n_pos"), col("n_neg"),
          col("u2").cast("long").as("u2"), col("auc"))
        .orderBy(col("source"))
    }
  }

  /** Market-basket frequent pairs (operators/Basket.frequentPairs):
    * supplier pairs co-occurring within an order, A-priori-pruned
    * before any pair is generated, with lift as an exact scaled
    * integer (⌊1e6·N·c_xy/(c_x·c_y)⌋ — DECIMAL(38,0) interior here,
    * HUGEINT in the oracle). The self-join shuffles only on the basket
    * id; supports stay vocabulary-sized broadcasts. */
  def q169: Q = Q(
    "q169_basket_pairs",
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
      |  SELECT x.i AS item_a, y.i AS item_b, count(*) AS pair_support
      |  FROM freq x JOIN freq y ON x.b = y.b AND x.i < y.i
      |  GROUP BY x.i, y.i
      |  HAVING count(*) >= 10)
      |SELECT item_a, item_b,
      |       CAST(pair_support AS BIGINT) AS pair_support,
      |       CAST(sa.supp AS BIGINT) AS supp_a,
      |       CAST(sb.supp AS BIGINT) AS supp_b,
      |       CAST((CAST(1000000 AS HUGEINT) * n_baskets * pair_support)
      |            // (CAST(sa.supp AS HUGEINT) * sb.supp)
      |            AS BIGINT) AS lift_ppm
      |FROM pairs
      |JOIN supp sa ON pairs.item_a = sa.i
      |JOIN supp sb ON pairs.item_b = sb.i
      |CROSS JOIN tot
      |ORDER BY item_a, item_b
      |""".stripMargin)) { (s, dir) =>
    graft.operators.Basket.frequentPairs(Tables.lineitem(s, dir),
        "l_orderkey", "l_suppkey",
        minItemSupport = 50L, minPairSupport = 10L)
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Coordinated (universe) sampling across a join: orders and
    * lineitem each keep the rows whose SHARED key (orderkey) hashes
    * under 20% — so the join of the samples IS a 20% sample of the
    * join, the property independent per-table sampling lacks (two 20%
    * Bernoulli samples intersect at 4%). Per nation: exact revenue vs
    * the ×5-scaled estimate and its signed error — q156's calibration
    * discipline for join pipelines. */
  def q167: Q = Q(
    "q167_coordinated_sample",
    Some(s"""
      |WITH so AS (
      |  SELECT * FROM orders
      |  WHERE (${sqlSaltedHash("CAST(o_orderkey AS VARCHAR)", "cs")})
      |        % 100 < 20),
      |sl AS (
      |  SELECT * FROM lineitem
      |  WHERE (${sqlSaltedHash("CAST(l_orderkey AS VARCHAR)", "cs")})
      |        % 100 < 20),
      |ex AS (
      |  SELECT n_name, count(*) AS n_exact,
      |         CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |                       AS DECIMAL(28,6))) AS DOUBLE) AS exact_rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name),
      |es AS (
      |  SELECT n_name, count(*) AS n_sample,
      |         CAST(5 * sum(CAST(l_extendedprice * (1 - l_discount)
      |                           AS DECIMAL(28,6))) AS DOUBLE) AS est_rev
      |  FROM sl
      |  JOIN so ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT ex.n_name AS n_name, CAST(n_exact AS BIGINT) AS n_exact,
      |       CAST(coalesce(n_sample, 0) AS BIGINT) AS n_sample,
      |       exact_rev, coalesce(est_rev, 0.0) AS est_rev,
      |       coalesce(est_rev, 0.0) - exact_rev AS err_rev
      |FROM ex LEFT JOIN es ON ex.n_name = es.n_name
      |ORDER BY ex.n_name
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Sampling
    def pipeline(li: org.apache.spark.sql.DataFrame,
        ord: org.apache.spark.sql.DataFrame, scaleBy: Int,
        nC: String, revC: String) =
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as(nC),
          (lit(scaleBy) * sum((col("l_extendedprice") *
              (lit(1) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(28, 6))))
            .cast("double").as(revC))
    val ex = pipeline(Tables.lineitem(s, dir), Tables.orders(s, dir), 1,
      "n_exact", "exact_rev")
    val es = pipeline(
      Tables.lineitem(s, dir)
        .where(Sampling.hashBucket(col("l_orderkey"), "cs") < 20),
      Tables.orders(s, dir)
        .where(Sampling.hashBucket(col("o_orderkey"), "cs") < 20), 5,
      "n_sample", "est_rev")
    ex.join(es.withColumnRenamed("n_name", "__n2"),
        col("n_name") === col("__n2"), "left")
      .select(col("n_name"), col("n_exact"),
        coalesce(col("n_sample"), lit(0L)).as("n_sample"),
        col("exact_rev"),
        coalesce(col("est_rev"), lit(0.0)).as("est_rev"),
        (coalesce(col("est_rev"), lit(0.0)) - col("exact_rev"))
          .as("err_rev"))
      .orderBy(col("n_name"))
  }

  /** Time-decayed aggregates (operators/TimeDecay.decayedAgg): per
    * event type, the 24h-half-life decayed count and value sum against
    * the corpus max timestamp — trending/freshness weighting. Integer
    * ages, one shared decay-rate literal, every exp() output quantized
    * to DECIMAL(18,9) before the order-free sum (the ln/PSI discipline
    * applied to exp). */
  def q168: Q = {
    val rate = graft.operators.TimeDecay.decayRate(24)
    Q("q168_time_decayed_counts",
      Some(s"""
        |WITH r AS (SELECT max(epoch_ns(ts)) AS ref FROM events),
        |a AS (
        |  SELECT event_type, value,
        |         (r.ref - epoch_ns(ts)) // 3600000000000 AS age_h
        |  FROM events CROSS JOIN r)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(exp(CAST(age_h AS DOUBLE) * ($rate))
        |                     AS DECIMAL(18,9))) AS DOUBLE)
        |         AS decayed_count,
        |       CAST(sum(CASE WHEN value IS NOT NULL THEN
        |                CAST(exp(CAST(age_h AS DOUBLE) * ($rate))
        |                     AS DECIMAL(12,6))
        |                * CAST(value AS DECIMAL(12,3)) END) AS DOUBLE)
        |         AS decayed_value
        |FROM a GROUP BY event_type ORDER BY event_type
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.TimeDecay
      TimeDecay.decayedAgg(Tables.events(s, dir), Seq("event_type"),
        "ts", "value", halfLifeHours = 24)
        .orderBy(col("event_type"))
    }
  }

  /** MMR diverse selection (text/MmrSelect): greedy top-5 by
    * λ·quality − (1−λ)·max-Jaccard-to-selected over the top-40
    * quality-prefiltered pool — the few-shot/demo-set builder (pure
    * top-k returns near-copies). The prefilter is distributed; the
    * inherently sequential greedy runs over the bounded pool. The
    * oracle replays the ENTIRE greedy as five generated CTE rounds
    * (argmax, then re-score against the union of picks), so
    * hash-equality proves every pick and tie-break. */
  def q166: Q = {
    val simExpr =
      """CASE WHEN len(c.sh) + len(s.sh) - len(list_intersect(c.sh, s.sh)) = 0
        |     THEN 0
        |     ELSE 1000 * len(list_intersect(c.sh, s.sh))
        |          // (len(c.sh) + len(s.sh) - len(list_intersect(c.sh, s.sh)))
        |END""".stripMargin
    val rounds = (2 to 5).map { r =>
      s"""sc$r AS (
         |  SELECT c.doc_id, c.q, c.sh, max($simExpr) AS msim
         |  FROM top c CROSS JOIN all${r - 1} s
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM all${r - 1})
         |  GROUP BY c.doc_id, c.q, c.sh),
         |sel$r AS (
         |  SELECT doc_id, q, sh, msim, $r AS r FROM sc$r
         |  ORDER BY 70 * q - 30 * msim DESC, doc_id LIMIT 1),
         |all$r AS (SELECT * FROM all${r - 1} UNION ALL SELECT * FROM sel$r)"""
        .stripMargin
    }.mkString(",\n")
    Q("q166_mmr_selection",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |c0 AS (
        |  SELECT doc_id,
        |         1000 * len(list_distinct(toks)) // len(toks) AS q,
        |         list_distinct(${sqlShingles("toks")}) AS sh
        |  FROM t),
        |top AS (SELECT * FROM c0 ORDER BY q DESC, doc_id LIMIT 40),
        |sel1 AS (
        |  SELECT doc_id, q, sh, CAST(0 AS BIGINT) AS msim, 1 AS r
        |  FROM top ORDER BY 70 * q DESC, doc_id LIMIT 1),
        |all1 AS (SELECT * FROM sel1),
        |$rounds
        |SELECT doc_id, CAST(r AS BIGINT) AS sel_rank,
        |       CAST(q AS BIGINT) AS quality,
        |       CAST(msim AS BIGINT) AS max_sim_permille
        |FROM all5 ORDER BY sel_rank
        |""".stripMargin)) { (s, dir) =>
      import graft.dedup.Dedup
      import graft.text.MmrSelect
      val cand = Tables.documents(s, dir)
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"),
          expr("(1000 * size(array_distinct(__toks))) div size(__toks)")
            .as("q"),
          array_distinct(Dedup.shingles(col("text"))).as("sh"))
      val top = cand.orderBy(col("q").desc, col("doc_id")).limit(40)
      MmrSelect.select(top, "doc_id", "q", "sh", k = 5, lam100 = 70)
        .orderBy(col("sel_rank"))
    }
  }

  /** Weak-supervision votes (text/WeakSupervision.voteAggregate): four
    * deterministic labeling rules (length band, language whitelist
    * with abstain, token band, distinct-token ratio) vote keep/drop
    * per doc; the aggregate majority + margin is the routing signal.
    * Entirely scan-stage integer arithmetic — zero exchanges before
    * the output sort. */
  def q165: Q = Q(
    "q165_weak_supervision",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |         ${sqlTokens("text")} AS toks
      |  FROM documents),
      |v AS (
      |  SELECT doc_id,
      |         CASE WHEN n_chars BETWEEN 100 AND 520 THEN 1 ELSE -1 END
      |           AS r1,
      |         CASE WHEN lang IN ('en', 'de') THEN 1 ELSE 0 END AS r2,
      |         CASE WHEN len(toks) BETWEEN 20 AND 95 THEN 1 ELSE -1 END
      |           AS r3,
      |         CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
      |              THEN 1 ELSE -1 END AS r4
      |  FROM t),
      |a AS (
      |  SELECT doc_id,
      |         (CASE WHEN r1 = 1 THEN 1 ELSE 0 END
      |          + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
      |          + CASE WHEN r3 = 1 THEN 1 ELSE 0 END
      |          + CASE WHEN r4 = 1 THEN 1 ELSE 0 END) AS n_keep,
      |         (CASE WHEN r1 = -1 THEN 1 ELSE 0 END
      |          + CASE WHEN r2 = -1 THEN 1 ELSE 0 END
      |          + CASE WHEN r3 = -1 THEN 1 ELSE 0 END
      |          + CASE WHEN r4 = -1 THEN 1 ELSE 0 END) AS n_drop
      |  FROM v)
      |SELECT doc_id, CAST(n_keep AS BIGINT) AS n_keep,
      |       CAST(n_drop AS BIGINT) AS n_drop,
      |       CASE WHEN n_keep > n_drop THEN 'keep'
      |            WHEN n_drop > n_keep THEN 'drop'
      |            ELSE 'abstain' END AS majority,
      |       CAST(abs(n_keep - n_drop) AS BIGINT) AS margin
      |FROM a ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.text.WeakSupervision
    val toks = TextAnalysis.tokens(col("text"))
    WeakSupervision.voteAggregate(
      Tables.documents(s, dir),
      Seq(
        when(col("n_chars").between(100, 520), 1).otherwise(-1),
        when(col("lang").isin("en", "de"), 1).otherwise(0),
        when(size(toks).between(20, 95), 1).otherwise(-1),
        when(size(array_distinct(toks)) * 2 >= size(toks), 1)
          .otherwise(-1)))
      .select(col("doc_id"), col("n_keep"), col("n_drop"), col("majority"),
        col("margin"))
      .orderBy(col("doc_id"))
  }

  /** MinHash estimator calibration (composition: SetSimJoin exact
    * pairs × q27 signatures): for every pair with exact Jaccard ≥ 0.3,
    * the 32-perm signature-agreement estimate next to the exact value
    * and its signed error — the evidence table for "how much recall/
    * precision does the sketch buy" before trusting banding at scale
    * (q156's calibration discipline applied to MinHash). All integer
    * permilles. */
  def q164: Q = {
    import graft.dedup.Dedup
    val perms = (0 until 32).map(p => s"[${Dedup.permA(p)}, ${Dedup.permB(p)}]")
      .mkString("[", ", ", "]")
    Q("q164_minhash_calibration",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(${sqlShingles("toks")}) AS s
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |px AS (
        |  SELECT pair.a, pair.b, inter,
        |         na.c + nb.c - inter AS uni
        |  FROM pair
        |  JOIN n na ON na.doc_id = pair.a
        |  JOIN n nb ON nb.doc_id = pair.b
        |  WHERE inter * 100 >= 30 * (na.c + nb.c - inter)),
        |shl AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM t),
        |hh AS (SELECT doc_id,
        |              list_transform(shingles, s0 -> ${sqlCharFold("s0")})
        |                AS hashes
        |       FROM shl),
        |sig AS (SELECT doc_id,
        |               list_transform($perms, ab ->
        |                 coalesce(list_min(list_transform(hashes,
        |                   h -> (h * ab[1] + ab[2]) % ${Dedup.Mod})),
        |                   ${Dedup.Mod})) AS sg
        |        FROM hh),
        |e AS (
        |  SELECT px.a, px.b, px.inter, px.uni,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, 33), i ->
        |             CASE WHEN sa.sg[i] = sb.sg[i]
        |                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
        |             END)),
        |           (x, v) -> x + v) AS agree
        |  FROM px
        |  JOIN sig sa ON sa.doc_id = px.a
        |  JOIN sig sb ON sb.doc_id = px.b)
        |SELECT a, b, CAST(inter AS BIGINT) AS inter,
        |       CAST(uni AS BIGINT) AS uni, CAST(agree AS BIGINT) AS agree,
        |       CAST(agree * 1000 // 32 AS BIGINT) AS est_permille,
        |       CAST(inter * 1000 // uni AS BIGINT) AS exact_permille,
        |       CAST(agree * 1000 // 32 - inter * 1000 // uni AS BIGINT)
        |         AS err_permille
        |FROM e ORDER BY a, b
        |""".stripMargin)) { (s, dir) =>
      import graft.dedup.Dedup
      val docs = graft.plans.Spread.widen(Tables.documents(s, dir))
      // the spine's threshold IS this query's threshold (30)
      val pairs = jaccPairs30(s, dir)
      val sigs = docs.select(col("doc_id"),
        Dedup.minHashSignature(col("text"), perms = 32).as("sg"))
      pairs
        .join(sigs.select(col("doc_id").as("a"), col("sg").as("__sa")), "a")
        .join(sigs.select(col("doc_id").as("b"), col("sg").as("__sb")), "b")
        .withColumn("agree", // native agree-count kernel (exact integer)
          graft.functions.SketchExprs.arrayAgreeCount(
            col("__sa"), col("__sb")))
        .withColumn("est_permille", expr("(agree * 1000) div 32"))
        .withColumn("exact_permille", expr("(inter * 1000) div uni"))
        .withColumn("err_permille",
          col("est_permille") - col("exact_permille"))
        .select(col("a"), col("b"), col("inter"), col("uni"), col("agree"),
          col("est_permille"), col("exact_permille"), col("err_permille"))
        .orderBy(col("a"), col("b"))
    }
  }

  /** Embedding centroid drift (sim/EmbeddingDrift): per-stratum cosine
    * between the 90%-snapshot and full-corpus centroid directions —
    * the vector sibling of the q140 PSI gate. Components quantize to
    * fixed-point at the scan; cosine-of-centroids = cosine-of-SUMS
    * (scale-invariant, so no mean division), integer dot products
    * exact in DECIMAL/HUGEINT, one pinned IEEE divide. */
  def q163: Q = Q(
    "q163_embedding_drift",
    Some("""
      |WITH qa AS (
      |  SELECT vec_id % 4 AS g, u.d AS dim,
      |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 1000)
      |              AS BIGINT) AS q
      |  FROM embeddings, unnest(range(0, 64)) AS u(d)
      |  WHERE vec_id % 10 != 0),
      |qb AS (
      |  SELECT vec_id % 4 AS g, u.d AS dim,
      |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 1000)
      |              AS BIGINT) AS q
      |  FROM embeddings, unnest(range(0, 64)) AS u(d)),
      |sa AS (SELECT g, dim, sum(q) AS s, count(*) AS n
      |       FROM qa GROUP BY g, dim),
      |sb AS (SELECT g, dim, sum(q) AS s, count(*) AS n
      |       FROM qb GROUP BY g, dim),
      |j AS (
      |  SELECT sa.g, max(sa.n) AS n_a, max(sb.n) AS n_b,
      |         sum(CAST(sa.s AS HUGEINT) * sb.s) AS dot,
      |         sum(CAST(sa.s AS HUGEINT) * sa.s) AS na2,
      |         sum(CAST(sb.s AS HUGEINT) * sb.s) AS nb2
      |  FROM sa JOIN sb ON sa.g = sb.g AND sa.dim = sb.dim
      |  GROUP BY sa.g)
      |SELECT g AS stratum, CAST(n_a AS BIGINT) AS n_a,
      |       CAST(n_b AS BIGINT) AS n_b, CAST(dot AS BIGINT) AS dot,
      |       CAST(na2 AS BIGINT) AS na2, CAST(nb2 AS BIGINT) AS nb2,
      |       CASE WHEN na2 > 0 AND nb2 > 0 THEN
      |         CAST(dot AS DOUBLE)
      |           / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |       END AS cos
      |FROM j ORDER BY stratum
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.EmbeddingDrift
    val emb = Tables.embeddings(s, dir)
      .withColumn("stratum", col("vec_id") % 4)
    EmbeddingDrift.centroidDrift(
      emb.where(col("vec_id") % 10 =!= 0), emb,
      "stratum", "embedding", dims = 64)
      .orderBy(col("stratum"))
  }

  /** Compression-ratio quality signal (text/Compressibility): per-doc
    * deflate ratio — the language-agnostic repetition detector
    * (boilerplate compresses; natural text does not). zlib exists only
    * JVM-side, so this row is rows-only at the driver BY DESIGN (no
    * oracle pretends otherwise); determinism and the
    * repetitive-vs-natural ordering are spec-pinned. */
  def q162: Q = Q("q162_compressibility", None) { (s, dir) =>
    import graft.text.Compressibility
    Compressibility.deflateRatio(Tables.documents(s, dir), "doc_id", "text")
      .toDF().orderBy(col("doc_id"))
  }

  /** Transcript assembly with loss-mask offsets (text/Transcript):
    * each user's event stream becomes role-tagged turns — keep the
    * trailing 5 (context truncation drops the OLDEST), 1-based
    * chronological turn index, and exact character offsets into the
    * newline-joined transcript (what loss masking consumes). One
    * exchange: every window shares the conversation partitioning. */
  def q161: Q = Q(
    "q161_transcript_turns",
    Some("""
      |WITH t AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN event_type IN ('click', 'view') THEN 'user'
      |              ELSE 'assistant' END AS role,
      |         event_type || ':' ||
      |           CAST(coalesce(CAST(floor(value * 100) AS BIGINT), -1)
      |                AS VARCHAR) AS content
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rec
      |  FROM t),
      |k AS (SELECT * FROM r WHERE rec <= 5),
      |o AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
      |         length(role) + 2 + length(content) AS len
      |  FROM k),
      |f AS (
      |  SELECT *, coalesce(sum(len + 1) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS start_off
      |  FROM o)
      |SELECT user_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, content,
      |       CAST(start_off AS BIGINT) AS start_off,
      |       CAST(start_off + len AS BIGINT) AS end_off
      |FROM f ORDER BY user_id, turn_idx
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Transcript
    Transcript.turns(
      Tables.events(s, dir),
      "user_id", "ts", "event_id",
      role = when(col("event_type").isin("click", "view"), lit("user"))
        .otherwise(lit("assistant")),
      content = concat(col("event_type"), lit(":"),
        coalesce(floor(col("value") * 100).cast("long"), lit(-1L))
          .cast("string")),
      lastK = 5)
      .orderBy(col("user_id"), col("turn_idx"))
  }

  /** Session concurrency profile (Intervals.concurrencyProfile): how
    * many user sessions are active in each hour — interval stabbing
    * answered with two bucket-count aggregations and a prefix sum over
    * the calendar-bounded grid, never a range join of sessions against
    * buckets. Sessions are the 30-minute-gap merge of each user's
    * event points (q115's machinery, maxGap face). The ORACLE is the
    * naive grid × sessions containment join — the semantic spec the
    * prefix-sum plan must reproduce exactly. */
  def q160: Q = {
    val gapUs = 1800000000L // 30 min
    val hourUs = 3600000000L
    Q("q160_session_concurrency",
      Some(s"""
        |WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) AS e
        |  FROM events),
        |o AS (
        |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             AS pm
        |  FROM iv),
        |g AS (
        |  SELECT *, sum(CASE WHEN pm IS NULL OR s > pm + $gapUs
        |                     THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS isl
        |  FROM o),
        |sess AS (
        |  SELECT user_id, min(s) AS ss, max(e) AS se
        |  FROM g GROUP BY user_id, isl),
        |sb AS (SELECT ss // $hourUs AS sbk, se // $hourUs AS ebk FROM sess),
        |bounds AS (SELECT min(sbk) AS lo, max(ebk) AS hi FROM sb),
        |grid AS (
        |  SELECT unnest(range(lo, hi + 1)) AS bucket FROM bounds)
        |SELECT grid.bucket,
        |       CAST(sum(CASE WHEN sb.sbk = grid.bucket THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_starts,
        |       CAST(sum(CASE WHEN sb.ebk = grid.bucket THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_ends,
        |       CAST(sum(CASE WHEN sb.sbk <= grid.bucket
        |                      AND grid.bucket <= sb.ebk THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_active
        |FROM grid CROSS JOIN sb
        |GROUP BY grid.bucket ORDER BY grid.bucket
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Intervals
      val iv = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("s"),
          expr("ts div 1000").as("e"))
      val sess = Intervals.mergeOverlapping(iv, Seq("user_id"), "s", "e",
        maxGap = gapUs)
      Intervals.concurrencyProfile(sess, "span_start", "span_end", hourUs)
        .orderBy(col("bucket"))
    }
  }

  /** Rank normalization (OrderStats.rankNormalize): per-source integer
    * permille percent-rank of document length — the monotone feature
    * transform with tie-safety (equal lengths always share a
    * permille; rank(), never row_number). Pure integer arithmetic,
    * one window pass. */
  def q159: Q = Q(
    "q159_rank_normalize",
    Some("""
      |SELECT doc_id, source, n_chars,
      |       CASE WHEN n > 1 THEN ((rk - 1) * 1000) // (n - 1)
      |            ELSE 0 END AS permille
      |FROM (
      |  SELECT doc_id, source, n_chars,
      |         rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents WHERE n_chars IS NOT NULL)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    OrderStats.rankNormalize(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      Seq("source"), "n_chars")
      .orderBy(col("doc_id"))
  }

  /** Cardinality profile (Profile.cardinality): the data-catalog
    * report — per column: rows, nulls, LinearCount distinct estimate —
    * from one zero-group null pass plus ONE sketch pass over the
    * stacked columns (never a countDistinct shuffle per column). The
    * oracle replays the stack, the null counts, and q135's sketch
    * estimate per column. */
  def q158: Q = {
    val m = 256
    Q("q158_cardinality_profile",
      Some(s"""
        |WITH stacked AS (
        |  SELECT 'lang' AS "column", lang AS v FROM documents
        |  UNION ALL
        |  SELECT 'source', source FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
        |nulls AS (
        |  SELECT "column", CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(CASE WHEN v IS NULL THEN 1 END) AS BIGINT)
        |           AS n_nulls
        |  FROM stacked GROUP BY "column"),
        |b AS (
        |  SELECT DISTINCT "column",
        |         (${sqlSaltedHash("v", "prof")}) % $m AS bucket
        |  FROM stacked WHERE v IS NOT NULL),
        |agg AS (
        |  SELECT "column", CAST(count(DISTINCT bucket) AS BIGINT) AS d
        |  FROM b GROUP BY "column")
        |SELECT n."column" AS "column", n.n_rows, n.n_nulls,
        |       CASE WHEN a.d IS NOT NULL THEN CAST($m AS BIGINT) END AS m,
        |       a.d,
        |       CASE WHEN a.d < $m THEN CAST(
        |         CAST(-$m AS DECIMAL(10,0)) *
        |         CAST(ln(CAST($m - a.d AS DOUBLE) / CAST($m AS DOUBLE))
        |              AS DECIMAL(18,9))
        |         AS DOUBLE) END AS est
        |FROM nulls n LEFT JOIN agg a USING ("column")
        |ORDER BY "column"
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Profile
      Profile.cardinality(
        Tables.documents(s, dir).select("lang", "source", "n_chars"),
        Seq("lang", "source", "n_chars"), m, "prof")
        .orderBy(col("column"))
    }
  }

  /** SimHash Hamming join (Dedup.simHashHammingPairs — the Manku 2007
    * crawl-dedup design): all pairs with ≤ 1 differing signature bit,
    * found by pigeonhole-EXACT 16-bit banding (a pair within Hamming 1
    * must agree exactly on one of the two halves — lossless, unlike
    * MinHash banding). Whole documents travel as 4 bytes. The oracle
    * is the naive all-pairs bit_count(xor), so equality proves the
    * banding dropped nothing. */
  def q157: Q = Q(
    "q157_simhash_hamming_join",
    Some(s"""
      |WITH t AS (SELECT doc_id,
      |                  list_transform(${sqlTokens("text")},
      |                                 w -> ${sqlCharFold("w")}) AS hs
      |           FROM documents),
      |sig AS (SELECT doc_id, ${sqlSimhash("hs")} AS s FROM t),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |         CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
      |SELECT a, b, hamming FROM p WHERE hamming <= 1 ORDER BY a, b
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    Dedup.simHashHammingPairs(Tables.documents(s, dir), "doc_id", "text", 1)
      .orderBy(col("a"), col("b"))
  }

  /** Sampled-aggregate calibration (Sampling.sampleEstimate): per
    * source, exact count/char-sum next to the 20%-hash-sample scaled
    * estimates and signed errors — the evidence table for "is the
    * cheap estimator good enough" before trusting it at scale. One
    * scan, one exchange: the sample is a conditional aggregate inside
    * the same partial aggregation, never a second pass. */
  def q156: Q = Q(
    "q156_sample_calibration",
    Some(s"""
      |WITH b AS (
      |  SELECT source, n_chars,
      |         (${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "cal")}) % 100
      |           AS bucket
      |  FROM documents),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS exact_n,
      |         CAST(sum(n_chars) AS BIGINT) AS exact_sum,
      |         CAST(count(CASE WHEN bucket < 20 THEN 1 END) * 5 AS BIGINT)
      |           AS est_n,
      |         CAST(coalesce(sum(CASE WHEN bucket < 20 THEN n_chars END), 0)
      |              * 5 AS BIGINT) AS est_sum
      |  FROM b GROUP BY source)
      |SELECT source, exact_n, exact_sum, est_n, est_sum,
      |       est_n - exact_n AS err_n, est_sum - exact_sum AS err_sum
      |FROM g ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    Sampling.sampleEstimate(
      Tables.documents(s, dir), Seq("source"), "doc_id", "n_chars",
      pct = 20, salt = "cal")
      .orderBy(col("source"))
  }

  /** 2-core of the shared-prefix similarity graph (operators/KCore):
    * q130's graph peeled until every surviving doc keeps ≥ 2
    * templated neighbors — isolates boilerplate FAMILIES where pair
    * counting understates. Fixed 4-round synchronous peel; the oracle
    * replays the identical round chain as generated CTEs, so
    * hash-equality proves each round's degree/filter/semi-join
    * cascade. */
  def q155: Q = {
    val k = 2
    val rounds = 4
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e${r - 1}
         |    UNION ALL SELECT b AS node FROM e${r - 1})
         |  GROUP BY node),
         |alive$r AS (SELECT node FROM d$r WHERE deg >= $k),
         |e$r AS (
         |  SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN alive$r x ON x.node = e.a
         |  JOIN alive$r y ON y.node = e.b)""".stripMargin
    }.mkString(",\n")
    Q("q155_kcore",
      Some(s"""
        |WITH p AS (
        |  SELECT doc_id, substr(trim(text), 1, 12) AS s FROM documents
        |  WHERE text IS NOT NULL),
        |e0 AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM p x JOIN p y ON x.s = y.s AND x.doc_id < y.doc_id),
        |$roundCtes
        |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS node FROM e$rounds
        |  UNION ALL SELECT b AS node FROM e$rounds)
        |GROUP BY node ORDER BY node
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.KCore
      val p = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"), substring(trim(col("text")), 1, 12).as("s"))
      val edges = p.select(col("doc_id").as("a"), col("s"))
        .join(p.select(col("doc_id").as("b"), col("s")), Seq("s"))
        .where(col("a") < col("b"))
      KCore.kCorePeel(edges, "a", "b", k, rounds)
        .orderBy(col("node"))
    }
  }

  /** Zipf-law fit (composition: token counts → SortedNeighborhood.
    * globalRank → Stats.linearFit): regress ln(freq) on ln(rank) over
    * the top-200 tokens — the corpus-health check that a natural-
    * language source follows freq ∝ rank^(−s) with s ≈ 1 (templated or
    * synthetic text bends the curve). The rank is the bucket-parallel
    * global rank (bucket = −freq, never a single-partition window);
    * both logs quantize to 0.001 (floor of ln·1000 — integer inputs
    * keep every moment determinant < 2^53, so the derived slope/corr
    * stay one exact IEEE op sequence). */
  def q154: Q = Q(
    "q154_zipf_fit",
    Some(s"""
      |WITH tok AS (
      |  SELECT unnest(${sqlTokens("text")}) AS tok FROM documents),
      |f AS (
      |  SELECT tok, count(*) AS freq FROM tok
      |  WHERE tok IS NOT NULL GROUP BY tok),
      |r AS (
      |  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
      |  FROM f),
      |xy AS (
      |  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
      |         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS y
      |  FROM r WHERE rank <= 200),
      |s AS (
      |  SELECT 'all' AS corpus, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM xy),
      |d AS (
      |  SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) AS num_d,
      |         CAST(n * sxx - sx * sx AS DOUBLE) AS dx_d,
      |         CAST(n * syy - sy * sy AS DOUBLE) AS dy_d
      |  FROM s)
      |SELECT corpus, n, sx, sy, sxy, sxx, syy,
      |       CASE WHEN dx_d > 0 AND dy_d > 0
      |            THEN num_d / (sqrt(dx_d) * sqrt(dy_d)) END AS corr,
      |       CASE WHEN dx_d > 0 THEN num_d / dx_d END AS slope,
      |       CASE WHEN dx_d > 0 THEN
      |         (CAST(sy AS DOUBLE) - (num_d / dx_d) * CAST(sx AS DOUBLE))
      |           / CAST(n AS DOUBLE) END AS intercept
      |FROM d
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.SortedNeighborhood
    import graft.operators.Stats
    val freq = Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = SortedNeighborhood.globalRank(
      freq.withColumn("negfreq", -col("freq")), "tok", "negfreq", Seq.empty)
      .where(col("__rank") <= 200)
    Stats.linearFit(
      ranked.withColumn("corpus", lit("all")),
      Seq("corpus"),
      floor(log(col("__rank").cast("double")) * 1000).cast("long"),
      floor(log(col("freq").cast("double")) * 1000).cast("long"))
      .select(col("corpus"), col("n"),
        col("sx").cast("long").as("sx"), col("sy").cast("long").as("sy"),
        col("sxy").cast("long").as("sxy"), col("sxx").cast("long").as("sxx"),
        col("syy").cast("long").as("syy"),
        col("corr"), col("slope"), col("intercept"))
  }

  /** Per-source Gini coefficient (operators/Stats.gini): length-
    * concentration for the data card — rank identity over ascending
    * lengths, numerator/denominator exact DECIMAL(38,0) integers, one
    * pinned IEEE divide. num stays < 2^53 at every test sf, so the
    * decimal→double casts are exact both engines. */
  def q153: Q = Q(
    "q153_gini_concentration",
    Some("""
      |WITH r AS (
      |  SELECT source, n_chars,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS i
      |  FROM documents WHERE n_chars IS NOT NULL),
      |s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_x,
      |         CAST(sum(CAST(i AS HUGEINT) * n_chars) AS BIGINT) AS six
      |  FROM r GROUP BY source)
      |SELECT source, n, sum_x,
      |       CAST(2 * six - (n + 1) * sum_x AS BIGINT) AS num,
      |       CAST(n * sum_x AS BIGINT) AS den,
      |       CASE WHEN n * sum_x > 0 THEN
      |         CAST(2 * six - (n + 1) * sum_x AS DOUBLE)
      |           / CAST(n * sum_x AS DOUBLE) END AS gini
      |FROM s ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Stats
    Stats.gini(Tables.documents(s, dir), Seq("source"), "n_chars", "doc_id")
      .select(col("source"), col("n"),
        col("sum_x").cast("long").as("sum_x"),
        col("num").cast("long").as("num"), col("den").cast("long").as("den"),
        col("gini"))
      .orderBy(col("source"))
  }

  /** Feature hashing (text/FeatureHash.hashedBagOfWords): signed
    * hashing-trick bag-of-words into 32 dims — vocabulary-free
    * featurization (no dictionary state at any scale). One hash per
    * distinct token per doc; dim = low bits, sign = the next bit;
    * value = Σ ±tf, integer-exact and fully replayed by the oracle. */
  def q151: Q = {
    val dims = 32
    Q("q151_feature_hashing",
      Some(s"""
        |WITH tok AS (
        |  SELECT doc_id, unnest(${sqlTokens("text")}) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM tok
        |  WHERE tok IS NOT NULL GROUP BY doc_id, tok),
        |h AS (
        |  SELECT doc_id, tf, (${sqlSaltedHash("tok", "fh")}) AS hv
        |  FROM tf),
        |s AS (
        |  SELECT doc_id, hv % $dims AS dim,
        |         CASE WHEN (hv // $dims) % 2 = 1 THEN 1 ELSE -1 END * tf
        |           AS term
        |  FROM h)
        |SELECT doc_id, CAST(dim AS BIGINT) AS dim,
        |       CAST(sum(term) AS BIGINT) AS value
        |FROM s GROUP BY doc_id, dim
        |HAVING CAST(sum(term) AS BIGINT) != 0
        |ORDER BY doc_id, dim
        |""".stripMargin)) { (s, dir) =>
      import graft.text.FeatureHash
      FeatureHash.hashedBagOfWords(Tables.documents(s, dir), "doc_id",
        "text", dims, "fh")
        .orderBy(col("doc_id"), col("dim"))
    }
  }

  /** Equal-frequency binning (OrderStats.equalFrequencyBins): per-
    * source quartile bin for every document's length — exact
    * percentile_disc boundaries (q127's discipline), bin = count of
    * boundaries strictly below the value, broadcast boundary arrays,
    * zero data-row shuffles. */
  def q152: Q = Q(
    "q152_quartile_bins",
    Some("""
      |WITH r AS (
      |  SELECT source, n_chars AS value,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars)
      |           AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents WHERE n_chars IS NOT NULL),
      |p AS (SELECT unnest([250, 500, 750]) AS permille),
      |bnd AS (
      |  SELECT source, value FROM r JOIN p
      |    ON r.rn = (p.permille * r.n + 999) // 1000)
      |SELECT d.doc_id, d.source, d.n_chars,
      |       CAST(sum(CASE WHEN d.n_chars > bnd.value THEN 1 ELSE 0 END)
      |            AS BIGINT) AS bin
      |FROM documents d JOIN bnd USING (source)
      |GROUP BY d.doc_id, d.source, d.n_chars
      |ORDER BY d.doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    OrderStats.equalFrequencyBins(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      Seq("source"), "n_chars", Seq(250, 500, 750))
      .orderBy(col("doc_id"))
  }

  /** Rendezvous/HRW sharding (text/Sharding.rendezvousAssign): stable
    * shard assignment by per-(id, shard) weight argmax — growing the
    * shard count moves only ~1/(n+1) of the corpus where hash-mod
    * moves nearly all of it. The oracle replays the weight draw with
    * the shared salted-hash fragment and picks the winner with a
    * row_number; the Spark side uses a partial-aggregated max(struct)
    * — hash equality proves argmax ≡ ranked-first. */
  def q148: Q = {
    val nShards = 8
    Q("q148_rendezvous_shards",
      Some(s"""
        |WITH s AS (SELECT unnest(range(0, $nShards)) AS shard),
        |w AS (
        |  SELECT doc_id, s.shard,
        |         (${sqlSaltedHash(
                     "(CAST(doc_id AS VARCHAR) || '#' || CAST(s.shard AS VARCHAR))",
                     "ep0:hrw")}) AS w
        |  FROM documents, s),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY w DESC, shard) AS rn
        |  FROM w)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, w
        |FROM r WHERE rn = 1 ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      Sharding.rendezvousAssign(
        Tables.documents(s, dir).select("doc_id"), "doc_id", nShards, "ep0")
        .orderBy(col("doc_id"))
    }
  }

  /** k-anonymity gate (text/Privacy.kAnonymity): flag documents whose
    * (lang, 100-char length bucket) quasi-identifier class has fewer
    * than 10 members — the release check before publishing metadata-
    * bearing corpora. Pure integer counting; the corpus never
    * shuffles (QI-combination dim joined back broadcast). */
  def q149: Q = Q(
    "q149_k_anonymity",
    Some("""
      |WITH b AS (
      |  SELECT doc_id, lang, n_chars // 100 AS len_bucket FROM documents),
      |c AS (
      |  SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS qi_count
      |  FROM b GROUP BY lang, len_bucket)
      |SELECT b.doc_id, b.lang, b.len_bucket, c.qi_count,
      |       c.qi_count < 10 AS is_suppressed
      |FROM b JOIN c USING (lang, len_bucket)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.text.Privacy
    Privacy.kAnonymity(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          expr("n_chars div 100").as("len_bucket")),
      Seq("lang", "len_bucket"), 10)
      .orderBy(col("doc_id"))
  }

  /** Directional containment join (SetSimJoin.containmentPairs):
    * |A∩B| ≥ 0.9·|A| over shingle sets — catches a document quoted or
    * extended inside another, which symmetric Jaccard misses when the
    * container is much larger. Oracle is the naive shared-element
    * quadratic join, proving the asymmetric prefix + positional
    * pruning dropped nothing. */
  def q150: Q = Q(
    "q150_containment_join",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(${sqlShingles("toks")}) AS s
      |  FROM t),
      |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
      |  GROUP BY 1, 2)
      |SELECT pair.a AS a, pair.b AS b, CAST(inter AS BIGINT) AS inter,
      |       CAST(na.c AS BIGINT) AS n_a, CAST(nb.c AS BIGINT) AS n_b
      |FROM pair
      |JOIN n na ON na.doc_id = pair.a
      |JOIN n nb ON nb.doc_id = pair.b
      |WHERE inter * 100 >= 90 * na.c
      |ORDER BY pair.a, pair.b
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.{Dedup, SetSimJoin}
    val sets = Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    SetSimJoin.containmentPairs(sets, "doc_id", "sh", 90)
      .orderBy(col("a"), col("b"))
  }

  /** Reciprocal-rank fusion (sim/Fusion.rrf): hybrid retrieval — fuse
    * the exact cosine run (q30) with the LSH run (q31) by summed
    * 1/(60+rank), the calibration-free way to combine incomparable
    * score scales. Each reciprocal term is one pinned IEEE divide
    * quantized to DECIMAL(18,9) before the order-free decimal sum, so
    * the fused ranking is bit-identical cross-engine. The oracle
    * replays BOTH retrieval pipelines (q103's replay) plus the fusion
    * arithmetic. */
  def q147: Q = Q(
    "q147_rrf_fusion",
    Some(s"""
      |WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
      |tpairs AS (
      |  SELECT q.vec_id, c.vec_id AS neighbor_id,
      |         ${sqlCosine("q.embedding", "c.embedding")} AS cos
      |  FROM q JOIN embeddings c ON q.vec_id != c.vec_id),
      |truth_r AS (
      |  SELECT vec_id, neighbor_id, rk FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM tpairs)
      |  WHERE rk <= 3),
      |sigs AS (
      |  SELECT vec_id, embedding, ${sqlHyperplaneCell(32)} AS sig
      |  FROM embeddings),
      |${sqlBandedCtes(4, 8, 128)},
      |cand AS (
      |  SELECT DISTINCT x.vec_id, x.embedding AS qvec,
      |                  y.vec_id AS neighbor_id, y.embedding AS nvec
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id != y.vec_id),
      |scored AS (
      |  SELECT vec_id, neighbor_id,
      |         ${sqlCosine("qvec", "nvec")} AS cos
      |  FROM cand),
      |approx_r AS (
      |  SELECT vec_id, neighbor_id, rk FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM scored)
      |  WHERE rk <= 3 AND vec_id < 50),
      |u AS (
      |  SELECT vec_id, neighbor_id,
      |         CAST(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE)
      |              + CAST(rk AS DOUBLE)) AS DECIMAL(18,9)) AS term
      |  FROM truth_r
      |  UNION ALL
      |  SELECT vec_id, neighbor_id,
      |         CAST(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE)
      |              + CAST(rk AS DOUBLE)) AS DECIMAL(18,9)) AS term
      |  FROM approx_r),
      |f AS (
      |  SELECT vec_id, neighbor_id, sum(term) AS s
      |  FROM u GROUP BY vec_id, neighbor_id),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY s DESC, neighbor_id) AS fused_rank
      |  FROM f)
      |SELECT vec_id, fused_rank, neighbor_id, CAST(s AS DOUBLE) AS rrf
      |FROM r WHERE fused_rank <= 3 ORDER BY vec_id, fused_rank
      |""".stripMargin)) { (s, dir) =>
    import graft.sim.Fusion
    val emb = Tables.embeddings(s, dir)
    val bf = Similarity.bruteForceTopK(
      corpus = emb, queries = emb.filter(col("vec_id") < 50),
      idCol = "vec_id", vecCol = "embedding", k = 3)
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
      dims = 64, k = 3, bands = 4, rowsPerBand = 8)
      .filter(col("vec_id") < 50)
    Fusion.rrf(Seq(bf, lsh), "vec_id", "neighbor_id", "rank", k = 3)
      .orderBy(col("vec_id"), col("fused_rank"))
  }

  /** Sorted-neighborhood blocking (dedup/SortedNeighborhood): order
    * documents by length, slide a w=3 window, verify each candidate
    * pair with exact shingle Jaccard — the entity-resolution blocking
    * strategy that replaces the all-pairs token join with ONE sort.
    * The rank is bucket-parallel (two-phase prefix sum — never a
    * single-partition window); the oracle replays the identical
    * window-pair semantics with a flat row_number, so equality also
    * proves the distributed rank ≡ the global rank. */
  def q146: Q = Q(
    "q146_sorted_neighborhood",
    Some(s"""
      |WITH r AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY n_chars, doc_id) AS rn
      |  FROM documents),
      |cand AS (
      |  SELECT ra.doc_id AS a, rb.doc_id AS b, rb.rn - ra.rn AS dist
      |  FROM r ra JOIN r rb ON rb.rn > ra.rn AND rb.rn <= ra.rn + 3),
      |t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(${sqlShingles("toks")}) AS s
      |  FROM t),
      |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
      |i AS (
      |  SELECT c.a, c.b, count(*) AS inter
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.a
      |  JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
      |  GROUP BY c.a, c.b)
      |SELECT cand.a AS a, cand.b AS b, CAST(dist AS BIGINT) AS dist,
      |       CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
      |       CAST(coalesce(na.c, 0) + coalesce(nb.c, 0)
      |            - coalesce(i.inter, 0) AS BIGINT) AS uni,
      |       (coalesce(na.c, 0) + coalesce(nb.c, 0)
      |          - coalesce(i.inter, 0) > 0)
      |         AND coalesce(i.inter, 0) * 100 >=
      |             50 * (coalesce(na.c, 0) + coalesce(nb.c, 0)
      |                   - coalesce(i.inter, 0)) AS is_match
      |FROM cand
      |LEFT JOIN i ON i.a = cand.a AND i.b = cand.b
      |LEFT JOIN n na ON na.doc_id = cand.a
      |LEFT JOIN n nb ON nb.doc_id = cand.b
      |ORDER BY cand.a, cand.b
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.{Dedup, SortedNeighborhood}
    val docs = Tables.documents(s, dir)
    val cands = SortedNeighborhood.candidatePairs(
      docs.select(col("doc_id"), col("n_chars"),
        expr("n_chars div 16").as("len_bucket")),
      "doc_id", "len_bucket", Seq("n_chars"), 3)
    val sized = docs
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("__sh"))
      .withColumn("__n", size(col("__sh")).cast("long"))
    cands
      .join(sized.select(col("doc_id").as("a"), col("__sh").as("__sa"),
        col("__n").as("__na")), "a")
      .join(sized.select(col("doc_id").as("b"), col("__sh").as("__sb"),
        col("__n").as("__nb")), "b")
      .withColumn("inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("uni", col("__na") + col("__nb") - col("inter"))
      .withColumn("is_match",
        col("uni") > 0 && col("inter") * 100 >= lit(50L) * col("uni"))
      .select(col("a"), col("b"), col("dist"), col("inter"), col("uni"),
        col("is_match"))
      .orderBy(col("a"), col("b"))
  }

  /** Exact set-similarity join (dedup/SetSimJoin.jaccardPairs): all
    * document pairs with shingle-set Jaccard ≥ 0.5 via PPJoin prefix
    * filtering — the LOSSLESS near-dup join (q28's LSH banding can
    * miss a qualifying pair; the prefix filter provably cannot). The
    * oracle is the naive shared-element quadratic join, so equality
    * proves the pruning dropped nothing. Threshold test is the
    * cross-multiplied integer compare — no float anywhere. */
  def q145: Q = Q(
    "q145_setsim_join",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(${sqlShingles("toks")}) AS s
      |  FROM t),
      |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT pair.a, pair.b, CAST(inter AS BIGINT) AS inter,
      |       CAST(na.c + nb.c - inter AS BIGINT) AS uni
      |FROM pair
      |JOIN n na ON na.doc_id = pair.a
      |JOIN n nb ON nb.doc_id = pair.b
      |WHERE inter * 100 >= 50 * (na.c + nb.c - inter)
      |ORDER BY a, b
      |""".stripMargin)) { (s, dir) =>
    // t = 50 recovered from the t = 30 pair spine: the spine holds
    // every Jaccard ≥ 0.3 pair with exact (inter, uni), so this
    // filter IS jaccardPairs(.., 50)'s defining predicate
    jaccPairs30(s, dir)
      .where(col("inter") * 100 >= lit(50L) * col("uni"))
      .orderBy(col("a"), col("b"))
  }

  /** Robust MAD outliers (operators/Anomaly.madFlags): per-source
    * |n_chars − median| > 3·MAD flags — the heavy-tail-safe sibling of
    * q110's k-sigma test (one wild document cannot drag a median the
    * way it drags a mean). Both medians are exact rank-⌈n/2⌉ order
    * statistics (q127's percentile_disc discipline), so every column
    * is integer arithmetic end to end — no float anywhere. */
  def q144: Q = Q(
    "q144_mad_outliers",
    Some("""
      |WITH r AS (SELECT doc_id, source, n_chars FROM documents),
      |med AS (
      |  SELECT source, value AS median FROM (
      |    SELECT source, n_chars AS value,
      |           row_number() OVER (PARTITION BY source ORDER BY n_chars)
      |             AS rn,
      |           count(*) OVER (PARTITION BY source) AS n
      |    FROM r) WHERE rn = (500 * n + 999) // 1000),
      |dev AS (
      |  SELECT r.doc_id, r.source, r.n_chars, med.median,
      |         abs(r.n_chars - med.median) AS abs_dev
      |  FROM r JOIN med USING (source)),
      |mad AS (
      |  SELECT source, value AS mad FROM (
      |    SELECT source, abs_dev AS value,
      |           row_number() OVER (PARTITION BY source ORDER BY abs_dev)
      |             AS rn,
      |           count(*) OVER (PARTITION BY source) AS n
      |    FROM dev) WHERE rn = (500 * n + 999) // 1000)
      |SELECT dev.doc_id, dev.source, dev.n_chars, dev.median, dev.abs_dev,
      |       mad.mad, dev.abs_dev > 3 * mad.mad AS is_outlier
      |FROM dev JOIN mad USING (source)
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Anomaly
    Anomaly.madFlags(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      Seq("source"), "n_chars", 3)
      .orderBy(col("doc_id"))
  }

  /** HLL register sketch (operators/HyperLogLog): per-source distinct-
    * token estimate from 64 max-trailing-zero registers — the fixed-
    * size mergeable cardinality sketch (LinearCount's occupied-bucket
    * set saturates; registers never do). The oracle replays the whole
    * pipeline: salted PolyHash, bit split, rho CASE chain, per-register
    * max, exact 2^(−r) decimal terms, and the single pinned divide by
    * the shared α·m² literal. est takes the paper's small-range branch
    * (quantized-ln linear counting) when est_raw ≤ 2.5m. */
  def q143: Q = {
    val m = 64
    val cap = graft.operators.HyperLogLog.RhoCap
    val rhoCase = graft.operators.HyperLogLog.sqlRhoCase
    val termCase = graft.operators.HyperLogLog.sqlTermCase
    val aM2 = graft.operators.HyperLogLog.alphaM2(m)
    Q("q143_hll_distinct",
      Some(s"""
        |WITH tok AS (
        |  SELECT source, unnest(${sqlTokens("text")}) AS token
        |  FROM documents),
        |h AS (
        |  SELECT DISTINCT source, (${sqlSaltedHash("token", "hll")}) AS hv
        |  FROM tok WHERE token IS NOT NULL),
        |w AS (SELECT source, hv % $m AS bucket, hv // $m AS w FROM h),
        |reg AS (
        |  SELECT source, bucket, max(CASE $rhoCase ELSE $cap END) AS r
        |  FROM w GROUP BY source, bucket),
        |agg AS (
        |  SELECT source, count(*) AS occ, sum(r) AS sum_r,
        |         sum(CASE $termCase END) AS occ_terms
        |  FROM reg GROUP BY source),
        |d AS (
        |  SELECT source, occ, sum_r,
        |         CAST(CAST($m - occ AS DECIMAL(38,12))
        |              + CAST(occ_terms AS DECIMAL(38,12)) AS DOUBLE) AS denom
        |  FROM agg),
        |e AS (
        |  SELECT source, occ, sum_r, $aM2 / denom AS est_raw FROM d)
        |SELECT source, CAST($m AS BIGINT) AS m,
        |       CAST($m - occ AS BIGINT) AS v_empty,
        |       CAST(sum_r AS BIGINT) AS sum_r, est_raw,
        |       CASE WHEN est_raw <= CAST($m AS DOUBLE) * 2.5
        |                 AND $m - occ > 0
        |            THEN CAST(CAST(-$m AS DECIMAL(10,0)) *
        |                   CAST(ln(CAST($m - occ AS DOUBLE)
        |                           / CAST($m AS DOUBLE)) AS DECIMAL(18,9))
        |                 AS DOUBLE)
        |            ELSE est_raw END AS est
        |FROM e ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.HyperLogLog
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      HyperLogLog.distinctEstimate(toks, Seq("source"), "token", m, "hll")
        .orderBy(col("source"))
    }
  }

  /** Grouped linear fit (operators/Stats.linearFit): per-source OLS of
    * token count against character count — the chars-per-token drift
    * profile a corpus card tracks per source. All six moment sums are
    * exact DECIMAL(38,0) integer sums (order-free in both engines);
    * determinants stay < 2^53 at every sf (n ≤ 250/source, x ≤ ~580,
    * y ≤ 100 → n·Σxx ≲ 8·10^9), so the single decimal→double cast is
    * exact and the derived corr/slope/intercept are one pinned IEEE op
    * sequence — bit-identical cross-engine with no quantization step. */
  def q142: Q = Q(
    "q142_linear_fit",
    Some(s"""
      |WITH b AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x,
      |         CAST(len(${sqlTokens("text")}) AS BIGINT) AS y
      |  FROM documents),
      |s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM b GROUP BY source),
      |d AS (
      |  SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) AS num_d,
      |         CAST(n * sxx - sx * sx AS DOUBLE) AS dx_d,
      |         CAST(n * syy - sy * sy AS DOUBLE) AS dy_d
      |  FROM s)
      |SELECT source, n, sx, sy, sxy, sxx, syy,
      |       CASE WHEN dx_d > 0 AND dy_d > 0
      |            THEN num_d / (sqrt(dx_d) * sqrt(dy_d)) END AS corr,
      |       CASE WHEN dx_d > 0 THEN num_d / dx_d END AS slope,
      |       CASE WHEN dx_d > 0 THEN
      |         (CAST(sy AS DOUBLE) - (num_d / dx_d) * CAST(sx AS DOUBLE))
      |           / CAST(n AS DOUBLE) END AS intercept
      |FROM d ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Stats
    Stats.linearFit(Tables.documents(s, dir), Seq("source"),
        col("n_chars"), TextAnalysis.tokenCount(col("text")))
      .select(col("source"), col("n"),
        col("sx").cast("long").as("sx"), col("sy").cast("long").as("sy"),
        col("sxy").cast("long").as("sxy"), col("sxx").cast("long").as("sxx"),
        col("syy").cast("long").as("syy"),
        col("corr"), col("slope"), col("intercept"))
      .orderBy(col("source"))
  }

  /** Per-doc token Shannon entropy (TextAnalysis.tokenEntropy): the
    * repetitive/templated-text quality signal — boilerplate scores low,
    * natural text high. ln terms quantize to DECIMAL(18,9) before the
    * exact cross-token sum (q105's discipline), so the oracle replays
    * every entropy bit-for-bit. */
  def q141: Q = Q(
    "q141_token_entropy",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
      |wn AS (
      |  SELECT doc_id, tok, c,
      |         sum(c) OVER (PARTITION BY doc_id) AS n
      |  FROM tf)
      |SELECT doc_id,
      |       CAST(max(n) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_distinct,
      |       CAST(sum(CAST(
      |         -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |         AS DECIMAL(18,9))) AS DOUBLE) AS entropy
      |FROM wn GROUP BY doc_id ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    TextAnalysis.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Two-sample snapshot drift (Drift.psiBetween): per-source PSI of
    * the n_chars distribution between an earlier 90%-crawl snapshot
    * and the current corpus — the generation gate a versioned ingest
    * runs before publishing (q102's snapshot framing + q105's PSI
    * discipline composed). Same cross-engine rules as q105: exact
    * grouped-count histograms, eps floors on both sides, one decimal
    * cast of the double product, scale-9 sum. */
  def q140: Q = {
    val bounds = Seq(0L, 100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L, 500L)
    val eps = 1e-4
    val chain = bounds.map(b => s"(CASE WHEN n_chars >= $b THEN 1 ELSE 0 END)")
      .mkString(" + ")
    Q("q140_snapshot_drift",
      Some(s"""
        |WITH olds AS (
        |  SELECT source, n_chars FROM documents WHERE doc_id % 10 != 0),
        |news AS (SELECT source, n_chars FROM documents),
        |ha AS (
        |  SELECT source AS s, ($chain) - 1 AS b, count(*) AS c
        |  FROM olds GROUP BY s, b),
        |hb AS (
        |  SELECT source AS s, ($chain) - 1 AS b, count(*) AS c
        |  FROM news GROUP BY s, b),
        |na AS (SELECT s, CAST(sum(c) AS BIGINT) AS na FROM ha GROUP BY s),
        |nb AS (SELECT s, CAST(sum(c) AS BIGINT) AS nb FROM hb GROUP BY s),
        |strata AS (
        |  SELECT coalesce(na.s, nb.s) AS s, na, nb
        |  FROM na FULL OUTER JOIN nb ON na.s = nb.s),
        |grid AS (SELECT strata.s, strata.na, strata.nb, u.b
        |         FROM strata, unnest(range(0, ${bounds.size})) AS u(b)),
        |t AS (
        |  SELECT grid.s, grid.na, grid.nb,
        |         greatest(coalesce(CAST(coalesce(ha.c, 0) AS DOUBLE)
        |                    / CAST(grid.na AS DOUBLE), 0.0), $eps) AS p,
        |         greatest(coalesce(CAST(coalesce(hb.c, 0) AS DOUBLE)
        |                    / CAST(grid.nb AS DOUBLE), 0.0), $eps) AS q
        |  FROM grid
        |  LEFT JOIN ha ON ha.s = grid.s AND ha.b = grid.b
        |  LEFT JOIN hb ON hb.s = grid.s AND hb.b = grid.b)
        |SELECT s AS source, na AS n_a, nb AS n_b,
        |       CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(18,9)))
        |            AS DOUBLE) AS psi
        |FROM t GROUP BY s, na, nb ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.text.Drift.psiBetween(
        docs.where(col("doc_id") % 10 =!= 0), docs,
        "n_chars", "source", bounds, eps)
        .orderBy(col("source"))
    }
  }

  /** Linear-counting distinct estimate (operators/LinearCount): per
    * source, approximate distinct-token count from the occupied-bucket
    * sketch — the deterministic COUNT DISTINCT sketch (occupied-bucket
    * SET, not HLL registers), so the oracle replays it verbatim. The
    * est product is DECIMAL(10,0)·DECIMAL(18,9) → scale 9: numerator
    * < 2^53, so decimal→double recovery is exact in both engines. */
  def q135: Q = {
    val m = 256
    Q("q135_distinct_estimate",
      Some(s"""
        |WITH tok AS (
        |  SELECT source, unnest(${sqlTokens("text")}) AS token
        |  FROM documents),
        |b AS (
        |  SELECT DISTINCT source,
        |         (${sqlSaltedHash("token", "lc")}) % $m AS bucket
        |  FROM tok WHERE token IS NOT NULL),
        |agg AS (
        |  SELECT source, CAST(count(DISTINCT bucket) AS BIGINT) AS d
        |  FROM b GROUP BY source)
        |SELECT source, CAST($m AS BIGINT) AS m, d,
        |       CASE WHEN d < $m THEN CAST(
        |         CAST(-$m AS DECIMAL(10,0)) *
        |         CAST(ln(CAST($m - d AS DOUBLE) / CAST($m AS DOUBLE))
        |              AS DECIMAL(18,9))
        |         AS DOUBLE) END AS est
        |FROM agg ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.LinearCount
      val toks = Tables.documents(s, dir).select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      LinearCount.distinctEstimate(toks, Seq("source"), "token",
        m = m, salt = "lc")
        .orderBy(col("source"))
    }
  }

  /** Single-pass numeric profile (operators/Profile.numeric): the
    * data-catalog summary of five lineitem columns — rows, nulls,
    * min, max — in ONE scan (all aggregates side by side, then a
    * constant melt), not one scan per column. min/max are selections
    * of stored values: exact cross-engine even for doubles. */
  def q134: Q = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_partkey")
    val arms = cols.map(c => s"""
      |  SELECT '$c' AS "column", count(*) AS n_rows,
      |         count(*) FILTER ($c IS NULL) AS n_null,
      |         CAST(min($c) AS DOUBLE) AS min_d,
      |         CAST(max($c) AS DOUBLE) AS max_d
      |  FROM lineitem""".stripMargin).mkString("\n  UNION ALL")
    Q("q134_numeric_profile",
      Some(s"""
        |SELECT * FROM ($arms)
        |ORDER BY "column"
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Profile
      Profile.numeric(Tables.lineitem(s, dir), cols)
        .orderBy(col("column"))
    }
  }

  /** Forward fill / LOCF (operators/Relational.forwardFill): the
    * purchase price is known only AT purchases; every event carries
    * the user's most recent purchase value forward (null before the
    * first). Prices quantize to micro-units (floor(v·1e6), one IEEE
    * multiply) so the carried value is integer-exact cross-engine. */
  def q132: Q = Q(
    "q132_forward_fill",
    Some("""
      |WITH e AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS ns,
      |         CASE WHEN event_type = 'purchase'
      |              THEN CAST(floor(value * 1000000) AS BIGINT) END AS pv
      |  FROM events)
      |SELECT event_id, user_id,
      |       last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |         ORDER BY ns, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS pv_filled
      |FROM e ORDER BY event_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Relational
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("ts"),
      when(col("event_type") === "purchase",
        floor(col("value") * lit(1000000.0)).cast("long")).as("pv"))
    Relational.forwardFill(e, Seq("user_id"),
      Seq(col("ts"), col("event_id")), "pv")
      .select(col("event_id"), col("user_id"), col("pv_filled"))
      .orderBy(col("event_id"))
  }

  /** Sequence gap detection (operators/Relational.sequenceGaps): holes
    * in the global event-id sequence AFTER a planted drop (ids
    * divisible by 97 filtered out) — the "did we lose messages" check
    * with a non-empty answer, q101's planted-proof discipline. Gaps
    * compute bucket-parallel (lead within id-buckets) with only the
    * per-bucket (min, max) summaries crossing a single partition; the
    * oracle is the naive global lead. A small bucketSize exercises
    * the cross-bucket reconciliation on real data. */
  def q133: Q = Q(
    "q133_sequence_gaps",
    Some("""
      |WITH e AS (
      |  SELECT event_id FROM events WHERE event_id % 97 <> 0),
      |g AS (
      |  SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS nxt
      |  FROM e)
      |SELECT event_id + 1 AS gap_start, nxt - 1 AS gap_end
      |FROM g WHERE nxt > event_id + 1
      |ORDER BY gap_start
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Relational
    Relational.sequenceGaps(
      Tables.events(s, dir).where(pmod(col("event_id"), lit(97L)) =!= 0),
      "event_id", bucketSize = 256L)
      .orderBy(col("gap_start"))
  }

  /** Per-group mode (operators/Relational.modePerKey): each source's
    * most frequent language, smallest value breaking ties — the
    * deterministic mode contract. Raw rows pay one combiner-friendly
    * aggregation; the rank-1 window runs over the reduced counts. The
    * oracle replays the same (count desc, value asc) selection. */
  def q131: Q = Q(
    "q131_mode_per_group",
    Some("""
      |WITH c AS (
      |  SELECT source, lang, count(*) AS c FROM documents
      |  WHERE lang IS NOT NULL GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |            ORDER BY c DESC, lang ASC) AS rn FROM c)
      |SELECT source, lang AS mode_value, c AS mode_count
      |FROM r WHERE rn = 1 ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Relational
    Relational.modePerKey(Tables.documents(s, dir), Seq("source"), "lang")
      .orderBy(col("source"))
  }

  /** Exact triangle count (operators/Triangles.triangleCount) over
    * the shared-prefix similarity graph (docs joined on their first 12
    * chars): degree-ordered orientation counts each triangle once at
    * its pivot and bounds wedge fan-out by O(√E) — the formulation
    * that survives a celebrity vertex. The oracle is the naive triple
    * join over the same edges. */
  def q130: Q = Q(
    "q130_triangle_count",
    Some(s"""
      |WITH ${sqlPrefixEdges}
      |SELECT count(*) AS n_triangles
      |FROM e e1 JOIN e e2 ON e2.a = e1.b
      |          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Triangles
    val edges = prefixEdges(s, dir)
    Triangles.triangleCount(edges, "a", "b")
  }

  /** Point-in-time dimension join — the SCD2 consumer (operators/Scd2
    * + operators/AsOf composed): each click is joined to the user's
    * load-state VERSION valid at that instant, where versions come
    * from fromChangeLog over the view stream (state = high/low by
    * view value). The oracle states the same semantics directly as
    * "state of the last view at-or-before the click" via DuckDB's
    * native ASOF JOIN — hash equality proves the version-table route
    * (collapse runs, then as-of into valid_from) computes exactly the
    * point-in-time lookup it should. */
  def q129: Q = Q(
    "q129_point_in_time",
    Some("""
      |WITH v AS (
      |  SELECT user_id, ts,
      |         CASE WHEN value > 250 THEN 'high' ELSE 'low' END AS state
      |  FROM events WHERE event_type = 'view'),
      |c AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
      |       v.state AS asof_state
      |FROM c ASOF LEFT JOIN v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts
      |ORDER BY c.event_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.{AsOf, Scd2}
    val ev = Tables.events(s, dir)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"),
        when(col("value") > 250, "high").otherwise("low").as("state"),
        expr("ts div 1000").as("ts_us"), col("event_id"))
    // the stored dimension: run-collapsed state versions
    val dim = Scd2.fromChangeLog(views, "user_id", "state", "ts_us",
        "event_id")
      .select(col("user_id"), col("state"), col("valid_from").as("ts_us"))
      .materialize()
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
    AsOf.asOfJoin(clicks, dim, Seq("user_id"), "ts_us", Seq("state"))
      .orderBy(col("event_id"))
  }

  /** CUBE with grouping_id (completing q41's ROLLUP family): all four
    * aggregation levels over (returnflag, linestatus) in one pass,
    * with GROUPING() disambiguating a rolled-up dimension from a null
    * data value — the classic CUBE gotcha made explicit. Decimal sums
    * exact; both engines compute the same 2-bit grouping id. */
  def q128: Q = Q(
    "q128_cube_grouping",
    Some("""
      |SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |         AS total_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("total_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("n"), col("total_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** Exact order-statistic percentiles (operators/OrderStats
    * .quantilesDisc): per-source p50/p90/p99 of document length as
    * ACTUAL data values (rank ⌈p·n/1000⌉ ascending — percentile_disc
    * semantics), with the rank in pure integer arithmetic. Selection
    * cannot ulp-diverge across engines the way interpolation does;
    * the oracle replays the same row_number selection. */
  def q127: Q = Q(
    "q127_exact_percentiles",
    Some("""
      |WITH r AS (
      |  SELECT source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars)
      |           AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents WHERE n_chars IS NOT NULL),
      |p AS (SELECT unnest([500, 900, 990]) AS permille)
      |SELECT source, p.permille, n_chars AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY source, permille
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    OrderStats.quantilesDisc(Tables.documents(s, dir), Seq("source"),
      "n_chars", Seq(500, 900, 990))
      .orderBy(col("source"), col("permille"))
  }

  /** Data-quality expectations (operators/Expectations): a battery of
    * row-level predicates over lineitem evaluated in ONE shared scan
    * (each check a conditional count in a zero-group aggregate) plus
    * a referential check (every l_orderkey exists in orders) as one
    * anti-join — the dbt-test/Deequ report shape with pass-count as
    * the design constraint. Null predicate results count as
    * violations (tri-state made explicit; the l_tax check exercises
    * it if nulls ever appear). */
  def q126: Q = Q(
    "q126_quality_expectations",
    Some("""
      |WITH li AS (SELECT count(*) AS n FROM lineitem),
      |rc AS (
      |  SELECT 'qty_positive' AS "check", li.n AS n_rows,
      |         (SELECT count(*) FROM lineitem
      |          WHERE NOT coalesce(l_quantity > 0, FALSE)) AS n_violations
      |  FROM li
      |  UNION ALL
      |  SELECT 'discount_unit_range', li.n,
      |         (SELECT count(*) FROM lineitem
      |          WHERE NOT coalesce(l_discount BETWEEN 0 AND 1, FALSE))
      |  FROM li
      |  UNION ALL
      |  SELECT 'shipdate_present', li.n,
      |         (SELECT count(*) FROM lineitem
      |          WHERE l_shipdate IS NULL) FROM li
      |  UNION ALL
      |  SELECT 'returnflag_domain', li.n,
      |         (SELECT count(*) FROM lineitem
      |          WHERE NOT coalesce(l_returnflag IN ('A','N','R'), FALSE))
      |  FROM li
      |  UNION ALL
      |  SELECT 'orderkey_references_orders',
      |         (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
      |         (SELECT count(*) FROM lineitem l
      |          WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
      |            (SELECT 1 FROM orders o
      |             WHERE o.o_orderkey = l.l_orderkey)))
      |SELECT * FROM rc ORDER BY "check"
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Expectations
    import graft.operators.Expectations.Check
    val li = Tables.lineitem(s, dir)
    val rows = Expectations.rowChecks(li, Seq(
      Check("qty_positive", col("l_quantity") > 0),
      Check("discount_unit_range",
        col("l_discount") >= 0 && col("l_discount") <= 1),
      Check("shipdate_present", col("l_shipdate").isNotNull),
      Check("returnflag_domain", col("l_returnflag").isin("A", "N", "R"))))
    val ref = Expectations.refCheck("orderkey_references_orders",
      li, "l_orderkey", Tables.orders(s, dir), "o_orderkey")
    rows.unionByName(ref).orderBy(col("check"))
  }

  /** Markov transition matrix (operators/Funnel.transitions): per
    * user, each consecutive event pair in time order is one
    * (from, to) observation, with the last event transiting to the
    * '(end)' sentinel — path analysis without a self-join. Exact
    * counts; the oracle replays the lead window. */
  def q125: Q = Q(
    "q125_event_transitions",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ns, event_id
      |  FROM events),
      |t AS (
      |  SELECT event_type AS from_type,
      |         coalesce(lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ns, event_id), '(end)') AS to_type
      |  FROM e)
      |SELECT from_type, to_type, count(*) AS n_transitions
      |FROM t GROUP BY 1, 2 ORDER BY from_type, to_type
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Funnel
    Funnel.transitions(Tables.events(s, dir), "user_id", "event_type",
      "ts", "event_id")
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Time-weighted value integral (operators/TimeWeighted
    * .stepIntegral): each event's value HOLDS until the user's next
    * event (step interpolation, horizon = the stream's last second);
    * per user the exact ∫value·dt and active duration — the TWAP/
    * billing aggregate a per-sample avg gets wrong on irregular
    * series. All arithmetic is DECIMAL(28,6)·long sums (exact both
    * engines, NOTES rule 4: the integral and duration ship separately,
    * division is the consumer's). */
  def q124: Q = Q(
    "q124_time_weighted",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s,
      |         CAST(value AS DECIMAL(28,6)) AS v, event_id FROM events),
      |h AS (SELECT max(ts_s) AS hz FROM e),
      |d AS (
      |  SELECT user_id, v,
      |         coalesce(lead(ts_s) OVER (PARTITION BY user_id
      |           ORDER BY ts_s, event_id), h.hz) - ts_s AS dt
      |  FROM e, h)
      |SELECT user_id,
      |       CAST(sum(v * dt) * 1000000 AS BIGINT) AS integral_micro,
      |       CAST(sum(dt) AS BIGINT) AS active_s
      |FROM d GROUP BY user_id ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.TimeWeighted
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.events(s, dir).select(col("user_id"),
      expr("ts div 1000000000").as("ts_s"),
      col("value").cast(DecimalType(28, 6)).as("v"), col("event_id"))
    val withHz = e.crossJoin(
      broadcast(e.agg(max(col("ts_s")).as("__hz"))))
    TimeWeighted.stepIntegral(withHz, Seq("user_id"), "ts_s", "v",
      "event_id", col("__hz"))
      .select(col("user_id"),
        (col("integral") * lit(1000000L)).cast("long").as("integral_micro"),
        col("duration").as("active_s"))
      .orderBy(col("user_id"))
  }

  /** Running distinct count (operators/Relational.runningDistinct):
    * per event, how many distinct event types its user has touched so
    * far — the linear first-occurrence-flag + prefix-sum formulation,
    * never a per-row set. One exchange (both windows cluster by user);
    * the oracle replays the same two windows. */
  def q123: Q = Q(
    "q123_running_distinct",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN row_number() OVER
      |      (PARTITION BY user_id, event_type ORDER BY t_us, event_id) = 1
      |    THEN 1 ELSE 0 END AS first_seen
      |  FROM e)
      |SELECT user_id, t_us,
      |       CAST(sum(first_seen) OVER (PARTITION BY user_id
      |         ORDER BY t_us, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS n_distinct_so_far
      |FROM f ORDER BY user_id, t_us
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Relational
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"))
    Relational.runningDistinct(e, Seq("user_id"), "event_type",
      Seq(col("t_us"), col("event_id")))
      .select(col("user_id"), col("t_us"), col("n_distinct_so_far"))
      .orderBy(col("user_id"), col("t_us"))
  }

  /** Edit-distance near-dup pairs (text/FuzzyJoin.editDistancePairs):
    * document prefixes within Levenshtein distance 2, found by the
    * lossless PassJoin segment blocking (pigeonhole: one of d+1
    * segments must appear verbatim, shifted ≤ d) instead of a cross
    * product — the record-linkage fuzzy join in its hard regime,
    * where one length dominates and plain length bands degrade to
    * the quadratic verify (43 s → ~1 s at sf0.1). The oracle runs
    * the quadratic definition; distances are exact integers in both
    * engines. */
  def q122: Q = Q(
    "q122_editdist_pairs",
    Some("""
      |WITH p AS (
      |  SELECT doc_id, substr(trim(text), 1, 16) AS s FROM documents
      |  WHERE text IS NOT NULL)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       levenshtein(a.s, b.s) AS dist
      |FROM p a JOIN p b
      |  ON a.doc_id < b.doc_id AND abs(len(a.s) - len(b.s)) <= 2
      | AND levenshtein(a.s, b.s) <= 2
      |ORDER BY id_a, id_b
      |""".stripMargin)) { (s, dir) =>
    import graft.text.FuzzyJoin
    val p = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), substring(trim(col("text")), 1, 16).as("s"))
    FuzzyJoin.editDistancePairsSegmented(p, "doc_id", "s", maxDist = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact heavy hitters (operators/HeavyHitters.frequentItems):
    * corpus tokens above 0.1% of all token occurrences — Misra–Gries
    * candidates per partition (bounded memory), then ONE verification
    * aggregate that collapses non-candidates map-side, so the
    * vocabulary never shuffles. The threshold compares by integer
    * cross-multiplication (cnt·1000 ≥ n), scale-free and exact; the
    * oracle is the naive full groupBy with the same HAVING — the hash
    * match proves the sketch path loses nothing. */
  def q121: Q = Q(
    "q121_frequent_tokens",
    Some(s"""
      |WITH t AS (
      |  SELECT unnest(${sqlTokens("text")}) AS item
      |  FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT count(*) AS c FROM t)
      |SELECT item, count(*) AS cnt FROM t, n
      |GROUP BY item, n.c HAVING count(*) * 1000 >= n.c
      |ORDER BY item
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.HeavyHitters
    val toks = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
    HeavyHitters.frequentItems(toks, "item", num = 1L, den = 1000L)
      .orderBy(col("item"))
  }

  /** Z-order cells (operators/ZOrder.zValue): events gridded on
    * (user mod 32, day offset) and Morton-interleaved — the clustering
    * key a lakehouse lays files out by so zone maps prune on EITHER
    * dimension (ZOrderSpec measures the pruning itself; this query
    * pins the bit-interleave arithmetic cross-engine, bit-for-bit).
    * Output: one row per occupied z-cell with its population and the
    * cell's recovered coordinates. Pure integer bit math in the scan
    * stage; one 1024-cell aggregate. */
  def q120: Q = {
    val bits = 5
    def sqlMorton(x: String, y: String) = (0 until bits).flatMap(b => Seq(
      s"((($x >> $b) & 1) << ${2 * b})",
      s"((($y >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
    Q("q120_zorder_cells",
      Some(s"""
        |WITH g AS (
        |  SELECT user_id % 32 AS ub,
        |         epoch_ns(ts) // 86400000000000 - 19723 AS db
        |  FROM events),
        |z AS (SELECT ${sqlMorton("ub", "db")} AS z_cell, ub, db FROM g)
        |SELECT z_cell, min(ub) AS user_cell, min(db) AS day_cell,
        |       count(*) AS n_events
        |FROM z GROUP BY z_cell ORDER BY z_cell
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.ZOrder
      val g = Tables.events(s, dir).select(
        pmod(col("user_id"), lit(32L)).as("ub"),
        (expr("ts div 86400000000000") - lit(19723L)).as("db"))
      g.select(ZOrder.zValue(Seq(col("ub"), col("db")), bits).as("z_cell"),
        col("ub"), col("db"))
        .groupBy(col("z_cell"))
        .agg(min(col("ub")).as("user_cell"), min(col("db")).as("day_cell"),
          count(lit(1)).as("n_events"))
        .orderBy(col("z_cell"))
    }
  }

  /** Order-independent table checksum (operators/Checksum): lineitem
    * reduced to 64 (bucket, n_rows, checksum) rows — the anti-entropy
    * summary two replicas exchange to find where they differ. The
    * oracle recomputes the same canonical row hash (control-character
    * field separator + null sentinel, shared polyhash fragments) in
    * DuckDB, so this literally IS a cross-engine replica check: the
    * hash match certifies multiset equality of a 6-column projection
    * across two independent engines. Sums stay exact in
    * DECIMAL(38,0)/HUGEINT and surface as BIGINT. */
  def q119: Q = {
    val cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_returnflag", "l_linestatus")
    val rowStr = cols.map(c => s"coalesce(CAST($c AS VARCHAR), chr(0))")
      .mkString("concat_ws(chr(1), ", ", ", ")")
    Q("q119_table_checksum",
      Some(s"""
        |WITH h AS (
        |  SELECT (${sqlSaltedHash(rowStr, "cksum")}) AS h FROM lineitem)
        |SELECT h % 64 AS bucket, count(*) AS n_rows,
        |       CAST(sum(CAST(h AS HUGEINT)) AS BIGINT) AS checksum
        |FROM h GROUP BY 1 ORDER BY bucket
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Checksum
      Checksum.bucketChecksums(Tables.lineitem(s, dir), cols, 64)
        .select(col("bucket"), col("n_rows"),
          col("checksum").cast("long").as("checksum"))
        .orderBy(col("bucket"))
    }
  }

  /** Pareto-front document selection (operators/Skyline.paretoFront):
    * documents maximizing token count while minimizing characters —
    * the token-density frontier no WHERE clause expresses. The axes are
    * exact integers (token count, negated n_chars), so domination is
    * integer comparison on both engines; the oracle is the literal
    * NOT EXISTS definition. Anti-correlated axes keep the front
    * non-trivial; the operator still runs its two-prune path
    * (per-partition fronts, then the global front over survivors). */
  def q118: Q = Q(
    "q118_pareto_docs",
    Some(s"""
      |WITH d AS (
      |  SELECT doc_id, n_chars,
      |         len(${sqlTokens("text")}) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL)
      |SELECT doc_id, n_tokens, n_chars FROM d a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM d b
      |  WHERE b.n_tokens >= a.n_tokens AND b.n_chars <= a.n_chars
      |    AND (b.n_tokens > a.n_tokens OR b.n_chars < a.n_chars))
      |ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Skyline
    val d = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        col("n_chars"))
    Skyline.paretoFront(d.withColumn("neg_chars", -col("n_chars")),
      "n_tokens", "neg_chars")
      .select(col("doc_id"), col("n_tokens"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Incremental join maintenance (operators/IncrementalJoin): the
    * orders⋈customer view advanced by insert-only deltas on BOTH sides
    * (orders from 1997 on; customers with custkey ≥ 1200 arriving
    * late), while the oracle joins from scratch — the hash match pins
    * (A∪dA)⋈(B∪dB) = A⋈B ∪ dA⋈B ∪ A⋈dB ∪ dA⋈dB on real data. Each
    * delta term joins at most one corpus-sized side; the big tables
    * never co-shuffle during maintenance. */
  def q117: Q = Q(
    "q117_incremental_join",
    Some("""
      |SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.IncrementalJoin
    val orders = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_mktsegment"))
    // o_orderdate is TIMESTAMP_NTZ — split on year(), which is
    // timezone-free (the q107 lesson)
    val (aO, aD) = (orders.where(year(col("o_orderdate")) < 1997),
      orders.where(year(col("o_orderdate")) >= 1997)
        .materialize())
    val (bO, bD) = (cust.where(col("c_custkey") < 1200),
      cust.where(col("c_custkey") >= 1200).materialize())
    // between runs the maintained view is a STORED table and the
    // deltas are the new files — checkpoints model both, so the final
    // plan scans each base table once (the delta terms' big side),
    // not four times
    val oldView = aO.join(bO, col("o_custkey") === col("c_custkey"))
      .materialize()
    IncrementalJoin.maintained(
      oldView, aO, aD, bO, bD, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Bloom-pruned semi-join (operators/BloomJoin.semiPruned): lineitems
    * of urgent high-value orders, with the order-key bloom pruning the
    * lineitem side in its scan stage so the shuffle moves only
    * (approximate) matches — the runtime-filter idea as an explicit
    * operator, for the dimension-too-big-to-broadcast regime. Blooms
    * have no false negatives and the exact semi-join scrubs the false
    * positives, so the oracle is simply the UNPRUNED semi-join: the
    * hash match proves pruning changed nothing. */
  def q116: Q = Q(
    "q116_bloom_semijoin",
    Some("""
      |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
      |ORDER BY l_orderkey, l_linenumber
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.BloomJoin
    val urgent = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
    BloomJoin.semiPruned(Tables.lineitem(s, dir), "l_orderkey",
      urgent, "o_orderkey", expectedKeys = 4000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Interval coverage (operators/Intervals.mergeOverlapping): each
    * event opens an activity interval of `value` seconds; per user the
    * overlapping intervals merge into maximal spans — gaps-and-islands
    * over TRUE intervals, where a long interval can swallow later short
    * ones (the case the lag-on-start formulation gets wrong and the
    * spec pins). Interval ends use floor(value·1e6) so the arithmetic
    * is one IEEE multiply + floor on both engines — no cast-rounding
    * divergence (Spark casts truncate, DuckDB CAST rounds). */
  def q115: Q = Q(
    "q115_activity_coverage",
    Some("""
      |WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e
      |  FROM events WHERE value IS NOT NULL),
      |o AS (
      |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv),
      |g AS (
      |  SELECT *, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY s, e
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM o)
      |SELECT user_id, min(s) AS span_start, max(e) AS span_end,
      |       count(*) AS n_intervals
      |FROM g GROUP BY user_id, isl
      |ORDER BY user_id, span_start
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Intervals
    // null value ⇒ null interval end: the operator's s <= e filter
    // drops it, so the oracle must exclude it too (q92's null rule)
    val iv = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("user_id"), expr("ts div 1000").as("s"),
        (expr("ts div 1000") +
          floor(col("value") * lit(1000000.0)).cast("long")).as("e"))
    Intervals.mergeOverlapping(iv, Seq("user_id"), "s", "e")
      .orderBy(col("user_id"), col("span_start"))
  }

  /** SCD2 user-state dimension (operators/Scd2): each user's
    * event_type as a type-2 slowly-changing attribute — runs collapse,
    * each version closes at the next change, the latest stays open
    * (valid_to null). The Spark side runs the INCREMENTAL path:
    * fromChangeLog up to Jan 20, then applyBatch with the rest — while
    * the oracle rebuilds from the full log, so the hash match proves
    * batch-apply ≡ full rebuild on real data (the q107 discipline
    * applied to version histories). */
  def q114: Q = {
    val cutNs = 1705708800000000000L // 2024-01-20T00:00Z
    Q("q114_scd2_user_state",
      Some("""
        |WITH e AS (
        |  SELECT user_id, event_type AS state, epoch_ns(ts) AS ns,
        |         event_id FROM events),
        |ord AS (
        |  SELECT *,
        |         lag(state) OVER w AS prev,
        |         row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ns, event_id)),
        |runs AS (
        |  SELECT user_id, state, ns, event_id FROM ord
        |  WHERE rn = 1 OR prev IS DISTINCT FROM state),
        |vers AS (
        |  SELECT user_id, state, ns AS valid_from,
        |         lead(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id)
        |           AS valid_to
        |  FROM runs)
        |SELECT user_id, state, valid_from // 1000 AS valid_from_us,
        |       valid_to // 1000 AS valid_to_us
        |FROM vers ORDER BY user_id, valid_from_us
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Scd2
      val log = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("state"),
          col("ts"), col("event_id"))
      // the dimension IS a stored table between runs — the eager
      // checkpoint models that, and keeps applyBatch's three branches
      // from re-deriving the version history thrice (3->1 events scans
      // in the final plan)
      val dim = Scd2.fromChangeLog(
        log.where(col("ts") < cutNs), "user_id", "state", "ts", "event_id")
        .materialize()
      // DuckDB reads TIMESTAMP(NANOS) at µs precision, so the ns
      // timestamps surface as µs on both sides (the q111 rule); no two
      // events share a (user, µs) at any sf, so truncation cannot
      // reorder the log
      Scd2.applyBatch(dim, log.where(col("ts") >= cutNs),
        "user_id", "state", "ts", "event_id")
        .select(col("user_id"), col("state"),
          expr("valid_from div 1000").as("valid_from_us"),
          expr("valid_to div 1000").as("valid_to_us"))
        .orderBy(col("user_id"), col("valid_from_us"))
    }
  }

  /** CMS join-size estimation (CountMin.joinSizeEstimate): the
    * cardinality of the token equi-join between two corpus halves,
    * estimated from two 4×256 sketches via the min-over-rows inner
    * product — the planner's "how big would this join be?" answered in
    * sketch space. Paired with the exact Σ fA·fB so the over-estimate
    * contract is visible in the output; both replay exactly in the
    * oracle (HUGEINT products). */
  def q113: Q = {
    val d = 4
    val w = 256
    val srcA = "('src0', 'src1', 'src2', 'src3', 'src4')"
    def arm(r: Int) =
      s"{'r': $r, 'b': (${sqlSaltedHash("tok", s"cms$r")}) % $w}"
    val arms = (0 until d).map(arm).mkString("[", ", ", "]")
    Q("q113_cms_join_size",
      Some(s"""
        |WITH ta AS (
        |  SELECT unnest(${sqlTokens("text")}) AS tok FROM documents
        |  WHERE source IN $srcA),
        |tb AS (
        |  SELECT unnest(${sqlTokens("text")}) AS tok FROM documents
        |  WHERE source NOT IN $srcA),
        |sa AS (
        |  SELECT u.r AS row, u.b AS bucket, count(*) AS c
        |  FROM (SELECT tok, unnest($arms) AS u FROM ta) GROUP BY 1, 2),
        |sb AS (
        |  SELECT u.r AS row, u.b AS bucket, count(*) AS c
        |  FROM (SELECT tok, unnest($arms) AS u FROM tb) GROUP BY 1, 2),
        |ip AS (
        |  SELECT sa.row, sum(CAST(sa.c AS HUGEINT) * sb.c) AS p
        |  FROM sa JOIN sb ON sa.row = sb.row AND sa.bucket = sb.bucket
        |  GROUP BY 1),
        |rows AS (SELECT unnest(range(0, $d)) AS r),
        |est AS (
        |  SELECT min(coalesce(ip.p, 0)) AS e
        |  FROM rows LEFT JOIN ip ON ip.row = rows.r),
        |ca AS (SELECT tok, count(*) AS c FROM ta GROUP BY tok),
        |cb AS (SELECT tok, count(*) AS c FROM tb GROUP BY tok),
        |ex AS (
        |  SELECT coalesce(sum(CAST(ca.c AS HUGEINT) * cb.c), 0) AS x
        |  FROM ca JOIN cb USING (tok))
        |SELECT CAST(est.e AS BIGINT) AS join_size_est,
        |       CAST(ex.x AS BIGINT) AS exact_join_size
        |FROM est CROSS JOIN ex
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.CountMin
      import org.apache.spark.sql.types.DecimalType
      val docs = Tables.documents(s, dir)
      val isA = col("source").isin("src0", "src1", "src2", "src3", "src4")
      // ONE corpus scan per side: the vocabulary-sized counts table is
      // the stage boundary feeding BOTH its sketch (buildWeighted, by
      // CMS linearity ≡ building from the raw multiset) and the exact
      // inner product
      def cnts(cond: org.apache.spark.sql.Column, name: String) = docs
        .where(cond)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(name))
        .materialize()
      val (ca, cb) = (cnts(isA, "ca"), cnts(!isA, "cb"))
      val est = CountMin.joinSizeEstimate(
        CountMin.buildWeighted(ca, "tok", "ca", d, w),
        CountMin.buildWeighted(cb, "tok", "cb", d, w), d)
      val exact = ca.join(cb, Seq("tok"))
        .agg(coalesce(sum(col("ca").cast(DecimalType(38, 0)) * col("cb")),
          lit(0L).cast(DecimalType(38, 0))).as("x"))
      est.crossJoin(exact)
        .select(col("join_size_est").cast("long").as("join_size_est"),
          col("x").cast("long").as("exact_join_size"))
    }
  }

  /** Ordered conversion funnel (operators/Funnel.funnel): per user, the
    * earliest view, the earliest click AT OR AFTER that view, and the
    * earliest purchase at or after that click — one exchange, three
    * chained windows over the same partitioning, never a self-join
    * over the event log. Times emitted at the µs contract (NOTES rule
    * 2). */
  def q111: Q = Q(
    "q111_conversion_funnel",
    Some(s"""
      |WITH ${sqlFunnelStages},
      |agg AS (
      |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      |  FROM s3 GROUP BY user_id)
      |SELECT user_id, t1 // 1000 AS t1_us, t2 // 1000 AS t2_us,
      |       t3 // 1000 AS t3_us,
      |       (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
      |        + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |        + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)
      |         AS stages_completed
      |FROM agg ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Funnel
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    Funnel.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .select(col("user_id"),
        expr("t_1 div 1000").as("t1_us"),
        expr("t_2 div 1000").as("t2_us"),
        expr("t_3 div 1000").as("t3_us"),
        col("stages_completed"))
      .orderBy(col("user_id"))
  }

  /** Retention cohorts (Funnel.retention): users cohorted by first
    * active epoch-day, distinct-user counts per day offset — the
    * retention triangle. Integer day buckets on the nanosecond
    * timestamps, so everything hash-compares. */
  def q112: Q = Q(
    "q112_retention_cohorts",
    Some("""
      |WITH d AS (
      |  SELECT DISTINCT user_id,
      |         epoch_ns(ts) // 86400000000000 AS day FROM events),
      |c AS (
      |  SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort FROM d)
      |SELECT cohort AS cohort_day, day - cohort AS day_offset,
      |       count(DISTINCT user_id) AS n_entities
      |FROM c GROUP BY 1, 2 ORDER BY cohort_day, day_offset
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Funnel
    val withDay = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    Funnel.retention(withDay, "user_id", "day")
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Hourly anomaly flags (operators/Anomaly.sigmaFlags): which hours'
    * total event value sat more than 3σ from that event type's hourly
    * mean — with the k-sigma test cross-multiplied into exact
    * DECIMAL(38,0) integer arithmetic (no sqrt, division, or float
    * crosses engines; the oracle replays it in HUGEINT). Stats table
    * is |event types| rows and broadcasts; the series never
    * reshuffles. */
  def q110: Q = Q(
    "q110_hourly_anomalies",
    Some("""
      |WITH h AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS HUGEINT)
      |           AS t_int
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS hh,
      |         sum(t_int) AS st, sum(t_int * t_int) AS st2
      |  FROM h GROUP BY 1)
      |SELECT h.event_type, h.hour_bucket, CAST(h.t_int AS BIGINT) AS t_int,
      |       (h.t_int * s.hh - s.st) * (h.t_int * s.hh - s.st)
      |         > 9 * (s.hh * s.st2 - s.st * s.st) AS is_anomaly
      |FROM h JOIN s USING (event_type)
      |ORDER BY event_type, hour_bucket
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.Anomaly
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 3600000000000").as("hour_bucket"))
      .agg((sum(col("value").cast(DecimalType(28, 6))) * lit(1000000L))
        .cast(DecimalType(38, 0)).as("t_int"))
    Anomaly.sigmaFlags(hourly, Seq("event_type"), "t_int", k = 3)
      .select(col("event_type"), col("hour_bucket"),
        col("t_int").cast("long").as("t_int"), col("is_anomaly"))
      .orderBy(col("event_type"), col("hour_bucket"))
  }

  /** Incremental aggregate maintenance (operators/IncrementalAgg): the
    * per-custkey order profile is maintained as base state (orders
    * before 1998) merged with an insert-only delta (1998+) — the
    * materialized-view path where only the delta shuffles wide and the
    * merge is a key-sized join. The oracle aggregates the WHOLE table
    * from scratch: hash-equality proves merged state ≡ full re-agg,
    * decimal sums exactly. */
  def q107: Q = Q(
    "q107_incremental_agg",
    Some("""
      |SELECT o_custkey, count(*) AS n_rows,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
      |         AS total,
      |       min(year(o_orderdate) * 10000 + month(o_orderdate) * 100
      |           + day(o_orderdate)) AS vmin,
      |       max(year(o_orderdate) * 10000 + month(o_orderdate) * 100
      |           + day(o_orderdate)) AS vmax
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.IncrementalAgg
    // yyyymmdd long: order-preserving and timezone-free (o_orderdate is
    // TIMESTAMP_NTZ; epoch conversion would drag session zones in)
    val orders = Tables.orders(s, dir)
      .withColumn("odate_key",
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100
          + dayofmonth(col("o_orderdate"))).cast("long"))
    val cutoff = "1998-01-01"
    val base = IncrementalAgg.state(
      orders.where(col("o_orderdate") < lit(cutoff)),
      Seq("o_custkey"), "o_totalprice", "odate_key")
    val delta = IncrementalAgg.state(
      orders.where(col("o_orderdate") >= lit(cutoff)),
      Seq("o_custkey"), "o_totalprice", "odate_key")
    IncrementalAgg.merge(base, delta, Seq("o_custkey"))
      .select(col("o_custkey"), col("n_rows"),
        col("total").cast("double").as("total"), col("vmin"), col("vmax"))
      .orderBy(col("o_custkey"))
  }

  /** Curriculum interleave (Sharding.curriculumInterleave): a total
    * training order that round-robins across quality-score difficulty
    * buckets without ever computing a global row number — the one
    * window is partitioned by bucket, the interleave key is scan-stage
    * arithmetic. The oracle replays bucket, salted-hash rank and key. */
  def q108: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    val salt = "cur_v1"
    Q("q108_curriculum_order",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents),
        |m AS (
        |  SELECT doc_id, ${sqlQualityExpr(sw)} AS quality FROM t),
        |b AS (
        |  SELECT doc_id, quality,
        |         CAST(floor(quality * 10.0) AS BIGINT) AS difficulty_bucket,
        |         ${sqlSaltedHash("CAST(doc_id AS VARCHAR)", salt + ":cur")}
        |           AS ord_key
        |  FROM m),
        |r AS (
        |  SELECT doc_id, difficulty_bucket,
        |         CAST(row_number() OVER (
        |           PARTITION BY difficulty_bucket
        |           ORDER BY ord_key, doc_id) AS BIGINT) AS rank_in_bucket
        |  FROM b)
        |SELECT doc_id, difficulty_bucket, rank_in_bucket,
        |       rank_in_bucket * 11 + difficulty_bucket AS interleave_key
        |FROM r ORDER BY interleave_key
        |""".stripMargin)) { (s, dir) =>
      val sw0 = TextAnalysis.LangStopwords.head._2
      val scored = Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text"), sw0).as("quality"))
      Sharding.curriculumInterleave(scored, "doc_id", "quality",
        bucketScale = 10, salt = salt)
        .select(col("doc_id"), col("difficulty_bucket"),
          col("rank_in_bucket"), col("interleave_key"))
        .orderBy(col("interleave_key"))
    }
  }

  /** BPE merge candidates (text/Bpe): corpus-wide adjacent char-pair
    * frequencies over the DISTINCT vocabulary weighted by token
    * frequency — the tokenizer-training inner loop with the explode
    * vocabulary-sized, not corpus-sized. Top-50 by count with the
    * deterministic pair tie-break; row 1 is BPE's next merge. */
  def q109: Q = Q(
    "q109_bpe_pairs",
    Some(s"""
      |WITH tok AS (
      |  SELECT unnest(${sqlTokens("text")}) AS token FROM documents),
      |tf AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
      |pairs AS (
      |  SELECT substr(token, CAST(u.i AS INTEGER), 2) AS pair, freq
      |  FROM tf, unnest(range(1, length(token))) AS u(i)
      |  WHERE length(token) >= 2)
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs
      |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50
      |""".stripMargin)) { (s, dir) =>
    graft.text.Bpe.mergeCandidates(Tables.documents(s, dir), "text", k = 50)
  }

  /** Per-source distribution drift (Drift.psi): PSI of each source's
    * n_chars histogram against the whole corpus — the per-feed
    * monitoring gate. Fixed literal boundaries make the histogram one
    * exact grouped count; empty buckets floor at eps on both sides;
    * each bucket term quantizes to DECIMAL(18,9) with one cast of the
    * double product and sums at scale 9, whose numerator stays < 2^53
    * so the final decimal→double recovery is exact in both engines
    * (see Drift.psiFromHistogram for why finer-grained quantization
    * is NOT portable). */
  def q105: Q = {
    val bounds = Seq(0L, 100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L, 500L)
    val eps = 1e-4
    val chain = bounds.map(b => s"(CASE WHEN n_chars >= $b THEN 1 ELSE 0 END)")
      .mkString(" + ")
    Q("q105_source_drift_psi",
      Some(s"""
        |WITH h AS (
        |  SELECT source AS s, ($chain) - 1 AS b, count(*) AS c
        |  FROM documents GROUP BY s, b),
        |ps AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY s),
        |g AS (SELECT b, sum(c) AS gc FROM h GROUP BY b),
        |gn AS (SELECT sum(c) AS gn FROM h),
        |grid AS (SELECT ps.s, ps.n, u.b
        |         FROM ps, unnest(range(0, ${bounds.size})) AS u(b)),
        |t AS (
        |  SELECT grid.s, grid.n,
        |         greatest(CAST(coalesce(h.c, 0) AS DOUBLE)
        |                    / CAST(grid.n AS DOUBLE), $eps) AS p,
        |         greatest(CAST(coalesce(g.gc, 0) AS DOUBLE)
        |                    / CAST(gn.gn AS DOUBLE), $eps) AS q
        |  FROM grid
        |  LEFT JOIN h ON h.s = grid.s AND h.b = grid.b
        |  LEFT JOIN g ON g.b = grid.b
        |  CROSS JOIN gn)
        |SELECT s AS source, n AS n_rows,
        |       CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(18,9)))
        |            AS DOUBLE) AS psi
        |FROM t GROUP BY s, n ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      graft.text.Drift.psi(Tables.documents(s, dir), "n_chars", "source",
        bounds, eps)
        .orderBy(col("source"))
    }
  }

  /** Leakage-free split (Sampling.clusterSplit): split membership is
    * hashed from the near-dup CLUSTER representative (q65's connected
    * components), so no near-dup pair straddles train/val/test — the
    * contamination a row-hash split commits on any corpus that still
    * holds paraphrases. The oracle replays CC as a recursive CTE plus
    * the shared salted-hash fragment. */
  def q106: Q = {
    val salt = "split_v1"
    val rep = "CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)"
    Q("q106_leakage_free_split",
      Some(s"""
        |WITH RECURSIVE
        |${PipelineQueries.sqlNearDupCcCtes},
        |b AS (
        |  SELECT d.doc_id,
        |         coalesce(l.cluster_id, d.doc_id) AS rep_id,
        |         (${sqlSaltedHash(rep, salt)}) % 100 AS bucket
        |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
        |SELECT doc_id, rep_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      import graft.dedup.Dedup
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.nearDupClusters(
        Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.8))
      Sampling.clusterSplit(docs.select("doc_id"), "doc_id", clusters,
        trainPct = 80, valPct = 10, salt = salt)
        .select(col("doc_id"), col("rep_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }
  }

  /** Corpus snapshot diff (Versioning.snapshotDiff): classify every id
    * as added/removed/changed/unchanged between two snapshots by
    * content fingerprint — what an incremental 100 TB re-run actually
    * has to touch. Both snapshots derive deterministically from
    * `documents`: the old one misses ids ≡ 0 (mod 7), the new one
    * misses ids ≡ 0 (mod 5) and rewrites ids ≡ 0 (mod 3). Only
    * (id, fp) pairs reach the full-outer join — payloads never
    * shuffle. */
  def q102: Q = {
    val fp = sqlContentFp("trim(coalesce(text, ''))")
    Q("q102_snapshot_diff",
      Some(s"""
        |WITH o AS (
        |  SELECT doc_id, $fp AS old_fp FROM documents WHERE doc_id % 7 != 0),
        |nsrc AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 != 0),
        |n AS (SELECT doc_id, $fp AS new_fp FROM nsrc)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.old_fp != n.new_fp THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id
        |""".stripMargin)) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.where(col("doc_id") % 7 =!= 0)
      val newSnap = docs.where(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Versioning.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy(col("doc_id"))
    }
  }

  /** ANN recall@3 (AnnEval.recallAtK): the q31 LSH retrieval graded
    * against q30's exact ground truth, per query — the number that
    * decides whether (bands, rowsPerBand, bucket cap) are safe to ship
    * at scale. Everything after the two retrievals is ids-only. The
    * oracle replays BOTH pipelines (q30's and q31's proven CTEs) and
    * the hit join; recall = hits / min(n_truth, k) is an exact int/int
    * division. */
  def q103: Q = Q(
    "q103_ann_recall",
    Some(s"""
      |WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
      |tpairs AS (
      |  SELECT q.vec_id, c.vec_id AS neighbor_id,
      |         ${sqlCosine("q.embedding", "c.embedding")} AS cos
      |  FROM q JOIN embeddings c ON q.vec_id != c.vec_id),
      |truth AS (
      |  SELECT vec_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM tpairs)
      |  WHERE rk <= 3),
      |sigs AS (
      |  SELECT vec_id, embedding, ${sqlHyperplaneCell(32)} AS sig
      |  FROM embeddings),
      |${sqlBandedCtes(4, 8, 128)},
      |cand AS (
      |  SELECT DISTINCT x.vec_id, x.embedding AS qvec,
      |                  y.vec_id AS neighbor_id, y.embedding AS nvec
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id != y.vec_id),
      |scored AS (
      |  SELECT vec_id, neighbor_id,
      |         ${sqlCosine("qvec", "nvec")} AS cos
      |  FROM cand),
      |approx AS (
      |  SELECT vec_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM scored)
      |  WHERE rk <= 3 AND vec_id < 50),
      |nt AS (SELECT vec_id, count(*) AS n_truth FROM truth GROUP BY vec_id),
      |h AS (
      |  SELECT truth.vec_id, count(*) AS hits
      |  FROM truth JOIN approx USING (vec_id, neighbor_id)
      |  GROUP BY truth.vec_id)
      |SELECT nt.vec_id, nt.n_truth,
      |       coalesce(h.hits, 0) AS hits,
      |       CAST(coalesce(h.hits, 0) AS DOUBLE)
      |         / CAST(least(nt.n_truth, 3) AS DOUBLE) AS recall
      |FROM nt LEFT JOIN h ON nt.vec_id = h.vec_id
      |ORDER BY nt.vec_id
      |""".stripMargin)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val truth = Similarity.bruteForceTopK(
      corpus = emb, queries = emb.filter(col("vec_id") < 50),
      idCol = "vec_id", vecCol = "embedding", k = 3)
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
      dims = 64, k = 3, bands = 4, rowsPerBand = 8)
      .filter(col("vec_id") < 50)
    AnnEval.recallAtK(truth, approx, "vec_id", "neighbor_id", k = 3)
      .orderBy(col("vec_id"))
  }

  /** Token-budget selection (Sampling.budgetSelect): keep the
    * highest-quality prefix of the corpus whose running token sum fits
    * a 10k-token budget — greedy curation under a budget, WITHOUT a
    * global sort (score-bucket offsets + per-bucket windows; see the
    * operator scaladoc). The oracle is the semantic spec — one global
    * ordered cumulative sum — so hash-equality proves the two-phase
    * plan computes exactly the greedy prefix. */
  def q104: Q = {
    val sw = sqlInList(TextAnalysis.LangStopwords.head._2)
    val budget = 10000L
    Q("q104_budget_select",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(CAST(${sqlQualityExpr(sw)} AS DECIMAL(18,9))
        |              AS DOUBLE) AS quality
        |  FROM t),
        |c AS (
        |  SELECT doc_id, quality, n_tokens,
        |         CAST(sum(n_tokens) OVER (
        |           ORDER BY quality DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_tokens
        |  FROM m WHERE n_tokens > 0)
        |SELECT doc_id, quality, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= $budget ORDER BY cum_tokens
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val sw0 = TextAnalysis.LangStopwords.head._2
      // quality is quantized to DECIMAL(18,9) and recovered as a double
      // in BOTH engines: ordering (and the emitted bytes) then depend on
      // a ≤9-decimal-digit value, immune to cross-engine double-ulp /
      // representation drift at the driver's hash boundary (VERDICT r5 #3)
      val base = Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text"), sw0)
          .cast(DecimalType(18, 9)).cast("double").as("quality"))
      Sampling.budgetSelect(base, "doc_id", "n_tokens", "quality",
        budget = budget)
        .select(col("doc_id"), col("quality"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy(col("cum_tokens"))
    }
  }
}
