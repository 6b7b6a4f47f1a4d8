package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables
import graft.text.Sharding
import graft.plans.GroupedTopK
import graft.sim.Similarity
import graft.text.{Sampling, TextAnalysis}
import PipelineQueries.{sqlCharFold, sqlContentFp, sqlSaltedHash, sqlShingles, sqlTokens}

/** Round-6 tail: user-signal and corpus-signal analytics — streaks,
  * CUSUM change detection, integer EWMA smoothing, distinctive-term
  * extraction, conjunctive boolean retrieval, stratified allocation,
  * session paths, canonical dedup, co-occurrence, weekly seasonality.
  * Same oracle discipline as the rest of the registry: exact
  * integer/decimal arithmetic at every cross-engine comparison point,
  * total output orders, scaled rationals instead of floats.
  */
object SignalQueries {

  val all: Seq[Q] = Seq(q210, q211, q212, q213, q214, q215, q216, q217,
    q218, q219, q220, q221, q222, q223, q224, q225, q226, q227, q228,
    q229, q230, q231, q232, q233, q234, q235, q236, q237, q238, q239,
    q240, q241, q242, q243, q244, q245, q246, q247, q248, q249, q250,
    q251, q252, q253, q254, q255, q256, q257, q258, q259, q260, q261,
    q262, q263, q264, q265, q266, q267, q268, q269, q270, q271, q272,
    q273)

  /** DuckDB replay of [[graft.operators.HyperLogLog.estimate]] (m=64)
    * over a register relation `rel` keyed by `keys` — the q143 est
    * chain, factored so sketch-algebra compositions (q225) can
    * estimate several register sets in one oracle. */
  private def sqlHllEstCtes(
      tag: String, rel: String, keys: Seq[String]): String = {
    val m = 64
    val cap = graft.operators.HyperLogLog.RhoCap
    val termCase = (0 to cap)
      .map(r =>
        s"WHEN r = $r THEN CAST(${graft.operators.HyperLogLog.termLiteral(r)}"
          + " AS DECIMAL(14,12))")
      .mkString(" ")
    val aM2 = graft.operators.HyperLogLog.alphaM2(m)
    val ks = keys.mkString(", ")
    s"""agg_$tag AS (
       |  SELECT $ks, count(*) AS occ,
       |         sum(CASE $termCase END) AS occ_terms
       |  FROM $rel GROUP BY $ks),
       |d_$tag AS (
       |  SELECT $ks, occ,
       |         CAST(CAST($m - occ AS DECIMAL(38,12))
       |              + CAST(occ_terms AS DECIMAL(38,12)) AS DOUBLE)
       |           AS denom
       |  FROM agg_$tag),
       |est_$tag AS (
       |  SELECT $ks,
       |         CASE WHEN $aM2 / denom <= CAST($m AS DOUBLE) * 2.5
       |                   AND $m - occ > 0
       |              THEN CAST(CAST(-$m AS DECIMAL(10,0)) *
       |                     CAST(ln(CAST($m - occ AS DOUBLE)
       |                             / CAST($m AS DOUBLE)) AS DECIMAL(18,9))
       |                   AS DOUBLE)
       |              ELSE $aM2 / denom END AS est
       |  FROM d_$tag)""".stripMargin
  }

  /** Per-user activity streaks: gaps-and-islands over DISTINCT active
    * days (epoch-day of any event). The island id is the classic
    * `day − row_number()` difference — consecutive days share it, any
    * gap shifts it. All integers; one exchange on user_id (the
    * day-level distinct, the window, and both rollups all cluster by
    * user, so Spark reuses the same hash partitioning end-to-end). */
  def q210: Q = Q(
    "q210_activity_streaks",
    Some("""
      |WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
      |  FROM events),
      |r AS (
      |  SELECT user_id, d,
      |         d - row_number() OVER (PARTITION BY user_id ORDER BY d)
      |           AS grp
      |  FROM d),
      |s AS (SELECT user_id, count(*) AS len FROM r GROUP BY user_id, grp)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(max(len) AS BIGINT) AS longest_streak,
      |       CAST(sum(len) AS BIGINT) AS n_active_days
      |FROM s GROUP BY user_id ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      .distinct()
    val grp = days.withColumn("grp",
      col("d") - row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("d"))))
    grp.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
      .orderBy(col("user_id"))
  }

  /** CUSUM change-point alarms on the per-type daily event count. The
    * classic recursive form S_i = max(0, S_{i−1} + (x_i − k)) is not a
    * window function, but its closed form is: with P_i the prefix sum
    * of deviations, S_i = P_i − min(0, min_{j≤i} P_j) — two ordinary
    * cumulative windows, no fold operator needed. Allowance k is the
    * per-type integer mean; alarm when S exceeds 2k. All integers;
    * everything after the daily rollup is dim-sized (types × days). */
  def q211: Q = Q(
    "q211_cusum_alarms",
    Some("""
      |WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, d, x,
      |         sum(x) OVER (PARTITION BY event_type) //
      |           count(*) OVER (PARTITION BY event_type) AS k
      |  FROM c),
      |f AS (
      |  SELECT event_type, d, x, k,
      |         sum(x - k) OVER (PARTITION BY event_type ORDER BY d
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
      |  FROM p),
      |g AS (
      |  SELECT event_type, d, x, k,
      |         pf - least(0, min(pf) OVER (PARTITION BY event_type
      |           ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
      |           CURRENT ROW)) AS cusum
      |  FROM f)
      |SELECT event_type, CAST(d AS BIGINT) AS d, CAST(x AS BIGINT) AS x,
      |       CAST(cusum AS BIGINT) AS cusum,
      |       CAST(CASE WHEN cusum > 2 * k THEN 1 ELSE 0 END AS BIGINT)
      |         AS alarm
      |FROM g ORDER BY event_type, d
      |""".stripMargin)) { (s, dir) =>
    val wAll = Window.partitionBy(col("event_type"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("__stot", sum(col("x")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("k", expr("__stot div __n"))
      .withColumn("pf", sum(col("x") - col("k")).over(wOrd))
      .withColumn("cusum",
        col("pf") - least(lit(0L), min(col("pf")).over(wOrd)))
      .select(col("event_type"), col("d"), col("x"), col("cusum"),
        when(col("cusum") > lit(2) * col("k"), 1L).otherwise(0L)
          .as("alarm"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Integer EWMA (α = 1/4) over each type's daily series — the
    * smoothed "where is this metric settling" signal, in exact
    * arithmetic: state lives in integer micro-units and each step is
    * s′ = (3s + x) div 4 (all operands positive, so Spark's truncating
    * `div` and DuckDB's flooring `//` agree). The fold runs over a
    * day-sorted in-group array (bounded: one element per day) with
    * `aggregate`, whose left-to-right order is exactly DuckDB's
    * `list_reduce` — same op sequence, same integers. Value flows
    * through an exact DECIMAL(18,6) sum before the micro cast. */
  def q212: Q = Q(
    "q212_ewma_daily",
    Some("""
      |WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS x,
      |         CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
      |              AS BIGINT) AS vm
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, count(*) AS n_days,
      |         list(x * 1000000 ORDER BY d) AS xs,
      |         list(vm ORDER BY d) AS vs
      |  FROM c GROUP BY event_type)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |       CAST(list_reduce(xs, (s, x) -> (3 * s + x) // 4) AS BIGINT)
      |         AS ewma_count_micro,
      |       CAST(list_reduce(vs, (s, x) -> (3 * s + x) // 4) AS BIGINT)
      |         AS ewma_value_micro
      |FROM a ORDER BY event_type
      |""".stripMargin)) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("x"),
        (sum(col("value").cast("decimal(18,6)")) * 1000000)
          .cast("long").as("vm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        array_sort(collect_list(struct(col("d"), col("x"), col("vm"))))
          .as("__arr"))
      .select(col("event_type"), col("n_days"),
        expr("""aggregate(slice(transform(__arr, e -> e.x * 1000000),
                2, size(__arr) - 1),
                element_at(transform(__arr, e -> e.x * 1000000), 1),
                (s, x) -> (3 * s + x) div 4)""").as("ewma_count_micro"),
        expr("""aggregate(slice(transform(__arr, e -> e.vm),
                2, size(__arr) - 1),
                element_at(transform(__arr, e -> e.vm), 1),
                (s, x) -> (3 * s + x) div 4)""").as("ewma_value_micro"))
      .orderBy(col("event_type"))
  }

  /** Distinctive terms per source — the "what vocabulary marks this
    * slice" signal behind data-card term clouds and source tagging.
    * Smoothed relative-rate ratio in exact permille:
    * 1000·c_s·(T−T_s) div ((c−c_s+1)·T_s) compares the term's rate in
    * the source against its rate elsewhere (+1 on the outside count so
    * source-exclusive terms stay finite). Everything after the token
    * rollup is vocabulary-dim sized; totals are broadcast; top-5 per
    * source via the spill-safe GroupedTopK operator, ties by term. */
  def q213: Q = {
    val minSupport = 3
    Q("q213_distinctive_terms",
      Some(s"""
        |WITH t AS (
        |  SELECT source, unnest(${sqlTokens("text")}) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |cs AS (SELECT source, w, count(*) AS c_s FROM t GROUP BY 1, 2),
        |g AS (SELECT w, sum(c_s) AS c FROM cs GROUP BY w),
        |srct AS (SELECT source, sum(c_s) AS t_s FROM cs GROUP BY source),
        |tot AS (SELECT sum(c_s) AS t FROM cs),
        |r AS (
        |  SELECT cs.source, cs.w, c_s,
        |         (1000 * c_s * (t - t_s)) // ((c - c_s + 1) * t_s)
        |           AS ratio_pm
        |  FROM cs JOIN g USING (w) JOIN srct USING (source)
        |  CROSS JOIN tot
        |  WHERE c_s >= $minSupport),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY ratio_pm DESC, w) AS rk
        |  FROM r)
        |SELECT source, w, CAST(c_s AS BIGINT) AS c_s,
        |       CAST(ratio_pm AS BIGINT) AS ratio_pm
        |FROM rk WHERE rk <= 5 ORDER BY source, ratio_pm DESC, w
        |""".stripMargin)) { (s, dir) =>
      val cs = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c_s"))
      val g = cs.groupBy(col("w")).agg(sum(col("c_s")).as("c"))
      val srcT = cs.groupBy(col("source")).agg(sum(col("c_s")).as("t_s"))
      val tot = cs.agg(sum(col("c_s")).as("t"))
      val r = cs
        .join(g, "w")
        .join(broadcast(srcT), "source")
        .crossJoin(broadcast(tot))
        .where(col("c_s") >= minSupport)
        .select(col("source"), col("w"), col("c_s"),
          expr("(1000 * c_s * (t - t_s)) div ((c - c_s + 1) * t_s)")
            .as("ratio_pm"))
      GroupedTopK.topKPerKey(r, Seq("source"),
          Seq(("ratio_pm", false), ("w", true)), k = 5)
        .select(col("source"), col("w"), col("c_s"), col("ratio_pm"))
        .orderBy(col("source"), col("ratio_pm").desc, col("w"))
    }
  }

  /** Conjunctive boolean retrieval: documents containing ALL query
    * terms (token-exact), ranked by total term frequency — the AND
    * face the BM25 family (q98/q136/q137) doesn't cover. The corpus is
    * pruned scan-stage with substring `contains` (a superset of the
    * token match, so lossless) BEFORE any explode, so the generate
    * stage scales with candidate docs, not the corpus; the rest is
    * ids-only. Global top-20 via TakeOrderedAndProject (no full sort). */
  def q214: Q = {
    val terms = Seq("join", "hash", "scan")
    val inList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    Q("q214_boolean_retrieval",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, unnest(${sqlTokens("text")}) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, w, count(*) AS tf FROM t
        |  WHERE w IN $inList GROUP BY 1, 2),
        |hits AS (
        |  SELECT doc_id, sum(tf) AS tf_total FROM p
        |  GROUP BY doc_id HAVING count(*) = ${terms.size})
        |SELECT doc_id, CAST(tf_total AS BIGINT) AS tf_total
        |FROM hits ORDER BY tf_total DESC, doc_id LIMIT 20
        |""".stripMargin)) { (s, dir) =>
      val pruned = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .where(terms.map(t => col("text").contains(t)).reduce(_ && _))
      pruned
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .where(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__n_terms"), sum(col("tf")).as("tf_total"))
        .where(col("__n_terms") === terms.size)
        .select(col("doc_id"), col("tf_total"))
        .orderBy(col("tf_total").desc, col("doc_id"))
        .limit(20)
    }
  }

  /** Stratified sampling with exact largest-remainder allocation
    * (Hamilton's method): a budget of 100 docs is split across lang
    * strata proportionally — integer base quotas, the leftover units
    * going to the largest remainders (ties by lang) — then each
    * stratum contributes exactly its quota, chosen by deterministic
    * salted-hash rank. Unlike per-row Bernoulli sampling the quota is
    * EXACT, not expected. Allocation math runs on the strata dim
    * (broadcast-sized; the single-partition windows touch only that
    * dim); the corpus-side work is one window per stratum. */
  def q215: Q = {
    val budget = 100
    Q("q215_stratified_quota_sample",
      Some(s"""
        |WITH s AS (
        |  SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
        |q AS (
        |  SELECT lang, n_s,
        |         ($budget * n_s) // (sum(n_s) OVER ()) AS base,
        |         ($budget * n_s) % (sum(n_s) OVER ()) AS rem
        |  FROM s),
        |e AS (
        |  SELECT lang, n_s, base,
        |         row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |         $budget - sum(base) OVER () AS extras
        |  FROM q),
        |alloc AS (
        |  SELECT lang, n_s,
        |         base + CASE WHEN rk <= extras THEN 1 ELSE 0 END AS quota
        |  FROM e),
        |h AS (
        |  SELECT doc_id, lang,
        |         (${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "strat")}) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY hv, doc_id) AS srk
        |  FROM h)
        |SELECT r.lang, CAST(a.n_s AS BIGINT) AS n_s,
        |       CAST(a.quota AS BIGINT) AS quota, r.doc_id
        |FROM r JOIN alloc a ON a.lang = r.lang
        |WHERE r.srk <= a.quota
        |ORDER BY r.lang, r.doc_id
        |""".stripMargin)) { (s, dir) =>
      import graft.functions.PolyHash
      val docs = Tables.documents(s, dir)
      val wDim = Window.partitionBy()
      val alloc = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
        .withColumn("__n", sum(col("n_s")).over(wDim))
        .withColumn("base", expr(s"($budget * n_s) div __n"))
        .withColumn("rem", expr(s"($budget * n_s) % __n"))
        .withColumn("extras", lit(budget) - sum(col("base")).over(wDim))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("quota", col("base") +
          when(col("rk") <= col("extras"), 1L).otherwise(0L))
        .select(col("lang"), col("n_s"), col("quota"))
      val ranked = docs
        .select(col("doc_id"), col("lang"),
          PolyHash.saltedHash(col("doc_id"), "strat").as("hv"))
        .withColumn("srk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("hv"), col("doc_id"))))
      ranked.join(broadcast(alloc), "lang")
        .where(col("srk") <= col("quota"))
        .select(col("lang"), col("n_s"), col("quota"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }
  }

  /** Session path mining: each gap-sessionized visit (q53's 30-minute
    * recipe) becomes its first-5-event-type path string; paths are
    * counted and the top-20 reported — the "how do users actually move
    * through the product" table. The per-session array is bounded by
    * the slice, the path vocabulary is tiny, and the heavy lifting is
    * the same one user-keyed exchange the session operators share. */
  def q216: Q = Q(
    "q216_session_paths",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id,
      |         event_type
      |  FROM events),
      |o AS (
      |  SELECT *, lag(t_us) OVER (PARTITION BY user_id
      |    ORDER BY t_us, event_id) AS prev
      |  FROM e),
      |g AS (
      |  SELECT *, sum(CASE WHEN prev IS NULL
      |                          OR t_us - prev >= 1800000000
      |                     THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                    ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM o),
      |p AS (
      |  SELECT user_id, grp,
      |         array_to_string(list_slice(
      |           list(event_type ORDER BY t_us, event_id), 1, 5), '>')
      |           AS path
      |  FROM g GROUP BY user_id, grp)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
      |""".stripMargin)) { (s, dir) =>
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("t_us"), 1).over(wo))
      .withColumn("grp", sum(
        when(col("prev").isNull ||
          col("t_us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
        .over(wo.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("user_id"), col("grp"))
      .agg(array_sort(collect_list(struct(col("t_us"), col("event_id"),
        col("event_type")))).as("__arr"))
      .select(array_join(
        slice(transform(col("__arr"), e => e.getField("event_type")),
          1, 5), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Canonicalizing exact dedup: NFC + casefold + whitespace-collapse
    * via the native [[graft.functions.TextNorm.CanonicalText]] kernel,
    * THEN the usual 62-bit content fingerprint — so "Hello  World" and
    * "hello world" (and é-precomposed vs é-combining) land on one
    * fingerprint. Only (fp, id) ever shuffles; the oracle replays the
    * chain with DuckDB's nfc_normalize. */
  def q217: Q = {
    val canon =
      s"""trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))"""
    Q("q217_canonical_dedup",
      Some(s"""
        |WITH c AS (
        |  SELECT doc_id, (${sqlContentFp(s"($canon)")}) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM c GROUP BY fp)
        |SELECT CAST(keep_id AS BIGINT) AS keep_id,
        |       CAST(n_copies AS BIGINT) AS n_copies,
        |       CAST(fp AS BIGINT) AS fp
        |FROM g ORDER BY keep_id
        |""".stripMargin)) { (s, dir) =>
      import graft.dedup.Dedup
      import graft.functions.TextNorm
      Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          Dedup.contentFingerprint(TextNorm.canonicalText(col("text")))
            .as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy(col("keep_id"))
    }
  }

  /** Item-item co-occurrence similarity over the user→event-type
    * bipartite graph — the collaborative-filtering primitive. Squared
    * cosine in exact ppm (10⁶·co²/(n_a·n_b)) avoids the irrational
    * sqrt while preserving the ranking. Pairs are generated per user
    * from the SORTED distinct-type array (bounded fan-out, no
    * self-join); type marginals broadcast. */
  def q218: Q = Q(
    "q218_type_cooccurrence",
    Some("""
      |WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT event_type, count(*) AS n_u FROM ut GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS t_a, b.event_type AS t_b,
      |         count(*) AS co
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |                     AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT t_a, t_b, CAST(co AS BIGINT) AS co,
      |       CAST(na.n_u AS BIGINT) AS n_a,
      |       CAST(nb.n_u AS BIGINT) AS n_b,
      |       CAST((1000000 * co * co) // (na.n_u * nb.n_u) AS BIGINT)
      |         AS cos2_ppm
      |FROM p JOIN n na ON na.event_type = p.t_a
      |       JOIN n nb ON nb.event_type = p.t_b
      |ORDER BY t_a, t_b
      |""".stripMargin)) { (s, dir) =>
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val n = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_u"))
    val pairs = ut.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)),
          |            b -> struct(a AS t_a, b AS t_b))))""".stripMargin))
        .as("p"))
      .select(col("p.t_a"), col("p.t_b"))
      .groupBy(col("t_a"), col("t_b")).agg(count(lit(1)).as("co"))
    pairs
      .join(broadcast(n.select(col("event_type").as("t_a"),
        col("n_u").as("n_a"))), "t_a")
      .join(broadcast(n.select(col("event_type").as("t_b"),
        col("n_u").as("n_b"))), "t_b")
      .select(col("t_a"), col("t_b"), col("co"), col("n_a"), col("n_b"),
        expr("(1000000 * co * co) div (n_a * n_b)").as("cos2_ppm"))
      .orderBy(col("t_a"), col("t_b"))
  }

  /** Weekly-phase seasonality index per event type: epoch-day mod 7
    * buckets each day into its weekly phase (calendar-free, so both
    * engines agree by construction), and the index compares the
    * phase's mean daily count against the type's overall mean as an
    * exact cross-multiplied ppm — >10⁶ means "this weekday runs hot".
    * Everything after the daily rollup is dim-sized. */
  def q219: Q = Q(
    "q219_weekly_phase_index",
    Some("""
      |WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, d % 7 AS phase, sum(x) AS s_p,
      |         count(*) AS n_p
      |  FROM c GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, sum(s_p) AS s_tot, sum(n_p) AS n_tot
      |  FROM p GROUP BY 1)
      |SELECT p.event_type, CAST(phase AS BIGINT) AS phase,
      |       CAST(s_p AS BIGINT) AS s_p, CAST(n_p AS BIGINT) AS n_p,
      |       CAST((1000000 * s_p * n_tot) // (n_p * s_tot) AS BIGINT)
      |         AS index_ppm
      |FROM p JOIN t ON t.event_type = p.event_type
      |ORDER BY p.event_type, phase
      |""".stripMargin)) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val p = c.groupBy(col("event_type"), expr("d % 7").as("phase"))
      .agg(sum(col("x")).as("s_p"), count(lit(1)).as("n_p"))
    val t = p.groupBy(col("event_type"))
      .agg(sum(col("s_p")).as("s_tot"), sum(col("n_p")).as("n_tot"))
    p.join(broadcast(t), "event_type")
      .select(col("event_type"), col("phase"), col("s_p"), col("n_p"),
        expr("(1000000 * s_p * n_tot) div (n_p * s_tot)").as("index_ppm"))
      .orderBy(col("event_type"), col("phase"))
  }

  /** Source-vocabulary overlap matrix: exact token-set Jaccard between
    * every source pair — the corpus-composition view that flags two
    * feeds as mirrors of each other BEFORE doc-level dedup ever runs.
    * |A∩B| comes from the term-posting self-join (vocab-dim keys, the
    * scale-safe way — never doc×doc), set sizes broadcast, Jaccard as
    * exact ppm. Pairs with zero overlap carry no posting row and are
    * absent by construction (documented contract). */
  def q220: Q = Q(
    "q220_source_vocab_overlap",
    Some(s"""
      |WITH t AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source, unnest(${sqlTokens("text")}) AS w
      |    FROM documents WHERE text IS NOT NULL)),
      |n AS (SELECT source, count(*) AS nv FROM t GROUP BY source),
      |i AS (
      |  SELECT a.source AS s_a, b.source AS s_b, count(*) AS inter
      |  FROM t a JOIN t b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s_a, s_b, CAST(inter AS BIGINT) AS inter,
      |       CAST(na.nv AS BIGINT) AS n_a, CAST(nb.nv AS BIGINT) AS n_b,
      |       CAST((1000000 * inter) // (na.nv + nb.nv - inter) AS BIGINT)
      |         AS jacc_ppm
      |FROM i JOIN n na ON na.source = i.s_a
      |       JOIN n nb ON nb.source = i.s_b
      |ORDER BY s_a, s_b
      |""".stripMargin)) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .distinct()
    val n = t.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val i = t.as("a")
      .join(t.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s_a"), col("b.source").as("s_b"))
      .agg(count(lit(1)).as("inter"))
    i.join(broadcast(n.select(col("source").as("s_a"),
        col("nv").as("n_a"))), "s_a")
      .join(broadcast(n.select(col("source").as("s_b"),
        col("nv").as("n_b"))), "s_b")
      .select(col("s_a"), col("s_b"), col("inter"), col("n_a"),
        col("n_b"),
        expr("(1000000 * inter) div (n_a + n_b - inter)").as("jacc_ppm"))
      .orderBy(col("s_a"), col("s_b"))
  }

  /** Incremental near-dup cluster maintenance, proven against the full
    * rebuild: docs split 80/20 into "already ingested" and "new
    * batch"; the old corpus is clustered once, then
    * [[graft.dedup.Dedup.incrementalClusters]] folds the batch in via
    * spanning-star edges + new×new + new×old banding — never re-pairing
    * old×old. The oracle is the ALL-pairs recursive-CTE rebuild over
    * the whole corpus, so a hash match proves incremental ≡ rebuild
    * (including merges where a new doc bridges two old clusters). */
  def q221: Q = Q(
    "q221_incremental_clusters",
    Some(s"""
      |WITH RECURSIVE
      |${PipelineQueries.sqlNearDupCcCtes}
      |SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val docs = Tables.documents(s, dir)
    val oldDocs = docs.where(col("doc_id") % 5 =!= 0)
    val newDocs = docs.where(col("doc_id") % 5 === 0)
    val oldLabels = Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(oldDocs, "doc_id", "text", threshold = 0.8))
    Dedup.incrementalClusters(oldLabels, newDocs, oldDocs,
        "doc_id", "text", threshold = 0.8)
      .orderBy(col("doc_id"))
  }

  /** Trending terms between two corpus snapshots (earlier half vs
    * later half by doc id): the later snapshot's top-30 terms with
    * their rank shift against the earlier snapshot and a newcomer
    * flag — the "what vocabulary is entering the corpus" monitor that
    * catches topic drift and spam bursts between crawls. Ranks are
    * row_number over (count DESC, term) — total, so both engines
    * agree on ties. Frequency dims only; the corpus is scanned once
    * per snapshot. */
  def q222: Q = Q(
    "q222_trending_terms",
    Some(s"""
      |WITH bounds AS (
      |  SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS mid
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(${sqlTokens("text")}) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |a AS (
      |  SELECT w, count(*) AS c_a,
      |         row_number() OVER (ORDER BY count(*) DESC, w) AS rank_a
      |  FROM t CROSS JOIN bounds WHERE doc_id < mid GROUP BY w),
      |b AS (
      |  SELECT w, count(*) AS c_b,
      |         row_number() OVER (ORDER BY count(*) DESC, w) AS rank_b
      |  FROM t CROSS JOIN bounds WHERE doc_id >= mid GROUP BY w)
      |SELECT b.w, CAST(rank_b AS BIGINT) AS rank_b,
      |       CAST(c_b AS BIGINT) AS c_b,
      |       CAST(rank_a AS BIGINT) AS rank_a,
      |       CAST(rank_a - rank_b AS BIGINT) AS rank_gain,
      |       CAST(CASE WHEN rank_a IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |         AS newcomer
      |FROM b LEFT JOIN a ON a.w = b.w
      |WHERE rank_b <= 30
      |ORDER BY rank_b
      |""".stripMargin)) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val mid = docs.agg(
      expr("(min(doc_id) + max(doc_id) + 1) div 2").as("mid"))
    val t = docs.where(col("text").isNotNull)
      .crossJoin(broadcast(mid))
      .select(col("doc_id"), col("mid"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
    // both halves need FULL vocab ranks (rank_a of a term outside the
    // top-30 feeds rank_gain), and vocabulary grows with the corpus —
    // so the count-desc rank is bucket-parallel over frequency
    // octaves (-floor(log2 c) is a monotone coarse prefix of c desc;
    // ties inside an octave order by -c then w inside their own
    // bucket window), never a single-partition Window.orderBy
    // ONE token-explode scan serves both halves: the (half, w, c)
    // counts materialize once, and each half's bucket-parallel rank
    // reads the tiny vocab-sized slice — the corpus is never exploded
    // twice
    val tc = t
      .select(when(col("doc_id") < col("mid"), "a").otherwise("b")
        .as("half"), col("w"))
      .groupBy(col("half"), col("w")).agg(count(lit(1)).as("c"))
      .materialize()
    def ranked(half: String, cName: String, rName: String) =
      graft.dedup.SortedNeighborhood.globalRankCum(
          tc.where(col("half") === half)
            .select(col("w"), col("c").as(cName))
            .withColumn("__negc", -col(cName))
            .withColumn("__bkt",
              expr(s"CAST(-floor(log2($cName)) AS BIGINT)")),
          idCol = "w", bucketCol = "__bkt", tieCols = Seq("__negc"))
        .withColumnRenamed("__rank", rName)
        .drop("__negc", "__bkt")
    val a = ranked("a", "c_a", "rank_a")
    val b = ranked("b", "c_b", "rank_b")
    b.join(a.select(col("w"), col("rank_a")), Seq("w"), "left")
      .where(col("rank_b") <= 30)
      .select(col("w"), col("rank_b"), col("c_b"), col("rank_a"),
        (col("rank_a") - col("rank_b")).as("rank_gain"),
        when(col("rank_a").isNull, 1L).otherwise(0L).as("newcomer"))
      .orderBy(col("rank_b"))
  }

  /** Token-budget water-filling: the per-source cap L such that
    * Σ min(n_s, L) fits a 60 % token budget — the standard
    * "rate-limit the mega-sources, keep the small ones whole" mixture
    * rule, computed EXACTLY on the source dim. Sorted ascending, the
    * used(L) curve is linear inside each interval [n_{i−1}, n_i), so
    * the level is the one row whose candidate
    * (budget − prefix_{i−1}) div (m−i+1) lands in its interval; if
    * the budget covers everything no row is valid and every source
    * keeps all tokens (coalesce path). All integer; the search runs
    * on window prefix sums over the dim, never the corpus. */
  def q223: Q = Q(
    "q223_water_filling_caps",
    Some(s"""
      |WITH cs AS (
      |  SELECT source, count(*) AS n_s FROM (
      |    SELECT source, unnest(${sqlTokens("text")}) AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY source),
      |o AS (
      |  SELECT source, n_s,
      |         row_number() OVER (ORDER BY n_s, source) AS i,
      |         count(*) OVER () AS m,
      |         sum(n_s) OVER () AS tot,
      |         coalesce(sum(n_s) OVER (ORDER BY n_s, source
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS pfx,
      |         coalesce(lag(n_s) OVER (ORDER BY n_s, source), 0) AS lo
      |  FROM cs),
      |cand AS (
      |  SELECT ((tot * 3) // 5 - pfx) // (m - i + 1) AS lvl, lo,
      |         n_s AS hi
      |  FROM o),
      |level AS (
      |  SELECT min(lvl) AS lvl FROM cand
      |  WHERE lvl >= lo AND lvl < hi)
      |SELECT source, CAST(n_s AS BIGINT) AS n_s,
      |       CAST(least(n_s, coalesce(lvl, n_s)) AS BIGINT) AS cap
      |FROM cs CROSS JOIN level ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    val cs = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    Sampling.waterFillCaps(cs, Seq("source"), "n_s",
        budgetNum = 3, budgetDen = 5)
      .orderBy(col("source"))
  }

  /** Inter-arrival-time percentiles per event type: exact
    * order-statistic p50/p90/p99 of the gap (µs) between a user's
    * consecutive events of the same type — the latency-style
    * distribution view of event cadence. Deltas come from one lag
    * window per (user, type); percentiles from the shared
    * OrderStats.quantilesDisc integer-rank operator. */
  def q224: Q = Q(
    "q224_interarrival_percentiles",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us,
      |         event_id
      |  FROM events),
      |d AS (
      |  SELECT event_type,
      |         t_us - lag(t_us) OVER (PARTITION BY user_id, event_type
      |           ORDER BY t_us, event_id) AS delta_us
      |  FROM e),
      |v AS (SELECT event_type, delta_us FROM d
      |      WHERE delta_us IS NOT NULL),
      |r AS (
      |  SELECT event_type, delta_us,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY delta_us) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM v),
      |p AS (SELECT unnest([500, 900, 990]) AS permille)
      |SELECT r.event_type, p.permille, r.delta_us AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY event_type, permille
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    val wo = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    val d = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"))
      .withColumn("delta_us", col("t_us") - lag(col("t_us"), 1).over(wo))
      .where(col("delta_us").isNotNull)
      .select(col("event_type"), col("delta_us"))
    OrderStats.quantilesDisc(d, Seq("event_type"), "delta_us",
        Seq(500, 900, 990))
      .orderBy(col("event_type"), col("permille"))
  }

  /** HLL set algebra: pairwise source-vocabulary OVERLAP estimated by
    * inclusion–exclusion on the q143 register sketches — est(A) +
    * est(B) − est(A∪B), where the union sketch is just the per-bucket
    * register max (the mergeability that makes HLL the 100 TB
    * cardinality tool: fixed-size sketches compose into any set-union
    * question with no data re-scan). Per-pair union registers are
    * dim-sized (pairs × m); the exact overlap from q220's posting join
    * rides along so the row is its own calibration. */
  def q225: Q = {
    val cap = graft.operators.HyperLogLog.RhoCap
    val rhoCase = (1 until cap)
      .map(k => s"WHEN w % ${1L << k} = ${1L << (k - 1)} THEN $k")
      .mkString(" ")
    Q("q225_hll_overlap",
      Some(s"""
        |WITH tok AS (
        |  SELECT source, unnest(${sqlTokens("text")}) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |dt AS (SELECT DISTINCT source, token FROM tok),
        |h AS (
        |  SELECT DISTINCT source,
        |         (${sqlSaltedHash("token", "hll")}) AS hv
        |  FROM tok WHERE token IS NOT NULL),
        |w AS (SELECT source, hv % 64 AS bucket, hv // 64 AS w FROM h),
        |reg AS (
        |  SELECT source, bucket, max(CASE $rhoCase ELSE $cap END) AS r
        |  FROM w GROUP BY source, bucket),
        |srcs AS (SELECT DISTINCT source FROM reg),
        |pairs AS (
        |  SELECT a.source AS s_a, b.source AS s_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |preg AS (
        |  SELECT s_a, s_b, bucket, max(r) AS r
        |  FROM pairs p JOIN reg
        |    ON reg.source = p.s_a OR reg.source = p.s_b
        |  GROUP BY s_a, s_b, bucket),
        |${sqlHllEstCtes("s", "reg", Seq("source"))},
        |${sqlHllEstCtes("p", "preg", Seq("s_a", "s_b"))},
        |ex AS (
        |  SELECT a.source AS s_a, b.source AS s_b, count(*) AS inter
        |  FROM dt a JOIN dt b
        |    ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT ep.s_a, ep.s_b, ea.est AS est_a, eb.est AS est_b,
        |       ep.est AS est_union,
        |       ea.est + eb.est - ep.est AS est_overlap,
        |       CAST(coalesce(ex.inter, 0) AS BIGINT) AS exact_overlap
        |FROM est_p ep
        |JOIN est_s ea ON ea.source = ep.s_a
        |JOIN est_s eb ON eb.source = ep.s_b
        |LEFT JOIN ex ON ex.s_a = ep.s_a AND ex.s_b = ep.s_b
        |ORDER BY ep.s_a, ep.s_b
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.HyperLogLog
      val toks = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      // registers feed three branches (per-source est, pair tagging,
      // srcs dim): materialize the ~sources×m row dim once
      val sk = HyperLogLog.sketch(toks, Seq("source"), "token",
        m = 64, salt = "hll").materialize()
      val estS = HyperLogLog.estimate(sk, Seq("source"))
        .select(col("source"), col("est"))
      val srcs = sk.select(col("source")).distinct()
      val prs = srcs.withColumnRenamed("source", "s_a")
        .crossJoin(srcs.withColumnRenamed("source", "s_b"))
        .where(col("s_a") < col("s_b"))
      val tagged = broadcast(prs)
        .join(sk,
          col("source") === col("s_a") || col("source") === col("s_b"))
        .select(col("s_a"), col("s_b"), col("bucket"), col("r"),
          col("m"))
      val estP = HyperLogLog.estimate(
          HyperLogLog.merge(tagged, Seq("s_a", "s_b")),
          Seq("s_a", "s_b"))
        .select(col("s_a"), col("s_b"), col("est").as("est_union"))
      val dt = toks.distinct()
      val ex = dt.withColumnRenamed("source", "s_a")
        .join(dt.withColumnRenamed("source", "s_b")
            .withColumnRenamed("token", "__tb"),
          col("token") === col("__tb") && col("s_a") < col("s_b"))
        .groupBy(col("s_a"), col("s_b")).agg(count(lit(1)).as("inter"))
      estP
        .join(broadcast(estS.select(col("source").as("s_a"),
          col("est").as("est_a"))), "s_a")
        .join(broadcast(estS.select(col("source").as("s_b"),
          col("est").as("est_b"))), "s_b")
        .join(ex, Seq("s_a", "s_b"), "left")
        .select(col("s_a"), col("s_b"), col("est_a"), col("est_b"),
          col("est_union"),
          (col("est_a") + col("est_b") - col("est_union"))
            .as("est_overlap"),
          coalesce(col("inter"), lit(0L)).as("exact_overlap"))
        .orderBy(col("s_a"), col("s_b"))
    }
  }

  /** Markov next-event backtest: first-order transition counts
    * trained on the earlier half of the event calendar predict each
    * type's most likely successor (ties to the smaller type); the
    * later half scores top-1 accuracy in exact ppm. Boundary-spanning
    * pairs (prev in train, next in test) belong to neither period —
    * the rule both engines state identically. Transition and
    * prediction tables are type×type dims. */
  def q226: Q = Q(
    "q226_markov_backtest",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us,
      |         event_id, epoch_ns(ts) // 86400000000000 AS d
      |  FROM events),
      |bounds AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM e),
      |s AS (
      |  SELECT event_type, d,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY t_us, event_id) AS next_type,
      |         lead(d) OVER (PARTITION BY user_id
      |           ORDER BY t_us, event_id) AS next_d
      |  FROM e),
      |tr AS (
      |  SELECT event_type AS prev, next_type AS nxt, count(*) AS c
      |  FROM s CROSS JOIN bounds
      |  WHERE next_type IS NOT NULL AND d < mid AND next_d < mid
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT prev, nxt AS predicted FROM (
      |    SELECT *, row_number() OVER (PARTITION BY prev
      |      ORDER BY c DESC, nxt) AS rk FROM tr)
      |  WHERE rk = 1),
      |te AS (
      |  SELECT event_type AS prev, next_type AS nxt
      |  FROM s CROSS JOIN bounds
      |  WHERE next_type IS NOT NULL AND d >= mid AND next_d >= mid)
      |SELECT te.prev AS prev_type, p.predicted,
      |       CAST(count(*) AS BIGINT) AS n_test,
      |       CAST(sum(CASE WHEN te.nxt = p.predicted THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_correct,
      |       CAST((1000000 * sum(CASE WHEN te.nxt = p.predicted
      |                                THEN 1 ELSE 0 END)) // count(*)
      |            AS BIGINT) AS acc_ppm
      |FROM te JOIN pred p ON p.prev = te.prev
      |GROUP BY te.prev, p.predicted
      |ORDER BY prev_type
      |""".stripMargin)) { (s, dir) =>
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"),
        expr("ts div 86400000000000").as("d"))
    val mid = e.agg(expr("(min(d) + max(d) + 1) div 2").as("mid"))
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val sPairs = e
      .withColumn("next_type", lead(col("event_type"), 1).over(wo))
      .withColumn("next_d", lead(col("d"), 1).over(wo))
      .where(col("next_type").isNotNull)
      .crossJoin(broadcast(mid))
    val tr = sPairs
      .where(col("d") < col("mid") && col("next_d") < col("mid"))
      .groupBy(col("event_type").as("prev"),
        col("next_type").as("nxt"))
      .agg(count(lit(1)).as("c"))
    val pred = tr
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("prev"))
          .orderBy(col("c").desc, col("nxt"))))
      .where(col("rk") === 1)
      .select(col("prev"), col("nxt").as("predicted"))
    sPairs
      .where(col("d") >= col("mid") && col("next_d") >= col("mid"))
      .select(col("event_type").as("prev"), col("next_type").as("nxt"))
      .join(broadcast(pred), "prev")
      .groupBy(col("prev").as("prev_type"), col("predicted"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("prev_type"), col("predicted"), col("n_test"),
        col("n_correct"),
        expr("(1000000 * n_correct) div n_test").as("acc_ppm"))
      .orderBy(col("prev_type"))
  }

  /** Capture–recapture (Lincoln–Petersen) corpus-size estimate: two
    * independent 20 % deterministic hash samples; the overlap rate
    * recovers the population size as n1·n2 div m12 — the
    * sampling-theory sanity check that needs no full count at
    * estimate time (here the true count rides along as calibration).
    * One scan, one tiny global aggregate. */
  def q227: Q = Q(
    "q227_capture_recapture",
    Some(s"""
      |WITH f AS (
      |  SELECT doc_id,
      |         (${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "cap1")})
      |           % 100 < 20 AS in1,
      |         (${sqlSaltedHash("CAST(doc_id AS VARCHAR)", "cap2")})
      |           % 100 < 20 AS in2
      |  FROM documents),
      |a AS (
      |  SELECT count(*) AS n_total,
      |         sum(CASE WHEN in1 THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN in2 THEN 1 ELSE 0 END) AS n2,
      |         sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS m12
      |  FROM f)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(m12 AS BIGINT) AS m12,
      |       CAST(CASE WHEN m12 > 0 THEN (n1 * n2) // m12 END AS BIGINT)
      |         AS est_total,
      |       CAST(n_total AS BIGINT) AS true_total
      |FROM a
      |""".stripMargin)) { (s, dir) =>
    val in1 = Sampling.hashBucket(col("doc_id"), "cap1") < 20
    val in2 = Sampling.hashBucket(col("doc_id"), "cap2") < 20
    Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_total"),
        sum(when(in1, 1L).otherwise(0L)).as("n1"),
        sum(when(in2, 1L).otherwise(0L)).as("n2"),
        sum(when(in1 && in2, 1L).otherwise(0L)).as("m12"))
      .select(col("n1"), col("n2"), col("m12"),
        when(col("m12") > 0, expr("(n1 * n2) div m12")).as("est_total"),
        col("n_total").as("true_total"))
  }

  /** Rendezvous failover: HRW assignment over the named node set
    * {n0…n7}, then the same assignment with n3 dead — the
    * minimal-movement property made visible: ONLY n3's keys move
    * (every other key's per-node hashes are untouched, so its argmax
    * stands), and they scatter to the survivors by the same hash
    * order. Per-node doc counts and moved counts, exact. */
  def q228: Q = {
    val nodes = (0 to 7).map(i => s"n$i")
    val nodeList = nodes.map(n => s"'$n'").mkString("[", ", ", "]")
    Q("q228_rendezvous_failover",
      Some(s"""
        |WITH nodes AS (SELECT unnest($nodeList) AS node),
        |w AS (
        |  SELECT doc_id, node,
        |         (${sqlSaltedHash(
                     "(CAST(doc_id AS VARCHAR) || '#' || node)",
                     "fo:hrw")}) AS w
        |  FROM documents, nodes),
        |r1 AS (
        |  SELECT doc_id, node FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY w DESC, node) AS rn FROM w)
        |  WHERE rn = 1),
        |r2 AS (
        |  SELECT doc_id, node FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY w DESC, node) AS rn FROM w WHERE node <> 'n3')
        |  WHERE rn = 1),
        |j AS (
        |  SELECT r1.node AS node_before, r2.node AS node_after
        |  FROM r1 JOIN r2 USING (doc_id))
        |SELECT node_before, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN node_before <> node_after
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        |FROM j GROUP BY node_before ORDER BY node_before
        |""".stripMargin)) { (s, dir) =>
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val before = Sharding.rendezvousAssignNodes(ids, "doc_id",
          nodes, "fo")
        .select(col("doc_id"), col("node").as("node_before"))
      val after = Sharding.rendezvousAssignNodes(ids, "doc_id",
          nodes.filterNot(_ == "n3"), "fo")
        .select(col("doc_id"), col("node").as("node_after"))
      before.join(after, "doc_id")
        .groupBy(col("node_before"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("node_before") =!= col("node_after"), 1L)
            .otherwise(0L)).as("n_moved"))
        .orderBy(col("node_before"))
    }
  }

  /** Bigram conditional entropy per source — H(next | prev) in exact
    * integer micro-nats: each bigram contributes c_ab · ⌊10⁶·ln(c_a/
    * c_ab)⌋ (the ln quantized through DECIMAL(18,9) then floored, the
    * q182 transcendental discipline), summed as integers and divided
    * once. Low entropy = templated/predictable text, high = diverse
    * prose — the sequence-level cousin of q141's unigram entropy. */
  def q229: Q = Q(
    "q229_bigram_entropy",
    Some(s"""
      |WITH t AS (
      |  SELECT source, ${sqlTokens("text")} AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |bg AS (
      |  SELECT source, toks[i] AS a, toks[i + 1] AS b
      |  FROM t, unnest(range(1, len(toks))) AS u(i)),
      |cab AS (
      |  SELECT source, a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2, 3),
      |ca AS (SELECT source, a, sum(c_ab) AS c_a FROM cab GROUP BY 1, 2),
      |n AS (SELECT source, sum(c_ab) AS n_bg FROM cab GROUP BY 1),
      |terms AS (
      |  SELECT cab.source,
      |         c_ab * CAST(floor(CAST(ln(CAST(c_a AS DOUBLE)
      |                / CAST(c_ab AS DOUBLE)) AS DECIMAL(18,9))
      |              * 1000000) AS BIGINT) AS term
      |  FROM cab JOIN ca ON ca.source = cab.source AND ca.a = cab.a)
      |SELECT s.source, CAST(n.n_bg AS BIGINT) AS n_bigrams,
      |       CAST(CAST(sum(s.term) AS BIGINT) // n.n_bg AS BIGINT)
      |         AS entropy_micronats
      |FROM terms s JOIN n ON n.source = s.source
      |GROUP BY s.source, n.n_bg ORDER BY s.source
      |""".stripMargin)) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
    val bg = t
      .select(col("source"), explode(expr(
        """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |  (x, i) -> struct(x AS a, toks[i + 1] AS b))""".stripMargin))
        .as("p"))
      .select(col("source"), col("p.a"), col("p.b"))
    val cab = bg.groupBy(col("source"), col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy(col("source"), col("a"))
      .agg(sum(col("c_ab")).as("c_a"))
    val n = cab.groupBy(col("source")).agg(sum(col("c_ab")).as("n_bg"))
    cab.join(ca, Seq("source", "a"))
      .select(col("source"),
        (col("c_ab") * floor(log(col("c_a").cast("double") /
          col("c_ab").cast("double")).cast("decimal(18,9)") * 1000000)
          .cast("long")).as("term"))
      .groupBy(col("source")).agg(sum(col("term")).as("__tsum"))
      .join(broadcast(n), "source")
      .select(col("source"), col("n_bg").as("n_bigrams"),
        expr("__tsum div n_bg").as("entropy_micronats"))
      .orderBy(col("source"))
  }

  /** IVF coarse-quantizer refresh step on int8 codes: every vector
    * assigned to its nearest stored centroid by EXACT integer squared
    * distance (the int8-code trick from q62 — distances are sums of
    * (a−b)² over byte codes, no floats anywhere), then each cell's
    * refreshed centroid is the per-dimension floor-mean of its
    * members. The index-maintenance loop ANN systems run nightly:
    * reassignment counts + distortion (Σd²) + a checksum of the new
    * centroid codes, all BIGINT-exact. Centroids broadcast; the
    * corpus never self-joins. */
  def q230: Q = {
    val k = 8
    Q("q230_ivf_centroid_refresh",
      Some(s"""
        |WITH e AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_max(list_transform(embedding, x -> abs(x)))
        |              AS DOUBLE) AS m
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(
        |    CASE WHEN m = 0 THEN 0
        |         ELSE floor(CAST(x AS DOUBLE) * 127.0 / m) END
        |    AS INTEGER)) AS qa
        |  FROM e),
        |c AS (SELECT vec_id AS cid, qa AS ca FROM qv WHERE vec_id < $k),
        |d AS (
        |  SELECT qv.vec_id, c.cid,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, 65), i ->
        |             CAST(qv.qa[i] - c.ca[i] AS BIGINT)
        |               * (qv.qa[i] - c.ca[i]))),
        |           (a, b) -> a + b) AS d2
        |  FROM qv CROSS JOIN c),
        |asg AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, cid) AS rn FROM d)
        |  WHERE rn = 1),
        |dim AS (
        |  SELECT a.cid, u.i,
        |         sum(CAST(q.qa[u.i] AS BIGINT)) AS s, count(*) AS n
        |  FROM asg a JOIN qv q ON q.vec_id = a.vec_id,
        |       unnest(range(1, 65)) AS u(i)
        |  GROUP BY a.cid, u.i),
        |nc AS (
        |  SELECT cid, sum(CASE WHEN s >= 0 THEN s // n
        |                       ELSE -((-s + n - 1) // n) END) AS checksum
        |  FROM dim GROUP BY cid)
        |SELECT a.cid AS centroid_id,
        |       CAST(count(*) AS BIGINT) AS n_assigned,
        |       CAST(sum(a.d2) AS BIGINT) AS distortion,
        |       CAST(nc.checksum AS BIGINT) AS new_code_checksum
        |FROM asg a JOIN nc ON nc.cid = a.cid
        |GROUP BY a.cid, nc.checksum ORDER BY centroid_id
        |""".stripMargin)) { (s, dir) =>
      import graft.sim.Quantize
      val qv = Quantize.quantizedCodes(
        Tables.embeddings(s, dir), "vec_id", "embedding")
        .withColumnRenamed("embedding", "qa")
      val cents = qv.where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("qa").as("ca"))
      val asg = qv.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"), // native integer d² kernel
          graft.functions.SketchExprs.sqEuclideanLong(
            col("qa"), col("ca")).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("d2"), col("cid"))))
        .where(col("rn") === 1)
        .drop("rn")
        .materialize() // feeds both the per-dim refresh and the rollup
      val dim = asg.join(qv, "vec_id")
        .select(col("cid"), posexplode(col("qa")).as(Seq("i", "v")))
        .groupBy(col("cid"), col("i"))
        .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
      // floor division toward −∞ on possibly-negative sums (Spark div
      // truncates toward zero; DuckDB // floors — state it explicitly)
      val nc = dim
        .select(col("cid"), when(col("s") >= 0, expr("s div n"))
          .otherwise(-expr("(-s + n - 1) div n")).as("fm"))
        .groupBy(col("cid")).agg(sum(col("fm")).as("new_code_checksum"))
      asg.groupBy(col("cid").as("centroid_id"))
        .agg(count(lit(1)).as("n_assigned"),
          sum(col("d2")).as("distortion"))
        .join(broadcast(nc.withColumnRenamed("cid", "centroid_id")),
          "centroid_id")
        .select(col("centroid_id"), col("n_assigned"), col("distortion"),
          col("new_code_checksum"))
        .orderBy(col("centroid_id"))
    }
  }

  /** LSH banding catch-rate calibration: for every doc pair (ids
    * < 200; an eval-by-sampling face, like q164), did ANY of the 16
    * two-row bands collide? Bucketed by exact-Jaccard decile this is
    * the EMPIRICAL s-curve 1−(1−J²)¹⁶ — the evidence behind q28's
    * "banding loses nothing at 0.8" claim, and the tuning table you
    * consult before changing bands×rows. Signatures computed once per
    * doc; the pair stage compares 32-slot arrays, ids+sigs only. */
  def q231: Q = {
    val perms = (0 until 32).map(p => s"[${graft.dedup.Dedup.permA(p)}, ${graft.dedup.Dedup.permB(p)}]")
      .mkString("[", ", ", "]")
    Q("q231_lsh_catch_calibration",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
        |  WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(${sqlShingles("toks")}) AS shingles
        |  FROM t),
        |pro AS (
        |  SELECT doc_id, shingles,
        |         list_transform($perms, ab ->
        |           coalesce(list_min(list_transform(
        |             list_transform(shingles, s0 -> ${sqlCharFold("s0")}),
        |             h -> (h * ab[1] + ab[2]) % ${graft.dedup.Dedup.Mod})),
        |             ${graft.dedup.Dedup.Mod})) AS sg
        |  FROM sh WHERE len(shingles) > 0),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |         CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |           / len(list_distinct(list_concat(a.shingles, b.shingles)))
        |           AS j,
        |         len(list_filter(range(0, 16), i ->
        |           a.sg[2 * i + 1] = b.sg[2 * i + 1]
        |           AND a.sg[2 * i + 2] = b.sg[2 * i + 2])) > 0 AS caught
        |  FROM pro a JOIN pro b ON a.doc_id < b.doc_id)
        |SELECT CAST(least(9, CAST(floor(j * 10) AS BIGINT)) AS BIGINT)
        |         AS j_decile,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_caught,
        |       CAST((1000000 * sum(CASE WHEN caught THEN 1 ELSE 0 END))
        |            // count(*) AS BIGINT) AS catch_ppm
        |FROM p GROUP BY 1 ORDER BY j_decile
        |""".stripMargin)) { (s, dir) =>
      import graft.dedup.Dedup
      val pro = Dedup.shingleProfiles(
          Tables.documents(s, dir).where(col("doc_id") < 200),
          "doc_id", "text")
        .where(size(col("sh")) > 0)
      val a = pro.select(col("doc_id").as("da"), col("sh").as("sh_a"),
        col("sig").as("sg_a"))
      val b = pro.select(col("doc_id").as("db"), col("sh").as("sh_b"),
        col("sig").as("sg_b"))
      a.join(b, col("da") < col("db"))
        .select(
          Dedup.jaccardArrays(col("sh_a"), col("sh_b")).as("j"),
          expr("""exists(sequence(0, 15), i ->
            |  element_at(sg_a, 2 * i + 1) = element_at(sg_b, 2 * i + 1)
            |  AND element_at(sg_a, 2 * i + 2)
            |      = element_at(sg_b, 2 * i + 2))""".stripMargin)
            .as("caught"))
        .groupBy(least(lit(9L), floor(col("j") * 10).cast("long"))
          .as("j_decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"))
        .select(col("j_decile"), col("n_pairs"), col("n_caught"),
          expr("(1000000 * n_caught) div n_pairs").as("catch_ppm"))
        .orderBy(col("j_decile"))
    }
  }

  /** Does near-duplication predict low quality? The 2×2 contingency
    * between "doc is in some 0.8-Jaccard pair" and "doc fails the
    * Gopher gate", summarized as an exact odds ratio in ppm — the
    * corpus-health question behind "dedup first or filter first".
    * Near-dup membership from the q28 banding+verify pairs (ids
    * only); quality flags from the shared q85 gate. One row. */
  def q232: Q = Q(
    "q232_dup_quality_odds",
    Some(s"""
      |WITH ${CorpusQueries.sqlGopherCtes("documents")},
      |t2 AS (SELECT doc_id,
      |              list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
      |       FROM documents),
      |pr AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM t2 a JOIN t2 b ON a.doc_id < b.doc_id
      |  WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |dup AS (SELECT DISTINCT doc_id FROM
      |          (SELECT da AS doc_id FROM pr
      |           UNION ALL SELECT db FROM pr)),
      |f AS (
      |  SELECT f85.doc_id, NOT f85.keep AS lowq,
      |         dup.doc_id IS NOT NULL AS is_dup
      |  FROM f85 LEFT JOIN dup ON dup.doc_id = f85.doc_id),
      |cells AS (
      |  SELECT sum(CASE WHEN is_dup AND lowq THEN 1 ELSE 0 END) AS a,
      |         sum(CASE WHEN is_dup AND NOT lowq THEN 1 ELSE 0 END) AS b,
      |         sum(CASE WHEN NOT is_dup AND lowq THEN 1 ELSE 0 END) AS c,
      |         sum(CASE WHEN NOT is_dup AND NOT lowq THEN 1 ELSE 0 END)
      |           AS d
      |  FROM f)
      |SELECT CAST(a AS BIGINT) AS dup_lowq,
      |       CAST(b AS BIGINT) AS dup_good,
      |       CAST(c AS BIGINT) AS nodup_lowq,
      |       CAST(d AS BIGINT) AS nodup_good,
      |       CAST(CASE WHEN b * c > 0 THEN (1000000 * a * d) // (b * c)
      |            END AS BIGINT) AS odds_ratio_ppm
      |FROM cells
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    import graft.text.QualityRules
    val docs = Tables.documents(s, dir)
    val dup = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.8)
      .select(col("doc_a").as("doc_id"))
      .unionByName(Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.8).select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("is_dup", lit(true))
    val flagged = QualityRules.gopherFlags(docs, "text",
      QualityRules.GopherParams(minWords = 20, maxWords = 80,
        minMeanWordLen = 3, maxMeanWordLen = 8))
    flagged.select(col("doc_id"), (!col("keep")).as("lowq"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("lowq"), coalesce(col("is_dup"), lit(false)).as("dup"))
      .agg(
        sum(when(col("dup") && col("lowq"), 1L).otherwise(0L))
          .as("dup_lowq"),
        sum(when(col("dup") && !col("lowq"), 1L).otherwise(0L))
          .as("dup_good"),
        sum(when(!col("dup") && col("lowq"), 1L).otherwise(0L))
          .as("nodup_lowq"),
        sum(when(!col("dup") && !col("lowq"), 1L).otherwise(0L))
          .as("nodup_good"))
      .select(col("dup_lowq"), col("dup_good"), col("nodup_lowq"),
        col("nodup_good"),
        when(col("dup_good") * col("nodup_lowq") > 0,
          expr("(1000000 * dup_lowq * nodup_good)" +
            " div (dup_good * nodup_lowq)")).as("odds_ratio_ppm"))
  }

  /** Near-dup provenance per source: does duplication live WITHIN a
    * feed (re-posts — dedup per source suffices) or ACROSS feeds
    * (mirrors — dedup must be global)? Same-source pairs count once,
    * cross-source pairs count toward BOTH sources (stated
    * convention); dup-doc counts are distinct docs in any pair. Pairs
    * from the q28 banding+verify path; everything after is ids+source
    * dims. */
  def q233: Q = Q(
    "q233_dup_provenance",
    Some(s"""
      |WITH t2 AS (SELECT doc_id, source,
      |              list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
      |            FROM documents),
      |pr AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |         a.source AS sa, b.source AS sb
      |  FROM t2 a JOIN t2 b ON a.doc_id < b.doc_id
      |  WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |same AS (SELECT sa AS source, count(*) AS c FROM pr
      |         WHERE sa = sb GROUP BY 1),
      |crossp AS (
      |  SELECT source, count(*) AS c FROM (
      |    SELECT sa AS source FROM pr WHERE sa <> sb
      |    UNION ALL SELECT sb FROM pr WHERE sa <> sb)
      |  GROUP BY source),
      |dup AS (
      |  SELECT source, count(DISTINCT doc_id) AS c FROM (
      |    SELECT da AS doc_id, sa AS source FROM pr
      |    UNION ALL SELECT db, sb FROM pr)
      |  GROUP BY source),
      |n AS (SELECT source, count(*) AS n_docs FROM documents
      |      GROUP BY source)
      |SELECT n.source, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(coalesce(dup.c, 0) AS BIGINT) AS n_dup_docs,
      |       CAST(coalesce(same.c, 0) AS BIGINT) AS same_source_pairs,
      |       CAST(coalesce(crossp.c, 0) AS BIGINT) AS cross_source_pairs
      |FROM n LEFT JOIN same ON same.source = n.source
      |       LEFT JOIN crossp ON crossp.source = n.source
      |       LEFT JOIN dup ON dup.source = n.source
      |ORDER BY n.source
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val pr = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.8)
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("sb")), "doc_b")
      .materialize() // ids+sources only; feeds three rollups
    val same = pr.where(col("sa") === col("sb"))
      .groupBy(col("sa").as("source")).agg(count(lit(1)).as("sp"))
    val crossp = pr.where(col("sa") =!= col("sb"))
      .select(col("sa").as("source"))
      .unionByName(pr.where(col("sa") =!= col("sb"))
        .select(col("sb").as("source")))
      .groupBy(col("source")).agg(count(lit(1)).as("cp"))
    val dup = pr.select(col("doc_a").as("doc_id"),
        col("sa").as("source"))
      .unionByName(pr.select(col("doc_b").as("doc_id"),
        col("sb").as("source")))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("nd"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(broadcast(same), Seq("source"), "left")
      .join(broadcast(crossp), Seq("source"), "left")
      .join(broadcast(dup), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("nd"), lit(0L)).as("n_dup_docs"),
        coalesce(col("sp"), lit(0L)).as("same_source_pairs"),
        coalesce(col("cp"), lit(0L)).as("cross_source_pairs"))
      .orderBy(col("source"))
  }

  /** Session-level event-type lift: P(A,B in one session) against
    * independence, as exact cross-multiplied ppm —
    * 10⁶·co·S div (n_a·n_b). The association-rule view at session
    * granularity (q169's basket lift is per-order; q218's
    * co-occurrence is per-user-lifetime). Per-session type sets are
    * tiny sorted arrays; pair fan-out is bounded by the type
    * vocabulary, never a self-join. */
  def q234: Q = Q(
    "q234_session_lift",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id,
      |         event_type
      |  FROM events),
      |o AS (
      |  SELECT *, lag(t_us) OVER (PARTITION BY user_id
      |    ORDER BY t_us, event_id) AS prev
      |  FROM e),
      |g AS (
      |  SELECT *, sum(CASE WHEN prev IS NULL
      |                          OR t_us - prev >= 1800000000
      |                     THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                    ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM o),
      |st AS (SELECT DISTINCT user_id, grp, event_type FROM g),
      |stot AS (SELECT count(DISTINCT (user_id, grp)) AS s
      |         FROM g),
      |na AS (SELECT event_type, count(*) AS n_u FROM st GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS t_a, b.event_type AS t_b,
      |         count(*) AS co
      |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.grp = b.grp
      |                      AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT t_a, t_b, CAST(co AS BIGINT) AS co,
      |       CAST(x.n_u AS BIGINT) AS n_a, CAST(y.n_u AS BIGINT) AS n_b,
      |       CAST(stot.s AS BIGINT) AS n_sessions,
      |       CAST((1000000 * co * stot.s) // (x.n_u * y.n_u) AS BIGINT)
      |         AS lift_ppm
      |FROM p JOIN na x ON x.event_type = p.t_a
      |       JOIN na y ON y.event_type = p.t_b
      |CROSS JOIN stot
      |ORDER BY t_a, t_b
      |""".stripMargin)) { (s, dir) =>
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val st = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("t_us"), 1).over(wo))
      .withColumn("grp", sum(
        when(col("prev").isNull ||
          col("t_us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
        .over(wo.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .select(col("user_id"), col("grp"), col("event_type"))
      .distinct()
      .materialize() // session-type dim feeds marginals + pairs + total
    val sTot = st.select(col("user_id"), col("grp")).distinct()
      .agg(count(lit(1)).as("s"))
    val na = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_u"))
    val pairs = st.groupBy(col("user_id"), col("grp"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)),
          |            b -> struct(a AS t_a, b AS t_b))))""".stripMargin))
        .as("p"))
      .select(col("p.t_a"), col("p.t_b"))
      .groupBy(col("t_a"), col("t_b")).agg(count(lit(1)).as("co"))
    pairs
      .join(broadcast(na.select(col("event_type").as("t_a"),
        col("n_u").as("n_a"))), "t_a")
      .join(broadcast(na.select(col("event_type").as("t_b"),
        col("n_u").as("n_b"))), "t_b")
      .crossJoin(broadcast(sTot))
      .select(col("t_a"), col("t_b"), col("co"), col("n_a"),
        col("n_b"), col("s").as("n_sessions"),
        expr("(1000000 * co * s) div (n_a * n_b)").as("lift_ppm"))
      .orderBy(col("t_a"), col("t_b"))
  }

  /** Hill tail-index estimate for the token-frequency power law:
    * over the top-k=20 frequencies (the synthetic vocab has 31 types) x_1 ≥ … ≥ x_k, Hill's estimator
    * is mean ln(x_i/x_k) — in exact integer micro-nats via the
    * quantized-ln discipline, with α (the Zipf exponent's tail
    * sibling) as its integer-milli reciprocal. The corpus-health scalar
    * that distinguishes natural Zipfian text from templated spam.
    * One frequency dim, one 100-row reduction. */
  def q235: Q = {
    val k = 20
    Q("q235_hill_tail_index",
      Some(s"""
        |WITH t AS (
        |  SELECT unnest(${sqlTokens("text")}) AS w FROM documents
        |  WHERE text IS NOT NULL),
        |f AS (SELECT w, count(*) AS c FROM t GROUP BY w),
        |top AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
        |  FROM f ORDER BY c DESC, w LIMIT $k),
        |xk AS (SELECT c AS x_k FROM top WHERE rk = $k),
        |h AS (
        |  SELECT sum(CAST(floor(CAST(ln(CAST(top.c AS DOUBLE)
        |           / CAST(xk.x_k AS DOUBLE)) AS DECIMAL(18,9))
        |           * 1000000) AS BIGINT)) AS hsum
        |  FROM top CROSS JOIN xk WHERE top.rk < $k)
        |SELECT CAST($k AS BIGINT) AS k, CAST(xk.x_k AS BIGINT) AS x_k,
        |       CAST(h.hsum // ($k - 1) AS BIGINT) AS hill_micronats,
        |       CAST(CASE WHEN h.hsum > 0
        |                 THEN ${(k - 1).toLong * 1000000000L} // h.hsum
        |            END AS BIGINT) AS alpha_milli
        |FROM h CROSS JOIN xk
        |""".stripMargin)) { (s, dir) =>
      val f = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // only the top-k of the term dim is consumed: orderBy.limit is
      // TakeOrderedAndProject (per-partition top-k + k-row driver
      // merge) — no global sort of a vocabulary that grows with the
      // corpus; the row_number window after it runs over k rows
      val top = f.orderBy(col("c").desc, col("w")).limit(k)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("w"))))
        .select(col("c"), col("rk"))
        .materialize() // k-row dim feeds x_k and the sum
      val xk = top.where(col("rk") === k).select(col("c").as("x_k"))
      top.where(col("rk") < k)
        .crossJoin(broadcast(xk))
        .agg(sum(floor(log(col("c").cast("double") /
          col("x_k").cast("double")).cast("decimal(18,9)") * 1000000)
          .cast("long")).as("hsum"),
          min(col("x_k")).as("x_k"))
        .select(lit(k.toLong).as("k"), col("x_k"),
          expr(s"hsum div ${k - 1}").as("hill_micronats"),
          when(col("hsum") > 0,
            expr(s"${(k - 1).toLong * 1000000000L}L div hsum"))
            .as("alpha_milli"))
    }
  }

  /** Co-visitation within a trailing window: event-type pairs where B
    * follows A within the next 3 events of the same user — the
    * recommender co-occurrence signal at INTERACTION range (tighter
    * than q234's whole-session granularity). Three lead columns, one
    * user-keyed window pass, unordered pairs normalized (least,
    * greatest), self-transitions excluded. */
  def q236: Q = Q(
    "q236_covisitation",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us,
      |         event_id
      |  FROM events),
      |l AS (
      |  SELECT event_type AS a,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY t_us, event_id) AS b1,
      |         lead(event_type, 2) OVER (PARTITION BY user_id
      |           ORDER BY t_us, event_id) AS b2,
      |         lead(event_type, 3) OVER (PARTITION BY user_id
      |           ORDER BY t_us, event_id) AS b3
      |  FROM e),
      |p AS (
      |  SELECT least(a, b) AS t_a, greatest(a, b) AS t_b FROM (
      |    SELECT a, b1 AS b FROM l WHERE b1 IS NOT NULL
      |    UNION ALL SELECT a, b2 FROM l WHERE b2 IS NOT NULL
      |    UNION ALL SELECT a, b3 FROM l WHERE b3 IS NOT NULL)
      |  WHERE a <> b)
      |SELECT t_a, t_b, CAST(count(*) AS BIGINT) AS n_covisits
      |FROM p GROUP BY t_a, t_b ORDER BY t_a, t_b
      |""".stripMargin)) { (s, dir) =>
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val l = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"))
      .withColumn("b1", lead(col("event_type"), 1).over(wo))
      .withColumn("b2", lead(col("event_type"), 2).over(wo))
      .withColumn("b3", lead(col("event_type"), 3).over(wo))
      .select(col("event_type").as("a"), col("b1"), col("b2"),
        col("b3"))
    l.select(col("a"), explode(array(col("b1"), col("b2"), col("b3")))
        .as("b"))
      .where(col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("t_a"),
        greatest(col("a"), col("b")).as("t_b"))
      .groupBy(col("t_a"), col("t_b"))
      .agg(count(lit(1)).as("n_covisits"))
      .orderBy(col("t_a"), col("t_b"))
  }

  /** Greedy maximum-coverage selection (MmrSelect.coverSelect): the 5
    * documents that together cover the most distinct vocabulary,
    * picked from a top-40 pool by the classic (1−1/e) set-cover
    * greedy — tokenizer-corpus and eval-set construction. The oracle
    * replays every pick with chained CTEs; covered_total is the
    * running sum of gains (exact by construction). */
  def q237: Q = {
    val rounds = (2 to 5).map { r =>
      s"""g$r AS (
         |  SELECT p.doc_id, p.dt,
         |         len(list_filter(p.dt,
         |           w -> NOT list_contains(cv.cov, w))) AS gain
         |  FROM pool p CROSS JOIN cov${r - 1} cv
         |  WHERE p.doc_id NOT IN (SELECT doc_id FROM all${r - 1})),
         |sel$r AS (
         |  SELECT doc_id, dt, gain, $r AS r FROM g$r
         |  ORDER BY gain DESC, doc_id LIMIT 1),
         |cov$r AS (
         |  SELECT list_distinct(list_concat(cv.cov, s.dt)) AS cov
         |  FROM cov${r - 1} cv CROSS JOIN sel$r s),
         |all$r AS (SELECT doc_id, gain, r FROM all${r - 1}
         |          UNION ALL SELECT doc_id, gain, r FROM sel$r)"""
        .stripMargin
    }.mkString(",\n")
    Q("q237_greedy_coverage",
      Some(s"""
        |WITH t AS (
        |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |c0 AS (SELECT doc_id, list_distinct(toks) AS dt FROM t),
        |pool AS (SELECT * FROM c0 ORDER BY len(dt) DESC, doc_id
        |         LIMIT 40),
        |sel1 AS (SELECT doc_id, dt, len(dt) AS gain, 1 AS r FROM pool
        |         ORDER BY len(dt) DESC, doc_id LIMIT 1),
        |cov1 AS (SELECT dt AS cov FROM sel1),
        |all1 AS (SELECT doc_id, gain, r FROM sel1),
        |$rounds
        |SELECT doc_id, CAST(r AS BIGINT) AS sel_rank,
        |       CAST(gain AS BIGINT) AS gain,
        |       CAST(sum(gain) OVER (ORDER BY r) AS BIGINT)
        |         AS covered_total
        |FROM all5 ORDER BY sel_rank
        |""".stripMargin)) { (s, dir) =>
      import graft.text.MmrSelect
      val cand = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          array_distinct(TextAnalysis.tokens(col("text"))).as("dt"))
      val pool = cand
        .orderBy(size(col("dt")).desc, col("doc_id")).limit(40)
      MmrSelect.coverSelect(pool, "doc_id", "dt", k = 5)
        .orderBy(col("sel_rank"))
    }
  }

  /** Session exit analysis: the LAST event type of each gap session,
    * split by whether the session converted (contains a purchase) —
    * the "where do non-converting sessions die" diagnosis. Share is
    * exact ppm within each converted/non-converted cohort. One
    * user-keyed exchange end-to-end. */
  def q238: Q = Q(
    "q238_session_exit_types",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id,
      |         event_type
      |  FROM events),
      |o AS (
      |  SELECT *, lag(t_us) OVER (PARTITION BY user_id
      |    ORDER BY t_us, event_id) AS prev
      |  FROM e),
      |g AS (
      |  SELECT *, sum(CASE WHEN prev IS NULL
      |                          OR t_us - prev >= 1800000000
      |                     THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                    ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM o),
      |lastev AS (
      |  SELECT user_id, grp, event_type AS exit_type FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, grp
      |      ORDER BY t_us DESC, event_id DESC) AS rn FROM g)
      |  WHERE rn = 1),
      |conv AS (
      |  SELECT user_id, grp,
      |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS converted
      |  FROM g GROUP BY user_id, grp),
      |s AS (
      |  SELECT l.user_id, l.grp, c.converted, l.exit_type
      |  FROM lastev l JOIN conv c USING (user_id, grp)),
      |c AS (
      |  SELECT converted, exit_type, count(*) AS n_sessions
      |  FROM s GROUP BY 1, 2),
      |t AS (SELECT converted, sum(n_sessions) AS n_tot FROM c
      |      GROUP BY 1)
      |SELECT c.converted AS converted, c.exit_type,
      |       CAST(n_sessions AS BIGINT) AS n_sessions,
      |       CAST((1000000 * n_sessions) // t.n_tot AS BIGINT)
      |         AS share_ppm
      |FROM c JOIN t ON t.converted = c.converted
      |ORDER BY converted, exit_type
      |""".stripMargin)) { (s, dir) =>
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val sess = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("t_us"), 1).over(wo))
      .withColumn("grp", sum(
        when(col("prev").isNull ||
          col("t_us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
        .over(wo.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("user_id"), col("grp"))
      .agg(
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"),
        max_by(col("event_type"), struct(col("t_us"), col("event_id")))
          .as("exit_type"))
    val c = sess.groupBy(col("converted"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"))
    val t = c.groupBy(col("converted"))
      .agg(sum(col("n_sessions")).as("n_tot"))
    c.join(broadcast(t), "converted")
      .select(col("converted"), col("exit_type"), col("n_sessions"),
        expr("(1000000 * n_sessions) div n_tot").as("share_ppm"))
      .orderBy(col("converted"), col("exit_type"))
  }

  /** Attribution model disagreement: last-touch conversion counts
    * next to linear multi-touch credit per channel, with the signed
    * delta — the table that decides whether the cheaper single-touch
    * model is good enough for budget allocation. Same eligibility
    * contract on both models (q171/q203's operators), so the deltas
    * are pure model effects, not data effects. */
  def q239: Q = {
    val lookback = 48L * 3600L * 1000000000L
    Q("q239_attribution_disagreement",
      Some(s"""
        |WITH c AS (
        |  SELECT user_id AS e, epoch_ns(ts) AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id AS e, epoch_ns(ts) AS tts, event_id AS tid,
        |         event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
        |elig AS (
        |  SELECT cid, channel, tts, tid FROM c JOIN t USING (e)
        |  WHERE (tts < cts OR (tts = cts AND tid < cid))
        |    AND cts - tts <= $lookback),
        |lt AS (
        |  SELECT cid, channel FROM (
        |    SELECT cid, channel, row_number() OVER (PARTITION BY cid
        |      ORDER BY tts DESC, tid DESC) AS rn
        |    FROM elig) WHERE rn = 1),
        |ltc AS (SELECT channel, count(*) AS lt_conversions FROM lt
        |        GROUP BY channel),
        |pc AS (
        |  SELECT cid, channel, count(*) AS nch FROM elig GROUP BY 1, 2),
        |tot AS (SELECT cid, sum(nch) AS ntot FROM pc GROUP BY 1),
        |lin AS (
        |  SELECT channel,
        |         CAST(sum(CAST(CAST(nch AS DOUBLE) / CAST(ntot AS DOUBLE)
        |              AS DECIMAL(18,9))) AS DOUBLE) AS linear_credit
        |  FROM pc JOIN tot USING (cid) GROUP BY channel)
        |SELECT ltc.channel,
        |       CAST(lt_conversions AS BIGINT) AS lt_conversions,
        |       lin.linear_credit,
        |       CAST(lt_conversions AS DOUBLE) - lin.linear_credit
        |         AS delta
        |FROM ltc JOIN lin ON lin.channel = ltc.channel
        |ORDER BY ltc.channel
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Attribution
      val ev = Tables.events(s, dir)
      val touches = Seq("click", "view", "signup")
      val lt = Attribution.lastTouch(ev, "user_id", "ts", "event_id",
          "event_type", convType = "purchase", touchTypes = touches,
          lookback = lookback)
        .where(col("attributed_channel") =!= "(none)")
        .groupBy(col("attributed_channel").as("channel"))
        .agg(count(lit(1)).as("lt_conversions"))
      val lin = Attribution.linearTouch(ev, "user_id", "ts", "event_id",
          "event_type", convType = "purchase", touchTypes = touches,
          lookback = lookback)
        .where(col("channel") =!= "(none)")
        .groupBy(col("channel"))
        .agg(sum(col("credit")).cast("double").as("linear_credit"))
      lt.join(lin, "channel")
        .select(col("channel"), col("lt_conversions"),
          col("linear_credit"),
          (col("lt_conversions").cast("double") - col("linear_credit"))
            .as("delta"))
        .orderBy(col("channel"))
    }
  }

  /** Late-shipment league table: per supplier the exact ppm of line
    * items shipped more than 90 days after the order date (the
    * synthetic schema carries no commit/receipt dates) — the
    * TPC-H-flavored SLA report. The fact-fact join shuffles on
    * orderkey, the per-supplier rollup follows, and only THEN does the
    * supplier-dim name attach broadcast (names never ride the wide
    * shuffle). Worst 15 suppliers with ≥ 20 items, ties by key;
    * day delta in epoch-µs integers (both DATE columns explicitly
    * cast — unix_micros rejects NTZ). */
  def q240: Q = Q(
    "q240_late_shipments",
    Some("""
      |WITH f AS (
      |  SELECT l_suppkey AS suppkey, count(*) AS n_items,
      |         sum(CASE WHEN (epoch_us(l.l_shipdate)
      |                        - epoch_us(o.o_orderdate))
      |                       // 86400000000 > 90
      |                  THEN 1 ELSE 0 END) AS n_late
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1),
      |j AS (
      |  SELECT f.suppkey, s.s_name, n_items, n_late,
      |         (1000000 * n_late) // n_items AS late_ppm
      |  FROM f JOIN supplier s ON s.s_suppkey = f.suppkey
      |  WHERE n_items >= 20)
      |SELECT suppkey, s_name, CAST(n_items AS BIGINT) AS n_items,
      |       CAST(n_late AS BIGINT) AS n_late,
      |       CAST(late_ppm AS BIGINT) AS late_ppm
      |FROM j ORDER BY late_ppm DESC, suppkey LIMIT 15
      |""".stripMargin)) { (s, dir) =>
    val f = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(expr(
          "(unix_micros(CAST(l_shipdate AS TIMESTAMP)) - " +
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)))" +
            " div 86400000000 > 90"), 1L).otherwise(0L)).as("n_late"))
      .where(col("n_items") >= 20)
    f.join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_name"))),
        "suppkey")
      .select(col("suppkey"), col("s_name"), col("n_items"),
        col("n_late"),
        expr("(1000000 * n_late) div n_items").as("late_ppm"))
      .orderBy(col("late_ppm").desc, col("suppkey"))
      .limit(15)
  }

  /** Power-of-two latency histogram (HdrHistogram's idea, exactly):
    * inter-arrival gaps bucketed by BINARY MAGNITUDE — bucket = number
    * of binary digits, computed as the length of the base-2 string
    * rendering, which both engines produce identically (no float log2
    * at bucket boundaries, where an ulp flips the bucket). Constant
    * bucket count regardless of range; the standard latency-profile
    * form at scale. */
  def q241: Q = Q(
    "q241_latency_log2_histogram",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us,
      |         event_id
      |  FROM events),
      |d AS (
      |  SELECT event_type,
      |         t_us - lag(t_us) OVER (PARTITION BY user_id, event_type
      |           ORDER BY t_us, event_id) AS delta_us
      |  FROM e),
      |b AS (
      |  SELECT event_type,
      |         CAST(length(bin(delta_us)) AS BIGINT) AS bucket
      |  FROM d WHERE delta_us IS NOT NULL)
      |SELECT event_type, bucket,
      |       CAST(CASE WHEN bucket = 1 THEN 0
      |            ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT)
      |         AS bucket_lo_us,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM b GROUP BY event_type, bucket ORDER BY event_type, bucket
      |""".stripMargin)) { (s, dir) =>
    val wo = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"))
      .withColumn("delta_us", col("t_us") - lag(col("t_us"), 1).over(wo))
      .where(col("delta_us").isNotNull)
      .select(col("event_type"),
        length(conv(col("delta_us"), 10, 2)).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        when(col("bucket") === 1, 0L)
          .otherwise(expr("shiftleft(1L, CAST(bucket - 1 AS INT))"))
          .as("bucket_lo_us"),
        col("n"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Quantization recall: int8-code cosine top-3 (q62's retrieval)
    * scored against float-cosine truth (q30's), per query — the
    * "what does 4× compression cost in recall" evidence before
    * switching the serving index to codes. Both retrievals are exact
    * replays of the proven operators; the overlap join is ids-only. */
  def q242: Q = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
         |  (x, y) -> x + y)""".stripMargin
    Q("q242_quantized_recall",
      Some(s"""
        |WITH e AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_max(list_transform(embedding, x -> abs(x)))
        |              AS DOUBLE) AS m
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(
        |    CASE WHEN m = 0 THEN 0
        |         ELSE floor(CAST(x AS DOUBLE) * 127.0 / m) END
        |    AS INTEGER)) AS qa
        |  FROM e),
        |tq AS (SELECT vec_id, embedding FROM e WHERE vec_id < 50),
        |tp AS (
        |  SELECT tq.vec_id, c.vec_id AS neighbor_id,
        |         ${dot("tq.embedding", "c.embedding")}
        |           / (sqrt(${dot("tq.embedding", "tq.embedding")})
        |              * sqrt(${dot("c.embedding", "c.embedding")})) AS cos
        |  FROM tq JOIN e c ON tq.vec_id != c.vec_id),
        |truth AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, neighbor_id) AS rn FROM tp)
        |  WHERE rn <= 3),
        |aq AS (SELECT vec_id, qa FROM qv WHERE vec_id < 50),
        |ap AS (
        |  SELECT aq.vec_id, c.vec_id AS neighbor_id,
        |         ${dot("aq.qa", "c.qa")}
        |           / (sqrt(${dot("aq.qa", "aq.qa")})
        |              * sqrt(${dot("c.qa", "c.qa")})) AS cos
        |  FROM aq JOIN qv c ON aq.vec_id != c.vec_id),
        |approx AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, neighbor_id) AS rn FROM ap)
        |  WHERE rn <= 3),
        |mt AS (
        |  SELECT t.vec_id, count(*) AS n_match
        |  FROM truth t JOIN approx a
        |    ON a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id
        |  GROUP BY t.vec_id),
        |qs AS (SELECT DISTINCT vec_id FROM truth)
        |SELECT qs.vec_id, CAST(coalesce(mt.n_match, 0) AS BIGINT)
        |         AS n_match,
        |       CAST((1000000 * coalesce(mt.n_match, 0)) // 3 AS BIGINT)
        |         AS recall_ppm
        |FROM qs LEFT JOIN mt ON mt.vec_id = qs.vec_id
        |ORDER BY qs.vec_id
        |""".stripMargin)) { (s, dir) =>
      import graft.sim.Quantize
      val emb = Tables.embeddings(s, dir)
      val truth = Similarity.bruteForceTopK(
          corpus = emb, queries = emb.filter(col("vec_id") < 50),
          idCol = "vec_id", vecCol = "embedding", k = 3)
        .select(col("vec_id"), col("neighbor_id"))
        .materialize() // feeds both the query-id dim and the overlap
      val codes = Quantize.quantizedCodes(emb, "vec_id", "embedding")
      val approx = Similarity.bruteForceTopK(
          corpus = codes, queries = codes.filter(col("vec_id") < 50),
          idCol = "vec_id", vecCol = "embedding", k = 3)
        .select(col("vec_id"), col("neighbor_id"))
      val mt = truth.join(approx, Seq("vec_id", "neighbor_id"),
          "leftsemi")
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_match"))
      truth.select(col("vec_id")).distinct()
        .join(mt, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          expr("(1000000 * coalesce(n_match, 0)) div 3")
            .as("recall_ppm"))
        .orderBy(col("vec_id"))
    }
  }

  /** Time-to-conversion inside a session: for converting sessions,
    * exact p50/p90 of µs from session start to the FIRST purchase,
    * keyed by the session's entry event type — "which front doors
    * convert fast". Sessionization's one user exchange, then
    * dim-sized order statistics via quantilesDisc. */
  def q243: Q = Q(
    "q243_time_to_conversion",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id,
      |         event_type
      |  FROM events),
      |o AS (
      |  SELECT *, lag(t_us) OVER (PARTITION BY user_id
      |    ORDER BY t_us, event_id) AS prev
      |  FROM e),
      |g AS (
      |  SELECT *, sum(CASE WHEN prev IS NULL
      |                          OR t_us - prev >= 1800000000
      |                     THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                    ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM o),
      |entry AS (
      |  SELECT user_id, grp, event_type AS entry_type FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, grp
      |      ORDER BY t_us, event_id) AS rn FROM g)
      |  WHERE rn = 1),
      |agg AS (
      |  SELECT user_id, grp, min(t_us) AS start_us,
      |         min(CASE WHEN event_type = 'purchase' THEN t_us END)
      |           AS conv_us
      |  FROM g GROUP BY user_id, grp),
      |d AS (
      |  SELECT en.entry_type, a.conv_us - a.start_us AS delta_us
      |  FROM agg a JOIN entry en
      |    ON en.user_id = a.user_id AND en.grp = a.grp
      |  WHERE a.conv_us IS NOT NULL),
      |r AS (
      |  SELECT entry_type, delta_us,
      |         row_number() OVER (PARTITION BY entry_type
      |                            ORDER BY delta_us) AS rn,
      |         count(*) OVER (PARTITION BY entry_type) AS n
      |  FROM d),
      |p AS (SELECT unnest([500, 900]) AS permille)
      |SELECT r.entry_type, p.permille, r.delta_us AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY entry_type, permille
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val g = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("t_us"), 1).over(wo))
      .withColumn("grp", sum(
        when(col("prev").isNull ||
          col("t_us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
        .over(wo.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .materialize() // one sessionized pass feeds entry + aggregates
    val entry = g
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("grp"))
          .orderBy(col("t_us"), col("event_id"))))
      .where(col("rn") === 1)
      .select(col("user_id"), col("grp"),
        col("event_type").as("entry_type"))
    val agg = g.groupBy(col("user_id"), col("grp"))
      .agg(min(col("t_us")).as("start_us"),
        min(when(col("event_type") === "purchase", col("t_us")))
          .as("conv_us"))
      .where(col("conv_us").isNotNull)
    val d = agg.join(entry, Seq("user_id", "grp"))
      .select(col("entry_type"),
        (col("conv_us") - col("start_us")).as("delta_us"))
    OrderStats.quantilesDisc(d, Seq("entry_type"), "delta_us",
        Seq(500, 900))
      .orderBy(col("entry_type"), col("permille"))
  }

  /** Join-skew pre-flight (Relational.joinSkewReport) on the
    * pathological self-join: events × events by event_type. The
    * report names the keys whose fan-out products dominate the
    * would-be output — the decision input for salting / AQE skew
    * handling — without ever executing the join it predicts. */
  def q244: Q = Q(
    "q244_join_skew_report",
    Some("""
      |WITH l AS (SELECT event_type AS key, count(*) AS l_count
      |           FROM events GROUP BY 1),
      |r AS (SELECT event_type AS key, count(*) AS r_count
      |      FROM events GROUP BY 1)
      |SELECT coalesce(l.key, r.key) AS key,
      |       CAST(coalesce(l_count, 0) AS BIGINT) AS l_count,
      |       CAST(coalesce(r_count, 0) AS BIGINT) AS r_count,
      |       CAST(coalesce(l_count, 0) * coalesce(r_count, 0) AS BIGINT)
      |         AS output_rows
      |FROM l FULL JOIN r ON l.key = r.key
      |ORDER BY output_rows DESC, key LIMIT 5
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Relational
    val ev = Tables.events(s, dir)
    Relational.joinSkewReport(ev, "event_type", ev, "event_type",
      topK = 5)
  }

  /** Bot-likeness composite per user: event-type entropy (templated
    * behavior scores low), median inter-arrival gap (machines are
    * fast), and the conjunction flag — all exact (q229's quantized-ln
    * entropy discipline + order-statistic median). Thresholds:
    * entropy < 1.2 nats AND median gap < 60 s. The abuse-signal
    * rollup that precedes any rate-limit decision. */
  def q245: Q = Q(
    "q245_bot_score",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us,
      |         event_id
      |  FROM events),
      |ct AS (SELECT user_id, event_type, count(*) AS c FROM e
      |       GROUP BY 1, 2),
      |n AS (SELECT user_id, sum(c) AS n_events FROM ct GROUP BY 1),
      |ent AS (
      |  SELECT ct.user_id,
      |         CAST(sum(c * CAST(floor(CAST(ln(CAST(n_events AS DOUBLE)
      |                / CAST(c AS DOUBLE)) AS DECIMAL(18,9))
      |              * 1000000) AS BIGINT)) AS BIGINT) // max(n_events)
      |           AS entropy_micronats
      |  FROM ct JOIN n ON n.user_id = ct.user_id
      |  GROUP BY ct.user_id),
      |d AS (
      |  SELECT user_id,
      |         t_us - lag(t_us) OVER (PARTITION BY user_id
      |           ORDER BY t_us, event_id) AS delta_us
      |  FROM e),
      |v AS (SELECT user_id, delta_us FROM d WHERE delta_us IS NOT NULL),
      |med AS (
      |  SELECT user_id, delta_us AS median_gap_us FROM (
      |    SELECT user_id, delta_us,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY delta_us) AS rn,
      |           count(*) OVER (PARTITION BY user_id) AS n
      |    FROM v)
      |  WHERE rn = (500 * n + 999) // 1000)
      |SELECT n.user_id, CAST(n.n_events AS BIGINT) AS n_events,
      |       CAST(ent.entropy_micronats AS BIGINT) AS entropy_micronats,
      |       CAST(med.median_gap_us AS BIGINT) AS median_gap_us,
      |       CAST(CASE WHEN med.median_gap_us IS NOT NULL
      |                      AND ent.entropy_micronats < 1200000
      |                      AND med.median_gap_us < 60000000
      |                 THEN 1 ELSE 0 END AS BIGINT) AS is_bot
      |FROM n JOIN ent ON ent.user_id = n.user_id
      |       LEFT JOIN med ON med.user_id = n.user_id
      |ORDER BY n.user_id
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"))
    val ct = e.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val n = ct.groupBy(col("user_id")).agg(sum(col("c")).as("n_events"))
    val ent = ct.join(n, "user_id")
      .select(col("user_id"),
        (col("c") * floor(log(col("n_events").cast("double") /
          col("c").cast("double")).cast("decimal(18,9)") * 1000000)
          .cast("long")).as("term"),
        col("n_events"))
      .groupBy(col("user_id"))
      .agg((sum(col("term"))).as("__ts"), max(col("n_events")).as("__n"))
      .select(col("user_id"),
        expr("__ts div __n").as("entropy_micronats"))
    val deltas = e
      .withColumn("delta_us", col("t_us") - lag(col("t_us"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("t_us"), col("event_id"))))
      .where(col("delta_us").isNotNull)
      .select(col("user_id"), col("delta_us"))
    val med = OrderStats.quantilesDisc(deltas, Seq("user_id"),
        "delta_us", Seq(500))
      .select(col("user_id"), col("value").as("median_gap_us"))
    n.join(ent, "user_id")
      .join(med, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("entropy_micronats"),
        col("median_gap_us"),
        when(col("median_gap_us").isNotNull &&
          col("entropy_micronats") < 1200000L &&
          col("median_gap_us") < 60000000L, 1L).otherwise(0L)
          .as("is_bot"))
      .orderBy(col("user_id"))
  }

  /** The SQL face, end-to-end: temp views + the registered graft_*
    * kernels driven entirely through spark.sql — canonical-fingerprint
    * dedup counts written as the SQL a warehouse user would type.
    * Proves the SessionExtensions/function-registry surface is
    * first-class, not just the Column API. Same plan as the Column
    * form (the parser resolves to the same expressions). */
  def q246: Q = {
    val canon =
      "trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))"
    Q("q246_sql_face_dedup",
      Some(s"""
        |SELECT (${sqlCharFold(s"($canon)")}) AS fp,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY fp
        |""".stripMargin)) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""
        SELECT graft_polyhash(graft_canonical(text)) AS fp,
               count(*) AS n_docs,
               min(doc_id) AS keep_id
        FROM documents_v WHERE text IS NOT NULL
        GROUP BY 1 ORDER BY fp""")
    }
  }

  /** GROUPING SETS with grouping_id — the reporting shape between
    * plain GROUP BY and CUBE (q128): exactly the named aggregation
    * levels, nothing else, with the grouping id disambiguating "null
    * because rolled up" from "null in the data". Revenue in exact
    * cents at three levels: (returnflag), (linestatus), (). */
  def q247: Q = Q(
    "q247_grouping_sets",
    Some("""
      |SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
      |            AS BIGINT) AS gid,
      |       CAST(sum(CAST(l_extendedprice * 100 AS HUGEINT)) AS BIGINT)
      |         AS revenue_cents,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                  AS BIGINT) AS gid,
             CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0)))
                  AS BIGINT) AS revenue_cents,
             count(*) AS n_items
      FROM lineitem_v
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  }

  /** Schema-on-read JSON: the props column parsed as a MAP and
    * exploded to key rows — no schema declared anywhere, keys
    * discovered from the data (the semi-structured ingestion shape;
    * q39 pulls one known path, this enumerates). Exact integer value
    * sums per discovered key. */
  def q248: Q = Q(
    "q248_json_map_explode",
    Some("""
      |WITH kv AS (
      |  SELECT unnest(json_keys(props)) AS k, props FROM events
      |  WHERE props IS NOT NULL)
      |SELECT k, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(json_extract(props, '$.' || k) AS BIGINT))
      |            AS BIGINT) AS v_sum,
      |       CAST(min(CAST(json_extract(props, '$.' || k) AS BIGINT))
      |            AS BIGINT) AS v_min,
      |       CAST(max(CAST(json_extract(props, '$.' || k) AS BIGINT))
      |            AS BIGINT) AS v_max
      |FROM kv GROUP BY k ORDER BY k
      |""".stripMargin)) { (s, dir) =>
    Tables.events(s, dir)
      .where(col("props").isNotNull)
      .select(explode(expr("from_json(props, 'map<string,bigint>')"))
        .as(Seq("k", "v")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      .orderBy(col("k"))
  }

  /** Universal quantification (NOT EXISTS): customers ALL of whose
    * orders are urgent-or-high priority — the ∀ shape SQL can only
    * say as double negation, and the DataFrame API as semi-minus-anti
    * join (≥1 order, minus any-counterexample). Both anti/semi sides
    * are ids-only. */
  def q249: Q = Q(
    "q249_forall_antijoin",
    Some("""
      |SELECT c.c_custkey, c.c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority NOT IN
      |                        ('1-URGENT', '2-HIGH'))
      |ORDER BY c.c_custkey
      |""".stripMargin)) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val any = orders.select(col("o_custkey")).distinct()
    val counterexample = orders
      .where(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_custkey")).distinct()
    Tables.customer(s, dir)
      .join(any, col("c_custkey") === any("o_custkey"), "leftsemi")
      .join(counterexample,
        col("c_custkey") === counterexample("o_custkey"), "leftanti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Value-based RANGE window frame: trailing 7-day revenue per event
    * type where the frame is defined by the DAY VALUE, not row
    * count — days with no events genuinely age out of the frame
    * (a ROWS frame would silently include them). Exact decimal cents
    * inside the frame sum. */
  def q250: Q = Q(
    "q250_value_range_frame",
    Some("""
      |WITH d AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         sum(CAST(value AS DECIMAL(18,6))) AS rev
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, CAST(d AS BIGINT) AS d,
      |       CAST(CAST(sum(rev) OVER (PARTITION BY event_type ORDER BY d
      |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |            * 100 AS DECIMAL(18,0)) AS BIGINT) AS trailing7_cents
      |FROM d ORDER BY event_type, d
      |""".stripMargin)) { (s, dir) =>
    val d = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("rev"))
    d.select(col("event_type"), col("d"),
        (sum(col("rev")).over(
          Window.partitionBy(col("event_type")).orderBy(col("d"))
            .rangeBetween(-6, 0)) * 100)
          .cast("decimal(18,0)").cast("long").as("trailing7_cents"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Incremental cluster maintenance THROUGH STORAGE GENERATIONS —
    * q221's operator run as the production loop: gen1 publishes the
    * old corpus's labels via ManifestCommit, gen2 folds the new batch
    * in with incrementalClusters reading gen1 BACK FROM STORAGE, and
    * the query reads the stored result. The oracle is still the
    * all-pairs rebuild, so the hash match proves the whole
    * store → read → fold → store loop loses nothing (the q136/q137
    * stored-index discipline applied to dedup state). Build-once via
    * the content-fingerprinted path; later runs only read. */
  def q251: Q = Q(
    "q251_stored_cluster_labels",
    Some(s"""
      |WITH RECURSIVE
      |${PipelineQueries.sqlNearDupCcCtes}
      |SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    import graft.sources.{LocalFs, ManifestCommit}
    val docs = Tables.documents(s, dir)
    val path = CorpusQueries.storedIndexPath("clusters", dir, "documents")
    // build BOTH generations in a staging dir published once: a crash
    // between the gen1 and gen2 writes must not leave a half-built
    // (old-labels-only) dataset behind the existence check — readers
    // only ever see a complete build
    LocalFs.publishOnce(java.nio.file.Paths.get(path),
      p => ManifestCommit.latest(p.toString).nonEmpty) { stagePath =>
      val stage = stagePath.toString
      val oldDocs = docs.where(col("doc_id") % 5 =!= 0)
      val newDocs = docs.where(col("doc_id") % 5 === 0)
      val g1 = ManifestCommit.writeVersioned(
        Dedup.nearDupClusters(Dedup.nearDuplicatePairs(
          oldDocs, "doc_id", "text", threshold = 0.8)), stage)
      val stored = ManifestCommit.readAt(s, stage, g1)
      ManifestCommit.writeVersioned(
        Dedup.incrementalClusters(stored, newDocs, oldDocs,
          "doc_id", "text", threshold = 0.8), stage)
    }
    ManifestCommit.read(s, path).orderBy(col("doc_id"))
  }

  /** Event throttling / rate-limit dedup: keep the FIRST event per
    * (user, type, day), report kept vs dropped per type in exact
    * ppm — the ingestion-dedup policy ("one signup event per user per
    * day counts") that every event pipeline runs before aggregation.
    * One keyed window pass; the kept/dropped split is a flag
    * aggregate, not a second scan. */
  def q252: Q = Q(
    "q252_event_throttle",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us,
      |         event_id, epoch_ns(ts) // 86400000000000 AS d
      |  FROM events),
      |r AS (
      |  SELECT event_type,
      |         row_number() OVER (PARTITION BY user_id, event_type, d
      |           ORDER BY t_us, event_id) AS rn
      |  FROM e)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_kept,
      |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dropped,
      |       CAST((1000000 * sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END))
      |            // count(*) AS BIGINT) AS drop_ppm
      |FROM r GROUP BY event_type ORDER BY event_type
      |""".stripMargin)) { (s, dir) =>
    val r = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t_us"), col("event_id"),
        expr("ts div 86400000000000").as("d"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("event_type"), col("d"))
          .orderBy(col("t_us"), col("event_id"))))
    r.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("event_type"), col("n_events"), col("n_kept"),
        col("n_dropped"),
        expr("(1000000 * n_dropped) div n_events").as("drop_ppm"))
      .orderBy(col("event_type"))
  }

  /** SLO burn rate: the error-event share over trailing 6 h / 24 h /
    * 72 h windows (anchored at the stream's max ts), each compared to
    * the all-history baseline as an exact cross-multiplied ratio —
    * the SRE multi-window burn alert that distinguishes a spike from
    * a sustained regression. One scan; windows are flag aggregates
    * over the same pass, not three queries. */
  def q253: Q = {
    val windows = Seq(6L, 24L, 72L).map(_ * 3600L * 1000000000L)
    val winSql = windows.zip(Seq("6h", "24h", "72h"))
    Q("q253_slo_burn_rate",
      Some(s"""
        |WITH b AS (SELECT max(epoch_ns(ts)) AS mx FROM events),
        |e AS (
        |  SELECT epoch_ns(ts) AS t,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
        |  FROM events),
        |tot AS (SELECT count(*) AS n_all, sum(err) AS err_all FROM e),
        |w AS (
        |${winSql.map { case (ns, lbl) =>
             s"""  SELECT '$lbl' AS win, count(*) AS n, sum(err) AS errs
                |  FROM e CROSS JOIN b WHERE t > mx - $ns""".stripMargin
           }.mkString("\n  UNION ALL\n")}
        |)
        |SELECT w.win, CAST(n AS BIGINT) AS n_events,
        |       CAST(errs AS BIGINT) AS n_errors,
        |       CAST((1000000 * errs) // n AS BIGINT) AS rate_ppm,
        |       CAST(CASE WHEN err_all > 0 THEN
        |              (1000000 * errs * n_all) // (n * err_all)
        |            END AS BIGINT) AS burn_ppm
        |FROM w CROSS JOIN tot ORDER BY w.win
        |""".stripMargin)) { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("ts").as("t"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("err"))
      val b = e.agg(max(col("t")).as("mx"))
      val base = e.crossJoin(broadcast(b)).materialize()
      val rows = winSql.map { case (ns, lbl) =>
        base.where(col("t") > col("mx") - ns)
          .agg(count(lit(1)).as("n"), sum(col("err")).as("errs"))
          .select(lit(lbl).as("win"), col("n"), col("errs"))
      }.reduce(_ unionByName _)
      val tot = e.agg(count(lit(1)).as("n_all"),
        sum(col("err")).as("err_all"))
      rows.crossJoin(broadcast(tot))
        .select(col("win"), col("n").as("n_events"),
          col("errs").as("n_errors"),
          expr("(1000000 * errs) div n").as("rate_ppm"),
          when(col("err_all") > 0,
            expr("(1000000 * errs * n_all) div (n * err_all)"))
            .as("burn_ppm"))
        .orderBy(col("win"))
    }
  }

  /** The SUSTAINABLE dedup maintenance loop: shingle profiles are
    * computed once at ingest and PERSISTED as the dedup index, so
    * folding a batch in never re-tokenizes an old document —
    * gen1 stores the old corpus's profiles + labels, the batch fold
    * reads both back, appends the batch's profiles, and publishes the
    * merged labels. Still hash-exact against the all-pairs rebuild
    * oracle (q251 re-profiles the old corpus each build; this is the
    * version that scales). */
  def q254: Q = Q(
    "q254_profile_indexed_clusters",
    Some(s"""
      |WITH RECURSIVE
      |${PipelineQueries.sqlNearDupCcCtes}
      |SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    import graft.sources.{LocalFs, ManifestCommit}
    val docs = Tables.documents(s, dir)
    val path = CorpusQueries.storedIndexPath("profidx", dir, "documents")
    LocalFs.publishOnce(java.nio.file.Paths.get(path),
      p => ManifestCommit.latest(p.resolve("labels").toString).nonEmpty) { stagePath =>
      val stage = stagePath.toString
      val oldDocs = docs.where(col("doc_id") % 5 =!= 0)
      val newDocs = docs.where(col("doc_id") % 5 === 0)
      // ingest time: profiles persisted alongside the labels
      val oldProfG = ManifestCommit.writeVersioned(
        Dedup.shingleProfiles(oldDocs, "doc_id", "text"),
        stage + "/profiles")
      val oldProf = ManifestCommit.readAt(s, stage + "/profiles", oldProfG)
      val labG = ManifestCommit.writeVersioned(
        Dedup.nearDupClusters(Dedup.nearDuplicatePairsFromProfiles(
          oldProf.materialize())), stage + "/labels")
      // batch fold: stored labels + stored profiles, zero re-tokenize
      // of the old corpus; the batch's profiles append for next time
      val storedLabels = ManifestCommit.readAt(s, stage + "/labels", labG)
      val newProf = Dedup.shingleProfiles(newDocs, "doc_id", "text")
        .materialize()
      val star = storedLabels
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("doc_a"),
          col("cluster_id").as("doc_b"))
      val merged = Dedup.incrementalClustersFromProfiles(
        star, newProf,
        ManifestCommit.readAt(s, stage + "/profiles", oldProfG))
      ManifestCommit.writeVersioned(
        ManifestCommit.readAt(s, stage + "/profiles", oldProfG)
          .unionByName(newProf), stage + "/profiles")
      ManifestCommit.writeVersioned(merged, stage + "/labels")
    }
    ManifestCommit.read(s, path + "/labels").orderBy(col("doc_id"))
  }

  /** What does keep-one-per-cluster dedup COST in tokens? Per source:
    * docs and tokens dropped when every 0.8-Jaccard cluster keeps its
    * min-id member — the data-card line that turns "N clusters found"
    * into "X ‰ of your training tokens were copies". Labels from the
    * proven CC path; token counts ride the same scan. */
  def q255: Q = Q(
    "q255_dedup_token_impact",
    Some(s"""
      |WITH RECURSIVE
      |${PipelineQueries.sqlNearDupCcCtes},
      |tok AS (
      |  SELECT doc_id, source,
      |         CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok
      |  FROM documents),
      |fl AS (
      |  SELECT tok.doc_id, tok.source, tok.n_tok,
      |         CASE WHEN lbl.cluster_id IS NOT NULL
      |                   AND lbl.cluster_id <> tok.doc_id
      |              THEN 1 ELSE 0 END AS dropped
      |  FROM tok LEFT JOIN lbl ON lbl.doc_id = tok.doc_id)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(dropped) AS BIGINT) AS n_dropped,
      |       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
      |       CAST(sum(CASE WHEN dropped = 1 THEN n_tok ELSE 0 END)
      |            AS BIGINT) AS tokens_dropped,
      |       CAST((1000000 * sum(CASE WHEN dropped = 1 THEN n_tok
      |                                ELSE 0 END)) // sum(n_tok)
      |            AS BIGINT) AS token_drop_ppm
      |FROM fl GROUP BY source ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val docs = Tables.documents(s, dir)
    val labels = Dedup.nearDupClusters(Dedup.nearDuplicatePairs(
      docs, "doc_id", "text", threshold = 0.8))
    docs
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("source"), col("n_tok"),
        when(col("cluster_id").isNotNull &&
          col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L)
          .as("dropped"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dropped")).as("n_dropped"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("dropped") === 1, col("n_tok")).otherwise(0L))
          .as("tokens_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("tokens_total"), col("tokens_dropped"),
        expr("(1000000 * tokens_dropped) div tokens_total")
          .as("token_drop_ppm"))
      .orderBy(col("source"))
  }

  /** HLL accuracy-vs-size curve: the SAME distinct-token count
    * estimated at m ∈ {16, 64, 256} registers, next to the exact
    * count and the signed error — the table you consult when sizing
    * sketches for a 100 TB profile (the ~1.04/√m error bound made
    * empirical). Each estimator is the proven q143 chain at its m;
    * the exact count is one distinct aggregate shared by all rows. */
  def q256: Q = {
    val ms = Seq(16, 64, 256)
    def chain(m: Int): String = {
      val cap = graft.operators.HyperLogLog.RhoCap
      val rhoCase = (1 until cap)
        .map(k => s"WHEN w % ${1L << k} = ${1L << (k - 1)} THEN $k")
        .mkString(" ")
      val termCase = (0 to cap)
        .map(r =>
          s"WHEN r = $r THEN CAST(${graft.operators.HyperLogLog.termLiteral(r)}"
            + " AS DECIMAL(14,12))")
        .mkString(" ")
      val aM2 = graft.operators.HyperLogLog.alphaM2(m)
      s"""w$m AS (SELECT hv % $m AS bucket, hv // $m AS w FROM h),
         |reg$m AS (
         |  SELECT bucket, max(CASE $rhoCase ELSE $cap END) AS r
         |  FROM w$m GROUP BY bucket),
         |agg$m AS (
         |  SELECT count(*) AS occ,
         |         sum(CASE $termCase END) AS occ_terms
         |  FROM reg$m),
         |est$m AS (
         |  SELECT CAST($m AS BIGINT) AS m,
         |         CASE WHEN $aM2 / CAST(CAST($m - occ AS DECIMAL(38,12))
         |                + CAST(occ_terms AS DECIMAL(38,12)) AS DOUBLE)
         |                   <= CAST($m AS DOUBLE) * 2.5 AND $m - occ > 0
         |              THEN CAST(CAST(-$m AS DECIMAL(10,0)) *
         |                     CAST(ln(CAST($m - occ AS DOUBLE)
         |                        / CAST($m AS DOUBLE)) AS DECIMAL(18,9))
         |                   AS DOUBLE)
         |              ELSE $aM2 / CAST(CAST($m - occ AS DECIMAL(38,12))
         |                + CAST(occ_terms AS DECIMAL(38,12)) AS DOUBLE)
         |         END AS est
         |  FROM agg$m)""".stripMargin
    }
    Q("q256_hll_error_curve",
      Some(s"""
        |WITH tok AS (
        |  SELECT unnest(${sqlTokens("text")}) AS token FROM documents
        |  WHERE text IS NOT NULL),
        |h AS (
        |  SELECT DISTINCT (${sqlSaltedHash("token", "hll")}) AS hv
        |  FROM tok WHERE token IS NOT NULL),
        |ex AS (SELECT count(DISTINCT token) AS exact FROM tok),
        |${ms.map(chain).mkString(",\n")}
        |SELECT u.m, u.est, CAST(ex.exact AS BIGINT) AS exact,
        |       u.est - CAST(ex.exact AS DOUBLE) AS err
        |FROM (${ms.map(m => s"SELECT m, est FROM est$m")
                  .mkString(" UNION ALL ")}) u
        |CROSS JOIN ex ORDER BY u.m
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.HyperLogLog
      val toks = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .materialize() // feeds three sketches + the exact count
      val exact = toks.agg(countDistinct(col("token")).as("exact"))
      val rows = ms.map { m =>
        HyperLogLog.distinctEstimate(
            toks.withColumn("__g", lit(1)), Seq("__g"), "token",
            m = m, salt = "hll")
          .select(lit(m.toLong).as("m"), col("est"))
      }.reduce(_ unionByName _)
      rows.crossJoin(broadcast(exact))
        .select(col("m"), col("est"), col("exact"),
          (col("est") - col("exact").cast("double")).as("err"))
        .orderBy(col("m"))
    }
  }

  /** Association strength between lang and source as Cramér's V²
    * (φ²/min(r−1, c−1)): are sources language-siloed or mixed? The
    * independence χ² uses the cross-multiplied integer identity
    * (o·n − rs·cs)²/(n·rs·cs) per cell — every input to the one
    * double division is an exact integer, and per-cell terms are
    * quantized to DECIMAL(18,9) before the order-free decimal sum
    * (the PSI discipline for sums of per-item doubles). */
  def q257: Q = Q(
    "q257_cramers_v",
    Some("""
      |WITH o AS (
      |  SELECT lang, source, count(*) AS o FROM documents
      |  GROUP BY 1, 2),
      |rs AS (SELECT lang, sum(o) AS r FROM o GROUP BY 1),
      |cs AS (SELECT source, sum(o) AS c FROM o GROUP BY 1),
      |n AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nr,
      |             count(DISTINCT source) AS nc
      |      FROM o),
      |cells AS (
      |  SELECT rs.lang, cs.source,
      |         coalesce(o.o, 0) AS o, rs.r, cs.c
      |  FROM rs CROSS JOIN cs
      |  LEFT JOIN o ON o.lang = rs.lang AND o.source = cs.source),
      |terms AS (
      |  SELECT CAST(
      |    CAST((o * n.n - r * c) AS DOUBLE)
      |      * CAST((o * n.n - r * c) AS DOUBLE)
      |      / (CAST(n.n AS DOUBLE) * CAST(r AS DOUBLE)
      |         * CAST(c AS DOUBLE)) AS DECIMAL(18,9)) AS term
      |  FROM cells CROSS JOIN n),
      |chi AS (SELECT CAST(sum(term) AS DOUBLE) AS chi2 FROM terms)
      |SELECT CAST(n.n AS BIGINT) AS n, chi.chi2,
      |       chi.chi2 / (CAST(n.n AS DOUBLE)
      |         * CAST(least(n.nr - 1, n.nc - 1) AS DOUBLE)) AS v2
      |FROM chi CROSS JOIN n
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .materialize() // dim feeds marginals, totals, and the cells
    val rs = o.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cs = o.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val n = o.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nr"),
      countDistinct(col("source")).as("nc"))
    val cells = broadcast(rs).crossJoin(broadcast(cs))
      .join(o, Seq("lang", "source"), "left")
      .select(col("r"), col("c"), coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(broadcast(n))
    val chi = cells
      .select(((col("o") * col("n") - col("r") * col("c")).cast("double")
        * (col("o") * col("n") - col("r") * col("c")).cast("double")
        / (col("n").cast("double") * col("r").cast("double")
          * col("c").cast("double"))).cast("decimal(18,9)").as("term"))
      .agg(sum(col("term")).cast("double").as("chi2"))
    chi.crossJoin(broadcast(n))
      .select(col("n"), col("chi2"),
        (col("chi2") / (col("n").cast("double") *
          least(col("nr") - 1, col("nc") - 1).cast("double"))).as("v2"))
  }

  /** Embedding data-quality audit per label: vector count, dimension
    * conformity (every vector 64-wide), all-zero vectors, saturated
    * max components, and the label's mean squared norm — the checks
    * that catch a broken encoder BEFORE an ANN index is built over
    * its output. Per-vector norm² doubles are quantized to
    * DECIMAL(18,9) before the order-free sum (PSI discipline); the
    * one mean divide is pinned IEEE. */
  def q258: Q = Q(
    "q258_embedding_audit",
    Some("""
      |WITH v AS (
      |  SELECT label, len(embedding) AS dims,
      |         CAST(len(list_filter(embedding, x -> x = 0)) AS BIGINT)
      |           AS n_zero_comp,
      |         CAST(list_reduce(list_prepend(0.0,
      |           list_transform(embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |           (a, b) -> a + b) AS DECIMAL(18,9)) AS norm2
      |  FROM embeddings),
      |a AS (
      |  SELECT label, count(*) AS n_vecs,
      |         sum(CASE WHEN dims <> 64 THEN 1 ELSE 0 END) AS n_bad_dim,
      |         sum(CASE WHEN n_zero_comp = dims THEN 1 ELSE 0 END)
      |           AS n_zero_vecs,
      |         CAST(sum(norm2) AS DOUBLE) AS norm2_sum
      |  FROM v GROUP BY label)
      |SELECT CAST(label AS BIGINT) AS label,
      |       CAST(n_vecs AS BIGINT) AS n_vecs,
      |       CAST(n_bad_dim AS BIGINT) AS n_bad_dim,
      |       CAST(n_zero_vecs AS BIGINT) AS n_zero_vecs,
      |       norm2_sum / CAST(n_vecs AS DOUBLE) AS mean_norm2
      |FROM a ORDER BY label
      |""".stripMargin)) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"), size(col("embedding")).as("dims"),
        expr("size(filter(embedding, x -> x = 0F))").cast("long")
          .as("n_zero_comp"),
        expr("""aggregate(transform(embedding,
          |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |  0.0D, (a, b) -> a + b)""".stripMargin)
          .cast("decimal(18,9)").as("norm2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dims") =!= 64, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("n_zero_comp") === col("dims"), 1L).otherwise(0L))
          .as("n_zero_vecs"),
        sum(col("norm2")).cast("double").as("__n2"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("n_bad_dim"), col("n_zero_vecs"),
        (col("__n2") / col("n_vecs").cast("double")).as("mean_norm2"))
      .orderBy(col("label"))
  }

  /** Growth accounting — the MAU state machine per day: NEW (first
    * day ever), RETAINED (previous active day within 7), RESURRECTED
    * (gap > 7), and CHURNED (counted on the day a user's 7-day
    * window expires with no return). The canonical product-growth
    * table; every count an integer from one user-keyed lag/lead
    * pass. */
  def q259: Q = Q(
    "q259_growth_accounting",
    Some("""
      |WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
      |  FROM events),
      |mx AS (SELECT max(d) AS max_d FROM d),
      |l AS (
      |  SELECT user_id, d,
      |         lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev,
      |         lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nxt
      |  FROM d),
      |states AS (
      |  SELECT d,
      |         CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_new,
      |         CASE WHEN prev IS NOT NULL AND d - prev <= 7
      |              THEN 1 ELSE 0 END AS is_retained,
      |         CASE WHEN prev IS NOT NULL AND d - prev > 7
      |              THEN 1 ELSE 0 END AS is_resurrected
      |  FROM l),
      |act AS (
      |  SELECT d, sum(is_new) AS n_new, sum(is_retained) AS n_retained,
      |         sum(is_resurrected) AS n_resurrected
      |  FROM states GROUP BY d),
      |churn AS (
      |  SELECT l.d + 8 AS d, count(*) AS n_churned
      |  FROM l CROSS JOIN mx
      |  WHERE (l.nxt IS NULL OR l.nxt - l.d > 7) AND l.d + 8 <= mx.max_d
      |  GROUP BY l.d + 8)
      |SELECT CAST(coalesce(a.d, c.d) AS BIGINT) AS d,
      |       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
      |       CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
      |       CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
      |       CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
      |FROM act a FULL JOIN churn c ON c.d = a.d
      |ORDER BY d
      |""".stripMargin)) { (s, dir) =>
    val wo = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val l = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      .distinct()
      .withColumn("prev", lag(col("d"), 1).over(wo))
      .withColumn("nxt", lead(col("d"), 1).over(wo))
      .materialize() // one lag/lead pass feeds activity and churn
    val mx = l.agg(max(col("d")).as("max_d"))
    val act = l.groupBy(col("d"))
      .agg(
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev").isNotNull && col("d") - col("prev") <= 7,
          1L).otherwise(0L)).as("n_retained"),
        sum(when(col("prev").isNotNull && col("d") - col("prev") > 7,
          1L).otherwise(0L)).as("n_resurrected"))
    val churn = l.crossJoin(broadcast(mx))
      .where((col("nxt").isNull || col("nxt") - col("d") > 7) &&
        col("d") + 8 <= col("max_d"))
      .groupBy((col("d") + 8).as("d"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("d"), "full")
      .select(col("d"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("d"))
  }

  /** Seasonal-naive anomaly detection: each day's count minus the
    * same weekly phase LAST week (a value join on d−7, not a row
    * lag — missing days must not shift the comparison), flagged when
    * the residual deviates from the type's median residual by more
    * than 3 exact MADs (Anomaly.madFlags). The monitoring rule that
    * survives weekly seasonality where a plain threshold pages every
    * Saturday. */
  def q260: Q = Q(
    "q260_seasonal_residual_anomalies",
    Some("""
      |WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT a.event_type, a.d, a.x, a.x - b.x AS resid
      |  FROM c a JOIN c b
      |    ON b.event_type = a.event_type AND b.d = a.d - 7),
      |med AS (
      |  SELECT event_type, resid AS median FROM (
      |    SELECT event_type, resid,
      |           row_number() OVER (PARTITION BY event_type
      |                              ORDER BY resid) AS rn,
      |           count(*) OVER (PARTITION BY event_type) AS n
      |    FROM r)
      |  WHERE rn = (500 * n + 999) // 1000),
      |dev AS (
      |  SELECT r.*, med.median, abs(r.resid - med.median) AS abs_dev
      |  FROM r JOIN med ON med.event_type = r.event_type),
      |mad AS (
      |  SELECT event_type, abs_dev AS mad FROM (
      |    SELECT event_type, abs_dev,
      |           row_number() OVER (PARTITION BY event_type
      |                              ORDER BY abs_dev) AS rn,
      |           count(*) OVER (PARTITION BY event_type) AS n
      |    FROM dev)
      |  WHERE rn = (500 * n + 999) // 1000)
      |SELECT dev.event_type, CAST(dev.d AS BIGINT) AS d,
      |       CAST(dev.x AS BIGINT) AS x,
      |       CAST(dev.resid AS BIGINT) AS resid,
      |       CAST(CASE WHEN dev.abs_dev > 3 * mad.mad THEN 1 ELSE 0 END
      |            AS BIGINT) AS is_outlier
      |FROM dev JOIN mad ON mad.event_type = dev.event_type
      |ORDER BY dev.event_type, dev.d
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Anomaly
    val c = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .materialize() // both sides of the seasonal value join
    val r = c.as("a")
      .join(c.select(col("event_type").as("__bt"), col("d").as("__bd"),
        col("x").as("__bx")),
        col("event_type") === col("__bt") &&
          col("__bd") === col("d") - 7)
      .select(col("event_type"), col("d"), col("x"),
        (col("x") - col("__bx")).as("resid"))
    Anomaly.madFlags(r, Seq("event_type"), "resid", k = 3)
      .select(col("event_type"), col("d"), col("x"), col("resid"),
        when(col("is_outlier"), 1L).otherwise(0L).as("is_outlier"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Funnel window-sensitivity sweep: view→click→purchase completion
    * counts at max-gap 1 h / 6 h / 24 h — how much "conversion" is
    * definitional. Same chained-window funnel per gap (the operator's
    * windowed form), stage counts as flag sums; 3 funnels over one
    * cached event projection. */
  def q261: Q = {
    val gaps = Seq(1L, 6L, 24L).map(h => h -> h * 3600L * 1000000000L)
    def sqlGap(h: Long, ns: Long) =
      s"""SELECT $h AS gap_hours,
         |       sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS s1,
         |       sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS s2,
         |       sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS s3
         |FROM (
         |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
         |  FROM (
         |    SELECT *, min(CASE WHEN event_type = 'purchase'
         |                        AND t2 IS NOT NULL AND ns >= t2
         |                        AND ns <= t2 + $ns THEN ns END)
         |      OVER (PARTITION BY user_id) AS t3
         |    FROM (
         |      SELECT *, min(CASE WHEN event_type = 'click'
         |                          AND t1 IS NOT NULL AND ns >= t1
         |                          AND ns <= t1 + $ns THEN ns END)
         |        OVER (PARTITION BY user_id) AS t2
         |      FROM (
         |        SELECT *, min(CASE WHEN event_type = 'view' THEN ns END)
         |          OVER (PARTITION BY user_id) AS t1
         |        FROM (SELECT user_id, event_type, epoch_ns(ts) AS ns
         |              FROM events))))
         |  GROUP BY user_id)""".stripMargin
    Q("q261_funnel_gap_sweep",
      Some(s"""
        |SELECT gap_hours, CAST(s1 AS BIGINT) AS s1,
        |       CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3
        |FROM (${gaps.map { case (h, ns) => s"(${sqlGap(h, ns)})" }
                  .mkString("\n UNION ALL ")})
        |ORDER BY gap_hours
        |""".stripMargin)) { (s, dir) =>
      import graft.operators.Funnel
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .materialize() // three funnels share one projection
      gaps.map { case (h, ns) =>
        Funnel.funnel(ev, "user_id", "event_type", "ts",
            Seq("view", "click", "purchase"), maxGap = Some(ns))
          .agg(
            sum(when(col("t_1").isNotNull, 1L).otherwise(0L)).as("s1"),
            sum(when(col("t_2").isNotNull, 1L).otherwise(0L)).as("s2"),
            sum(when(col("t_3").isNotNull, 1L).otherwise(0L)).as("s3"))
          .select(lit(h).as("gap_hours"), col("s1"), col("s2"),
            col("s3"))
      }.reduce(_ unionByName _).orderBy(col("gap_hours"))
    }
  }

  /** Revenue waterfall between the two halves of the event calendar:
    * ΔRevenue decomposed into a VOLUME effect ((v₂−v₁) at the old
    * per-event value) and a PRICE effect (the remainder) per event
    * type — the FP&A bridge chart, in exact integer cents (the one
    * rational, old-average×Δvolume, is a single documented integer
    * division; the two effects then sum to Δ exactly by
    * construction). */
  def q262: Q = Q(
    "q262_revenue_waterfall",
    Some("""
      |WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         CAST(CAST(value AS DECIMAL(18,6)) * 100 AS DECIMAL(18,2))
      |           AS cents
      |  FROM events),
      |b AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM e),
      |h AS (
      |  SELECT event_type,
      |         CASE WHEN d < mid THEN 1 ELSE 2 END AS half,
      |         count(*) AS v,
      |         CAST(sum(cents) AS BIGINT) AS rev
      |  FROM e CROSS JOIN b GROUP BY 1, 2),
      |w AS (
      |  SELECT h1.event_type, h1.v AS v1, h2.v AS v2,
      |         h1.rev AS rev1, h2.rev AS rev2
      |  FROM h h1 JOIN h h2 ON h2.event_type = h1.event_type
      |  WHERE h1.half = 1 AND h2.half = 2)
      |SELECT event_type, CAST(v1 AS BIGINT) AS v1,
      |       CAST(v2 AS BIGINT) AS v2,
      |       rev1 AS rev1_cents, rev2 AS rev2_cents,
      |       CAST((v2 - v1) * rev1 // v1 AS BIGINT)
      |         AS volume_effect_cents,
      |       CAST(rev2 - rev1 - ((v2 - v1) * rev1 // v1) AS BIGINT)
      |         AS price_effect_cents
      |FROM w ORDER BY event_type
      |""".stripMargin)) { (s, dir) =>
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("d"),
        (col("value").cast("decimal(18,6)") * 100)
          .cast("decimal(18,2)").as("cents"))
    val b = e.agg(expr("(min(d) + max(d) + 1) div 2").as("mid"))
    val h = e.crossJoin(broadcast(b))
      .groupBy(col("event_type"),
        when(col("d") < col("mid"), 1).otherwise(2).as("half"))
      .agg(count(lit(1)).as("v"), sum(col("cents")).cast("long")
        .as("rev"))
    val h1 = h.where(col("half") === 1)
      .select(col("event_type"), col("v").as("v1"),
        col("rev").as("rev1"))
    val h2 = h.where(col("half") === 2)
      .select(col("event_type"), col("v").as("v2"),
        col("rev").as("rev2"))
    h1.join(h2, "event_type")
      .select(col("event_type"), col("v1"), col("v2"),
        col("rev1").as("rev1_cents"), col("rev2").as("rev2_cents"),
        expr("(v2 - v1) * rev1 div v1").as("volume_effect_cents"),
        expr("rev2 - rev1 - ((v2 - v1) * rev1 div v1)")
          .as("price_effect_cents"))
      .orderBy(col("event_type"))
  }

  /** Discount elasticity by return flag: the exact grouped OLS
    * (Stats.linearFit — decimal moment sums, pinned-IEEE derived
    * stats) of quantity on discount percent, on the TPC-H-ish fact
    * table — does discounting move volume, and does the effect differ
    * for returned goods? */
  def q263: Q = Q(
    "q263_discount_elasticity",
    Some("""
      |WITH b AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(l_discount * 100 AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx,
      |         CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM b GROUP BY flag),
      |d AS (
      |  SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) AS num_d,
      |         CAST(n * sxx - sx * sx AS DOUBLE) AS dx_d,
      |         CAST(n * syy - sy * sy AS DOUBLE) AS dy_d
      |  FROM s)
      |SELECT flag, n,
      |       CASE WHEN dx_d > 0 AND dy_d > 0
      |            THEN num_d / (sqrt(dx_d) * sqrt(dy_d)) END AS corr,
      |       CASE WHEN dx_d > 0 THEN num_d / dx_d END AS slope,
      |       CASE WHEN dx_d > 0 THEN
      |         (CAST(sy AS DOUBLE) - (num_d / dx_d) * CAST(sx AS DOUBLE))
      |           / CAST(n AS DOUBLE) END AS intercept
      |FROM d ORDER BY flag
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.Stats
    Stats.linearFit(
        Tables.lineitem(s, dir).withColumnRenamed("l_returnflag", "flag"),
        Seq("flag"), col("l_discount") * 100, col("l_quantity"))
      .select(col("flag"), col("n"), col("corr"), col("slope"),
        col("intercept"))
      .orderBy(col("flag"))
  }

  /** Market-concentration trend: the daily Herfindahl–Hirschman index
    * of event-type share, exact — hhi_ppm = 10⁶·Σc²  div n² (the sum
    * BEFORE the one division, so no per-share rounding accumulates).
    * Rising HHI = activity collapsing into one event type; the
    * monitoring scalar for mix shift. */
  def q264: Q = Q(
    "q264_hhi_trend",
    Some("""
      |WITH c AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS d, event_type,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT d, sum(x * x) AS ssq, sum(x) AS n FROM c GROUP BY d)
      |SELECT CAST(d AS BIGINT) AS d, CAST(n AS BIGINT) AS n_events,
      |       CAST((1000000 * ssq) // (n * n) AS BIGINT) AS hhi_ppm
      |FROM a ORDER BY d
      |""".stripMargin)) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(expr("ts div 86400000000000").as("d"), col("event_type"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("d"))
      .agg(sum(col("x") * col("x")).as("ssq"), sum(col("x")).as("n"))
      .select(col("d"), col("n").as("n_events"),
        expr("(1000000 * ssq) div (n * n)").as("hhi_ppm"))
      .orderBy(col("d"))
  }

  /** Dedup-graph chaining audit: of all wedges a–b–c in the
    * 0.8-Jaccard pair graph, how many CLOSE (a–c also a pair) vs stay
    * OPEN? A high open share means transitive keep-one dedup is
    * merging documents that are NOT mutual near-dups (mirror-of-
    * mirror chains) — the evidence for tightening the threshold
    * before a destructive pass. Wedge join + anti-join on the (small,
    * verified) pair set; single-row output. */
  def q265: Q = Q(
    "q265_dedup_chaining_audit",
    Some(s"""
      |WITH t2 AS (SELECT doc_id,
      |              list_distinct(${sqlShingles(sqlTokens("text"))}) AS sh
      |            FROM documents),
      |pr AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM t2 a JOIN t2 b ON a.doc_id < b.doc_id
      |  WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
      |w AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v AND e2.v <> e1.u
      |  WHERE e1.u < e2.v),
      |cl AS (
      |  SELECT w.a, w.c,
      |         CASE WHEN pr2.u IS NOT NULL THEN 1 ELSE 0 END AS closed
      |  FROM w LEFT JOIN pr pr2 ON pr2.u = w.a AND pr2.v = w.c)
      |SELECT CAST((SELECT count(*) FROM pr) AS BIGINT) AS n_edges,
      |       CAST(sum(closed) AS BIGINT) AS n_closed_wedges,
      |       CAST(sum(1 - closed) AS BIGINT) AS n_open_wedges,
      |       CAST(CASE WHEN count(*) > 0 THEN
      |              (1000000 * sum(1 - closed)) // count(*)
      |            END AS BIGINT) AS open_ppm
      |FROM cl
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val pr = Dedup.nearDuplicatePairs(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.8)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .materialize() // edge dim feeds wedges + closure + count
    val e = pr.unionByName(pr.select(col("v").as("u"), col("u").as("v")))
    val w = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), "b")
      .where(col("c") =!= col("a") && col("a") < col("c"))
    val cl = w.join(pr.select(col("u").as("a"), col("v").as("c"),
        lit(1L).as("__closed")), Seq("a", "c"), "left")
      .select(coalesce(col("__closed"), lit(0L)).as("closed"))
    val nEdges = pr.agg(count(lit(1)).as("n_edges"))
    cl.agg(sum(col("closed")).as("n_closed_wedges"),
        sum(lit(1L) - col("closed")).as("n_open_wedges"),
        count(lit(1)).as("__nw"))
      .crossJoin(broadcast(nEdges))
      .select(col("n_edges"), col("n_closed_wedges"),
        col("n_open_wedges"),
        when(col("__nw") > 0,
          expr("(1000000 * n_open_wedges) div __nw")).as("open_ppm"))
  }

  /** Open-order backlog by priority: orders still carrying an 'O'
    * line item, with open line counts and open value in exact cents —
    * the operational WIP report. Line-level flags aggregate to the
    * order, then to the priority dim; the orders join attaches
    * priority AFTER the lineitem rollup. */
  def q266: Q = Q(
    "q266_open_backlog",
    Some("""
      |WITH l AS (
      |  SELECT l_orderkey AS ok,
      |         sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
      |           AS open_lines,
      |         CAST(sum(CASE WHEN l_linestatus = 'O' THEN
      |             CAST(l_extendedprice * 100 AS HUGEINT) ELSE 0 END)
      |           AS BIGINT) AS open_cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderpriority AS priority, l.open_lines,
      |         l.open_cents
      |  FROM l JOIN orders o ON o.o_orderkey = l.ok
      |  WHERE l.open_lines > 0)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n_open_orders,
      |       CAST(sum(open_lines) AS BIGINT) AS n_open_lines,
      |       CAST(sum(open_cents) AS BIGINT) AS open_value_cents
      |FROM j GROUP BY priority ORDER BY priority
      |""".stripMargin)) { (s, dir) =>
    val l = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(
        sum(when(col("l_linestatus") === "O", 1L).otherwise(0L))
          .as("open_lines"),
        sum(when(col("l_linestatus") === "O",
          (col("l_extendedprice") * 100).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("long").as("open_cents"))
      .where(col("open_lines") > 0)
    l.join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("ok"),
          col("o_orderpriority").as("priority")), "ok")
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_open_orders"),
        sum(col("open_lines")).as("n_open_lines"),
        sum(col("open_cents")).as("open_value_cents"))
      .orderBy(col("priority"))
  }

  /** Spend-decile migration matrix: each purchasing user's value
    * decile in the first calendar half vs the second — the rank-
    * migration table behind "are whales stable". Deciles are integer
    * rank math (((rn−1)·10) div n, ties by user for a total order);
    * only users present in BOTH halves move through the matrix
    * (stated contract). */
  def q267: Q = Q(
    "q267_decile_migration",
    Some("""
      |WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d,
      |         CAST(CAST(value AS DECIMAL(18,6)) * 100 AS DECIMAL(18,2))
      |           AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM e),
      |h AS (
      |  SELECT user_id, CASE WHEN d < mid THEN 1 ELSE 2 END AS half,
      |         CAST(sum(cents) AS BIGINT) AS cents
      |  FROM e CROSS JOIN b GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, half,
      |         ((row_number() OVER (PARTITION BY half
      |             ORDER BY cents, user_id) - 1) * 10)
      |           // count(*) OVER (PARTITION BY half) AS decile
      |  FROM h)
      |SELECT r1.decile AS decile_h1, r2.decile AS decile_h2,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM r r1 JOIN r r2 ON r2.user_id = r1.user_id
      |WHERE r1.half = 1 AND r2.half = 2
      |GROUP BY 1, 2 ORDER BY decile_h1, decile_h2
      |""".stripMargin)) { (s, dir) =>
    val e = Tables.events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 86400000000000").as("d"),
        (col("value").cast("decimal(18,6)") * 100)
          .cast("decimal(18,2)").as("cents"))
    val b = e.agg(expr("(min(d) + max(d) + 1) div 2").as("mid"))
    val h = e.crossJoin(broadcast(b))
      .groupBy(col("user_id"),
        when(col("d") < col("mid"), 1).otherwise(2).as("half"))
      .agg(sum(col("cents")).cast("long").as("cents"))
    // the user dim grows with the business and two `half` partitions
    // would each carry the whole population through one task — the
    // per-half rank is bucket-parallel (globalRankCum partitioned by
    // half over $10k spend bands) and n comes from a broadcast
    // two-row agg, not a count window
    val hm = h.materialize() // feeds per-half n AND the rank pass
    val ns = hm.groupBy(col("half")).agg(count(lit(1)).as("n"))
    val r = graft.dedup.SortedNeighborhood.globalRankCum(
        hm.withColumn("__bkt", expr("cents div 1000000")),
        idCol = "user_id", bucketCol = "__bkt", tieCols = Seq("cents"),
        partCols = Seq("half"))
      .withColumnRenamed("__rank", "rn")
      .join(broadcast(ns), "half")
      .select(col("user_id"), col("half"),
        expr("((rn - 1) * 10) div n").as("decile"))
    r.where(col("half") === 1)
      .select(col("user_id"), col("decile").as("decile_h1"))
      .join(r.where(col("half") === 2)
        .select(col("user_id"), col("decile").as("decile_h2")),
        "user_id")
      .groupBy(col("decile_h1"), col("decile_h2"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("decile_h1"), col("decile_h2"))
  }

  /** Association drill-down for q257: the top-10 lang×source cells by
    * χ² contribution, each quantized to milli (q182's floor-decimal
    * discipline) — locating WHICH slices drive the dependence, with
    * the observed-vs-expected direction sign. */
  def q268: Q = Q(
    "q268_association_cells",
    Some("""
      |WITH o AS (
      |  SELECT lang, source, count(*) AS o FROM documents
      |  GROUP BY 1, 2),
      |rs AS (SELECT lang, sum(o) AS r FROM o GROUP BY 1),
      |cs AS (SELECT source, sum(o) AS c FROM o GROUP BY 1),
      |n AS (SELECT sum(o) AS n FROM o),
      |cells AS (
      |  SELECT rs.lang, cs.source, coalesce(o.o, 0) AS o, rs.r, cs.c
      |  FROM rs CROSS JOIN cs
      |  LEFT JOIN o ON o.lang = rs.lang AND o.source = cs.source),
      |t AS (
      |  SELECT lang, source, o,
      |         CAST(floor(CAST(
      |           CAST((o * n.n - r * c) AS DOUBLE)
      |             * CAST((o * n.n - r * c) AS DOUBLE)
      |             / (CAST(n.n AS DOUBLE) * CAST(r AS DOUBLE)
      |                * CAST(c AS DOUBLE)) AS DECIMAL(18,9)) * 1000)
      |           AS BIGINT) AS contrib_milli,
      |         CAST(CASE WHEN o * n.n > r * c THEN 1
      |                   WHEN o * n.n < r * c THEN -1 ELSE 0 END
      |              AS BIGINT) AS direction
      |  FROM cells CROSS JOIN n)
      |SELECT lang, source, CAST(o AS BIGINT) AS o, contrib_milli,
      |       direction
      |FROM t ORDER BY contrib_milli DESC, lang, source LIMIT 10
      |""".stripMargin)) { (s, dir) =>
    val o = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .materialize()
    val rs = o.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cs = o.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val n = o.agg(sum(col("o")).as("n"))
    broadcast(rs).crossJoin(broadcast(cs))
      .join(o, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("r"), col("c"),
        coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(broadcast(n))
      .select(col("lang"), col("source"), col("o"),
        floor(((col("o") * col("n") - col("r") * col("c")).cast("double")
          * (col("o") * col("n") - col("r") * col("c")).cast("double")
          / (col("n").cast("double") * col("r").cast("double")
            * col("c").cast("double"))).cast("decimal(18,9)") * 1000)
          .cast("long").as("contrib_milli"),
        when(col("o") * col("n") > col("r") * col("c"), 1L)
          .when(col("o") * col("n") < col("r") * col("c"), -1L)
          .otherwise(0L).as("direction"))
      .orderBy(col("contrib_milli").desc, col("lang"), col("source"))
      .limit(10)
  }

  /** Retention half-life: day-k retention rates (k = 1…14, right-
    * censoring respected — the denominator only counts users whose
    * first day leaves room for day k), log-linear fitted with the
    * exact OLS moment discipline over quantized-ln micro-nats; the
    * one derived scalar is t½ = −ln 2 / slope in pinned IEEE. The
    * "how fast does this product forget its users" number. */
  def q269: Q = Q(
    "q269_retention_halflife",
    Some("""
      |WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
      |  FROM events),
      |f AS (SELECT user_id, min(d) AS f FROM d GROUP BY 1),
      |mx AS (SELECT max(d) AS max_d FROM d),
      |ks AS (SELECT unnest(range(1, 15)) AS k),
      |den AS (
      |  SELECT k, count(*) AS n_cohort
      |  FROM f CROSS JOIN mx CROSS JOIN ks WHERE f + k <= max_d
      |  GROUP BY k),
      |num AS (
      |  SELECT d.d - f.f AS k, count(DISTINCT d.user_id) AS n_active
      |  FROM d JOIN f ON f.user_id = d.user_id
      |  WHERE d.d > f.f AND d.d - f.f <= 14
      |  GROUP BY 1),
      |r AS (
      |  SELECT den.k, (1000000 * coalesce(num.n_active, 0))
      |           // den.n_cohort AS rate_ppm
      |  FROM den LEFT JOIN num ON num.k = den.k
      |  WHERE den.n_cohort > 0),
      |p AS (
      |  SELECT CAST(k AS BIGINT) AS x,
      |         CAST(floor(CAST(ln(CAST(rate_ppm AS DOUBLE))
      |           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS y
      |  FROM r WHERE rate_ppm > 0),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM p),
      |fit AS (
      |  SELECT n, CAST(n * sxy - sx * sy AS DOUBLE)
      |              / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_micro
      |  FROM s WHERE n * sxx - sx * sx > 0)
      |SELECT n AS n_points, slope_micro,
      |       CASE WHEN slope_micro < 0
      |            THEN -ln(2) * 1000000.0 / slope_micro END
      |         AS halflife_days
      |FROM fit
      |""".stripMargin)) { (s, dir) =>
    val d = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      .distinct()
      .materialize() // feeds first-day dim, numerators, and max
    val f = d.groupBy(col("user_id")).agg(min(col("d")).as("f"))
    val mx = d.agg(max(col("d")).as("max_d"))
    val ks = s.range(1, 15).select(col("id").as("k"))
    val den = broadcast(f).crossJoin(broadcast(mx))
      .crossJoin(broadcast(ks))
      .where(col("f") + col("k") <= col("max_d"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_cohort"))
    val num = d.join(f, "user_id")
      .where(col("d") > col("f") && col("d") - col("f") <= 14)
      .groupBy((col("d") - col("f")).as("k"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val p = den.join(num, Seq("k"), "left")
      .where(col("n_cohort") > 0)
      .select(col("k").as("x"),
        expr("(1000000 * coalesce(n_active, 0)) div n_cohort")
          .as("rate_ppm"))
      .where(col("rate_ppm") > 0)
      .select(col("x"),
        floor(log(col("rate_ppm").cast("double")).cast("decimal(18,9)")
          * 1000000).cast("long").as("y"))
    val st = p.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    st.where(col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .select(col("n").as("n_points"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("slope_micro"))
      .select(col("n_points"), col("slope_micro"),
        when(col("slope_micro") < 0,
          lit(-math.log(2.0) * 1000000.0) / col("slope_micro"))
          .as("halflife_days"))
  }

  /** Order↔lineitem reconciliation: does the order header total match
    * the line-level rollup (price·(1−disc)·(1+tax))? Per priority:
    * orders checked, mismatches beyond a 1-cent tolerance, and the
    * worst absolute gap — the cross-table consistency audit every
    * warehouse runs nightly. Per-line doubles quantize to
    * DECIMAL(18,2) cents before the exact sum (PSI discipline); the
    * header side is the proven double→decimal cents cast. */
  def q270: Q = Q(
    "q270_order_reconciliation",
    Some("""
      |WITH l AS (
      |  SELECT l_orderkey AS ok,
      |         CAST(sum(CAST(floor(CAST(l_extendedprice * (1 - l_discount)
      |             * (1 + l_tax) * 100 AS DECIMAL(18,9))) AS BIGINT))
      |           AS BIGINT) AS line_cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderpriority AS priority,
      |         CAST(floor(CAST(o.o_totalprice * 100 AS DECIMAL(18,9)))
      |              AS BIGINT) AS header_cents,
      |         l.line_cents
      |  FROM orders o JOIN l ON l.ok = o.o_orderkey)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CASE WHEN abs(header_cents - line_cents) > 1
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      |       CAST(max(abs(header_cents - line_cents)) AS BIGINT)
      |         AS max_abs_diff_cents
      |FROM j GROUP BY priority ORDER BY priority
      |""".stripMargin)) { (s, dir) =>
    val l = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sum(floor((col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax")) * 100).cast("decimal(18,9)"))
        .cast("long")).as("line_cents"))
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("ok"),
        col("o_orderpriority").as("priority"),
        floor((col("o_totalprice") * 100).cast("decimal(18,9)"))
          .cast("long").as("header_cents"))
      .join(l, "ok")
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(abs(col("header_cents") - col("line_cents")) > 1, 1L)
          .otherwise(0L)).as("n_mismatch"),
        max(abs(col("header_cents") - col("line_cents")))
          .as("max_abs_diff_cents"))
      .orderBy(col("priority"))
  }

  /** Weekday/weekend contrast per event type (phases 0-4 vs 5-6 of
    * the epoch-week, calendar-free): mean-daily-rate ratio as exact
    * cross-multiplied ppm — the load-shape scalar behind capacity
    * planning. */
  def q271: Q = Q(
    "q271_weekend_contrast",
    Some("""
      |WITH c AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type,
      |         CASE WHEN d % 7 >= 5 THEN 1 ELSE 0 END AS is_wkend,
      |         sum(x) AS s, count(*) AS nd
      |  FROM c GROUP BY 1, 2)
      |SELECT a.event_type,
      |       CAST(a.s AS BIGINT) AS wk_events,
      |       CAST(a.nd AS BIGINT) AS wk_days,
      |       CAST(b.s AS BIGINT) AS we_events,
      |       CAST(b.nd AS BIGINT) AS we_days,
      |       CAST((1000000 * b.s * a.nd) // (b.nd * a.s) AS BIGINT)
      |         AS weekend_ratio_ppm
      |FROM p a JOIN p b ON b.event_type = a.event_type
      |WHERE a.is_wkend = 0 AND b.is_wkend = 1
      |ORDER BY a.event_type
      |""".stripMargin)) { (s, dir) =>
    val p = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"),
        when(expr("d % 7") >= 5, 1).otherwise(0).as("is_wkend"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("nd"))
    val wk = p.where(col("is_wkend") === 0)
      .select(col("event_type"), col("s").as("wk_events"),
        col("nd").as("wk_days"))
    val we = p.where(col("is_wkend") === 1)
      .select(col("event_type"), col("s").as("we_events"),
        col("nd").as("we_days"))
    wk.join(we, "event_type")
      .select(col("event_type"), col("wk_events"), col("wk_days"),
        col("we_events"), col("we_days"),
        expr("(1000000 * we_events * wk_days)" +
          " div (we_days * wk_events)").as("weekend_ratio_ppm"))
      .orderBy(col("event_type"))
  }

  /** Orders-per-customer distribution INCLUDING the zero class: the
    * count-of-counts histogram that a plain GROUP BY on orders can
    * never show (customers with no orders exist only in the customer
    * dim — the left join is the point). */
  def q272: Q = Q(
    "q272_orders_per_customer",
    Some("""
      |WITH c AS (
      |  SELECT cu.c_custkey, count(o.o_orderkey) AS n_orders
      |  FROM customer cu LEFT JOIN orders o
      |    ON o.o_custkey = cu.c_custkey
      |  GROUP BY cu.c_custkey)
      |SELECT CAST(n_orders AS BIGINT) AS n_orders,
      |       CAST(count(*) AS BIGINT) AS n_customers
      |FROM c GROUP BY n_orders ORDER BY n_orders
      |""".stripMargin)) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_orders"))
  }

  /** Top-5 revenue days with their exact share of total revenue —
    * concentration in TIME (q264's HHI is concentration in TYPE):
    * how much of the period one spike day carries. Cents exact;
    * global top via TakeOrderedAndProject. */
  def q273: Q = Q(
    "q273_top_revenue_days",
    Some("""
      |WITH c AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS d,
      |         CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100
      |              AS DECIMAL(18,2))) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |t AS (SELECT sum(cents) AS total FROM c)
      |SELECT CAST(d AS BIGINT) AS d, cents,
      |       CAST((1000000 * cents) // t.total AS BIGINT) AS share_ppm
      |FROM c CROSS JOIN t ORDER BY cents DESC, d LIMIT 5
      |""".stripMargin)) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(expr("ts div 86400000000000").as("d"))
      .agg(sum((col("value").cast("decimal(18,6)") * 100)
        .cast("decimal(18,2)")).cast("long").as("cents"))
      .materialize() // day dim feeds the total and the ranking
    val t = c.agg(sum(col("cents")).as("total"))
    c.crossJoin(broadcast(t))
      .select(col("d"), col("cents"),
        expr("(1000000 * cents) div total").as("share_ppm"))
      .orderBy(col("cents").desc, col("d"))
      .limit(5)
  }
}
