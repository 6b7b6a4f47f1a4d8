package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables
import graft.text.TextAnalysis
import PipelineQueries.{sqlInList, sqlSaltedHash, sqlTokens}

/** Round-7 corpus-statistics wave: term burstiness, per-language
  * stopword coverage, the rank-window SQL family (ntile/percent_rank/
  * cume_dist), inter-label embedding-centroid cosines, and the KMV
  * distinct sketch — each exact-integer or floor-quantized with a
  * DuckDB oracle replaying identical arithmetic.
  */
object CorpusStatsQueries {

  val all: Seq[Q] = Seq(q281, q282, q283, q284, q285, q286, q288, q289,
    q290, q294, q295, q299, q300, q301, q302, q304, q306, q307, q309,
    q310, q313, q314, q315, q316, q318)

  /** Cross-source vocabulary containment: for every source pair the
    * shared-type count and containment (inter over the SMALLER vocab,
    * ppm) — the redundancy map that decides which sources add
    * vocabulary vs re-mix it. The pair join runs on the (source, type)
    * dim — the quadratic is over sources, never tokens. */
  def q316: Q = Q(
    "q316_source_vocab_containment",
    Some(s"""
      |WITH t AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source, unnest(${sqlTokens("text")}) AS w
      |    FROM documents WHERE text IS NOT NULL)),
      |n AS (SELECT source, count(*) AS nv FROM t GROUP BY source),
      |i AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         count(*) AS n_shared
      |  FROM t a JOIN t b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT i.source_a, i.source_b,
      |       CAST(na.nv AS BIGINT) AS n_a, CAST(nb.nv AS BIGINT) AS n_b,
      |       CAST(i.n_shared AS BIGINT) AS n_shared,
      |       CAST((1000000 * i.n_shared) // least(na.nv, nb.nv)
      |            AS BIGINT) AS containment_ppm
      |FROM i JOIN n na ON i.source_a = na.source
      |       JOIN n nb ON i.source_b = nb.source
      |ORDER BY source_a, source_b
      |""".stripMargin)) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .distinct()
      .materialize() // feeds per-source sizes AND the pair join
    val n = t.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    // self-join of a derived frame: rename the right side outright
    val b = t.select(col("source").as("__sb"), col("w").as("__bw"))
    t.join(b, col("w") === col("__bw") && col("source") < col("__sb"))
      .groupBy(col("source").as("source_a"), col("__sb").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(n.select(col("source").as("source_a"),
        col("nv").as("n_a"))), Seq("source_a"))
      .join(broadcast(n.select(col("source").as("source_b"),
        col("nv").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        expr("(1000000 * n_shared) div least(n_a, n_b)")
          .as("containment_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-user event-type diversity: Shannon entropy of each user's
    * type mix with PER-TERM micro-nat quantization before any sum
    * (each −(c/n)·ln(c/n) term floors to an integer, so the per-user
    * and corpus reductions are order-free integers — the q292 cents
    * discipline applied to entropy), plus the share of single-type
    * users. One (user, type) aggregate, one user-dim rollup, one
    * scalar row. */
  def q318: Q = Q(
    "q318_user_type_entropy",
    Some("""
      |WITH c AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events
      |  GROUP BY 1, 2),
      |u AS (SELECT user_id, sum(c) AS n, count(*) AS nt FROM c
      |      GROUP BY 1),
      |h AS (
      |  SELECT c.user_id,
      |         sum(CAST(floor(CAST(
      |           -(CAST(c.c AS DOUBLE) / CAST(u.n AS DOUBLE))
      |            * ln(CAST(c.c AS DOUBLE) / CAST(u.n AS DOUBLE))
      |         AS DECIMAL(18,9)) * 1000000) AS BIGINT)) AS h_micro,
      |         max(u.nt) AS nt
      |  FROM c JOIN u ON c.user_id = u.user_id
      |  GROUP BY c.user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(h_micro) // count(*) AS BIGINT)
      |         AS mean_entropy_micro,
      |       CAST((1000000 * sum(CASE WHEN nt = 1 THEN 1 ELSE 0 END))
      |            // count(*) AS BIGINT) AS single_type_ppm
      |FROM h
      |""".stripMargin)) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val u = c.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("nt"))
    val h = c.join(u, Seq("user_id"))
      .select(col("user_id"), col("nt"),
        expr("""CAST(floor(CAST(
          -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        AS DECIMAL(18,9)) * 1000000) AS BIGINT)""").as("term_micro"))
      .groupBy(col("user_id"))
      .agg(sum(col("term_micro")).as("h_micro"), max(col("nt")).as("nt"))
    h.agg(count(lit(1)).as("n_users"),
        sum(col("h_micro")).as("__sh"),
        sum(when(col("nt") === 1, 1L).otherwise(0L)).as("__mono"))
      .select(col("n_users"),
        expr("__sh div n_users").as("mean_entropy_micro"),
        expr("(1000000 * __mono) div n_users").as("single_type_ppm"))
  }

  /** Language confusion matrix: declared lang × stopword-langId
    * prediction with per-row share — WHERE the q24 classifier errs
    * (es↔fr bleed, zh defaulting to und), the calibration table a
    * lang-gated pipeline reads before trusting the gate. One scan,
    * one dim-sized matrix aggregate. */
  def q313: Q = {
    val hits = TextAnalysis.LangStopwords.map { case (lang, words) =>
      s"len(list_filter(toks, x -> x IN ${sqlInList(words)})) AS s_$lang"
    }.mkString(",\n         ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l2 => s"s_$lang >= s_$l2")
      val cond = (s"s_$lang > 0" +: later).mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString("\n         ")
    Q("q313_lang_confusion",
      Some(s"""
        |WITH t AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT doc_id, lang, $hits FROM t),
        |p AS (
        |  SELECT lang AS declared, CASE $cases ELSE 'und' END AS predicted
        |  FROM h),
        |m AS (SELECT declared, predicted, count(*) AS n
        |      FROM p GROUP BY 1, 2),
        |r AS (SELECT declared, sum(n) AS row_n FROM m GROUP BY 1)
        |SELECT m.declared, m.predicted, CAST(m.n AS BIGINT) AS n,
        |       CAST((1000000 * m.n) // r.row_n AS BIGINT) AS row_share_ppm
        |FROM m JOIN r ON m.declared = r.declared
        |ORDER BY m.declared, m.predicted
        |""".stripMargin)) { (s, dir) =>
      val m = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("lang").as("declared"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy(col("declared"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .materialize() // feeds the matrix AND its row totals
      val r = m.groupBy(col("declared")).agg(sum(col("n")).as("row_n"))
      m.join(broadcast(r), Seq("declared"))
        .select(col("declared"), col("predicted"), col("n"),
          expr("(1000000 * n) div row_n").as("row_share_ppm"))
        .orderBy(col("declared"), col("predicted"))
    }
  }

  /** Near-dup cluster language purity: do clusters stay inside one
    * language (template families translated across langs are a real
    * contamination mode for per-lang mixtures)? One scalar row —
    * clusters of size ≥ 2, how many are mono-lang, purity ppm. The
    * oracle replays CC with the recursive reach CTE. */
  def q314: Q = Q(
    "q314_cluster_lang_purity",
    Some(s"""
      |WITH RECURSIVE
      |${PipelineQueries.sqlNearDupCcCtes},
      |sz AS (
      |  SELECT l.cluster_id, count(*) AS n,
      |         count(DISTINCT d.lang) AS nl
      |  FROM lbl l JOIN documents d ON l.doc_id = d.doc_id
      |  GROUP BY l.cluster_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
      |       CAST(sum(CASE WHEN nl = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_mono_lang,
      |       CAST((1000000 * sum(CASE WHEN nl = 1 THEN 1 ELSE 0 END))
      |            // count(*) AS BIGINT) AS purity_ppm
      |FROM sz WHERE n >= 2
      |""".stripMargin)) { (s, dir) =>
    import graft.dedup.Dedup
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.nearDupClusters(
      Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.8))
    clusters
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("nl"))
      .where(col("n") >= 2)
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("nl") === 1, 1L).otherwise(0L)).as("n_mono_lang"))
      .withColumn("purity_ppm",
        expr("(1000000 * n_mono_lang) div n_clusters"))
  }

  /** Character-class profile per source: digit / uppercase / terminal-
    * punctuation char mass in ppm of total characters — the cheap
    * "is this prose, a table dump, or SHOUTING" fingerprint (explicit
    * char classes only; never \\s — NOTES rule on Java-vs-RE2 class
    * divergence). Scan-stage regexp_replace counting, one source-dim
    * aggregate. */
  def q315: Q = Q(
    "q315_char_class_profile",
    Some("""
      |WITH c AS (
      |  SELECT source, length(text) AS chars,
      |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
      |         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers,
      |         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS puncts
      |  FROM documents WHERE text IS NOT NULL AND length(text) > 0)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(chars) AS BIGINT) AS total_chars,
      |       CAST((1000000 * sum(digits)) // sum(chars) AS BIGINT)
      |         AS digit_ppm,
      |       CAST((1000000 * sum(uppers)) // sum(chars) AS BIGINT)
      |         AS upper_ppm,
      |       CAST((1000000 * sum(puncts)) // sum(chars) AS BIGINT)
      |         AS punct_ppm
      |FROM c GROUP BY source ORDER BY source
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .where(col("text").isNotNull && length(col("text")) > 0)
      .select(col("source"), length(col("text")).as("chars"),
        length(regexp_replace(col("text"), "[^0-9]", "")).as("digits"),
        length(regexp_replace(col("text"), "[^A-Z]", "")).as("uppers"),
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("puncts"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("total_chars"),
        sum(col("digits")).as("__d"), sum(col("uppers")).as("__u"),
        sum(col("puncts")).as("__p"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        expr("(1000000 * __d) div total_chars").as("digit_ppm"),
        expr("(1000000 * __u) div total_chars").as("upper_ppm"),
        expr("(1000000 * __p) div total_chars").as("punct_ppm"))
      .orderBy(col("source"))
  }

  /** Incremental KMV maintenance against a STORED sketch index (the
    * q136/q251 stored-index discipline for cardinality): per-source
    * minima over the old corpus live in a ManifestCommit table; a new
    * ingest batch merges via KmvSketch.mergeMinima (only the batch is
    * hashed — history never re-reads), and the merged sketch's
    * estimate must equal the direct whole-corpus estimate (the merge
    * property, hash-gated: the oracle computes the direct path, so
    * any incremental drift hash-fails). */
  def q310: Q = {
    val k = 8
    import graft.operators.KmvSketch
    Q("q310_kmv_incremental",
      Some(s"""
        |WITH t AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(${sqlTokens("text")}) AS w
        |    FROM documents WHERE text IS NOT NULL)),
        |h AS (
        |  SELECT source, w, (${sqlSaltedHash("w", "kmv")}) AS h FROM t),
        |hd AS (SELECT DISTINCT source, h FROM h),
        |r AS (
        |  SELECT source, h, row_number() OVER (PARTITION BY source
        |    ORDER BY h) AS rn
        |  FROM hd),
        |kth AS (SELECT source, h AS kth FROM r WHERE rn = $k),
        |ex AS (SELECT source, count(*) AS exact FROM t GROUP BY source),
        |e AS (
        |  SELECT ex.source, ex.exact,
        |         ${KmvSketch.sqlEstimate("kth.kth", "ex.exact", k)} AS est
        |  FROM ex LEFT JOIN kth ON ex.source = kth.source)
        |SELECT source, CAST(exact AS BIGINT) AS exact_distinct,
        |       CAST(est AS BIGINT) AS direct_estimate,
        |       CAST(est AS BIGINT) AS incremental_estimate,
        |       CAST(1 AS BIGINT) AS sketches_agree
        |FROM e ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      import graft.sources.{LocalFs, ManifestCommit}
      val docs = Tables.documents(s, dir).where(col("text").isNotNull)
      def toks(d: org.apache.spark.sql.DataFrame) = d.select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      val path = CorpusQueries.storedIndexPath("kmv_idx", dir, "documents")
      LocalFs.publishOnce(java.nio.file.Paths.get(path),
        p => ManifestCommit.latest(p.toString).nonEmpty) { stage =>
        ManifestCommit.writeVersioned(
          KmvSketch.minima(toks(docs.where(col("doc_id") % 5 =!= 0)),
            Seq("source"), "w", k, "kmv"), stage.toString)
      }
      val stored = ManifestCommit.read(s, path)
      val merged = KmvSketch.mergeMinima(stored,
        toks(docs.where(col("doc_id") % 5 === 0)),
        Seq("source"), "w", k, "kmv")
      val inc = KmvSketch.estimateFromMinima(merged, Seq("source"), k)
        .select(col("source"),
          col("kmv_estimate").as("incremental_estimate"))
      KmvSketch.estimate(toks(docs), Seq("source"), "w", k, "kmv")
        .select(col("source"), col("exact_distinct"),
          col("kmv_estimate").as("direct_estimate"))
        .join(inc, Seq("source"))
        .withColumn("sketches_agree",
          when(col("direct_estimate") === col("incremental_estimate"), 1L)
            .otherwise(0L))
        .orderBy(col("source"))
    }
  }

  /** Bigram novelty curve — q289's Heaps law at PHRASE granularity:
    * cumulative distinct bigrams (native Shingles n=2 kernel) after
    * each tenth of the doc-id range, plus the per-decile new-type
    * delta. Unigram vocabulary saturates early; bigram novelty keeps
    * discriminating template re-mixes from genuinely new text. Same
    * scale shape as q289: one first-seen reduction over the bigram
    * dim, a 10-row broadcast threshold dim, a 10-row window for the
    * delta. */
  def q306: Q = {
    val sqlBigrams = s"""list_transform(
      |  range(1, greatest(len(${sqlTokens("text")}) - 1, 0) + 1),
      |  i -> (${sqlTokens("text")})[i] || ' ' || (${sqlTokens("text")})[i+1])"""
      .stripMargin
    Q("q306_bigram_novelty",
      Some(s"""
        |WITH d AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
        |mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
        |th AS (
        |  SELECT u.i AS decile, mm.lo + ((mm.hi - mm.lo) * u.i) // 10
        |           AS cutoff
        |  FROM mm, unnest(range(1, 11)) AS u(i)),
        |t AS (
        |  SELECT doc_id, unnest($sqlBigrams) AS bg
        |  FROM documents WHERE text IS NOT NULL),
        |fs AS (SELECT bg, min(doc_id) AS first_seen FROM t GROUP BY bg),
        |vc AS (
        |  SELECT th.decile, th.cutoff, count(*) AS cum_bigrams
        |  FROM th JOIN fs ON fs.first_seen <= th.cutoff GROUP BY 1, 2)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |       CAST(cutoff AS BIGINT) AS cutoff,
        |       CAST(cum_bigrams AS BIGINT) AS cum_bigrams,
        |       CAST(cum_bigrams - coalesce(lag(cum_bigrams)
        |              OVER (ORDER BY decile), 0) AS BIGINT) AS new_bigrams
        |FROM vc ORDER BY decile
        |""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.dedup.Dedup
      val docs = Tables.documents(s, dir).where(col("text").isNotNull)
      val mm = docs.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      val th = s.range(1, 11).select(col("id").as("decile"))
        .crossJoin(broadcast(mm))
        .withColumn("cutoff", expr("lo + ((hi - lo) * decile) div 10"))
        .select(col("decile"), col("cutoff"))
      val fs = docs
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), n = 2)).as("bg"))
        .groupBy(col("bg")).agg(min(col("doc_id")).as("first_seen"))
      val vc = fs.crossJoin(broadcast(th))
        .where(col("first_seen") <= col("cutoff"))
        .groupBy(col("decile"), col("cutoff"))
        .agg(count(lit(1)).as("cum_bigrams"))
      vc.withColumn("new_bigrams",
          col("cum_bigrams") - coalesce(
            lag(col("cum_bigrams"), 1).over(Window.orderBy(col("decile"))),
            lit(0L)))
        .orderBy(col("decile"))
    }
  }

  /** Mean token length per language in exact milli-chars — the
    * word-length typology signal (German compounds vs Chinese
    * romanization) and a cheap tokenizer sanity check: a tokenizer
    * regression that splits or glues words moves this number before
    * anything downstream notices. Two integer sums per lang. */
  def q307: Q = Q(
    "q307_token_length_by_lang",
    Some(s"""
      |WITH t AS (
      |  SELECT lang, unnest(${sqlTokens("text")}) AS w
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(len(w)) AS BIGINT) AS total_chars,
      |       CAST((1000 * sum(len(w))) // count(*) AS BIGINT)
      |         AS mean_len_milli
      |FROM t GROUP BY lang ORDER BY lang
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w"))).as("total_chars"))
      .withColumn("mean_len_milli",
        expr("(1000 * total_chars) div n_tokens"))
      .orderBy(col("lang"))
  }

  /** KMV generality face: distinct USERS per event type estimated by
    * the same k-minimum sketch q285 runs on tokens — different table,
    * different value type (longs), same operator and oracle replay;
    * the per-type audience-size panel a sketch-driven dashboard would
    * serve. */
  def q309: Q = {
    val k = 16
    Q("q309_kmv_users_per_type",
      Some(s"""
        |WITH t AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
        |  FROM events WHERE user_id IS NOT NULL),
        |h AS (
        |  SELECT event_type, v, (${sqlSaltedHash("v", "kmvu")}) AS h
        |  FROM t),
        |hd AS (SELECT DISTINCT event_type, h FROM h),
        |r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY h) AS rn
        |  FROM hd),
        |kth AS (SELECT event_type, h AS kth FROM r WHERE rn = $k),
        |ex AS (SELECT event_type, count(*) AS exact FROM t GROUP BY 1),
        |e AS (
        |  SELECT ex.event_type, ex.exact,
        |         ${graft.operators.KmvSketch.sqlEstimate(
                     "kth.kth", "ex.exact", k)} AS est
        |  FROM ex LEFT JOIN kth ON ex.event_type = kth.event_type)
        |SELECT event_type, CAST(exact AS BIGINT) AS exact_distinct,
        |       CAST(est AS BIGINT) AS kmv_estimate,
        |       CAST((1000000 * abs(est - exact)) // exact AS BIGINT)
        |         AS err_ppm
        |FROM e ORDER BY event_type
        |""".stripMargin)) { (s, dir) =>
      graft.operators.KmvSketch.estimate(
          Tables.events(s, dir)
            .where(col("user_id").isNotNull)
            .select(col("event_type"), col("user_id")),
          keys = Seq("event_type"), valueCol = "user_id", k = k,
          salt = "kmvu")
        .select(col("event_type"), col("exact_distinct"),
          col("kmv_estimate"),
          expr("(1000000 * abs(kmv_estimate - exact_distinct)) " +
            "div exact_distinct").as("err_ppm"))
        .orderBy(col("event_type"))
    }
  }

  /** Mann-Whitney U (rank-sum) test: are English documents LONGER than
    * non-English ones, nonparametrically — no normality assumption, the
    * robust two-sample test a data card should quote next to a mean
    * diff. EXACT integer midranks computed on the VALUE dim (per
    * distinct length: cumulative count below + within-group count;
    * midranks ×2 to stay integral under .5 ties), so no row-level
    * global sort — the only ordered window runs over the distinct-
    * length dim, which is bounded by the value range, not the corpus.
    * U and the rank sums are exact integers; only the final normal
    * z-approximation (no tie correction — stated) divides, pinned and
    * floor-quantized to milli. */
  def q301: Q = Q(
    "q301_mann_whitney",
    Some("""
      |WITH v AS (
      |  SELECT n_chars AS x,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |cnt AS (SELECT x, count(*) AS c, sum(g) AS c1 FROM v GROUP BY x),
      |cum AS (
      |  SELECT x, c, c1,
      |         coalesce(sum(c) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS cb
      |  FROM cnt),
      |agg AS (
      |  SELECT sum(c1 * (2 * cb + c + 1)) AS r1x2,
      |         sum(c1) AS n1, sum(c - c1) AS n2
      |  FROM cum)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
      |       CAST(floor(CAST(
      |         ((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0)
      |          - (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0))
      |         / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |                * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
      |                / 12.0)
      |       AS DECIMAL(18,9)) * 1000) AS BIGINT) AS z_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = Tables.documents(s, dir)
      .where(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("n_chars").as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("g"))
    val cnt = v.groupBy(col("x"))
      .agg(count(lit(1)).as("c"), sum(col("g")).as("c1"))
    // ordered window over the distinct-VALUE dim only (bounded by the
    // length range, not the corpus) — the row-level sort never happens
    val wC = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cnt.withColumn("cb",
      coalesce(sum(col("c")).over(wC), lit(0L)))
    cum.agg(
        sum(col("c1") * (lit(2L) * col("cb") + col("c") + 1L)).as("r1x2"),
        sum(col("c1")).as("n1"), sum(col("c") - col("c1")).as("n2"))
      .select(col("n1"), col("n2"),
        (col("r1x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        expr("""CAST(floor(CAST(
          ((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0)
           - (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0))
          / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                 / 12.0)
        AS DECIMAL(18,9)) * 1000) AS BIGINT)""").as("z_milli"))
  }

  /** Spearman rank correlation between document length (chars) and
    * token count — the monotone-association number that survives the
    * heavy length tail where Pearson saturates. Midranks ×2 via the
    * same value-dim trick as q301 (no row-level sort; the rank map is
    * a broadcast value-dim join), all sums exact integers in
    * decimal(38,0), ONE pinned double expression at the end, floor-
    * quantized to milli. */
  def q302: Q = Q(
    "q302_spearman_length_tokens",
    Some(s"""
      |WITH v AS (
      |  SELECT doc_id, n_chars AS x, len(${sqlTokens("text")}) AS y
      |  FROM documents
      |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
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
      |SELECT CAST(n AS BIGINT) AS n,
      |       ${PipelineQueries.sqlPearsonMilli(
                 "n", "sx", "sy", "sxx", "syy", "sxy")} AS rho_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val v = Tables.documents(s, dir)
      .where(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id"), col("n_chars").as("x"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("y"))
      .materialize() // feeds both rank dims AND the per-doc join
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
      .select(col("n"),
        expr(PipelineQueries.sqlPearsonMilli(
          "n", "sx", "sy", "sxx", "syy", "sxy")).as("rho_milli"))
  }

  /** JPEG header sniff, HASH-GATED round-trip: a canonical JFIF+SOF0
    * header is SYNTHESIZED per document (width/height derived from
    * doc_id / n_chars), then parsed back by the REAL byte-level
    * sniffer (MultiModal.imageDims' jpeg branch) — the oracle computes
    * the construction formula directly, so any parser drift
    * hash-fails. Every payload stays scan-stage binary; nothing
    * shuffles but the final sort. */
  def q304: Q = Q(
    "q304_jpeg_sniff",
    Some("""
      |SELECT doc_id AS media_id, 'jpeg' AS format,
      |       CAST(64 + doc_id % 192 AS BIGINT) AS width,
      |       CAST(64 + n_chars % 192 AS BIGINT) AS height
      |FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
      |ORDER BY media_id
      |""".stripMargin)) { (s, dir) =>
    import graft.multimodal.MultiModal
    // SOF0 stores HEIGHT first, then width (big-endian u16 each)
    val payload = expr(
      "unhex(concat(" +
        "'FFD8FFE000104A46494600010100004800480000FFC0001108', " +
        "lpad(hex(64 + n_chars % 192), 4, '0'), " +
        "lpad(hex(64 + doc_id % 192), 4, '0')))")
    Tables.documents(s, dir)
      .where(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id").as("media_id"), payload.as("payload"))
      .select(col("media_id"),
        MultiModal.imageDims(col("payload")).as("m"))
      .select(col("media_id"), col("m.format").as("format"),
        col("m.width").as("width"), col("m.height").as("height"))
      .orderBy(col("media_id"))
  }

  /** Boilerplate-prefix detection: documents sharing an identical
    * 80-char leading prefix (the shared-header / template signature
    * exact dedup misses when bodies differ) — prefix groups with
    * multiplicity and an exemplar doc. Scan-stage substring, one
    * prefix-dim aggregation; the candidate precursor to q79's
    * dup-span analysis. */
  def q299: Q = Q(
    "q299_prefix_boilerplate",
    Some("""
      |WITH p AS (
      |  SELECT doc_id, substr(text, 1, 80) AS prefix
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT prefix, count(*) AS n_docs, min(doc_id) AS exemplar
      |  FROM p GROUP BY prefix HAVING count(*) > 1)
      |SELECT prefix, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(exemplar AS BIGINT) AS exemplar
      |FROM g ORDER BY n_docs DESC, prefix
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), substring(col("text"), 1, 80).as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("exemplar"))
      .where(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("prefix"))
  }

  /** Corpus health scorecard — the one-row dashboard a data card
    * leads with, every number exact-integer: doc count, English share,
    * exact-duplicate rate (full-text equality), vocabulary size,
    * token mass and mean tokens per doc. Five dim-or-scalar
    * reductions composed; nothing collects but the final row. */
  def q300: Q = Q(
    "q300_corpus_scorecard",
    Some(s"""
      |WITH d AS (SELECT doc_id, text, lang FROM documents
      |           WHERE text IS NOT NULL),
      |base AS (
      |  SELECT count(*) AS n_docs,
      |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
      |         count(DISTINCT text) AS n_distinct_texts
      |  FROM d),
      |t AS (SELECT unnest(${sqlTokens("text")}) AS w FROM d),
      |tk AS (SELECT count(*) AS n_tokens,
      |              count(DISTINCT w) AS vocab_size FROM t)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST((1000000 * n_en) // n_docs AS BIGINT) AS en_share_ppm,
      |       CAST((1000000 * (n_docs - n_distinct_texts)) // n_docs
      |            AS BIGINT) AS exact_dup_ppm,
      |       CAST(vocab_size AS BIGINT) AS vocab_size,
      |       CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST((1000 * n_tokens) // n_docs AS BIGINT)
      |         AS mean_tokens_milli
      |FROM base CROSS JOIN tk
      |""".stripMargin)) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("lang"))
      .materialize() // feeds the doc-level and token-level reductions
    val base = d.agg(count(lit(1)).as("n_docs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      countDistinct(col("text")).as("n_distinct_texts"))
    val tk = d.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("vocab_size"))
    base.crossJoin(broadcast(tk))
      .select(col("n_docs"),
        expr("(1000000 * n_en) div n_docs").as("en_share_ppm"),
        expr("(1000000 * (n_docs - n_distinct_texts)) div n_docs")
          .as("exact_dup_ppm"),
        col("vocab_size"), col("n_tokens"),
        expr("(1000 * n_tokens) div n_docs").as("mean_tokens_milli"))
  }

  /** Embedding-norm order statistics per label: per-vector L2 norm in
    * exact milli (per-element floor(v·1000) ints, integer
    * sum-of-squares, one IEEE sqrt — correctly rounded on every
    * platform, so the floor is engine-exact), then p500/p900 per
    * label. Norm collapse or blow-up per class is the first
    * embedding-quality regression signal. The norm is SCAN-STAGE array
    * arithmetic (functions.aggregate over the array — no per-vector
    * shuffle); only the label quantile pass exchanges. */
  def q294: Q = Q(
    "q294_embedding_norms",
    Some("""
      |WITH q AS (
      |  SELECT vec_id, label, u.d AS dim,
      |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 1000)
      |              AS BIGINT) AS qv
      |  FROM embeddings, unnest(range(0, 64)) AS u(d)),
      |n AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         CAST(floor(sqrt(CAST(sum(qv * qv) AS DOUBLE))) AS BIGINT)
      |           AS norm_milli
      |  FROM q GROUP BY 1, 2),
      |r AS (
      |  SELECT label, norm_milli,
      |         row_number() OVER (PARTITION BY label
      |                            ORDER BY norm_milli) AS rn,
      |         count(*) OVER (PARTITION BY label) AS n
      |  FROM n),
      |p AS (SELECT unnest([500, 900]) AS permille)
      |SELECT r.label, p.permille, CAST(r.norm_milli AS BIGINT) AS value
      |FROM r JOIN p ON r.rn = (p.permille * r.n + 999) // 1000
      |ORDER BY label, permille
      |""".stripMargin)) { (s, dir) =>
    import graft.operators.OrderStats
    val norms = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        expr("CAST(floor(sqrt(CAST(aggregate(" +
          "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000)" +
          " AS BIGINT)), 0L, (acc, x) -> acc + x * x) AS DOUBLE)))" +
          " AS BIGINT)").as("norm_milli"))
    OrderStats.quantilesDisc(norms, Seq("label"), "norm_milli",
        Seq(500, 900))
      .orderBy(col("label"), col("permille"))
  }

  /** Daily activity-depth distribution with a geometric-MLE overlay:
    * events-per-user-DAY count-of-counts next to the expected
    * geometric frequency at p̂ = user-days/events (one pinned pow +
    * floor-quantize, q235's transcendental idiom) — "is daily
    * engagement memoryless, or are there binge sessions the geometric
    * can't explain". Depths capped at 20 for a bounded report (the
    * user-day grain keeps the mass inside the cap; the whole-user
    * grain would put every row beyond it). */
  def q295: Q = Q(
    "q295_depth_geometric_fit",
    Some("""
      |WITH c AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d,
      |         count(*) AS depth
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT count(*) AS n_userdays, sum(depth) AS n_events FROM c),
      |d AS (SELECT depth, count(*) AS n FROM c GROUP BY depth)
      |SELECT CAST(d.depth AS BIGINT) AS depth,
      |       CAST(d.n AS BIGINT) AS observed,
      |       CAST(floor(CAST(CAST(s.n_userdays AS DOUBLE)
      |            * (CAST(s.n_userdays AS DOUBLE)
      |               / CAST(s.n_events AS DOUBLE))
      |            * pow(1.0 - CAST(s.n_userdays AS DOUBLE)
      |                  / CAST(s.n_events AS DOUBLE),
      |                  CAST(d.depth - 1 AS DOUBLE))
      |            AS DECIMAL(18,9)) * 1000) AS BIGINT) AS expected_milli
      |FROM d CROSS JOIN s WHERE d.depth <= 20 ORDER BY depth
      |""".stripMargin)) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(col("user_id"), expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("depth"))
      .materialize() // feeds the scalar totals AND the histogram
    val tot = c.agg(count(lit(1)).as("n_userdays"),
      sum(col("depth")).as("n_events"))
    c.groupBy(col("depth")).agg(count(lit(1)).as("observed"))
      .where(col("depth") <= 20)
      .crossJoin(broadcast(tot))
      .select(col("depth"), col("observed"),
        expr("CAST(floor(CAST(CAST(n_userdays AS DOUBLE)" +
          " * (CAST(n_userdays AS DOUBLE) / CAST(n_events AS DOUBLE))" +
          " * pow(1.0 - CAST(n_userdays AS DOUBLE)" +
          " / CAST(n_events AS DOUBLE)," +
          " CAST(depth - 1 AS DOUBLE)) AS DECIMAL(18,9)) * 1000) AS BIGINT)")
          .as("expected_milli"))
      .orderBy(col("depth"))
  }

  /** KMV merge ≡ direct (q285's sketch algebra, the HLL-q225 sibling):
    * per-source k-minimum summaries union-merged (dedup hashes, keep
    * the k smallest) must equal the k-minimum summary of the whole
    * corpus — every global minimum is necessarily inside its own
    * source's minima. Both paths avoid any data-sized global sort:
    * per-source minima are source-partitioned windows, and the
    * direct path's global k smallest come from orderBy.limit
    * (TakeOrdered) over the distinct-hash dim. */
  def q286: Q = {
    val k = 8
    import graft.operators.KmvSketch
    Q("q286_kmv_merge",
      Some(s"""
        |WITH t AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(${sqlTokens("text")}) AS w
        |    FROM documents WHERE text IS NOT NULL)),
        |h AS (
        |  SELECT source, w, (${sqlSaltedHash("w", "kmv")}) AS h FROM t),
        |hd0 AS (SELECT DISTINCT source, h FROM h),
        |r AS (
        |  SELECT source, h, row_number() OVER (PARTITION BY source
        |    ORDER BY h) AS rn
        |  FROM hd0),
        |mins AS (SELECT DISTINCT h FROM r WHERE rn <= $k),
        |mk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn2 FROM mins),
        |merged AS (SELECT max(h) AS kth, count(*) AS kn
        |           FROM mk WHERE rn2 <= $k),
        |gh AS (SELECT DISTINCT h FROM h),
        |gr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM gh),
        |direct AS (SELECT max(h) AS kth, count(*) AS kn
        |           FROM gr WHERE rn <= $k),
        |ex AS (SELECT count(*) AS exact FROM (SELECT DISTINCT w FROM t)),
        |e AS (
        |  SELECT ex.exact,
        |         CASE WHEN direct.kn = $k THEN
        |           ${KmvSketch.sqlEstimate("direct.kth", "ex.exact", k)}
        |         ELSE ex.exact END AS d_est,
        |         CASE WHEN merged.kn = $k THEN
        |           ${KmvSketch.sqlEstimate("merged.kth", "ex.exact", k)}
        |         ELSE ex.exact END AS m_est
        |  FROM ex CROSS JOIN direct CROSS JOIN merged)
        |SELECT CAST(exact AS BIGINT) AS exact_distinct,
        |       CAST(d_est AS BIGINT) AS direct_estimate,
        |       CAST(m_est AS BIGINT) AS merged_estimate,
        |       CAST(CASE WHEN d_est = m_est THEN 1 ELSE 0 END AS BIGINT)
        |         AS sketches_agree
        |FROM e
        |""".stripMargin)) { (s, dir) =>
      import graft.functions.PolyHash
      val base = Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
      val hashes = base.select(col("source"), col("w")).distinct()
        .withColumn("h", PolyHash.saltedHash(col("w"), "kmv"))
        .materialize() // feeds per-source minima, global dedup, exact
      val minsPerSrc = KmvSketch.minima(
        hashes.select(col("source"), col("w")), Seq("source"), "w", k, "kmv")
      val merged = minsPerSrc.select(col("min_hash").as("h")).distinct()
        .orderBy(col("h")).limit(k)
        .agg(max(col("h")).as("m_kth"), count(lit(1)).as("m_kn"))
      val direct = hashes.select(col("h")).distinct()
        .orderBy(col("h")).limit(k)
        .agg(max(col("h")).as("d_kth"), count(lit(1)).as("d_kn"))
      val exact = hashes.select(col("w")).distinct()
        .agg(count(lit(1)).as("exact"))
      exact.crossJoin(broadcast(direct)).crossJoin(broadcast(merged))
        .select(
          col("exact").as("exact_distinct"),
          when(col("d_kn") === k,
            expr(KmvSketch.sqlEstimate("d_kth", "exact", k)))
            .otherwise(col("exact")).as("direct_estimate"),
          when(col("m_kn") === k,
            expr(KmvSketch.sqlEstimate("m_kth", "exact", k)))
            .otherwise(col("exact")).as("merged_estimate"))
        .withColumn("sketches_agree",
          when(col("direct_estimate") === col("merged_estimate"), 1L)
            .otherwise(0L))
    }
  }

  /** Sentence-length profile per language: split on terminal
    * punctuation runs, drop empty fragments, count sentences and exact
    * character mass, mean length in milli-chars — the tokenizer-free
    * shape check that separates running prose from list/template
    * fragments. Scan-stage string work; one lang-dim aggregate. */
  def q288: Q = Q(
    "q288_sentence_profile",
    Some("""
      |WITH p AS (
      |  SELECT lang, unnest(string_split_regex(text, '[.!?]+')) AS sent
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (SELECT lang, sent FROM p WHERE sent <> ''),
      |m AS (
      |  SELECT lang, count(*) AS n_sentences, sum(len(sent)) AS chars
      |  FROM f GROUP BY lang)
      |SELECT lang, CAST(n_sentences AS BIGINT) AS n_sentences,
      |       CAST(chars AS BIGINT) AS total_chars,
      |       CAST((1000 * chars) // n_sentences AS BIGINT)
      |         AS mean_chars_milli
      |FROM m ORDER BY lang
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("lang"),
        explode(split(col("text"), "[.!?]+")).as("sent"))
      .where(col("sent") =!= "")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(length(col("sent"))).as("total_chars"))
      .withColumn("mean_chars_milli",
        expr("(1000 * total_chars) div n_sentences"))
      .orderBy(col("lang"))
  }

  /** Heaps'-law vocabulary growth curve: distinct types seen after
    * each tenth of the doc-id range — first_seen = min(doc_id) per
    * type (one token-dim reduction), then a 10-row broadcast threshold
    * dim counts coverage; no data-sized global sort anywhere
    * (thresholds are VALUE cuts of the id range, not equal-count
    * ranks). The "is the corpus still yielding new vocabulary"
    * curve behind crawl-stopping decisions. */
  def q289: Q = Q(
    "q289_vocab_growth",
    Some(s"""
      |WITH d AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
      |mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
      |th AS (
      |  SELECT u.i AS decile, mm.lo + ((mm.hi - mm.lo) * u.i) // 10
      |           AS cutoff
      |  FROM mm, unnest(range(1, 11)) AS u(i)),
      |t AS (
      |  SELECT doc_id, unnest(${sqlTokens("text")}) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |fs AS (SELECT w, min(doc_id) AS first_seen FROM t GROUP BY w),
      |dc AS (
      |  SELECT th.decile, th.cutoff, count(*) AS docs_covered
      |  FROM th JOIN d ON d.doc_id <= th.cutoff GROUP BY 1, 2),
      |vc AS (
      |  SELECT th.decile, count(*) AS vocab
      |  FROM th JOIN fs ON fs.first_seen <= th.cutoff GROUP BY 1)
      |SELECT CAST(dc.decile AS BIGINT) AS decile,
      |       CAST(dc.cutoff AS BIGINT) AS cutoff,
      |       CAST(dc.docs_covered AS BIGINT) AS docs_covered,
      |       CAST(vc.vocab AS BIGINT) AS vocab
      |FROM dc JOIN vc ON dc.decile = vc.decile
      |ORDER BY decile
      |""".stripMargin)) { (s, dir) =>
    val docs = Tables.documents(s, dir).where(col("text").isNotNull)
    val d = docs.select(col("doc_id")).materialize()
    val mm = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val th = s.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(mm))
      .withColumn("cutoff", expr("lo + ((hi - lo) * decile) div 10"))
      .select(col("decile"), col("cutoff"))
    val fs = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_seen"))
    val dc = d.crossJoin(broadcast(th))
      .where(col("doc_id") <= col("cutoff"))
      .groupBy(col("decile"), col("cutoff"))
      .agg(count(lit(1)).as("docs_covered"))
    val vc = fs.crossJoin(broadcast(th))
      .where(col("first_seen") <= col("cutoff"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("vocab"))
    dc.join(vc, Seq("decile"))
      .select(col("decile"), col("cutoff"), col("docs_covered"),
        col("vocab"))
      .orderBy(col("decile"))
  }

  /** Inter-arrival exponentiality check per event type: per-user gaps
    * between consecutive same-type events (user-partitioned lag — the
    * parallel window), exact integer mean and the p500 order
    * statistic, ratio in milli — a Poisson process sits near
    * ln 2 ≈ 693; heavy departures flag batching/bots next to q206's
    * Fano factor. */
  def q290: Q = Q(
    "q290_interarrival_shape",
    Some("""
      |WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |         (t - lag(t) OVER (PARTITION BY user_id, event_type
      |                           ORDER BY t, event_id)) // 1000 AS gap_us
      |  FROM e),
      |sgaps AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
      |m AS (
      |  SELECT event_type, count(*) AS n_gaps,
      |         sum(gap_us) // count(*) AS mean_us
      |  FROM sgaps GROUP BY event_type),
      |r AS (
      |  SELECT event_type, gap_us,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY gap_us) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM sgaps),
      |med AS (SELECT event_type, gap_us AS median_us FROM r
      |        WHERE rn = (500 * n + 999) // 1000)
      |SELECT m.event_type, CAST(m.n_gaps AS BIGINT) AS n_gaps,
      |       CAST(m.mean_us AS BIGINT) AS mean_us,
      |       CAST(med.median_us AS BIGINT) AS median_us,
      |       CAST((1000 * med.median_us) // m.mean_us AS BIGINT)
      |         AS ratio_milli
      |FROM m JOIN med ON m.event_type = med.event_type
      |ORDER BY m.event_type
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.OrderStats
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts").as("t"),
        col("event_id"))
      .withColumn("__prev", lag(col("t"), 1).over(w))
      .where(col("__prev").isNotNull)
      .select(col("event_type"),
        expr("(t - __prev) div 1000").as("gap_us"))
      .materialize() // feeds the mean aggregate AND the quantile pass
    val m = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("__sum"))
      .withColumn("mean_us", expr("__sum div n_gaps"))
    val med = OrderStats.quantilesDisc(gaps, Seq("event_type"), "gap_us",
        Seq(500))
      .select(col("event_type"), col("value").as("median_us"))
    m.join(med, Seq("event_type"))
      .select(col("event_type"), col("n_gaps"), col("mean_us"),
        col("median_us"),
        expr("(1000 * median_us) div mean_us").as("ratio_milli"))
      .orderBy(col("event_type"))
  }

  /** Term burstiness for the top-30 terms by collection frequency:
    * cf (occurrences) vs df (documents containing), ratio in exact
    * milli — burst ≫ 1000 marks terms that pile into few documents
    * (boilerplate, code dumps) vs spread evenly (function words). The
    * term dim never globally sorts: distributed top-k via
    * orderBy.limit. */
  def q281: Q = Q(
    "q281_term_burstiness",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, unnest(${sqlTokens("text")}) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (
      |  SELECT w, count(*) AS cf, count(DISTINCT doc_id) AS df
      |  FROM t GROUP BY w),
      |top AS (SELECT w, cf, df FROM f ORDER BY cf DESC, w LIMIT 30)
      |SELECT w, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
      |       CAST((1000 * cf) // df AS BIGINT) AS burst_milli
      |FROM top ORDER BY cf DESC, w
      |""".stripMargin)) { (s, dir) =>
    Tables.documents(s, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cf").desc, col("w")).limit(30)
      .withColumn("burst_milli", expr("(1000 * cf) div df"))
      .orderBy(col("cf").desc, col("w"))
  }

  /** Stopword coverage per language, each language scored against its
    * OWN stopword list (a broadcast (lang, word) dim joined on both
    * keys): the lang-ID calibration number — healthy natural text
    * sits in a stable coverage band; near-zero coverage on a language
    * flags mislabeled or templated documents. */
  def q282: Q = {
    val swRows = TextAnalysis.LangStopwords
      .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
      .mkString(", ")
    Q("q282_stopword_coverage",
      Some(s"""
        |WITH t AS (
        |  SELECT lang, unnest(${sqlTokens("text")}) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |sw AS (SELECT * FROM (VALUES $swRows) AS v(lang, w)),
        |m AS (
        |  SELECT t.lang, count(*) AS n_tokens,
        |         sum(CASE WHEN sw.w IS NOT NULL THEN 1 ELSE 0 END)
        |           AS n_stop
        |  FROM t LEFT JOIN sw ON t.lang = sw.lang AND t.w = sw.w
        |  GROUP BY t.lang)
        |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_stop AS BIGINT) AS n_stop,
        |       CAST((1000000 * n_stop) // n_tokens AS BIGINT) AS stop_ppm
        |FROM m ORDER BY lang
        |""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val sw = TextAnalysis.LangStopwords
        .flatMap { case (l, ws) => ws.map(w => (l, w)) }
        .toDF("__sw_lang", "__sw_w")
      Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .join(broadcast(sw),
          col("lang") === col("__sw_lang") && col("w") === col("__sw_w"),
          "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__sw_w").isNotNull, 1L).otherwise(0L)).as("n_stop"))
        .withColumn("stop_ppm", expr("(1000000 * n_stop) div n_tokens"))
        .orderBy(col("lang"))
    }
  }

  /** The rank-window SQL family in one face — ntile quartiles,
    * percent_rank, cume_dist per market segment over account balance
    * (custkey tie-break makes every rank total, so ntile's bucket
    * boundaries and both rationals are deterministic cross-engine;
    * the rationals floor-quantize to ppm). Segment-partitioned
    * windows — the parallel shape. */
  def q283: Q = Q(
    "q283_rank_window_family",
    Some("""
      |SELECT c_mktsegment AS segment, c_custkey,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       CAST(floor(CAST(percent_rank() OVER w AS DECIMAL(18,9))
      |            * 1000000) AS BIGINT) AS pr_ppm,
      |       CAST(floor(CAST(cume_dist() OVER w AS DECIMAL(18,9))
      |            * 1000000) AS BIGINT) AS cd_ppm
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY c_acctbal, c_custkey)
      |ORDER BY segment, c_custkey
      |""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c.cast("decimal(18,9)") * 1000000).cast("long")
    Tables.customer(s, dir)
      .select(col("c_mktsegment").as("segment"), col("c_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        q6(percent_rank().over(w)).as("pr_ppm"),
        q6(cume_dist().over(w)).as("cd_ppm"))
      .orderBy(col("segment"), col("c_custkey"))
  }

  /** Inter-label embedding-centroid cosine matrix: per-label summed
    * milli-quantized vectors (integer-exact — per-element floor(v·1000)
    * before any sum, so the reduction is order-free), then all label
    * pairs' cosines from exact integer dot/norm sums with ONE final
    * double division, floor-quantized to milli. Cosine of sums equals
    * cosine of centroids (scale-invariant), so no division per dim.
    * The label-confusability map for an embedding audit. */
  def q284: Q = Q(
    "q284_label_centroid_cosine",
    Some("""
      |WITH q AS (
      |  SELECT label, u.d AS dim,
      |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 1000)
      |              AS BIGINT) AS q
      |  FROM embeddings, unnest(range(0, 64)) AS u(d)),
      |s AS (SELECT label, dim, sum(q) AS s FROM q GROUP BY 1, 2),
      |p AS (
      |  SELECT a.label AS la, b.label AS lb,
      |         sum(CAST(a.s AS HUGEINT) * b.s) AS dot,
      |         sum(CAST(a.s AS HUGEINT) * a.s) AS na2,
      |         sum(CAST(b.s AS HUGEINT) * b.s) AS nb2
      |  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
      |       CAST(dot AS BIGINT) AS dot,
      |       CASE WHEN na2 > 0 AND nb2 > 0 THEN
      |         CAST(floor(CAST(CAST(dot AS DOUBLE)
      |              / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |              AS DECIMAL(18,9)) * 1000) AS BIGINT)
      |       END AS cos_milli
      |FROM p ORDER BY label_a, label_b
      |""".stripMargin)) { (s, dir) =>
    val d38 = "decimal(38,0)"
    val q = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        floor(col("v").cast("double") * 1000).cast("long").as("q"))
    val sums = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("s"))
      .materialize() // the label×dim dim feeds both join sides
    // self-join of a derived frame: rename the right side outright
    val b = sums.select(col("label").as("__lb"), col("dim").as("__bdim"),
      col("s").as("__bs"))
    sums.join(b, col("dim") === col("__bdim") && col("label") < col("__lb"))
      .groupBy(col("label").as("label_a"), col("__lb").as("label_b"))
      .agg(sum(col("s").cast(d38) * col("__bs")).cast(d38).as("__dot"),
        sum(col("s").cast(d38) * col("s")).cast(d38).as("__na2"),
        sum(col("__bs").cast(d38) * col("__bs")).cast(d38).as("__nb2"))
      .select(col("label_a"), col("label_b"),
        col("__dot").cast("long").as("dot"),
        when(col("__na2") > 0 && col("__nb2") > 0,
          floor((col("__dot").cast("double") /
            (sqrt(col("__na2").cast("double")) *
              sqrt(col("__nb2").cast("double"))))
            .cast("decimal(18,9)") * 1000).cast("long"))
          .as("cos_milli"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** KMV distinct sketch vs exact (operators/KmvSketch): per source
    * the k=8 minimum-hash estimate next to the true distinct token
    * count with its error in ppm — the third cardinality estimator
    * (HLL q143, LinearCount q135) with the exact-auditable k-row
    * summary contract; the oracle replays hash, order statistic, and
    * the one pinned double division verbatim. */
  def q285: Q = {
    val k = 8
    Q("q285_kmv_distinct",
      Some(s"""
        |WITH t AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(${sqlTokens("text")}) AS w
        |    FROM documents WHERE text IS NOT NULL)),
        |h AS (
        |  SELECT source, w, (${sqlSaltedHash("w", "kmv")}) AS h
        |  FROM t),
        |hd AS (SELECT DISTINCT source, h FROM h),
        |r AS (
        |  SELECT source, h,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY h) AS rn
        |  FROM hd),
        |kth AS (SELECT source, h AS kth FROM r WHERE rn = $k),
        |ex AS (SELECT source, count(*) AS exact FROM t GROUP BY source),
        |e AS (
        |  SELECT ex.source, ex.exact,
        |         ${graft.operators.KmvSketch.sqlEstimate("kth.kth", "ex.exact", k)}
        |           AS est
        |  FROM ex LEFT JOIN kth ON ex.source = kth.source)
        |SELECT source, CAST(exact AS BIGINT) AS exact_distinct,
        |       CAST(est AS BIGINT) AS kmv_estimate,
        |       CAST((1000000 * abs(est - exact)) // exact AS BIGINT)
        |         AS err_ppm
        |FROM e ORDER BY source
        |""".stripMargin)) { (s, dir) =>
      graft.operators.KmvSketch.estimate(
          Tables.documents(s, dir)
            .where(col("text").isNotNull)
            .select(col("source"),
              explode(TextAnalysis.tokens(col("text"))).as("w")),
          keys = Seq("source"), valueCol = "w", k = k, salt = "kmv")
        .select(col("source"),
          col("exact_distinct"),
          col("kmv_estimate"),
          expr("(1000000 * abs(kmv_estimate - exact_distinct)) " +
            "div exact_distinct").as("err_ppm"))
        .orderBy(col("source"))
    }
  }
}
