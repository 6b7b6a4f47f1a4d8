package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables
import graft.text.TextAnalysis
import PipelineQueries.{sqlInList, sqlTokens}

/** Round-7 curation wave: the filter-cascade attrition funnel, bigram
  * repetition shares, positional stopword structure, and the two
  * embedding-quality evaluations (centroid silhouette, sampled 1-NN
  * accuracy) a training-data pipeline runs before committing a corpus
  * or an embedding space. Text flags are single-scan array-local
  * expressions; embedding math happens in the q284 milli-quantized
  * integer domain so every sum is exact in both engines.
  */
object CurationQueries {

  val all: Seq[Q] = Seq(q331, q332, q333, q334, q335, q341, q344, q349,
    q352, q354, q362, q363, q377, q379, q386, q389)

  /** Jensen-Shannon divergence between source unigram distributions —
    * the symmetric, bounded distribution distance next to q362's
    * Burrows Delta. Frequencies are zero-filled ppm integers; every
    * p·ln(2p/(p+q)) term is floor-milli-quantized BEFORE the vocab sum
    * (the PSI discipline), so the pair matrix is exact. */
  def q386: Q = Q(
    "q386_js_divergence_matrix",
    Some(s"""
      |WITH $sqlSourceFreqCtes,
      |d AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         sum(${jsTermSql("a.f", "b.f")}
      |             + ${jsTermSql("b.f", "a.f")}) AS s2
      |  FROM f a JOIN f b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, CAST(s2 // 2 AS BIGINT) AS js_scaled
      |FROM d ORDER BY src_a, src_b
      |""".stripMargin)) { (s, dir) =>
    val f = sourceFreqPpm(s, dir) // zero-filled dim feeds both legs
    f.join(f.select(col("source").as("src_b"), col("w").as("__bw"),
        col("f").as("__bf")),
        col("w") === col("__bw") && col("source") < col("src_b"))
      .groupBy(col("source").as("src_a"), col("src_b"))
      .agg(sum(expr(jsTermSql("f", "__bf"))
        + expr(jsTermSql("__bf", "f"))).as("s2"))
      .select(col("src_a"), col("src_b"),
        expr("s2 div 2").as("js_scaled"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Diagonal-covariance Mahalanobis outliers: the 10 embedding
    * vectors farthest from the corpus in per-dimension-standardized
    * distance. Means and variances stay in the exact n-scaled integer
    * domain ((n·x−S)²/V per dim); each dim's term is floor-micro-
    * quantized before the 64-term sum. */
  def q389: Q = Q(
    "q389_mahalanobis_outliers",
    Some("""
      |WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, u.d AS dim,
      |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 1000)
      |              AS BIGINT) AS qv
      |  FROM embeddings, unnest(range(0, 64)) AS u(d)),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |st AS (
      |  SELECT dim, sum(qv) AS s1, sum(qv * qv) AS s2 FROM q GROUP BY 1),
      |v AS (
      |  SELECT st.dim, st.s1, n.n * st.s2 - st.s1 * st.s1 AS vd
      |  FROM st CROSS JOIN n),
      |md AS (
      |  SELECT q.vec_id, q.label,
      |         sum(CAST(floor(1000000.0
      |           * CAST((n.n * q.qv - v.s1) * (n.n * q.qv - v.s1)
      |                  AS DOUBLE)
      |           / CAST(v.vd AS DOUBLE)) AS BIGINT)) AS md2_micro
      |  FROM q JOIN v ON q.dim = v.dim CROSS JOIN n
      |  WHERE v.vd > 0
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY md2_micro DESC, vec_id)
      |           AS rank
      |  FROM md)
      |SELECT CAST(rank AS BIGINT) AS rank, vec_id, label,
      |       CAST(md2_micro AS BIGINT) AS md2_micro
      |FROM r WHERE rank <= 10 ORDER BY rank
      |""".stripMargin)) { (s, dir) =>
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "vv")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("vv").cast("double") * 1000).cast("long").as("qv"))
      .materialize() // element pass feeds the moments AND the distance
    val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n"))
    val v = q.groupBy(col("dim"))
      .agg(sum(col("qv")).as("s1"), sum(col("qv") * col("qv")).as("s2"))
      .crossJoin(broadcast(n))
      .select(col("dim"), col("s1"),
        (col("n") * col("s2") - col("s1") * col("s1")).as("vd"))
    q.join(broadcast(v), Seq("dim")).crossJoin(broadcast(n))
      .where(col("vd") > 0)
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(expr("CAST(floor(1000000.0 " +
        "* CAST((n * qv - s1) * (n * qv - s1) AS DOUBLE) " +
        "/ CAST(vd AS DOUBLE)) AS BIGINT)")).as("md2_micro"))
      // top-10 via orderBy().limit → TakeOrderedAndProject (per-partition
      // bounded heaps, driver merge of 10-row tops) — NEVER a global
      // row_number window, which would sort the whole vec dim in one
      // task; the rank window then runs over the 10-row result only
      .orderBy(col("md2_micro").desc, col("vec_id"))
      .limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("md2_micro").desc, col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("label"), col("md2_micro"))
      .orderBy(col("rank"))
  }

  /** SimHash bit-balance audit: per signature bit, the share of
    * documents with the bit set — a healthy hash sits near 50%; a
    * biased bit weakens every Hamming distance built on it (the
    * sketch-infrastructure health check behind q29/q157). One
    * signature pass, then a 32-row bit dim. */
  def q377: Q = Q(
    "q377_simhash_bit_balance",
    Some(s"""
      |WITH t AS (SELECT doc_id,
      |    list_transform(${sqlTokens("text")}, w ->
      |      ${PipelineQueries.sqlCharFold("w")}) AS hs
      |  FROM documents),
      |sh AS (SELECT doc_id, ${PipelineQueries.sqlSimhash("hs")}
      |         AS simhash FROM t),
      |n AS (SELECT count(*) AS n FROM sh),
      |b AS (
      |  SELECT u.b AS bit, sum((simhash >> CAST(u.b AS INTEGER)) % 2)
      |           AS n_set
      |  FROM sh, unnest(range(0, 32)) AS u(b) GROUP BY 1)
      |SELECT CAST(bit AS BIGINT) AS bit, CAST(n_set AS BIGINT) AS n_set,
      |       CAST((1000000 * n_set) // n.n AS BIGINT) AS set_ppm,
      |       CAST(abs((1000000 * n_set) // n.n - 500000) AS BIGINT)
      |         AS bias_ppm
      |FROM b CROSS JOIN n ORDER BY bit
      |""".stripMargin)) { (s, dir) =>
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.dedup.Dedup.simHash(col("text")).as("simhash"))
      .materialize() // signature dim feeds the count AND the bit cross
    val n = sh.agg(count(lit(1)).as("n"))
    sh.select(col("simhash"),
        explode(sequence(lit(0), lit(31))).as("bit"))
      .groupBy(col("bit"))
      .agg(sum(expr("(simhash >> CAST(bit AS INT)) % 2")).as("n_set"))
      .crossJoin(broadcast(n))
      .select(col("bit").cast("long").as("bit"), col("n_set"),
        expr("(1000000 * n_set) div n").as("set_ppm"),
        expr("abs((1000000 * n_set) div n - 500000)").as("bias_ppm"))
      .orderBy(col("bit"))
  }

  /** Bag-of-words duplicate detection: documents whose SORTED token
    * multiset is identical (template/paraphrase shuffles that exact-
    * text dedup misses), contrasted with exact-text duplicates. The
    * canonical key is the sorted token join — computed per row, never
    * a set comparison join. */
  def q379: Q = Q(
    "q379_bag_of_words_duplicates",
    Some(s"""
      |WITH k AS (
      |  SELECT doc_id, text,
      |         array_to_string(list_sort(${sqlTokens("text")}), ' ')
      |           AS bow
      |  FROM documents),
      |bg AS (SELECT bow, count(*) AS n FROM k GROUP BY 1),
      |tg AS (SELECT text, count(*) AS n FROM k GROUP BY 1)
      |SELECT CAST((SELECT count(*) FROM k) AS BIGINT) AS n_docs,
      |       CAST((SELECT count(*) FROM bg) AS BIGINT) AS bow_groups,
      |       CAST((SELECT coalesce(sum(n), 0) FROM bg WHERE n > 1)
      |            AS BIGINT) AS bow_dup_docs,
      |       CAST((SELECT coalesce(max(n), 0) FROM bg) AS BIGINT)
      |         AS largest_bow_group,
      |       CAST((SELECT coalesce(sum(n), 0) FROM tg WHERE n > 1)
      |            AS BIGINT) AS exact_dup_docs
      |""".stripMargin)) { (s, dir) =>
    val k = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        array_join(array_sort(TextAnalysis.tokens(col("text"))), " ")
          .as("bow"))
      .materialize() // doc dim feeds both group passes
    val bg = k.groupBy(col("bow")).agg(count(lit(1)).as("n"))
      .materialize()
    val tg = k.groupBy(col("text")).agg(count(lit(1)).as("n"))
    val a = k.agg(count(lit(1)).as("n_docs"))
    val b = bg.agg(count(lit(1)).as("bow_groups"),
      coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
        .as("bow_dup_docs"),
      coalesce(max(col("n")), lit(0L)).as("largest_bow_group"))
    val c = tg.agg(coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
      .as("exact_dup_docs"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
  }

  /** Burrows' Delta stylometric distance between sources: per-token
    * ppm frequencies (zero-filled over the source×token cross — a
    * missing token IS a stylistic signal), per-token z-scores via the
    * exact identity (n·f − Σf)/√(n·Σf² − (Σf)²) — ONE pinned double
    * per cell, milli-floored — then the mean |z_a − z_b| per source
    * pair. The whole computation runs on the sources×vocab dim. */
  def q362: Q = {
    val zExpr = "CAST(floor(1000.0 * (ns * f - s1) " +
      "/ sqrt(CAST(ns * s2 - s1 * s1 AS DOUBLE))) AS BIGINT)"
    Q("q362_burrows_delta",
      Some(s"""
        |WITH $sqlSourceFreqCtes,
        |st AS (
        |  SELECT w, count(*) AS ns, sum(f) AS s1, sum(f * f) AS s2
        |  FROM f GROUP BY 1),
        |z AS (
        |  SELECT f.source, f.w, $zExpr AS z
        |  FROM f JOIN st USING (w)
        |  WHERE st.ns * st.s2 - st.s1 * st.s1 > 0),
        |d AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         count(*) AS n_tokens, sum(abs(a.z - b.z)) AS sad
        |  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(sad // n_tokens AS BIGINT) AS delta_milli
        |FROM d ORDER BY src_a, src_b
        |""".stripMargin)) { (s, dir) =>
      val f = sourceFreqPpm(s, dir) // shared zero-filled freq dim
      val st = f.groupBy(col("w"))
        .agg(count(lit(1)).as("ns"), sum(col("f")).as("s1"),
          sum(col("f") * col("f")).as("s2"))
      val z = f.join(broadcast(st), Seq("w"))
        .where(col("ns") * col("s2") - col("s1") * col("s1") > 0)
        .select(col("source"), col("w"), expr(zExpr).as("z"))
        .materialize() // z dim feeds both legs of the pair join
      z.join(z.select(col("source").as("src_b"), col("w").as("__bw"),
          col("z").as("__bz")),
          col("w") === col("__bw") && col("source") < col("src_b"))
        .groupBy(col("source").as("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(abs(col("z") - col("__bz"))).as("sad"))
        .select(col("src_a"), col("src_b"), col("n_tokens"),
          expr("sad div n_tokens").as("delta_milli"))
        .orderBy(col("src_a"), col("src_b"))
    }
  }

  /** One-way ANOVA F statistic of embedding norms across labels —
    * "are the label clusters at different radii". Norms are exact
    * integers (milli-quantized elements); group/total means truncate
    * at integer scale so every squared deviation is an exact long;
    * the F ratio is ONE pinned double expression. */
  def q363: Q = {
    val fExpr = "CASE WHEN ssw > 0 AND k > 1 AND n > k THEN " +
      "CAST(floor(1000.0 * (CAST(sst - ssw AS DOUBLE) " +
      "* CAST(n - k AS DOUBLE)) / (CAST(ssw AS DOUBLE) " +
      "* CAST(k - 1 AS DOUBLE))) AS BIGINT) END"
    Q("q363_norm_anova",
      Some(s"""
        |WITH x AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(list_sum(list_transform(embedding, v ->
        |           CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)
        |           * CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)))
        |           AS BIGINT) AS norm2
        |  FROM embeddings),
        |t AS (SELECT count(*) AS n, sum(norm2) // count(*) AS tm FROM x),
        |g AS (
        |  SELECT label, sum(norm2) // count(*) AS gm
        |  FROM x GROUP BY 1),
        |ss AS (
        |  SELECT t.n, (SELECT count(*) FROM g) AS k,
        |         sum((x.norm2 - t.tm) * (x.norm2 - t.tm)) AS sst,
        |         sum((x.norm2 - g.gm) * (x.norm2 - g.gm)) AS ssw
        |  FROM x JOIN g USING (label) CROSS JOIN t
        |  GROUP BY t.n)
        |SELECT CAST(n AS BIGINT) AS n_vecs, CAST(k AS BIGINT) AS n_labels,
        |       CAST(sst AS BIGINT) AS sst, CAST(ssw AS BIGINT) AS ssw,
        |       $fExpr AS f_milli
        |FROM ss
        |""".stripMargin)) { (s, dir) =>
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          aggregate(transform(col("embedding"),
              v => floor(v.cast("double") * 1000).cast("long")),
            lit(0L), (acc, q) => acc + q * q).as("norm2"))
        .materialize() // vec dim feeds the totals AND the deviations
      val t = x.agg(count(lit(1)).as("n"),
        expr("sum(norm2) div count(1)").as("tm"))
      val g = x.groupBy(col("label"))
        .agg(expr("sum(norm2) div count(1)").as("gm"))
        .materialize()
      val k = g.agg(count(lit(1)).as("k"))
      x.join(broadcast(g), Seq("label"))
        .crossJoin(broadcast(t)).crossJoin(broadcast(k))
        .groupBy(col("n"), col("k"))
        .agg(sum((col("norm2") - col("tm")) * (col("norm2") - col("tm")))
            .as("sst"),
          sum((col("norm2") - col("gm")) * (col("norm2") - col("gm")))
            .as("ssw"))
        .select(col("n").as("n_vecs"), col("k").as("n_labels"),
          col("sst"), col("ssw"), expr(fExpr).as("f_milli"))
    }
  }

  /** Character-trigram language signatures: per declared language the
    * top-3 trigrams by lift vs the whole corpus (min support 20) — the
    * char-n-gram modality under every compact language-ID model
    * (q313's stopword ID works at the token level; this is the level
    * below). Lift numerators ride DECIMAL/HUGEINT (c_l·total overflows
    * a long at scale); ranking is a per-lang top-3 window over the
    * pruned trigram dim. */
  def q352: Q = Q(
    "q352_char_trigram_lang_signatures",
    Some("""
      |WITH t AS (
      |  SELECT lang, u.tg FROM documents,
      |    unnest(list_transform(range(1, greatest(n_chars - 2, 0) + 1),
      |      i -> substr(text, CAST(i AS INTEGER), 3))) AS u(tg)),
      |cs AS (SELECT lang, tg, count(*) AS c_l FROM t GROUP BY 1, 2),
      |lt AS (SELECT lang, sum(c_l) AS tot_l FROM cs GROUP BY 1),
      |g AS (SELECT tg, sum(c_l) AS c FROM cs GROUP BY 1),
      |tot AS (SELECT sum(c_l) AS total FROM cs),
      |lift AS (
      |  SELECT cs.lang, cs.tg, cs.c_l,
      |         CAST((1000000 * CAST(cs.c_l AS HUGEINT) * tot.total)
      |              // (CAST(g.c AS HUGEINT) * lt.tot_l) AS BIGINT)
      |           AS lift_ppm
      |  FROM cs JOIN g USING (tg) JOIN lt USING (lang) CROSS JOIN tot
      |  WHERE cs.c_l >= 20),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |           ORDER BY lift_ppm DESC, tg) AS rank
      |  FROM lift)
      |SELECT lang, CAST(rank AS BIGINT) AS rank, tg AS trigram,
      |       CAST(c_l AS BIGINT) AS n_occurrences, lift_ppm
      |FROM r WHERE rank <= 3 ORDER BY lang, rank
      |""".stripMargin)) { (s, dir) =>
    val d38 = "decimal(38,0)"
    val tgs = Tables.documents(s, dir)
      .where(col("n_chars") >= 3) // ≡ the oracle's empty-list docs
      .select(col("lang"),
        explode(expr("transform(sequence(1, CAST(n_chars AS INT) - 2), " +
          "i -> substring(text, i, 3))")).as("tg"))
      .groupBy(col("lang"), col("tg")).agg(count(lit(1)).as("c_l"))
      .materialize() // lang×trigram dim feeds all totals + the rank
    val lt = tgs.groupBy(col("lang")).agg(sum(col("c_l")).as("tot_l"))
    val g = tgs.groupBy(col("tg")).agg(sum(col("c_l")).as("c"))
    val tot = tgs.agg(sum(col("c_l")).as("total"))
    tgs.where(col("c_l") >= 20)
      .join(broadcast(g), Seq("tg"))
      .join(broadcast(lt), Seq("lang"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("tg"), col("c_l"),
        expr(s"CAST((1000000 * CAST(c_l AS $d38) * total) div " +
          s"(CAST(c AS $d38) * tot_l) AS BIGINT)").as("lift_ppm"))
      .transform(graft.plans.GroupedTopK.topKPerKey(_, Seq("lang"),
        Seq("lift_ppm" -> false, "tg" -> true), k = 3, rankCol = Some("rank")))
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("tg").as("trigram"), col("c_l").as("n_occurrences"),
        col("lift_ppm"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Distributed top-eigenvector of the embedding covariance by THREE
    * fixed power-iteration rounds — PCA's first axis without any
    * linear-algebra library. The scatter matrix C = n·Σxy − Σx·Σy
    * lives in exact centi-quantized integers (64² entries, broadcast);
    * each round is an integer matrix-vector product rescaled by
    * truncating division (DuckDB // and Spark div agree on negatives
    * — both truncate toward zero); the Rayleigh quotient is ONE
    * decimal integral divide. Only the moment sums touch fact-scale
    * data. */
  def q354: Q = {
    // DuckDB // and Spark div both truncate toward zero, so the
    // signed rescale divides agree without any guard
    val iterCtes = (1 to 3).map { i =>
      s"""u$i AS (
         |  SELECT c.di, sum(c.cv * v.v) AS u
         |  FROM cmat c JOIN v${i - 1} v ON c.dj = v.di
         |  GROUP BY 1),
         |m$i AS (SELECT max(abs(u)) AS m FROM u$i),
         |v$i AS (
         |  SELECT u.di, (1000 * u.u) // m.m AS v
         |  FROM u$i u CROSS JOIN m$i m)""".stripMargin
    }.mkString(",\n")
    Q("q354_covariance_power_iteration",
      Some(s"""
        |WITH q AS (
        |  SELECT vec_id, u.d AS dim,
        |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 100)
        |              AS BIGINT) AS qv
        |  FROM embeddings, unnest(range(0, 64)) AS u(d)),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |s1 AS (SELECT dim, sum(qv) AS s FROM q GROUP BY 1),
        |s2 AS (
        |  SELECT a.dim AS di, b.dim AS dj, sum(a.qv * b.qv) AS sxy
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |cmat AS (
        |  SELECT s2.di, s2.dj, n.n * s2.sxy - sa.s * sb.s AS cv
        |  FROM s2 JOIN s1 sa ON s2.di = sa.dim
        |       JOIN s1 sb ON s2.dj = sb.dim CROSS JOIN n),
        |v0 AS (SELECT dim AS di, CAST(1000 AS BIGINT) AS v FROM s1),
        |$iterCtes,
        |ray AS (
        |  SELECT CAST(sum(CAST(va.v AS HUGEINT) * c.cv * vb.v)
        |              // sum(CASE WHEN c.di = c.dj
        |                   THEN CAST(va.v AS HUGEINT) * vb.v END)
        |           AS BIGINT) AS rayleigh
        |  FROM cmat c JOIN v3 va ON c.di = va.di
        |       JOIN v3 vb ON c.dj = vb.di)
        |SELECT CAST(v3.di AS BIGINT) AS dim,
        |       CAST(v3.v AS BIGINT) AS loading_milli,
        |       ray.rayleigh
        |FROM v3 CROSS JOIN ray ORDER BY dim
        |""".stripMargin)) { (s, dir) =>
      val q = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("dim", "vv")))
        .select(col("vec_id"), col("dim"),
          floor(col("vv").cast("double") * 100).cast("long").as("qv"))
        .materialize() // moment source for s1 AND the self-join s2
      val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n"))
      val s1 = q.groupBy(col("dim")).agg(sum(col("qv")).as("s"))
      val s2 = q.select(col("vec_id"), col("dim").as("di"),
          col("qv").as("qa"))
        .join(q.select(col("vec_id"), col("dim").as("dj"),
          col("qv").as("qb")), Seq("vec_id"))
        .groupBy(col("di"), col("dj"))
        .agg(sum(col("qa") * col("qb")).as("sxy"))
      val cmat = s2
        .join(broadcast(s1.select(col("dim").as("di"), col("s").as("sa"))),
          Seq("di"))
        .join(broadcast(s1.select(col("dim").as("dj"), col("s").as("sb"))),
          Seq("dj"))
        .crossJoin(broadcast(n))
        .select(col("di"), col("dj"),
          (col("n") * col("sxy") - col("sa") * col("sb")).as("cv"))
        .materialize() // 64² dim reused by all 3 rounds + Rayleigh
      var v = s1.select(col("dim").as("di"), lit(1000L).as("v"))
      for (_ <- 1 to 3) {
        val u = cmat.join(broadcast(v.select(col("di").as("dj"),
            col("v").as("vj"))), Seq("dj"))
          .groupBy(col("di")).agg(sum(col("cv") * col("vj")).as("u"))
        val m = u.agg(max(abs(col("u"))).as("m"))
        v = u.crossJoin(broadcast(m))
          .select(col("di"), expr("(1000 * u) div m").as("v"))
      }
      val vm = v.materialize() // final direction feeds Rayleigh twice
      val d38 = "decimal(38,0)"
      val ray = cmat
        .join(broadcast(vm.select(col("di"), col("v").as("va"))), Seq("di"))
        .join(broadcast(vm.select(col("di").as("dj"), col("v").as("vb"))),
          Seq("dj"))
        .agg(expr(s"CAST(sum(CAST(va AS $d38) * cv * vb) div " +
          s"sum(CASE WHEN di = dj THEN CAST(va AS $d38) * vb END) " +
          "AS BIGINT)").as("rayleigh"))
      vm.crossJoin(broadcast(ray))
        .select(col("di").cast("long").as("dim"),
          col("v").as("loading_milli"), col("rayleigh"))
        .orderBy(col("dim"))
    }
  }

  /** Length ↔ repetition correlation: Pearson between a document's
    * char length and its duplicate-bigram count — "are long docs the
    * repetitive ones" (decides whether a length filter subsumes a
    * repetition filter). All sums are exact integers; the shared
    * sqlPearsonMilli fragment does the one guarded double divide. */
  def q349: Q = Q(
    "q349_length_repetition_correlation",
    Some(s"""
      |WITH t AS (
      |  SELECT n_chars AS x,
      |         greatest(len(${sqlTokens("text")}) - 1, 0)
      |           - len(list_distinct(list_transform(
      |               range(1, greatest(len(${sqlTokens("text")}) - 1, 0) + 1),
      |               i -> (${sqlTokens("text")})[i] || ' '
      |                    || (${sqlTokens("text")})[i + 1]))) AS y
      |  FROM documents),
      |agg AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      |  FROM t)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       ${PipelineQueries.sqlPearsonMilli(
                 "n", "sx", "sy", "sxx", "syy", "sxy")} AS r_milli
      |FROM agg
      |""".stripMargin)) { (s, dir) =>
    val bg = graft.functions.SketchExprs.shingles(col("text"), 2)
    Tables.documents(s, dir)
      .select(col("n_chars").as("x"),
        (size(bg) - size(array_distinct(bg))).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_docs"),
        expr(PipelineQueries.sqlPearsonMilli(
          "n", "sx", "sy", "sxx", "syy", "sxy")).as("r_milli"))
  }

  /** Stopword language purity per declared language: of all stopword
    * hits in a language's documents, how many belong to the DECLARED
    * language's list vs any other list — the cross-lingual
    * contamination signal behind q313's confusion matrix (and a probe
    * of list overlap: 'un' is French AND Spanish). One scan,
    * array-local hit counts. */
  def q341: Q = {
    val ownCase = TextAnalysis.LangStopwords.map { case (lang, _) =>
      s"WHEN lang = '$lang' THEN s_$lang"
    }.mkString("CASE ", " ", " ELSE 0 END")
    val totalHits = TextAnalysis.LangStopwords
      .map { case (lang, _) => s"s_$lang" }.mkString(" + ")
    Q("q341_stopword_lang_purity",
      Some(s"""
        |WITH t AS (
        |  SELECT lang, ${sqlTokens("text")} AS toks FROM documents),
        |h AS (SELECT lang, $sqlLangHits FROM t),
        |p AS (
        |  SELECT lang, $ownCase AS own,
        |         ($totalHits) - ($ownCase) AS other
        |  FROM h)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(own) AS BIGINT) AS own_hits,
        |       CAST(sum(other) AS BIGINT) AS other_hits,
        |       CAST((1000000 * sum(own))
        |            // nullif(sum(own) + sum(other), 0)
        |            AS BIGINT) AS purity_ppm
        |FROM p GROUP BY 1 ORDER BY 1
        |""".stripMargin)) { (s, dir) =>
      val toks = TextAnalysis.tokens(col("text"))
      val hits = TextAnalysis.LangStopwords.map { case (lang, words) =>
        lang -> size(filter(toks, t => t.isin(words: _*))).cast("long")
      }
      val own = hits.foldRight(lit(0L)) { case ((lang, h), rest) =>
        when(col("lang") === lang, h).otherwise(rest)
      }
      val total = hits.map(_._2).reduce(_ + _)
      Tables.documents(s, dir)
        .select(col("lang"), own.as("own"), (total - own).as("other"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("own")).as("own_hits"),
          sum(col("other")).as("other_hits"))
        .select(col("lang"), col("n_docs"), col("own_hits"),
          col("other_hits"),
          expr("(1000000 * own_hits) div nullif(own_hits + other_hits, 0)")
            .as("purity_ppm"))
        .orderBy(col("lang"))
    }
  }

  /** Quantization sensitivity of nearest-neighbor ranking: top-10
    * overlap between milli (×1000) and centi (×100) quantized exact
    * d² rankings for every 5th vector — "how much ANN recall does a
    * coarser codebook cost", the q61/q344 pair. Both rankings live in
    * exact integer domains (no raw-double ordering crosses an engine
    * boundary); output is the overlap histogram. */
  def q344: Q = {
    // FIXED-SIZE query sample (the 100 lowest vec_ids), not a `% k`
    // rate: a rate sample grows the pair count O(N²/k) with the
    // corpus, a cap keeps it O(100·N) at every scale
    val nQueries = 100
    def sqlTop(scale: Int, name: String) = s"""
      |e_$name AS (
      |  SELECT vec_id, list_transform(embedding, v ->
      |    CAST(floor(CAST(v AS DOUBLE) * $scale) AS BIGINT)) AS qe
      |  FROM embeddings),
      |q_$name AS (SELECT * FROM e_$name ORDER BY vec_id LIMIT $nQueries),
      |p_$name AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           (q.qe[i] - c.qe[i]) * (q.qe[i] - c.qe[i]))) AS BIGINT)
      |           AS d2
      |  FROM q_$name q JOIN e_$name c ON c.vec_id <> q.vec_id),
      |t_$name AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |      ORDER BY d2, cid) AS rn FROM p_$name)
      |  WHERE rn <= 10)""".stripMargin
    Q("q344_quantization_recall",
      Some(s"""
        |WITH ${sqlTop(1000, "m")},
        |${sqlTop(100, "c")},
        |ov AS (
        |  SELECT m.qid, count(c.cid) AS overlap
        |  FROM t_m m LEFT JOIN t_c c ON m.qid = c.qid AND m.cid = c.cid
        |  GROUP BY 1)
        |SELECT CAST(overlap AS BIGINT) AS overlap,
        |       CAST(count(*) AS BIGINT) AS n_queries
        |FROM ov GROUP BY 1 ORDER BY 1
        |""".stripMargin)) { (s, dir) =>
      // scale shape: broadcast the CAPPED query sample and STREAM the
      // corpus past it (never broadcast(corpus) — no executor holds
      // the embedding table at 100×); both quantized distances ride
      // the native integer kernel (one virtual call per pair, exact —
      // 64-bit integer math in any fold order), and the per-query
      // top-10s run through GroupedTopK's bounded heaps, never a full
      // per-qid sort
      def quant(scale: Int, c: org.apache.spark.sql.Column) =
        transform(c, v => floor(v.cast("double") * scale).cast("long"))
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), quant(1000, col("embedding")).as("qm"),
          quant(100, col("embedding")).as("qc"))
      val qq = e.orderBy(col("vec_id")).limit(nQueries)
        .select(col("vec_id").as("qid"), col("qm").as("qqm"),
          col("qc").as("qqc"))
      import graft.functions.SketchExprs.sqEuclideanLong
      val pairs = e.select(col("vec_id").as("cid"), col("qm").as("cqm"),
          col("qc").as("cqc"))
        .join(broadcast(qq), col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          sqEuclideanLong(col("qqm"), col("cqm")).as("dm"),
          sqEuclideanLong(col("qqc"), col("cqc")).as("dc"))
        .materialize() // both rankings read the same pair frame
      def top(dcol: String): org.apache.spark.sql.DataFrame =
        graft.plans.GroupedTopK.topKPerKey(pairs, Seq("qid"),
            Seq((dcol, true), ("cid", true)), 10)
          .select(col("qid"), col("cid"))
      val tm = top("dm")
      val tc = top("dc").select(col("qid").as("cqid"), col("cid").as("ccid"))
      tm.join(tc, col("qid") === col("cqid") && col("cid") === col("ccid"),
          "left")
        .groupBy(col("qid"))
        .agg(count(col("ccid")).as("overlap"))
        .groupBy(col("overlap"))
        .agg(count(lit(1)).as("n_queries"))
        .orderBy(col("overlap"))
    }
  }

  /** ONE JS-divergence term text, valid in both engines — the
    * sqlPearsonMilli discipline: oracle and Spark interpolate the same
    * string so the quantization can never drift. */
  private def jsTermSql(p: String, q: String): String =
    s"CASE WHEN $p > 0 THEN CAST(floor(CAST(" +
      s"CAST($p AS DOUBLE) * ln((2.0 * CAST($p AS DOUBLE)) " +
      s"/ (CAST($p AS DOUBLE) + CAST($q AS DOUBLE))) " +
      s"AS DECIMAL(28,6)) * 1000) AS BIGINT) ELSE 0 END"

  /** Zero-filled per-source token frequencies in ppm — the shared
    * semantic core of the stylometry pair (q362 Burrows, q386 JS): a
    * token ABSENT from a source is a 0-ppm row, not a missing one. */
  private def sqlSourceFreqCtes: String =
    s"""tok AS (
       |  SELECT source, unnest(${sqlTokens("text")}) AS w
       |  FROM documents),
       |cs AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
       |tot AS (SELECT source, sum(c) AS t FROM cs GROUP BY 1),
       |vocab AS (SELECT DISTINCT w FROM cs),
       |f AS (
       |  SELECT tot.source, vocab.w,
       |         (1000000 * coalesce(cs.c, 0)) // tot.t AS f
       |  FROM tot CROSS JOIN vocab
       |  LEFT JOIN cs ON cs.source = tot.source AND cs.w = vocab.w)"""
      .stripMargin

  /** Spark side of [[sqlSourceFreqCtes]]: the zero-filled (source, w,
    * f[ppm]) dim, materialized (every caller reads it at least
    * twice). */
  private def sourceFreqPpm(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cs = Tables.documents(s, dir)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .materialize()
    val tot = cs.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val vocab = cs.select(col("w")).distinct()
    tot.crossJoin(broadcast(vocab))
      .join(cs.select(col("source").as("__cs"), col("w").as("__cw"),
          col("c")),
        col("source") === col("__cs") && col("w") === col("__cw"),
        "left")
      .select(col("source"), col("w"),
        expr("(1000000 * coalesce(c, 0)) div t").as("f"))
      .materialize()
  }

  /** The union stopword list (declaration order, first occurrence);
    * a def — `val all` above runs first at object init. */
  private def SwAll: Seq[String] =
    TextAnalysis.LangStopwords.flatMap(_._2).distinct

  /** DuckDB mirror of [[TextAnalysis.langId]]'s argmax CASE (q313's
    * generator — the two must stay in lockstep with the Scala fold). */
  private def sqlLangIdCase: String = {
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l2 => s"s_$lang >= s_$l2")
      val cond = (s"s_$lang > 0" +: later).mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  private def sqlLangHits: String =
    TextAnalysis.LangStopwords.map { case (lang, words) =>
      s"len(list_filter(toks, x -> x IN ${sqlInList(words)})) AS s_$lang"
    }.mkString(", ")

  /** Filter-cascade attrition funnel: documents surviving each stage of
    * a 4-filter quality cascade (length band → stopword floor →
    * language-ID agreement → bigram-repetition cap), as a funnel of
    * survivor counts and ppm. Every flag is an array-local expression
    * on the scan (one pass, zero shuffles before the single-row
    * aggregate); the stage table is a literal dim. */
  def q331: Q = Q(
    "q331_filter_cascade",
    Some(s"""
      |WITH t AS (
      |  SELECT doc_id, lang, n_chars, ${sqlTokens("text")} AS toks
      |  FROM documents),
      |h AS (
      |  SELECT lang, n_chars, len(toks) AS n_tok, $sqlLangHits,
      |         len(list_filter(toks, x -> x IN ${sqlInList(SwAll)})) AS sw,
      |         greatest(len(toks) - 1, 0)
      |           - len(list_distinct(list_transform(
      |               range(1, greatest(len(toks) - 1, 0) + 1),
      |               i -> toks[i] || ' ' || toks[i + 1]))) AS dup2
      |  FROM t),
      |f AS (
      |  SELECT CASE WHEN n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END
      |           AS c1,
      |         CASE WHEN 20 * sw >= n_tok THEN 1 ELSE 0 END AS c2,
      |         CASE WHEN $sqlLangIdCase = lang THEN 1 ELSE 0 END AS c3,
      |         CASE WHEN dup2 <= 3 THEN 1 ELSE 0 END AS c4
      |  FROM h),
      |s AS (
      |  SELECT count(*) AS n0, sum(c1) AS n1, sum(c1 * c2) AS n2,
      |         sum(c1 * c2 * c3) AS n3, sum(c1 * c2 * c3 * c4) AS n4
      |  FROM f)
      |SELECT CAST(u.stage AS BIGINT) AS stage, u.name,
      |       CAST(CASE u.stage WHEN 0 THEN n0 WHEN 1 THEN n1
      |            WHEN 2 THEN n2 WHEN 3 THEN n3 ELSE n4 END AS BIGINT)
      |         AS survivors,
      |       CAST((1000000 * CASE u.stage WHEN 0 THEN n0 WHEN 1 THEN n1
      |            WHEN 2 THEN n2 WHEN 3 THEN n3 ELSE n4 END) // n0
      |            AS BIGINT) AS survival_ppm
      |FROM s CROSS JOIN (VALUES (0, 'all'), (1, 'length'),
      |  (2, 'stopword'), (3, 'lang_id'), (4, 'repetition')) u(stage, name)
      |ORDER BY stage
      |""".stripMargin)) { (s, dir) =>
    val toks = TextAnalysis.tokens(col("text"))
    val nTok = size(toks)
    val sw = size(filter(toks, t => t.isin(SwAll: _*)))
    val bg = graft.functions.SketchExprs.shingles(col("text"), 2)
    val dup2 = size(bg) - size(array_distinct(bg))
    val f = Tables.documents(s, dir).select(
      when(col("n_chars").between(100, 500), 1L).otherwise(0L).as("c1"),
      when(lit(20) * sw >= nTok, 1L).otherwise(0L).as("c2"),
      when(TextAnalysis.langId(col("text")) === col("lang"), 1L)
        .otherwise(0L).as("c3"),
      when(dup2 <= 3, 1L).otherwise(0L).as("c4"))
    f.agg(count(lit(1)).as("n0"), sum(col("c1")).as("n1"),
        sum(col("c1") * col("c2")).as("n2"),
        sum(col("c1") * col("c2") * col("c3")).as("n3"),
        sum(col("c1") * col("c2") * col("c3") * col("c4")).as("n4"))
      .select(explode(array(
        struct(lit(0L).as("stage"), lit("all").as("name"),
          col("n0").as("survivors")),
        struct(lit(1L).as("stage"), lit("length").as("name"),
          col("n1").as("survivors")),
        struct(lit(2L).as("stage"), lit("stopword").as("name"),
          col("n2").as("survivors")),
        struct(lit(3L).as("stage"), lit("lang_id").as("name"),
          col("n3").as("survivors")),
        struct(lit(4L).as("stage"), lit("repetition").as("name"),
          col("n4").as("survivors")))).as("u"), col("n0"))
      .select(col("u.stage").as("stage"), col("u.name").as("name"),
        col("u.survivors").as("survivors"),
        expr("(1000000 * u.survivors) div n0").as("survival_ppm"))
      .orderBy(col("stage"))
  }

  /** Repeated-bigram share per source: how much of each source is
    * template/boilerplate-shaped, as docs with ANY repeated bigram
    * (ppm), docs with heavy repetition (≥5 duplicate bigrams), and the
    * per-source max. One scan, array-local dup counts, one source
    * aggregate. */
  def q332: Q = Q(
    "q332_repeated_bigram_share",
    Some(s"""
      |WITH t AS (
      |  SELECT source, ${sqlTokens("text")} AS toks FROM documents),
      |h AS (
      |  SELECT source,
      |         greatest(len(toks) - 1, 0)
      |           - len(list_distinct(list_transform(
      |               range(1, greatest(len(toks) - 1, 0) + 1),
      |               i -> toks[i] || ' ' || toks[i + 1]))) AS dup2
      |  FROM t)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(*) FILTER (dup2 >= 1) AS BIGINT) AS n_any,
      |       CAST(count(*) FILTER (dup2 >= 5) AS BIGINT) AS n_heavy,
      |       CAST(max(dup2) AS BIGINT) AS max_dup,
      |       CAST((1000000 * count(*) FILTER (dup2 >= 1)) // count(*)
      |            AS BIGINT) AS any_ppm
      |FROM h GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val bg = graft.functions.SketchExprs.shingles(col("text"), 2)
    Tables.documents(s, dir)
      .select(col("source"),
        (size(bg) - size(array_distinct(bg))).cast("long").as("dup2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("dup2") >= 1, 1)).as("n_any"),
        count(when(col("dup2") >= 5, 1)).as("n_heavy"),
        max(col("dup2")).as("max_dup"))
      .select(col("source"), col("n_docs"), col("n_any"), col("n_heavy"),
        col("max_dup"),
        expr("(1000000 * n_any) div n_docs").as("any_ppm"))
      .orderBy(col("source"))
  }

  /** Positional stopword profile per source: stopword density in the
    * head / middle / tail third of each document — "does boilerplate
    * cluster at the edges". Thirds are index ranges (no list_slice —
    * DuckDB returns NULL for empty slices); densities are exact
    * integer-sum ppm per region. */
  def q333: Q = {
    val sw = sqlInList(SwAll)
    def sqlRegion(lo: String, hi: String) =
      s"len(list_filter(range($lo, $hi + 1), i -> toks[i] IN $sw))"
    Q("q333_position_stopword_profile",
      Some(s"""
        |WITH t AS (
        |  SELECT source, ${sqlTokens("text")} AS toks FROM documents),
        |h AS (
        |  SELECT source, len(toks) AS n, len(toks) // 3 AS third,
        |         toks
        |  FROM t),
        |r AS (
        |  SELECT source, third AS head_n, third AS tail_n,
        |         n - 2 * third AS mid_n,
        |         ${sqlRegion("1", "third")} AS head_sw,
        |         ${sqlRegion("third + 1", "n - third")} AS mid_sw,
        |         ${sqlRegion("n - third + 1", "n")} AS tail_sw
        |  FROM h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST((1000000 * sum(head_sw)) // nullif(sum(head_n), 0)
        |            AS BIGINT) AS head_ppm,
        |       CAST((1000000 * sum(mid_sw)) // nullif(sum(mid_n), 0)
        |            AS BIGINT) AS mid_ppm,
        |       CAST((1000000 * sum(tail_sw)) // nullif(sum(tail_n), 0)
        |            AS BIGINT) AS tail_ppm
        |FROM r GROUP BY 1 ORDER BY 1
        |""".stripMargin)) { (s, dir) =>
      val toks = TextAnalysis.tokens(col("text"))
      def region(lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column) =
        when(hi >= lo,
          size(filter(sequence(lo, hi),
            i => element_at(col("__toks"), i).isin(SwAll: _*))))
          .otherwise(lit(0)).cast("long")
      Tables.documents(s, dir)
        .select(col("source"), toks.as("__toks"))
        .select(col("source"), size(col("__toks")).as("n"),
          (size(col("__toks")) / 3).cast("int").as("third"), col("__toks"))
        .select(col("source"), col("third").cast("long").as("head_n"),
          col("third").cast("long").as("tail_n"),
          (col("n") - col("third") * 2).cast("long").as("mid_n"),
          region(lit(1), col("third")).as("head_sw"),
          region(col("third") + 1, col("n") - col("third")).as("mid_sw"),
          region(col("n") - col("third") + 1, col("n")).as("tail_sw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("head_sw")).as("hs"),
          sum(col("head_n")).as("hn"), sum(col("mid_sw")).as("ms"),
          sum(col("mid_n")).as("mn"), sum(col("tail_sw")).as("ts"),
          sum(col("tail_n")).as("tn"))
        .select(col("source"), col("n_docs"),
          expr("(1000000 * hs) div nullif(hn, 0)").as("head_ppm"),
          expr("(1000000 * ms) div nullif(mn, 0)").as("mid_ppm"),
          expr("(1000000 * ts) div nullif(tn, 0)").as("tail_ppm"))
        .orderBy(col("source"))
    }
  }

  /** Centroid (simplified) silhouette per embedding label: a = scaled
    * squared distance to the own-label centroid, b = min over other
    * labels; s = (b−a)/max(a,b). All distances live in the q284
    * milli-quantized integer domain scaled by n_l² (D′ = Σ(n·x−S)², so
    * no per-dim division exists), the per-vector score is ONE pinned
    * IEEE divide, and the label mean one more — both floor-quantized.
    * The label×dim sum table broadcasts (bounded by labels×dims). */
  def q334: Q = Q(
    "q334_silhouette_labels",
    Some("""
      |WITH q AS (
      |  SELECT vec_id, label, u.d AS dim,
      |         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * 1000)
      |              AS BIGINT) AS qv
      |  FROM embeddings, unnest(range(0, 64)) AS u(d)),
      |sums AS (SELECT label, dim, sum(qv) AS sv FROM q GROUP BY 1, 2),
      |cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
      |d2 AS (
      |  SELECT q.vec_id, q.label AS own, c.label AS cand,
      |         (1000 * sum((c.n * q.qv - s.sv) * (c.n * q.qv - s.sv)))
      |           // (c.n * c.n) AS scaled
      |  FROM q
      |  JOIN sums s ON q.dim = s.dim
      |  JOIN cnt c ON s.label = c.label
      |  GROUP BY 1, 2, 3, c.n),
      |ab AS (
      |  SELECT vec_id, own,
      |         max(CASE WHEN cand = own THEN scaled END) AS a,
      |         min(CASE WHEN cand <> own THEN scaled END) AS b
      |  FROM d2 GROUP BY 1, 2),
      |sil AS (
      |  SELECT own, CASE WHEN greatest(a, b) > 0 THEN
      |    CAST(floor(1000.0 * CAST(b - a AS DOUBLE)
      |               / CAST(greatest(a, b) AS DOUBLE)) AS BIGINT)
      |    ELSE 0 END AS s_milli
      |  FROM ab)
      |SELECT CAST(own AS BIGINT) AS label,
      |       CAST(count(*) AS BIGINT) AS n_vecs,
      |       CAST(floor(CAST(sum(s_milli) AS DOUBLE) / count(*))
      |            AS BIGINT) AS mean_sil_milli
      |FROM sil GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("own"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("own"), col("dim"),
        floor(col("v").cast("double") * 1000).cast("long").as("qv"))
    val sums = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("cand"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("cand"), col("dim"),
        floor(col("v").cast("double") * 1000).cast("long").as("qv"))
      .groupBy(col("cand"), col("dim")).agg(sum(col("qv")).as("sv"))
    val cnt = Tables.embeddings(s, dir)
      .groupBy(col("label").cast("long").as("cand"))
      .agg(count(lit(1)).as("n"))
    val dims = sums.join(cnt, Seq("cand")) // labels×dims, broadcasts
    val d2 = q.join(broadcast(dims), Seq("dim"))
      .groupBy(col("vec_id"), col("own"), col("cand"), col("n"))
      .agg(sum((col("n") * col("qv") - col("sv"))
        * (col("n") * col("qv") - col("sv"))).as("dd"))
      .select(col("vec_id"), col("own"), col("cand"),
        expr("(1000 * dd) div (n * n)").as("scaled"))
    d2.groupBy(col("vec_id"), col("own"))
      .agg(max(when(col("cand") === col("own"), col("scaled"))).as("a"),
        min(when(col("cand") =!= col("own"), col("scaled"))).as("b"))
      .select(col("own"),
        when(greatest(col("a"), col("b")) > 0,
          expr("CAST(floor(1000.0 * CAST(b - a AS DOUBLE) " +
            "/ CAST(greatest(a, b) AS DOUBLE)) AS BIGINT)"))
          .otherwise(lit(0L)).as("s_milli"))
      .groupBy(col("own").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(floor(CAST(sum(s_milli) AS DOUBLE) / count(1)) " +
          "AS BIGINT)").as("mean_sil_milli"))
      .orderBy(col("label"))
  }

  /** Sampled leave-one-out 1-NN label accuracy over the embedding
    * space: every 10th vector queries the full corpus (exact squared
    * distance in the milli-quantized integer domain, zip_with — no
    * per-dim explode), the nearest neighbor (ties → lowest id) votes,
    * per-label accuracy in ppm. The scale path: queries are a fixed
    * sample, candidates broadcast; the per-query top-1 is a window over
    * each query's candidate list. */
  def q335: Q = Q(
    "q335_knn_label_accuracy",
    Some("""
      |WITH e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, v ->
      |           CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qe
      |  FROM embeddings),
      |qq AS (SELECT * FROM e ORDER BY vec_id LIMIT 200),
      |p AS (
      |  SELECT q.vec_id AS qid, q.label AS qlab, c.vec_id AS cid,
      |         c.label AS clab,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           (q.qe[i] - c.qe[i]) * (q.qe[i] - c.qe[i]))) AS BIGINT)
      |           AS d2
      |  FROM qq q JOIN e c ON c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, cid)
      |           AS rn
      |  FROM p)
      |SELECT CAST(qlab AS BIGINT) AS label,
      |       CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(count(*) FILTER (clab = qlab) AS BIGINT) AS n_correct,
      |       CAST((1000000 * count(*) FILTER (clab = qlab)) // count(*)
      |            AS BIGINT) AS acc_ppm
      |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    // FIXED 200-query sample (cap, not `% 10` rate — pairs stay
    // O(200·N) at every scale), queries broadcast and the corpus
    // STREAMED past them, the native integer d² kernel per pair, and
    // the 1-NN as min(struct(d2, cid, clab)) — a hash aggregate with
    // MAP-SIDE partial min, so only 200 rows ever shuffle (the window
    // formulation shuffles and sorts all 200·N pairs)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"),
          v => floor(v.cast("double") * 1000).cast("long")).as("qe"))
    val qq = e.orderBy(col("vec_id")).limit(200)
      .select(col("vec_id").as("qid"), col("label").as("qlab"),
        col("qe").as("qqe"))
    import graft.functions.SketchExprs.sqEuclideanLong
    e.select(col("vec_id").as("cid"), col("label").as("clab"),
        col("qe").as("cqe"))
      .join(broadcast(qq), col("cid") =!= col("qid"))
      .select(col("qid"), col("qlab"),
        struct(sqEuclideanLong(col("qqe"), col("cqe")).as("d2"),
          col("cid"), col("clab")).as("cand"))
      .groupBy(col("qid"), col("qlab"))
      .agg(min(col("cand")).as("nn")) // lexicographic ≡ ORDER BY d2, cid
      .groupBy(col("qlab").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("nn.clab") === col("qlab"), 1)).as("n_correct"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        expr("(1000000 * n_correct) div n_queries").as("acc_ppm"))
      .orderBy(col("label"))
  }
}
