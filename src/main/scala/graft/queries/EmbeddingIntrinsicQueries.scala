package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Tables

/** Round-11 embedding intrinsic-geometry wave (the diagnostics a
  * training-data pipeline runs BEFORE trusting an embedding space):
  * the Two-NN intrinsic-dimension estimate (Facco et al.), a
  * Hopkins-style clustering-tendency ratio, the Dunn index over the
  * given labels, k-NN label purity, and per-label separation margins.
  *
  * Exactness: squared L2 distances are LEFT-FOLD double sums over
  * double-cast float components (the q30 idiom — fixed order, no
  * reassociation, bit-identical both engines); every per-point /
  * per-pair term that feeds a sum (ln-ratio terms, micro-scaled
  * distances) is FLOOR-quantized to an integer first (the round-11
  * boundary-safe idiom); final statistics are one shared-text double
  * step. Ties rank by neighbor id; zero first-neighbor distances
  * (duplicate vectors) are excluded with a stated WHERE.
  *
  * Scale: the query side is a 200-point hash-spread BUDGET sample
  * (the SupplierGraph budget discipline) broadcast against the
  * corpus — O(sample·n), never all-pairs; the sample-pair frame is
  * 200², a constant. The corpus is never broadcast. */
object EmbeddingIntrinsicQueries {

  val all: Seq[Q] = Seq(q1086, q1087, q1088, q1089, q1090)

  private def sampleN = 200 // def, NOT val: `all` builds oracle strings at init

  /** Oracle: hash-spread budget sample sp(vec_id, embedding, label). */
  private def sqlSp: String = s"""
    |sp AS (SELECT vec_id, embedding, label FROM embeddings
    |       ORDER BY (vec_id * 2654435761) % 2147483648, vec_id
    |       LIMIT $sampleN)""".stripMargin

  /** Oracle squared-L2 left-fold between two 64-d float lists. */
  private def sqlD2(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, 65),
       |    i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |       * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
       |  (x, y) -> x + y)""".stripMargin

  /** Spark twin of [[sqlD2]]: left-fold squared L2 column. The
    * `aggregate(zip_with(...))` formulation this wave shipped with is
    * a CodegenFallback interpreted lambda pair PER ELEMENT — ~1.3G
    * interpreted calls for the sample×corpus frame at sf0.1; the
    * [[graft.functions.SketchExprs.SqEuclideanDiff]] kernel runs the
    * IDENTICAL IEEE fold (acc + (x−y)·(x−y) over double-cast floats,
    * index order) as one virtual call per pair, so values are
    * bit-identical (oracle re-proven unchanged). */
  private def d2(a: Column, b: Column): Column =
    graft.functions.SketchExprs.sqEuclideanDiff(a, b)

  /** Spark budget sample (vec_id, embedding, label). */
  private def sample(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .orderBy(pmod(col("vec_id") * 2654435761L, lit(2147483648L)),
        col("vec_id"))
      .limit(sampleN)

  /** Spark sample×corpus distance frame: (qid, qlabel, nid, nlabel,
    * dd) for every non-self pair, sample side broadcast. */
  private def nnPairs(s: SparkSession, dir: String): DataFrame = {
    val sp = sample(s, dir)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    graft.plans.Spread.widen(Tables.embeddings(s, dir)
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("label").as("nlabel")))
      .join(broadcast(sp), col("qid") =!= col("nid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        d2(col("qv"), col("nv")).as("dd"))
  }

  /** Oracle sample×corpus CTE np(qid, qlabel, nid, nlabel, dd, rk). */
  private def sqlNp: String = s"""
    |${sqlSp},
    |np AS (
    |  SELECT sp.vec_id AS qid, sp.label AS qlabel,
    |         c.vec_id AS nid, c.label AS nlabel,
    |         ${sqlD2("sp.embedding", "c.embedding")} AS dd,
    |         row_number() OVER (PARTITION BY sp.vec_id
    |           ORDER BY ${sqlD2("sp.embedding", "c.embedding")},
    |                    c.vec_id) AS rk
    |  FROM sp JOIN embeddings c ON c.vec_id != sp.vec_id)""".stripMargin

  /** Spark ranked neighbors (rank ≤ k ≤ 5) of each sample point,
    * served from ONE SpineCache spine (the top-5 frame subsumes every
    * consumer's k; doubles round-trip parquet exactly, and ranks for
    * k < 5 are a prefix of the k = 5 ranks by construction). */
  private def ranked(s: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= 5, "emb_nn5 spine holds the top-5 neighbors")
    graft.sources.SpineCache.table(s, dir, "emb_nn5",
      Seq("embeddings")) {
      graft.plans.GroupedTopK.topKPerKey(nnPairs(s, dir), Seq("qid"),
        Seq("dd" -> true, "nid" -> true), k = 5, rankCol = Some("rk"))
    }.where(col("rk") <= k)
  }

  /** Two-NN intrinsic dimension: d̂ = m / Σ ln(r2/r1) with
    * floor-quantized per-point ln-ratio terms. */
  def q1086: Q = Q(
    "q1086_twonn_intrinsic_dim",
    Some(s"""
      |WITH ${sqlNp},
      |rr AS (SELECT qid,
      |              min(CASE WHEN rk = 1 THEN dd END) AS d1,
      |              min(CASE WHEN rk = 2 THEN dd END) AS d2
      |       FROM np WHERE rk <= 2 GROUP BY 1),
      |tm AS (SELECT CAST(floor(1000000.0 * 0.5 * ln(d2 / d1))
      |              AS BIGINT) AS t
      |       FROM rr WHERE d1 > 0),
      |ag AS (SELECT count(*) AS m, sum(t) AS st FROM tm)
      |SELECT CAST(m AS BIGINT) AS n_samples,
      |       CAST(st AS BIGINT) AS sum_lnratio_micro,
      |       CAST(floor(1e9 * m / CAST(st AS DOUBLE)) AS BIGINT)
      |         AS intrinsic_dim_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    ranked(s, dir, 2)
      .groupBy(col("qid"))
      .agg(min(when(col("rk") === 1, col("dd"))).as("d1"),
        min(when(col("rk") === 2, col("dd"))).as("d2"))
      .where(col("d1") > 0)
      .select(expr("CAST(floor(1000000.0 * 0.5 * ln(d2 / d1))" +
        " AS BIGINT)").as("t"))
      .agg(count(lit(1)).as("m"), sum(col("t")).as("st"))
      .select(col("m").cast("long").as("n_samples"),
        col("st").cast("long").as("sum_lnratio_micro"),
        expr("CAST(floor(1e9 * m / CAST(st AS DOUBLE)) AS BIGINT)")
          .as("intrinsic_dim_milli"))
  }

  /** Clustering tendency: mean NN distance over the sample vs the
    * mean sample-pair distance (≪ 1000‰ means clustered). */
  def q1087: Q = Q(
    "q1087_clustering_tendency",
    Some(s"""
      |WITH ${sqlNp},
      |nn AS (SELECT CAST(floor(1000000.0 * sqrt(dd)) AS BIGINT) AS w
      |       FROM np WHERE rk = 1),
      |an AS (SELECT count(*) AS m, sum(w) AS sw FROM nn),
      |pp AS (SELECT CAST(floor(1000000.0 * sqrt(
      |                ${sqlD2("a.embedding", "b.embedding")}))
      |              AS BIGINT) AS w
      |       FROM sp a JOIN sp b ON a.vec_id < b.vec_id),
      |ap AS (SELECT count(*) AS np2, sum(w) AS sp2 FROM pp)
      |SELECT CAST(an.m AS BIGINT) AS n_samples,
      |       CAST(an.sw // an.m AS BIGINT) AS mean_nn_micro,
      |       CAST(ap.sp2 // ap.np2 AS BIGINT) AS mean_pair_micro,
      |       CAST((1000 * an.sw * ap.np2) // (an.m * ap.sp2) AS BIGINT)
      |         AS tendency_milli
      |FROM an CROSS JOIN ap
      |""".stripMargin)) { (s, dir) =>
    val nn = ranked(s, dir, 1)
      .select(expr("CAST(floor(1000000.0 * sqrt(dd)) AS BIGINT)")
        .as("w"))
      .agg(count(lit(1)).as("m"), sum(col("w")).as("sw"))
    val sp = sample(s, dir)
    val a = sp.select(col("vec_id").as("aid"), col("embedding").as("av"))
    val b = sp.select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val pp = a.join(b, col("aid") < col("bid"))
      .select(floor(lit(1000000.0) * sqrt(d2(col("av"), col("bv"))))
        .cast("long").as("w"))
      .agg(count(lit(1)).as("np2"), sum(col("w")).as("sp2"))
    nn.crossJoin(broadcast(pp))
      .select(col("m").cast("long").as("n_samples"),
        expr("CAST(sw div m AS BIGINT)").as("mean_nn_micro"),
        expr("CAST(sp2 div np2 AS BIGINT)").as("mean_pair_micro"),
        expr("CAST((1000 * sw * np2) div (m * sp2) AS BIGINT)")
          .as("tendency_milli"))
  }

  /** Dunn index over the given labels, on the sample-pair frame:
    * min inter-label distance over max intra-label distance. */
  def q1088: Q = Q(
    "q1088_dunn_index",
    Some(s"""
      |WITH ${sqlSp},
      |pp AS (SELECT a.label AS la, b.label AS lb,
      |              CAST(floor(1000000.0 * sqrt(
      |                ${sqlD2("a.embedding", "b.embedding")}))
      |              AS BIGINT) AS w
      |       FROM sp a JOIN sp b ON a.vec_id < b.vec_id),
      |ag AS (SELECT count(DISTINCT CASE WHEN la = lb THEN la END)
      |           AS n_labels,
      |         min(CASE WHEN la != lb THEN w END) AS min_inter,
      |         max(CASE WHEN la = lb THEN w END) AS max_intra
      |       FROM pp)
      |SELECT CAST(n_labels AS BIGINT) AS n_labels,
      |       CAST(min_inter AS BIGINT) AS min_inter_micro,
      |       CAST(max_intra AS BIGINT) AS max_intra_micro,
      |       CAST((1000 * min_inter) // max_intra AS BIGINT)
      |         AS dunn_milli
      |FROM ag
      |""".stripMargin)) { (s, dir) =>
    val sp = sample(s, dir)
    val a = sp.select(col("vec_id").as("aid"), col("embedding").as("av"),
      col("label").as("la"))
    val b = sp.select(col("vec_id").as("bid"), col("embedding").as("bv"),
      col("label").as("lb"))
    a.join(b, col("aid") < col("bid"))
      .select(col("la"), col("lb"),
        floor(lit(1000000.0) * sqrt(d2(col("av"), col("bv"))))
          .cast("long").as("w"))
      .agg(countDistinct(when(col("la") === col("lb"), col("la")))
        .as("n_labels"),
        min(when(col("la") =!= col("lb"), col("w"))).as("min_inter"),
        max(when(col("la") === col("lb"), col("w"))).as("max_intra"))
      .select(col("n_labels").cast("long").as("n_labels"),
        col("min_inter").as("min_inter_micro"),
        col("max_intra").as("max_intra_micro"),
        expr("CAST((1000 * min_inter) div max_intra AS BIGINT)")
          .as("dunn_milli"))
  }

  /** k-NN label purity: 1-NN agreement and mean same-label count in
    * the top-5 — the "is this embedding space learnable" audit. */
  def q1089: Q = Q(
    "q1089_knn_label_purity",
    Some(s"""
      |WITH ${sqlNp},
      |top5 AS (SELECT qid, qlabel, rk, nlabel FROM np WHERE rk <= 5),
      |per AS (SELECT qid,
      |          max(CASE WHEN rk = 1 AND nlabel = qlabel THEN 1
      |              ELSE 0 END) AS hit1,
      |          sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
      |            AS same5
      |        FROM top5 GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_samples,
      |       CAST((1000000 * sum(hit1)) // count(*) AS BIGINT)
      |         AS nn1_match_ppm,
      |       CAST((1000 * sum(same5)) // count(*) AS BIGINT)
      |         AS mean_same5_milli
      |FROM per
      |""".stripMargin)) { (s, dir) =>
    ranked(s, dir, 5)
      .groupBy(col("qid"))
      .agg(max(when(col("rk") === 1 && col("nlabel") === col("qlabel"),
        1L).otherwise(0L)).as("hit1"),
        sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .as("same5"))
      .agg(count(lit(1)).as("n"), sum(col("hit1")).as("sh"),
        sum(col("same5")).as("ss"))
      .select(col("n").cast("long").as("n_samples"),
        expr("CAST((1000000 * sh) div n AS BIGINT)")
          .as("nn1_match_ppm"),
        expr("CAST((1000 * ss) div n AS BIGINT)")
          .as("mean_same5_milli"))
  }

  /** Per-label separation margins on the sample-pair frame: mean
    * intra vs mean inter distance per label. */
  def q1090: Q = Q(
    "q1090_label_margins",
    Some(s"""
      |WITH ${sqlSp},
      |pp AS (SELECT a.label AS la, b.label AS lb,
      |              CAST(floor(1000000.0 * sqrt(
      |                ${sqlD2("a.embedding", "b.embedding")}))
      |              AS BIGINT) AS w
      |       FROM sp a JOIN sp b ON a.vec_id < b.vec_id),
      |sided AS (SELECT la AS label, lb AS other, w FROM pp
      |          UNION ALL SELECT lb, la, w FROM pp),
      |ag AS (SELECT label,
      |         sum(CASE WHEN label = other THEN 1 ELSE 0 END) AS ni,
      |         sum(CASE WHEN label = other THEN w ELSE 0 END) AS si,
      |         sum(CASE WHEN label != other THEN 1 ELSE 0 END) AS no2,
      |         sum(CASE WHEN label != other THEN w ELSE 0 END) AS so
      |       FROM sided GROUP BY 1)
      |SELECT CAST(label AS BIGINT) AS label,
      |       CAST(ni AS BIGINT) AS n_intra_pairs,
      |       CAST(si // ni AS BIGINT) AS intra_mean_micro,
      |       CAST(so // no2 AS BIGINT) AS inter_mean_micro,
      |       CAST((1000 * so * ni) // (no2 * si) AS BIGINT)
      |         AS separation_milli
      |FROM ag WHERE ni > 0 AND no2 > 0 ORDER BY label
      |""".stripMargin)) { (s, dir) =>
    val sp = sample(s, dir)
    val a = sp.select(col("vec_id").as("aid"), col("embedding").as("av"),
      col("label").as("la"))
    val b = sp.select(col("vec_id").as("bid"), col("embedding").as("bv"),
      col("label").as("lb"))
    val pp = a.join(b, col("aid") < col("bid"))
      .select(col("la"), col("lb"),
        floor(lit(1000000.0) * sqrt(d2(col("av"), col("bv"))))
          .cast("long").as("w"))
      .materialize()
    pp.select(col("la").as("label"), col("lb").as("other"), col("w"))
      .unionAll(pp.select(col("lb").as("label"), col("la").as("other"),
        col("w")))
      .groupBy(col("label"))
      .agg(sum(when(col("label") === col("other"), 1L).otherwise(0L))
        .as("ni"),
        sum(when(col("label") === col("other"), col("w"))
          .otherwise(0L)).as("si"),
        sum(when(col("label") =!= col("other"), 1L).otherwise(0L))
          .as("no2"),
        sum(when(col("label") =!= col("other"), col("w"))
          .otherwise(0L)).as("so"))
      .where(col("ni") > 0 && col("no2") > 0)
      .select(col("label").cast("long").as("label"),
        col("ni").as("n_intra_pairs"),
        expr("CAST(si div ni AS BIGINT)").as("intra_mean_micro"),
        expr("CAST(so div no2 AS BIGINT)").as("inter_mean_micro"),
        expr("CAST((1000 * so * ni) div (no2 * si) AS BIGINT)")
          .as("separation_milli"))
      .orderBy(col("label"))
  }
}
