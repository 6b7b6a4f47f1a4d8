package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mechanical plan-lint tripwire (VERDICT r9 #3): walks every
  * registry query's physical plan at sf0.001 and asserts the three
  * fact-frame invariants `tools.PlanLint` encodes (no cartesian over
  * unreduced facts, no fact-corpus broadcast under a nested-loop
  * join, no single-partition window over an unreduced fact), plus the
  * one-operator rule `window-topk` (a partitioned `row_number() <= k`
  * filter belongs on `plans.GroupedTopK`). A NEW
  * wave that trips one must either fix the plan or consciously add
  * itself to the whitelist below with a justification — this suite is
  * what keeps wave N+1 honest without a judge.
  *
  * The whitelist is every currently-audited exception, one rationale
  * each; kinds are pinned so a whitelisted query can't silently grow
  * a DIFFERENT violation. Round-10 calibration found 12 flagged
  * queries: 11 false positives below + q367, whose constant-key
  * quantilesDisc really was a single-partition row_number over the
  * whole orders fact (fixed on the globalRankCum spine the same
  * round).
  */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def ready = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$sf/orders.parquet"))

  /** query → allowed finding kinds, each with its audit rationale.
    *
    * No `window-topk` row: every partitioned `row_number()` filter runs
    * on GroupedTopK. The `row_number()` windows kept on purpose plan no
    * partitioned WindowGroupLimit, so none needs a row:
    *  - global windows (no partition spec; `global-window-fact` covers
    *    the unreduced ones);
    *  - frames that compute a whole-group window column beside the rank
    *    before filtering on it (q365_session_conversion_by_entry and
    *    q336_bounce_by_entry, `max`/`count` over the session;
    *    q704_dominant_centroid_dim, `sum` over the label): a group
    *    limit would cut the rows that column needs;
    *  - ranks that are aggregated or compared rather than filtered
    *    (`Relational.runningDistinct`, `OrderStats`, `Scd2`). */
  private val whitelist: Map[String, Set[String]] = Map(
    // ANN / retrieval faces: the broadcast side is the QUERY set — a
    // literal-id filter on the embeddings scan, bounded by
    // construction (k query rows), which the static reduction check
    // cannot see (a Filter does not count as bounding).
    "q30_cosine_topk" -> Set("bnl-fact-broadcast"),
    "q62_quantized_ann" -> Set("bnl-fact-broadcast"),
    "q72_pq_adc_topk" -> Set("bnl-fact-broadcast"),
    "q147_rrf_fusion" -> Set("bnl-fact-broadcast"),
    "q184_jl_calibration" -> Set("bnl-fact-broadcast"),
    "q231_lsh_catch_calibration" -> Set("bnl-fact-broadcast"),
    "q242_quantized_recall" -> Set("bnl-fact-broadcast"),
    "q414_retrieval_ndcg" -> Set("bnl-fact-broadcast"),
    // Extreme-tail estimators: the broadcast side is a ONE-row
    // rank-equality selection (i = k) off the bucket-parallel
    // globalRankCum spine — a scalar order statistic, not a corpus.
    "q836_pickands_estimator" -> Set("bnl-fact-broadcast"),
    "q837_dekkers_moment" -> Set("bnl-fact-broadcast"),
    "q839_return_levels" -> Set("bnl-fact-broadcast"))

  test("a partitioned row_number() filter is a window-topk finding; GroupedTopK is not") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("g", "v")
    def kinds(out: org.apache.spark.sql.DataFrame): Seq[String] = {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try graft.tools.PlanLint.findings(out.queryExecution.executedPlan).map(_._1)
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    val window = df.withColumn("rn", row_number().over(
      Window.partitionBy($"g").orderBy($"v".desc))).where($"rn" <= 1)
    assert(kinds(window) === Seq("window-topk"))
    assert(kinds(graft.plans.GroupedTopK.topKPerKey(
      df, Seq("g"), Seq("v" -> false), k = 1)).isEmpty)
  }

  test("no unwhitelisted fact-frame plan anti-pattern in any query") {
    assume(ready)
    val names = graft.queries.Registry.all.map(_.name)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val res = graft.tools.PlanLint.lint(spark, sf, names)
      val bad = res.toSeq.sortBy(_._1).flatMap { case (n, fs) =>
        fs.collect {
          case (kind, node)
              if !whitelist.getOrElse(n, Set.empty).contains(kind) =>
            s"$n: $kind ($node)"
        }
      }
      assert(bad.isEmpty,
        s"plan-lint violations (fix the plan or whitelist consciously):\n" +
          bad.mkString("\n"))
      // tripwire hygiene in the other direction too: a whitelist row
      // whose query no longer trips anything is stale — prune it so
      // the exception list stays the real audited set
      val stale = whitelist.keys.filter(n =>
        res.getOrElse(n, Nil).isEmpty).toSeq.sorted
      assert(stale.isEmpty,
        s"stale whitelist entries (no longer flagged — remove): $stale")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
