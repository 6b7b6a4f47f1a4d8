package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry
import graft.sources.SpineCache
import graft.text.MmrSelect

/** The one size-gate switch (`spark.graft.sizegate.mode`): an unknown
  * mode fails loudly, `distributed` turns every gate off without
  * sizing its input, derived tables are keyed by mode, an MMR pool
  * above its bound runs the distributed greedy instead of failing, and
  * one registry query per gated function returns the same rows in both
  * modes. */
class SizeGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val bounds = Seq(SizeGate.EdgeRows, SizeGate.PairRows,
    SizeGate.HistRows, SizeGate.PoolRows)

  test("an unknown mode throws naming the key and both modes") {
    val e = intercept[IllegalArgumentException](
      SizeGateModes.under("local")(SizeGate.local(spark, 1L)(0L)))
    assert(e.getMessage.contains(SizeGate.ModeKey))
    assert(e.getMessage.contains("auto") &&
      e.getMessage.contains("distributed"))
  }

  test("auto keeps each bound; distributed turns every gate off") {
    SizeGateModes.under("auto") {
      for (b <- bounds) {
        assert(SizeGate.local(spark, b)(b))
        assert(!SizeGate.local(spark, b)(b + 1))
      }
      assert(SizeGate.local(Seq(1, 2).toDF("x"), 2L))
    }
    SizeGateModes.under("distributed") {
      for (b <- bounds)
        assert(!SizeGate.local(spark, b)(
          fail("the distributed mode must not size the input")))
      assert(!SizeGate.local(Seq(1, 2).toDF("x"), 2L))
    }
  }

  test("a spine and a stored index built under one mode are never " +
    "served to the other") {
    val dir = TestSpark.tempDir("gate_spine_src").toString
    spark.range(10).write.parquet(s"$dir/t.parquet")
    var builds = Seq.empty[String]
    def spine = SpineCache.table(spark, dir, "gate_mode_spine", "t") {
      builds :+= SizeGate.mode(spark)
      spark.range(3).toDF("x")
    }.count()
    assert(SizeGateModes.both(spine) == ((3L, 3L)))
    assert(SizeGateModes.both(spine) == ((3L, 3L)))
    assert(builds == Seq("auto", "distributed"))
    def index = SpineCache.indexPath(spark, dir, "gate_idx", "t")
    val (autoPath, distPath) = SizeGateModes.both(index)
    assert(autoPath != distPath)
    assert(SizeGateModes.under("auto")(index) == autoPath)
  }

  test("an MMR pool above its bound runs the distributed greedy") {
    // quality id % 1000 and λ = 100: the picks are the q = 999 ids in
    // id order, whichever greedy runs
    val pool = spark.range(1L, SizeGate.PoolRows + 2L)
      .selectExpr("id", "id % 1000 AS q",
        "array(concat('e', CAST(id % 7 AS STRING))) AS s")
    def picks = MmrSelect.select(pool, "id", "q", "s", 3, 100)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    val (auto, dist) = SizeGateModes.both(picks)
    assert(auto == dist)
    assert(auto.map(_._1) == Seq(999L, 1999L, 2999L))
    def covers = MmrSelect.coverSelect(pool, "id", "s", 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    val (autoC, distC) = SizeGateModes.both(covers)
    assert(autoC == distC)
    assert(autoC.map(_._3) == Seq(1L, 1L))
  }

  // one registry query per gated function, at sf0.001
  private val gated = Seq(
    "q656_budget_closeness",          // SupplierGraph.bfsFrom
    "q961_bounded_weighted_sssp",     // relaxMinSum
    "q964_widest_path_bottleneck",    // relaxMaxMin
    "q963_path_dilation",             // relaxDual
    "q965_relaxation_convergence",    // relaxStats
    "q495_pagerank_convergence",      // pagerankResiduals
    "q591_ktruss_peeling",            // Triangles.trussTrajectory
    "q876_bradley_terry",             // PairedCompQueries.btFrom
    "q534_bradley_terry_brands",      // MechanismQueries.btStrengths
    "q1181_weight_percolation",       // PercolationQueries.summarize
    "q416_hits_authorities",          // OpsQueries.hitsAuth2
    "q562_attack_robustness",         // DependenceQueries.attackPanel
    "q505_permutation_test_spans",    // ReplayQueries.permSums
    "q846_sn_estimator",              // RobustScaleQueries.snFrame
    "q847_qn_estimator",              // qnFrame
    "q848_hodges_lehmann",            // hlFrame
    "q647_siegel_slope",              // RobustTrendQueries.siegelFrame
    "q1071_passing_bablok_slope",     // MethodCompQueries.pbFitOf
    "q1073_kendall_concordance",      // tauAgg
    "q956_matrix_profile_summary",    // MatrixProfileQueries.profileFrame
    "q957_top_motif",                 // motifFrame
    "q959_lag_self_similarity",       // lagPairs
    "q971_dp_segmentation",           // SegmentDpQueries.stageSpine
    "q976_compound_model_bands",      // CompoundRiskQueries.mixOf
    "q576_rank1_factorization",       // FactorQueries.alsRank1
    "q891_distance_correlation",      // DistDependenceQueries.dcorStats
    "q539_hodges_lehmann_shift",      // SegmentQueries.hlSummary
    "q166_mmr_selection",             // MmrSelect.select
    "q237_greedy_coverage",           // MmrSelect.coverSelect
    "q65_neardup_clusters",           // Dedup.alternatingStarCC
    "q50_grouped_topk")               // GroupedTopKExec

  test("every gated function's registry query: auto rows = distributed " +
    "rows") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sf/orders.parquet")))
    for (name <- gated) {
      val q = Registry.byName(name)
      val (auto, dist) = SizeGateModes.both(
        q.run(spark, sf).collect().map(_.toSeq.mkString("|")).sorted.toSeq)
      assert(auto.nonEmpty, name)
      assert(auto == dist, name)
    }
  }
}
