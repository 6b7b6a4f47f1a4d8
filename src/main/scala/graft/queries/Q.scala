package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation over the testdata tables at
  * `sfDir`, plus (when SQL-expressible) a DuckDB oracle computing the same
  * result on the same parquet files. Column names and row/column ordering
  * must match the oracle exactly — the driver hash-compares values.
  *
  * Determinism rules used by every query here:
  *  - every output is totally ordered (explicit ORDER BY both sides);
  *  - float aggregates go through exact DECIMAL sums (both engines sum
  *    decimals exactly, so the final cast to double is bit-identical),
  *    never through order-dependent double accumulation;
  *  - order-sensitive folds are checked with DuckDB `list_reduce`, which
  *    left-folds in list order — the same IEEE op sequence as our
  *    secondary-sort fold, so doubles match bit-for-bit.
  *
  * Labels: [[run]] sets the calling thread's Spark job description to
  * the query's name and leaves it set, so the jobs its body starts
  * (eager `materialize()` calls) and the caller's action on the result
  * carry the name in the UI, the event log and every listener. It is a
  * description, not a job group: a group would take the jobs out of
  * `statusTracker.getJobIdsForGroup(null)`, which callers read to tell
  * whether any job has run yet.
  *
  * Planning rules: [[run]] registers `plans.SmallSort` on the session,
  * so everything that runs a registry query (Verify, Bench, SparkEntry,
  * the benchmark harness) plans the same way:
  *  - the final ORDER BY of a result whose input Spark estimates at or
  *    under `SizeGate.SortBytes` (10 MB) sorts on one partition, with no
  *    range-shuffle sampling job; under `spark.graft.sizegate.mode=
  *    distributed`, or over an `explode` or a typed `flatMap`, it keeps
  *    the range shuffle;
  *  - `Tables` reads infer each input file's parquet schema once per
  *    process (`sources.ParquetRead`), so a later query's read starts
  *    no job.
  */
final case class Q(
    name: String,
    oracle: Option[String])(
    body: (SparkSession, String) => DataFrame) {
  val run: (SparkSession, String) => DataFrame = { (s, dir) =>
    graft.plans.SmallSort.register(s)
    s.sparkContext.setJobDescription(name)
    body(s, dir)
  }
}

object Registry {
  // one flat argument list: a chain of ~170 `++` nests the tree deep
  // enough to overflow the compiler's stack
  lazy val all: Seq[Q] = Seq(
    CoreQueries.all, DomainQueries.all, PipelineQueries.all,
      MlQueries.all, ExtQueries.all, CorpusQueries.all,
      EvalQueries.all, SignalQueries.all, WarehouseQueries.all,
      CorpusStatsQueries.all, SeriesQueries.all, CurationQueries.all,
      DemandQueries.all, EconQueries.all, OpsQueries.all,
      DecisionQueries.all, DynamicsQueries.all, InferenceQueries.all,
      SystemsQueries.all, LinkageQueries.all, GeometryQueries.all,
      PolicyQueries.all, RobustQueries.all, OpsSimQueries.all,
      DiagnosticQueries.all, EffectQueries.all, ConvergenceQueries.all,
      DistFitQueries.all, ReplayQueries.all, ShapeQueries.all,
      SymbolicQueries.all, ModelEvalQueries.all, IndexQueries.all, StructureQueries.all, MechanismQueries.all, SegmentQueries.all, RichnessQueries.all, StickinessQueries.all, BrokerageQueries.all, PortmanteauQueries.all, DependenceQueries.all, RakingQueries.all, EquivalenceQueries.all, FactorQueries.all, AuditQueries.all, SurvivalQueries.all, TopologyQueries.all, RiskQueries.all, PlannerQueries.all, EvalFairQueries.all, RegressionDiagQueries.all, HazardQueries.all, DispersionQueries.all, ComparisonQueries.all, TrendAuditQueries.all, SelectionQueries.all, LifetimeQueries.all, RobustTrendQueries.all, QualityStatQueries.all, CentralityQueries.all, ClusterQualityQueries.all, InequalityQueries.all, FlowQueries.all, TrainDataQueries.all, SurveyQueries.all, RankTestQueries.all, AgreementQueries.all, ForecastEvalQueries.all, EmbeddingGeomQueries.all, OrdinalQueries.all, HomogeneityQueries.all, PriceIndexQueries.all, SchedulingQueries.all, DiversityQueries.all, ResidualDiagQueries.all, SmootherQueries.all, EvalStatQueries.all, SegregationQueries.all, WalkMomentQueries.all, LotSizingQueries.all, StylometryQueries.all, MultiTestQueries.all, TeletrafficQueries.all, AnovaQueries.all, ActuarialQueries.all, MicrostructureQueries.all, PsychometricQueries.all, SpatialQueries.all, BibliometricQueries.all, SeasonalQueries.all, GrowthQueries.all, CopulaQueries.all, EcologyQueries.all, RankAggQueries.all, LMomentQueries.all, ExtremeTailQueries.all, ConcentrationQueries.all, RobustScaleQueries.all, BinningQueries.all, CapabilityQueries.all, InventoryServiceQueries.all, KalmanQueries.all, EffectSizeQueries.all, PairedCompQueries.all, PovertyQueries.all, RenewalQueries.all, DistDependenceQueries.all, OrderStatQueries.all, CountModelQueries.all, MultivariateQueries.all, RmstQueries.all, CohortQueries.all, LorenzFamilyQueries.all, EmbeddingSpaceQueries.all, KeynessQueries.all, FirstPassageQueries.all, PricingQueries.all, ForecastMethodQueries.all, ScaleTestQueries.all, MatrixProfileQueries.all, WeightedPathQueries.all, WaveletQueries.all, SegmentDpQueries.all, CompoundRiskQueries.all, BipartiteHitsQueries.all, JourneyQueries.all, PhoneticQueries.all, WalshQueries.all, IndicatorQueries.all, BasketRuleQueries.all, CorpusDiversityQueries.all, TwoSampleQueries.all, RuinQueries.all, RecordTheoryQueries.all, UnseenQueries.all, PriceEndingQueries.all, NormalScoreQueries.all, OrdinalPatternQueries.all, DriftMonitorQueries.all, CircularStatQueries.all, BrandPortfolioQueries.all, TwoSampleDistQueries.all, MethodCompQueries.all, StratifiedRiskQueries.all, MetaAnalysisQueries.all, EmbeddingIntrinsicQueries.all, ReadabilityQueries.all, GeostatQueries.all, TechIndicatorQueries.all, TechIndicator2Queries.all, FractalQueries.all, UnitRootQueries.all, SymbolicDynQueries.all, DensityQueries.all, BootstrapQueries.all, EssQueries.all, BenfordQueries.all, TransformQueries.all, ExperimentQueries.all, PanelRegQueries.all, LmDivergenceQueries.all, BanditQueries.all, AbcLotQueries.all, InterpolationQueries.all, PercolationQueries.all, EventStudyQueries.all).flatten

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
