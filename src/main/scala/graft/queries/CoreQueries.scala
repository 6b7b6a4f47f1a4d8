package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{OrderedFold, Relational}

/** Core relational operator coverage (SURVEY.md §2.1–§2.9) expressed over
  * the synthetic TPC-H-ish tables. Each query is the Spark-idiomatic shape
  * of a reference operator family; citations inline.
  */
object CoreQueries {

  /** Exact decimal sum cast back to double — see Q scaladoc. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15)

  /** A1: hash group-by with multi-aggregate (count/sum/avg) + filter + sort.
    * ≙ reference team-season stats `src/features/basketball_features.py:63-76`.
    * Partial (map-side) aggregation then one shuffle on the group keys.
    */
  def q01: Q = Q(
    "q01_pricing_summary",
    Some("""
      |SELECT l_returnflag, l_linestatus,
      |       count(*) AS count_order,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("count_order"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** J-chain + A1: fact → dim → dim → dim star join with aggregation.
    * Dims broadcast (nation/region are tiny; supplier small) so the fact
    * table never shuffles for the joins — only the final group-by shuffles.
    */
  def q02: Q = Q(
    "q02_revenue_by_nation",
    Some("""
      |SELECT r_name, n_name,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J1-style left outer join with null-surviving aggregates.
    * ≙ reference optional-feature attach (`jobs/feature_helpers.py:26-60`):
    * missing right side yields nulls, here folded into count/coalesce.
    */
  def q03: Q = Q(
    "q03_customer_big_orders",
    Some("""
      |SELECT c_custkey, c_mktsegment,
      |       count(o_orderkey) AS n_big_orders,
      |       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS big_total
      |FROM customer
      |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) big
      |  ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey
      |""".stripMargin)) { (s, dir) =>
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0)
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_big_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("big_total"))
      .orderBy(col("c_custkey"))
  }

  /** J1/J2 two-sided dim attach (TPC-H Q7 shape): the same dimension
    * (nation) joined under two roles — supplier nation and customer nation.
    * ≙ the reference's TeamID→Team1 / TeamID→Team2 double attach
    * (`src/features/basketball_features_plus.py:91-98`).
    */
  def q04: Q = Q(
    "q04_supp_cust_nations",
    Some("""
      |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |GROUP BY sn.n_name, cn.n_name
      |ORDER BY supp_nation, cust_nation
      |""".stripMargin)) { (s, dir) =>
    val suppNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val custNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"))
  }

  /** P1–P4 + F5: projection, cast, alias, comparison predicates, derived
    * arithmetic, least/greatest clipping — all codegen'd column expressions
    * pushed into one WholeStageCodegen stage over the scan.
    * ≙ `src/features/rolling.py:32-50`, `src/ml/modeling.py:86,126`.
    */
  def q05: Q = Q(
    "q05_project_filter",
    Some("""
      |SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS line_no,
      |       CAST(l_quantity AS INTEGER) AS qty,
      |       l_extendedprice * (1 + l_tax) * (1 - l_discount) AS charge,
      |       least(greatest(l_discount, 0.02), 0.08) AS disc_clipped
      |FROM lineitem
      |WHERE l_quantity >= 30.0 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, line_no
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 30.0 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("int").as("line_no"),
        col("l_quantity").cast("int").as("qty"),
        (col("l_extendedprice") * (lit(1) + col("l_tax")) * (lit(1) - col("l_discount"))).as("charge"),
        least(greatest(col("l_discount"), lit(0.02)), lit(0.08)).as("disc_clipped"))
      .orderBy(col("l_orderkey"), col("line_no"))
  }

  /** W1: causal trailing-window average excluding the current row
    * (anti-leakage), null on empty frame. ≙ `src/features/rolling.py:79-93`.
    * Decimal window sums keep both engines bit-identical (segment-tree vs
    * streaming frame evaluation reorder double additions otherwise).
    */
  def q06: Q = Q(
    "q06_trailing_window",
    Some("""
      |SELECT event_id, user_id,
      |       CASE WHEN cnt > 0 THEN CAST(s AS DOUBLE) / cnt END AS trail_avg_value
      |FROM (
      |  SELECT event_id, user_id,
      |         sum(CAST(value AS DECIMAL(28,6))) OVER w AS s,
      |         count(value) OVER w AS cnt
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
      |)
      |ORDER BY user_id, event_id
      |""".stripMargin)) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-10, -1)
    Tables.events(s, dir)
      .withColumn("s", sum(col("value").cast(DecimalType(28, 6))).over(w))
      .withColumn("cnt", count(col("value")).over(w))
      .select(
        col("event_id"), col("user_id"),
        when(col("cnt") > 0, col("s").cast("double") / col("cnt")).as("trail_avg_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** W2/W3: latest-row-per-group via row_number over descending total order.
    * ≙ `src/features/massey.py:52-59`, `jobs/06_build_silver_rolling.py:51-57`.
    */
  def q07: Q = Q(
    "q07_latest_per_user",
    Some("""
      |SELECT user_id, event_id, event_type, value
      |FROM (
      |  SELECT user_id, event_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |WHERE rn = 1
      |ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    Relational.latestPerKey(
      Tables.events(s, dir).select("user_id", "event_id", "event_type", "value", "ts"),
      Seq("user_id"), Seq("ts", "event_id"))
      .drop("ts")
      .orderBy(col("user_id"))
  }

  /** U1/U3 + P2 + P3: symmetric perspective union with literal labels and a
    * derived margin column. ≙ `jobs/03_build_gold_training_set.py:39-60`.
    * Narrow op — no shuffle beyond the final presentation sort.
    */
  def q08: Q = Q(
    "q08_symmetric_union",
    Some("""
      |SELECT l_orderkey AS okey, l_linenumber AS line, l_suppkey AS side_a,
      |       l_partkey AS side_b, 1 AS label, l_quantity AS margin
      |FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, 0, -l_quantity
      |FROM lineitem
      |ORDER BY okey, line, label
      |""".stripMargin)) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    Relational.symmetricUnion(
      li,
      d => d.select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("line"),
        col("l_suppkey").as("side_a"), col("l_partkey").as("side_b"),
        lit(1).as("label"), col("l_quantity").as("margin")),
      d => d.select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("line"),
        col("l_partkey").as("side_a"), col("l_suppkey").as("side_b"),
        lit(0).as("label"), (-col("l_quantity")).as("margin")))
      .orderBy(col("okey"), col("line"), col("label"))
  }

  /** A5: distinct enumeration (season lists in the reference,
    * `jobs/04_train_and_export_submission.py:64`). Partial-distinct
    * map-side, then one shuffle.
    */
  def q09: Q = Q(
    "q09_distinct_seasons",
    Some("""
      |SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS season, o_orderstatus
      |FROM orders
      |ORDER BY season, o_orderstatus
      |""".stripMargin)) { (s, dir) =>
    Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("season"), col("o_orderstatus"))
      .distinct()
      .orderBy(col("season"), col("o_orderstatus"))
  }

  /** O: global top-k with deterministic tie-break — Spark plans
    * TakeOrderedAndProject (per-partition heap + driver merge, no full
    * sort/shuffle of the input).
    */
  def q10: Q = Q(
    "q10_top_orders",
    Some("""
      |SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100
      |""".stripMargin)) { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** F1/F2/F3: trim, regexp_extract (seed-parse shape,
    * `src/features/seeds.py:21,49-50`), split+getItem (ID-parse shape,
    * `jobs/04_train_and_export_submission.py:84-90`). All codegen'd.
    */
  def q11: Q = Q(
    "q11_string_funcs",
    Some("""
      |SELECT p_partkey,
      |       regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
      |       split_part(p_name, ' ', 1) AS name_head,
      |       upper(trim(p_type)) AS type_norm,
      |       CAST(length(p_name) AS INTEGER) AS name_len
      |FROM part
      |WHERE p_size >= 25
      |ORDER BY p_partkey
      |""".stripMargin)) { (s, dir) =>
    Tables.part(s, dir)
      .filter(col("p_size") >= 25)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "#([0-9]+)", 1).as("brand_num"),
        split(col("p_name"), " ").getItem(0).as("name_head"),
        upper(trim(col("p_type"))).as("type_norm"),
        length(col("p_name")).as("name_len"))
      .orderBy(col("p_partkey"))
  }

  /** J7 + A3: strength-of-schedule shape — join facts to a peer entity's
    * stats, then average the peer stat per subject.
    * ≙ `src/features/sos.py:50-59` (mean opponent WinRate/Elo).
    */
  def q12: Q = Q(
    "q12_avg_partner_stat",
    Some("""
      |SELECT o_custkey,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_supp_acctbal
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY o_custkey
      |ORDER BY o_custkey
      |""".stripMargin)) { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_items"),
        (dsum(col("s_acctbal")) / count(lit(1))).as("avg_supp_acctbal"))
      .orderBy(col("o_custkey"))
  }

  /** A2: percentile consensus (mean + median + count per group).
    * ≙ Massey consensus `src/features/massey.py:63-71`. Exact percentile
    * here so the oracle (quantile_cont) matches bit-for-bit; the approx
    * variant (ApproximatePercentile) is benchmarked separately.
    */
  def q13: Q = Q(
    "q13_percentile_consensus",
    Some("""
      |SELECT c_mktsegment,
      |       count(*) AS n_cust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_bal,
      |       quantile_cont(c_acctbal, 0.5) AS median_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment
      |""".stripMargin)) { (s, dir) =>
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_cust"),
        (dsum(col("c_acctbal")) / count(lit(1))).as("mean_bal"),
        expr("percentile(c_acctbal, 0.5)").as("median_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** A6 (exact-arithmetic variant): order-sensitive per-group fold — an
    * integer hash chain folded in (ts, event_id) order via the
    * secondary-sort OrderedFold (see graft.operators.OrderedFold, the scale
    * re-expression of the reference's season ELO fold,
    * `src/features/elo.py:93-121`). DuckDB list_reduce left-folds the same
    * ordered list — exact integer match proves ordering + fold semantics.
    */
  def q14: Q = Q(
    "q14_ordered_hash_fold",
    Some("""
      |SELECT user_id,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT), list(event_id ORDER BY ts, event_id)),
      |         (a, b) -> (a * 31 + b) % 1000000007) AS fold_hash
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir).select("user_id", "ts", "event_id")
    val out = StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("fold_hash", LongType, nullable = false)))
    OrderedFold.foldGroups[Long](
      ev, Seq("user_id"), Seq(col("ts"), col("event_id")), out)(
      init = _ => 0L,
      step = (acc, r) => (acc * 31L + r.getLong(2)) % 1000000007L, // event_id
      emit = (key, acc) => Iterator(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](key.getLong(0), acc))))
      .orderBy(col("user_id"))
  }

  /** A6 (floating variant): EWMA fold s' = 0.9·s + 0.1·x in event order —
    * the ELO-update shape (state × observation → state) with double state.
    * Same IEEE op sequence as DuckDB's list_reduce left fold → doubles
    * match bit-for-bit with no rounding.
    */
  def q15: Q = Q(
    "q15_ewma_fold",
    Some("""
      |SELECT user_id,
      |       list_reduce(
      |         list_prepend(CAST(500.0 AS DOUBLE), list(value ORDER BY ts, event_id)),
      |         (a, x) -> 0.9 * a + 0.1 * x) AS ewma
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id
      |""".stripMargin)) { (s, dir) =>
    val ev = Tables.events(s, dir).select("user_id", "ts", "event_id", "value")
    val out = StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("ewma", DoubleType, nullable = false)))
    OrderedFold.foldGroups[Double](
      ev, Seq("user_id"), Seq(col("ts"), col("event_id")), out)(
      init = _ => 500.0,
      step = (acc, r) => 0.9 * acc + 0.1 * r.getDouble(3), // value
      emit = (key, acc) => Iterator(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](key.getLong(0), acc))))
      .orderBy(col("user_id"))
  }
}
