package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import graft.Tables

/** Round-11 ops-analytics wave: ABC revenue classification of parts,
  * the ABC×XYZ demand-variability cross-tab, Silver–Meal and
  * part-period-balancing lot-sizing replays on the monthly demand
  * series, and the turn-of-month calendar panel.
  *
  * Exactness: ABC rides exact cents with the DESC cumulative as
  * sx − cum_asc + own (oracle ties cents DESC, pk DESC ≡ Spark's
  * ascending `globalRankCum` with pk ASC, stated); XYZ CVs use the
  * dense-months identity var = (M·Q − S²)/M² (absent months are
  * zero demand — no dense join needed); both lot-sizing heuristics
  * compare EXACT INTEGER cross-multiplied costs (setup K = S div M
  * data-scaled, holding h = 1 per unit-month), Spark as a
  * single-group [[graft.operators.OrderedFold]] and the oracle as
  * the identical RECURSIVE CTE; the calendar panel is integer
  * ratios.
  *
  * Scale: part-dim ranks ride the bucket-parallel globalRankCum
  * (never a single-partition window over the part dim); the demand
  * series is month-dim (~84 rows). */
object AbcLotQueries {

  val all: Seq[Q] = Seq(q1171, q1172, q1173, q1174, q1175)

  /** Oracle part-revenue CTE pv(pk, cents) + totals. */
  private def sqlPv: String = """
    |pv AS (SELECT l_partkey AS pk,
    |              sum(CAST(l_extendedprice * 100 AS BIGINT)) AS cents
    |       FROM lineitem GROUP BY 1),
    |tv AS (SELECT count(*) AS np, sum(cents) AS sx FROM pv)""".stripMargin

  /** Oracle ABC class per part (DESC cum share; ties DESC, pk DESC). */
  private def sqlAbc: String = s"""
    |${sqlPv},
    |rkp AS (SELECT pk, cents,
    |          sum(cents) OVER (ORDER BY cents DESC, pk DESC
    |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    |            AS cumdesc
    |        FROM pv),
    |abc AS (SELECT pk, cents,
    |          CASE WHEN 1000 * cumdesc <= 800 * (SELECT sx FROM tv)
    |               THEN 'A'
    |               WHEN 1000 * cumdesc <= 950 * (SELECT sx FROM tv)
    |               THEN 'B' ELSE 'C' END AS cls
    |        FROM rkp)""".stripMargin

  /** Spark ABC class per part via bucket-parallel globalRankCum —
    * ONE lineitem pass, SpineCache-backed (part-dim rows). */
  private def abc(s: SparkSession, dir: String): DataFrame =
    graft.sources.SpineCache.table(s, dir, "part_abc",
      Seq("lineitem"))(abcBuild(s, dir))

  private def abcBuild(s: SparkSession, dir: String): DataFrame = {
    val pv = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(expr("sum(CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0))" +
        " AS LONG))").as("cents"))
    val tv = pv.agg(sum(col("cents")).as("sx"))
    val rk = graft.dedup.SortedNeighborhood.globalRankCum(
      pv.withColumn("__bkt", expr("CAST(cents div 1048576 AS BIGINT)")),
      idCol = "pk", bucketCol = "__bkt", tieCols = Seq("cents"),
      partCols = Nil, cumCol = Some("cents"))
    rk.crossJoin(broadcast(tv))
      .select(col("pk"), col("cents"),
        (col("sx") - col("__cum") + col("cents")).as("cumdesc"),
        col("sx"))
      .select(col("pk"), col("cents"),
        when(lit(1000) * col("cumdesc") <= lit(800) * col("sx"), "A")
          .when(lit(1000) * col("cumdesc") <= lit(950) * col("sx"), "B")
          .otherwise("C").as("cls"))
  }

  /** ABC classification summary per class. */
  def q1171: Q = Q(
    "q1171_abc_classification",
    Some(s"""
      |WITH ${sqlAbc}
      |SELECT cls AS abc_class,
      |       CAST(count(*) AS BIGINT) AS n_parts,
      |       CAST((1000000 * count(*)) // (SELECT np FROM tv) AS BIGINT)
      |         AS part_share_ppm,
      |       CAST((1000000 * sum(cents)) // (SELECT sx FROM tv) AS BIGINT)
      |         AS revenue_share_ppm
      |FROM abc GROUP BY 1 ORDER BY abc_class
      |""".stripMargin)) { (s, dir) =>
    val a = abc(s, dir)
    val tv = a.agg(count(lit(1)).as("np"), sum(col("cents")).as("sx"))
    a.groupBy(col("cls").as("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("sc"))
      .crossJoin(broadcast(tv))
      .select(col("abc_class"), col("n_parts"),
        expr("CAST((1000000 * n_parts) div np AS BIGINT)")
          .as("part_share_ppm"),
        expr("CAST((1000000 * sc) div sx AS BIGINT)")
          .as("revenue_share_ppm"))
      .orderBy(col("abc_class"))
  }

  /** ABC×XYZ cross-tab: per-part monthly-demand CV via the
    * dense-months identity, X < 0.5, Y < 1.0, else Z. */
  def q1172: Q = {
    val cv = "(sqrt((CAST(mm AS DOUBLE) * CAST(qq AS DOUBLE)" +
      " - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))" +
      " / (CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))))"
    Q("q1172_abc_xyz_crosstab",
      Some(s"""
        |WITHH_PLACEHOLDER
        |SELECT a.cls AS abc_class, x.xyz AS xyz_class,
        |       CAST(count(*) AS BIGINT) AS n_parts
        |FROM abc a JOIN xyz x ON x.pk = a.pk
        |GROUP BY 1, 2 ORDER BY abc_class, xyz_class
        |""".stripMargin
        .replace("WITHH_PLACEHOLDER",
          s"""WITH ${sqlAbc},
          |md AS (SELECT l_partkey AS pk,
          |         (year(CAST(l_shipdate AS DATE)) - 1992) * 12
          |           + month(CAST(l_shipdate AS DATE)) AS mraw,
          |         sum(CAST(l_quantity AS BIGINT)) AS d
          |       FROM lineitem GROUP BY 1, 2),
          |mm AS (SELECT count(DISTINCT mraw) AS mm FROM md),
          |pcv AS (SELECT pk, sum(d) AS sd,
          |          sum(CAST(d AS BIGINT) * d) AS qq
          |        FROM md GROUP BY 1),
          |xyz AS (SELECT pk,
          |          CASE WHEN 1000.0 * $cv < 500.0 THEN 'X'
          |               WHEN 1000.0 * $cv < 1000.0 THEN 'Y'
          |               ELSE 'Z' END AS xyz
          |        FROM pcv CROSS JOIN mm)""".stripMargin))) { (s, dir) =>
      val a = abc(s, dir)
      val md = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("pk"),
          ((year(col("l_shipdate").cast("date")) - 1992) * 12
            + month(col("l_shipdate").cast("date"))).as("mraw"))
        .agg(sum(col("l_quantity").cast("long")).as("d"))
      val mm = md.select(col("mraw")).distinct()
        .agg(count(lit(1)).as("mm"))
      val xyz = md.groupBy(col("pk").as("pkx"))
        .agg(sum(col("d")).as("sd"),
          sum(expr("CAST(d AS BIGINT) * d")).as("qq"))
        .crossJoin(broadcast(mm))
        .select(col("pkx"),
          when(expr(s"1000.0 * $cv") < 500.0, "X")
            .when(expr(s"1000.0 * $cv") < 1000.0, "Y")
            .otherwise("Z").as("xyz"))
      a.join(xyz, col("pkx") === col("pk"))
        .groupBy(col("cls").as("abc_class"), col("xyz").as("xyz_class"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy(col("abc_class"), col("xyz_class"))
    }
  }

  /** Oracle monthly-demand + K CTEs (K = S div M, h = 1 stated). */
  private def sqlDm: String = """
    |md0 AS (SELECT (year(CAST(l_shipdate AS DATE)) - 1992) * 12
    |          + month(CAST(l_shipdate AS DATE)) AS mraw,
    |          sum(CAST(l_quantity AS BIGINT)) AS d
    |        FROM lineitem GROUP BY 1),
    |dm AS (SELECT dense_rank() OVER (ORDER BY mraw) AS m, d FROM md0),
    |kk AS (SELECT count(*) AS mn, sum(d) // count(*) AS k FROM dm)""".stripMargin

  /** Oracle lot-sizing recursion: rule = 'sm' (Silver–Meal) or 'ppb'
    * (part-period balancing); emits (m, bid, bt, bh, bd) rows. */
  private def sqlLot(rule: String): String = {
    val extend =
      if (rule == "sm")
        "(kk.k + z.bh + z.bt * dm.d) * z.bt <= (kk.k + z.bh) * (z.bt + 1)"
      else
        "z.bh + z.bt * dm.d <= kk.k"
    s"""
    |pz AS (
    |  SELECT 0 AS m, 0 AS bid, CAST(0 AS BIGINT) AS bt,
    |         CAST(0 AS BIGINT) AS bh, CAST(0 AS BIGINT) AS bd
    |  UNION ALL
    |  SELECT z.m + 1,
    |         CASE WHEN z.bt = 0 THEN z.bid + 1
    |              WHEN $extend THEN z.bid ELSE z.bid + 1 END,
    |         CASE WHEN z.bt = 0 THEN CAST(1 AS BIGINT)
    |              WHEN $extend THEN z.bt + 1 ELSE CAST(1 AS BIGINT) END,
    |         CASE WHEN z.bt = 0 THEN CAST(0 AS BIGINT)
    |              WHEN $extend THEN z.bh + z.bt * dm.d
    |              ELSE CAST(0 AS BIGINT) END,
    |         CASE WHEN z.bt = 0 THEN dm.d
    |              WHEN $extend THEN z.bd + dm.d ELSE dm.d END
    |  FROM pz z JOIN dm ON dm.m = z.m + 1 CROSS JOIN kk
    |  WHERE z.m < (SELECT mn FROM kk)),
    |bats AS (SELECT bid, max(bt) AS len, max(bh) AS holding,
    |           max(bd) AS lot
    |         FROM pz WHERE bid >= 1 GROUP BY 1)""".stripMargin
  }

  /** Spark lot-sizing fold over the month-dim demand series. */
  private def lot(s: SparkSession, dir: String,
      sm: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val md0 = Tables.lineitem(s, dir)
      .groupBy(((year(col("l_shipdate").cast("date")) - 1992) * 12
        + month(col("l_shipdate").cast("date"))).as("mraw"))
      .agg(sum(col("l_quantity").cast("long")).as("d"))
    val dm = md0.select(
      dense_rank().over(Window.orderBy(col("mraw"))).as("m"), col("d"))
    val kk = dm.agg(expr("sum(d) div count(*)").as("k"))
    val rows = dm.crossJoin(broadcast(kk))
      .select(lit(0L).as("g"), col("m").cast("long").as("m"),
        col("d"), col("k"))
    val out = StructType(Seq(
      StructField("bid", LongType, nullable = false),
      StructField("len", LongType, nullable = false),
      StructField("holding", LongType, nullable = false),
      StructField("lot", LongType, nullable = false)))
    class St {
      var k: Long = 0L
      var bid: Long = 0L; var bt: Long = 0L
      var bh: Long = 0L; var bd: Long = 0L
      val done = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
    }
    graft.operators.OrderedFold.foldGroups[St](
      rows, Seq("g"), Seq(col("m")), out)(
      init = _ => new St,
      step = { (st, row) =>
        val d = row.getLong(2); st.k = row.getLong(3)
        val extend =
          if (st.bt == 0L) false
          else if (sm)
            (st.k + st.bh + st.bt * d) * st.bt <=
              (st.k + st.bh) * (st.bt + 1)
          else st.bh + st.bt * d <= st.k
        if (st.bt == 0L) {
          st.bid += 1; st.bt = 1; st.bh = 0; st.bd = d
        } else if (extend) {
          st.bh += st.bt * d; st.bt += 1; st.bd += d
        } else {
          st.done += ((st.bid, st.bt, st.bh, st.bd))
          st.bid += 1; st.bt = 1; st.bh = 0; st.bd = d
        }
        st
      },
      emit = { (_, st) =>
        if (st.bt > 0) st.done += ((st.bid, st.bt, st.bh, st.bd))
        st.done.iterator.map { case (b, l, h, d2) =>
          new GenericInternalRow(Array[Any](b, l, h, d2))
        }
      })
  }

  private def sqlLotOut: String = """
    |SELECT CAST(count(*) AS BIGINT) AS n_batches,
    |       CAST((1000 * sum(len)) // count(*) AS BIGINT)
    |         AS mean_len_milli,
    |       CAST(sum(holding) AS BIGINT) AS total_holding,
    |       CAST(max(lotmax) AS BIGINT) AS max_lot,
    |       CAST((SELECT k FROM kk) * count(*) + sum(holding) AS BIGINT)
    |         AS total_cost
    |FROM (SELECT bid, len, holding, lot, max(lot) OVER () AS lotmax
    |      FROM bats) q""".stripMargin

  private def lotOut(b: DataFrame, kk: DataFrame): DataFrame = {
    val mx = b.agg(max(col("lot")).as("lotmax"))
    b.agg(count(lit(1)).as("nb"), sum(col("len")).as("sl"),
      sum(col("holding")).as("sh"))
      .crossJoin(broadcast(mx)).crossJoin(broadcast(kk))
      .select(col("nb").cast("long").as("n_batches"),
        expr("CAST((1000 * sl) div nb AS BIGINT)").as("mean_len_milli"),
        col("sh").cast("long").as("total_holding"),
        col("lotmax").cast("long").as("max_lot"),
        expr("CAST(k * nb + sh AS BIGINT)").as("total_cost"))
  }

  /** Silver–Meal lot-sizing replay. */
  def q1173: Q = Q(
    "q1173_silver_meal",
    Some(s"""
      |WITH RECURSIVE ${sqlDm},${sqlLot("sm")}
      |${sqlLotOut}
      |""".stripMargin)) { (s, dir) =>
    val b = lot(s, dir, sm = true)
    val md0 = Tables.lineitem(s, dir)
      .groupBy(((year(col("l_shipdate").cast("date")) - 1992) * 12
        + month(col("l_shipdate").cast("date"))).as("mraw"))
      .agg(sum(col("l_quantity").cast("long")).as("d"))
    val kk = md0.agg(expr("sum(d) div count(*)").as("k"))
    lotOut(b, kk)
  }

  /** Part-period-balancing lot-sizing replay. */
  def q1174: Q = Q(
    "q1174_part_period_balancing",
    Some(s"""
      |WITH RECURSIVE ${sqlDm},${sqlLot("ppb")}
      |${sqlLotOut}
      |""".stripMargin)) { (s, dir) =>
    val b = lot(s, dir, sm = false)
    val md0 = Tables.lineitem(s, dir)
      .groupBy(((year(col("l_shipdate").cast("date")) - 1992) * 12
        + month(col("l_shipdate").cast("date"))).as("mraw"))
      .agg(sum(col("l_quantity").cast("long")).as("d"))
    val kk = md0.agg(expr("sum(d) div count(*)").as("k"))
    lotOut(b, kk)
  }

  /** Turn-of-month panel: per day-of-month revenue index vs the
    * overall daily mean. */
  def q1175: Q = Q(
    "q1175_turn_of_month",
    Some(s"""
      |WITH ${DaySeries.sqlDay},
      |dom AS (SELECT day(dd) AS dom, count(*) AS nd, sum(z) AS sz
      |        FROM day GROUP BY 1),
      |tot AS (SELECT sum(nd) AS tn, sum(sz) AS ts FROM dom)
      |SELECT CAST(dom AS BIGINT) AS day_of_month,
      |       CAST(nd AS BIGINT) AS n_days,
      |       CAST(sz // nd AS BIGINT) AS mean_rev_cents,
      |       CAST((1000 * sz * tn) // (nd * ts) AS BIGINT) AS index_milli
      |FROM dom CROSS JOIN tot ORDER BY day_of_month
      |""".stripMargin)) { (s, dir) =>
    val day = Tables.lineitem(s, dir)
      .select(col("l_shipdate").cast("date").as("dd"),
        expr("CAST(CAST(l_extendedprice * 100 AS DECIMAL(38,0)) AS LONG)")
          .as("v"))
      .groupBy(col("dd")).agg(sum(col("v")).as("z"))
    val dom = day.groupBy(dayofmonth(col("dd")).as("dom"))
      .agg(count(lit(1)).as("nd"), sum(col("z")).as("sz"))
    val tot = dom.agg(sum(col("nd")).as("tn"), sum(col("sz")).as("ts"))
    dom.crossJoin(broadcast(tot))
      .select(col("dom").cast("long").as("day_of_month"),
        col("nd").cast("long").as("n_days"),
        expr("CAST(sz div nd AS BIGINT)").as("mean_rev_cents"),
        expr("CAST((1000 * sz * tn) div (nd * ts) AS BIGINT)")
          .as("index_milli"))
      .orderBy(col("day_of_month"))
  }
}
