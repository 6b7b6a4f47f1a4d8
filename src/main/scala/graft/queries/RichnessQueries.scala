package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.MatOps
import graft.Tables
import graft.text.TextAnalysis

/** Round-7 richness wave: Chao1 unseen-vocabulary estimation across
  * n-gram orders, sequential pattern supports (A-then-B, not mere
  * adjacency), the Chow structural-break test, the Lorenz asymmetry
  * coefficient, and per-user interarrival burstiness. Everything from
  * exact counts; the Chow SSEs come from closed-form moment algebra
  * (never a residual pass). */
object RichnessQueries {

  val all: Seq[Q] = Seq(q541, q542, q543, q544, q545)

  /** Bias-corrected Chao1 richness estimates for tokens, bigrams, and
    * trigrams: Ŝ = S_obs + F₁(F₁−1)/(2(F₂+1)) from the singleton/
    * doubleton counts — "how much vocabulary haven't we seen yet", the
    * coverage planner for corpus growth (the estimation mate of the
    * Good–Turing table, q466). Exact integers. */
  def q541: Q = {
    def gramCte(n: Int, name: String) = {
      val expr0 = (0 until n).map(i => s"ts[i + $i]").mkString(" || ' ' || ")
      s"""g$name AS (
         |  SELECT $expr0 AS g
         |  FROM tok, unnest(range(1, len(ts) + ${2 - n})) AS u(i)
         |  WHERE len(ts) >= $n),
         |c$name AS (SELECT g, count(*) AS c FROM g$name GROUP BY 1),
         |s$name AS (
         |  SELECT '$name' AS gram, count(*) AS s_obs,
         |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         |         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
         |  FROM c$name)""".stripMargin
    }
    Q("q541_chao1_richness",
      Some(s"""
        |WITH tok AS (
        |  SELECT regexp_split_to_array(trim(text), '\\s+') AS ts
        |  FROM documents),
        |${gramCte(1, "unigram")},
        |${gramCte(2, "bigram")},
        |${gramCte(3, "trigram")},
        |u AS (SELECT * FROM sunigram UNION ALL SELECT * FROM sbigram
        |      UNION ALL SELECT * FROM strigram)
        |SELECT gram, CAST(s_obs AS BIGINT) AS s_observed,
        |       CAST(f1 AS BIGINT) AS singletons,
        |       CAST(f2 AS BIGINT) AS doubletons,
        |       CAST(s_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
        |         AS chao1_estimate
        |FROM u ORDER BY gram
        |""".stripMargin)) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(TextAnalysis.tokens(col("text")).as("ts"))
        .materialize()
      def grams(n: Int, name: String) = {
        val parts = (0 until n).map(i => s"ts[i + $i]")
          .mkString(", ' ', ")
        tok.where(size(col("ts")) >= n)
          .select(explode(expr(s"transform(sequence(0, size(ts) - $n)," +
            s" i -> concat($parts))")).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("s_obs"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
          .select(lit(name).as("gram"), col("s_obs"), col("f1"),
            col("f2"))
      }
      grams(1, "unigram").unionAll(grams(2, "bigram"))
        .unionAll(grams(3, "trigram"))
        .select(col("gram"), col("s_obs").as("s_observed"),
          col("f1").as("singletons"), col("f2").as("doubletons"),
          expr("s_obs + (f1 * (f1 - 1)) div (2 * (f2 + 1))")
            .as("chao1_estimate"))
        .orderBy(col("gram"))
    }
  }

  /** Sequential pattern supports: for every ordered event-type pair
    * (A, B), how many users ever do A and LATER B (first-A before
    * last-B — existence, not adjacency, unlike the transition faces
    * q125/q337), with lift against independent co-occurrence. The
    * per-user reduction is two timestamps per type; the pair table is
    * type-dim². */
  def q542: Q = Q(
    "q542_sequential_patterns",
    Some("""
      |WITH ut AS (
      |  SELECT user_id, event_type, min(epoch_ns(ts)) AS mn,
      |         max(epoch_ns(ts)) AS mx
      |  FROM events GROUP BY 1, 2),
      |nu AS (SELECT count(DISTINCT user_id) AS u FROM ut),
      |tc AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |sp AS (
      |  SELECT a.event_type AS t_first, b.event_type AS t_then,
      |         sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS support
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |       AND a.event_type != b.event_type
      |  GROUP BY 1, 2)
      |SELECT sp.t_first, sp.t_then, CAST(sp.support AS BIGINT) AS support,
      |       CAST((1000 * sp.support * nu.u) // (ta.n * tb.n) AS BIGINT)
      |         AS lift_milli
      |FROM sp JOIN tc ta ON ta.event_type = sp.t_first
      |     JOIN tc tb ON tb.event_type = sp.t_then CROSS JOIN nu
      |ORDER BY t_first, t_then
      |""".stripMargin)) { (s, dir) =>
    val ut = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .materialize() // user×type dim
    val nu = ut.agg(countDistinct(col("user_id")).as("u"))
    val tc = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val sp = ut.as("a")
      .join(ut.select(col("user_id").as("bu"),
        col("event_type").as("bt"), col("mx").as("bmx")),
        col("user_id") === col("bu")
          && col("event_type") =!= col("bt"))
      .groupBy(col("event_type").as("t_first"), col("bt").as("t_then"))
      .agg(sum(when(col("mn") < col("bmx"), 1L).otherwise(0L))
        .as("support"))
    sp.join(broadcast(tc.select(col("event_type").as("fa"),
        col("n").as("na"))), col("fa") === col("t_first"))
      .join(broadcast(tc.select(col("event_type").as("fb"),
        col("n").as("nb"))), col("fb") === col("t_then"))
      .crossJoin(broadcast(nu))
      .select(col("t_first"), col("t_then"), col("support"),
        expr("(1000 * support * u) div (na * nb)").as("lift_milli"))
      .orderBy(col("t_first"), col("t_then"))
  }

  /** Chow structural-break test of the daily-revenue trend at the
    * 1998-01-01 boundary: pooled vs split OLS, with every SSE from the
    * closed form (d_y·d_x − k²)/(n·d_x) on exact integer moments — no
    * residual pass anywhere. F = ((SSE_p − SSE₁ − SSE₂)/2) /
    * ((SSE₁+SSE₂)/(n−4)), the "did the trend change at a known date"
    * test behind q536's free-search segmentation. */
  def q543: Q = {
    def sse(pfx: String) =
      s"(CAST(${pfx}dy AS DOUBLE) - CAST(${pfx}kn AS DOUBLE)" +
        s" * CAST(${pfx}kn AS DOUBLE) / CAST(${pfx}dx AS DOUBLE))" +
        s" / CAST(${pfx}n AS DOUBLE)"
    val f = s"(((${sse("p_")}) - (${sse("a_")}) - (${sse("b_")})) / 2.0)" +
      s" / (((${sse("a_")}) + (${sse("b_")}))" +
      " / CAST(p_n - 4 AS DOUBLE))"
    def momCte(name: String, cond: String) =
      s"""$name AS (
         |  SELECT count(*) AS n, sum(t) AS sx, sum(x) AS sy,
         |         sum(t * x) AS sxy, sum(t * t) AS sxx,
         |         sum(CAST(x AS HUGEINT) * x) AS syy
         |  FROM pt $cond),
         |${name}f AS (
         |  SELECT n AS ${name.head}_n,
         |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
         |           AS ${name.head}_kn,
         |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
         |           AS ${name.head}_dx,
         |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
         |           AS ${name.head}_dy
         |  FROM $name)""".stripMargin
    Q("q543_chow_test",
      Some(s"""
        |WITH ${Scaffolds.sqlOrderDollars("x")},
        |mm AS (SELECT min(d) AS lo FROM o),
        |pt AS (
        |  SELECT rev.d - mm.lo AS t, rev.x,
        |         CASE WHEN rev.d < 10227 THEN 0 ELSE 1 END AS post
        |  FROM rev CROSS JOIN mm),
        |${momCte("pool", "")},
        |${momCte("aseg", "WHERE post = 0")},
        |${momCte("bseg", "WHERE post = 1")}
        |SELECT CAST(p_n AS BIGINT) AS n_days,
        |       CAST(a_n AS BIGINT) AS n_pre,
        |       CAST(floor(CAST($f AS DECIMAL(28,6)) * 1000) AS BIGINT)
        |         AS chow_f_milli
        |FROM poolf CROSS JOIN asegf CROSS JOIN bsegf
        |""".stripMargin)) { (s, dir) =>
      val o = Scaffolds.orderCents(s, dir).materialize()
      val rev = Scaffolds.dollarsByDay(o, "x")
      val mm = o.agg(min(col("d")).as("lo"))
      val pt = rev.crossJoin(broadcast(mm))
        .select((col("d") - col("lo")).as("t"), col("x"),
          when(col("d") < 10227, 0).otherwise(1).as("post"))
        .materialize()
      def mom(df: org.apache.spark.sql.DataFrame, pfx: String) =
        df.agg(count(lit(1)).as("n"), sum(col("t")).as("sx"),
            sum(col("x")).as("sy"), sum(col("t") * col("x")).as("sxy"),
            sum(col("t") * col("t")).as("sxx"),
            sum(col("x").cast("decimal(38,0)") * col("x")).as("syy"))
          .select(col("n").as(s"${pfx}n"),
            expr("CAST(n AS DECIMAL(38,0)) * sxy" +
              " - CAST(sx AS DECIMAL(38,0)) * sy").as(s"${pfx}kn"),
            expr("CAST(n AS DECIMAL(38,0)) * sxx" +
              " - CAST(sx AS DECIMAL(38,0)) * sx").as(s"${pfx}dx"),
            expr("CAST(n AS DECIMAL(38,0)) * syy" +
              " - CAST(sy AS DECIMAL(38,0)) * sy").as(s"${pfx}dy"))
      val pool = mom(pt, "p_")
      val aseg = mom(pt.where(col("post") === 0), "a_")
      val bseg = mom(pt.where(col("post") === 1), "b_")
      pool.crossJoin(broadcast(aseg)).crossJoin(broadcast(bseg))
        .select(col("p_n").as("n_days"), col("a_n").as("n_pre"),
          expr(s"CAST(floor(CAST($f AS DECIMAL(28,6)) * 1000) AS BIGINT)")
            .as("chow_f_milli"))
    }
  }

  /** Lorenz asymmetry coefficient of customer spend: S = F(μ) + L(μ)
    * — the share of customers below the mean plus the share of spend
    * they hold. S = 1 means a symmetric Lorenz curve; S < 1 means
    * inequality is driven by a few giants (it is, here). All exact
    * integer comparisons (x < μ ⟺ n·x < Σx) and ratios. */
  def q544: Q = Q(
    "q544_lorenz_asymmetry",
    Some("""
      |WITH sp AS (
      |  SELECT c.c_custkey AS k,
      |         coalesce(CAST(sum(CAST(o.o_totalprice * 100 AS HUGEINT))
      |                  AS BIGINT), 0) AS x
      |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |  GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(x) AS sx FROM sp),
      |lo AS (
      |  SELECT count(*) AS m, sum(sp.x) AS mass
      |  FROM sp CROSS JOIN tot
      |  WHERE CAST(tot.n AS HUGEINT) * sp.x < tot.sx)
      |SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_customers,
      |       CAST(lo.m AS BIGINT) AS n_below_mean,
      |       CAST((1000 * lo.m) // tot.n AS BIGINT) AS f_mu_milli,
      |       CAST((1000 * lo.mass) // tot.sx AS BIGINT) AS l_mu_milli,
      |       CAST((1000 * lo.m) // tot.n + (1000 * lo.mass) // tot.sx
      |            AS BIGINT) AS asymmetry_milli
      |FROM lo CROSS JOIN tot
      |""".stripMargin)) { (s, dir) =>
    val sp = Tables.customer(s, dir).select(col("c_custkey").as("k"))
      .join(Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_totalprice")),
        col("o_custkey") === col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(expr("CAST(sum(CAST(o_totalprice * 100" +
        " AS DECIMAL(38,0))) AS BIGINT)"), lit(0L)).as("x"))
      .materialize()
    val tot = sp.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val lo = sp.crossJoin(broadcast(tot))
      .where(col("n").cast("decimal(38,0)") * col("x") < col("sx"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("mass"),
        max(col("n")).as("n"), max(col("sx")).as("sx"))
    lo.select(col("n").as("n_customers"), col("m").as("n_below_mean"),
      expr("(1000 * m) div n").as("f_mu_milli"),
      expr("(1000 * mass) div sx").as("l_mu_milli"),
      expr("(1000 * m) div n + (1000 * mass) div sx")
        .as("asymmetry_milli"))
  }

  /** Per-user interarrival burstiness B = (σ−μ)/(σ+μ) (Goh–Barabási),
    * which reduces to (√(nQ−S²)−S)/(√(nQ−S²)+S) — the n cancels, so
    * one exactly-rounded sqrt per user on exact gap moments. Histogram
    * over shifted 0.1-wide buckets: B < 0 regular, ≈ 0 Poisson,
    * > 0 bursty. */
  def q545: Q = Q(
    "q545_user_burstiness",
    Some("""
      |WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events),
      |gaps AS (
      |  SELECT user_id,
      |         tns - lag(tns) OVER (PARTITION BY user_id
      |           ORDER BY tns, event_id) AS g
      |  FROM ev),
      |mo AS (
      |  SELECT user_id, count(*) AS n, sum(g) AS sg,
      |         sum(CAST(g AS HUGEINT) * g) AS qg
      |  FROM gaps WHERE g IS NOT NULL GROUP BY 1 HAVING count(*) >= 2),
      |b AS (
      |  SELECT user_id,
      |         CAST(floor(CAST(
      |             (sqrt(CAST(CAST(n AS HUGEINT) * qg
      |                - CAST(sg AS HUGEINT) * sg AS DOUBLE))
      |              - CAST(sg AS DOUBLE))
      |             / (sqrt(CAST(CAST(n AS HUGEINT) * qg
      |                - CAST(sg AS HUGEINT) * sg AS DOUBLE))
      |              + CAST(sg AS DOUBLE))
      |           AS DECIMAL(28,6)) * 1000) AS BIGINT) AS bm
      |  FROM mo)
      |SELECT CAST((bm + 1000) // 100 AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM b GROUP BY 1 ORDER BY 1
      |""".stripMargin)) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tns"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("ts").as("tns"), col("event_id"))
      .withColumn("g", col("tns") - lag(col("tns"), 1).over(w))
      .where(col("g").isNotNull)
    val mo = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("qg"))
      .where(col("n") >= 2)
    val b = mo.select(
      expr("""CAST(floor(CAST(
          (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * qg
             - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE))
           - CAST(sg AS DOUBLE))
          / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * qg
             - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE))
           + CAST(sg AS DOUBLE))
        AS DECIMAL(28,6)) * 1000) AS BIGINT)""").as("bm"))
    b.groupBy(expr("(bm + 1000) div 100").as("bucket"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("bucket"))
  }
}
