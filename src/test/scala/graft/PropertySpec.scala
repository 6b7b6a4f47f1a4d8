package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.marchmania.{Elo, LongGames, TeamSeasonStats}

/** ScalaCheck property tests over arbitrary game sets (SURVEY §5):
  * structural invariants that must hold for ANY input, not just fixtures.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genGames: Gen[List[(Int, Int, Long, Int, Int, Int, Int)]] =
    Gen.choose(0, 60).flatMap { n =>
      Gen.sequence[List[(Int, Int, Long, Int, Int, Int, Int)], (Int, Int, Long, Int, Int, Int, Int)](
        (0 until n).map { i =>
          for {
            season <- Gen.choose(2022, 2024)
            day <- Gen.choose(1, 100)
            w <- Gen.choose(0, 9)
            l <- Gen.choose(10, 19) // disjoint ranges: W != L
            ws <- Gen.choose(51, 100)
            ls <- Gen.choose(0, 50)
          } yield (season, day, i.toLong, w, ws, l, ls)
        }.toList)
    }

  private def checkProp(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: long table has exactly 2 rows per game, stats are consistent") {
    checkProp(Prop.forAll(genGames) { games =>
      val df = games.toDF("Season", "DayNum", "GameId", "WTeamID", "WScore", "LTeamID", "LScore")
      val long = LongGames.build(df)
      val stats = TeamSeasonStats.build(df)
      val badStats = stats.filter(
        $"Wins" + $"Losses" =!= $"Games" || $"WinRate" < 0 || $"WinRate" > 1).count()
      long.count() == 2L * games.size &&
        badStats == 0 &&
        stats.agg(coalesce(sum($"Games"), lit(0L))).head.getLong(0) == 2L * games.size
    })
  }

  test("property: ELO is zero-sum per season for arbitrary game sets") {
    checkProp(Prop.forAll(genGames) { games =>
      val df = games.toDF("Season", "DayNum", "GameId", "WTeamID", "WScore", "LTeamID", "LScore")
      Elo.perSeason(df)
        .groupBy($"Season")
        .agg(sum($"Elo").as("total"), count(lit(1)).as("n"))
        .collect()
        .forall(r => math.abs(r.getAs[Double]("total") - 1500.0 * r.getAs[Long]("n")) < 1e-6)
    })
  }

  private val genDocs: Gen[List[(Long, String)]] =
    Gen.choose(1, 80).flatMap { n =>
      Gen.sequence[List[(Long, String)], (Long, String)](
        (0 until n).map { i =>
          Gen.choose(1, 40).map(len =>
            (i.toLong, (1 to len).map(j => s"w${(i + j) % 13}").mkString(" ")))
        }.toList)
    }

  test("property: greedy packing assigns every doc once, never overfills, " +
    "and is partitioning-independent") {
    import graft.text.Packing
    checkProp(Prop.forAll(genDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val packed = Packing.greedyPack(df, "doc_id", "text",
        capacity = 20L, nBuckets = 3, salt = "p1").cache()
      try {
        val rows = packed.collect()
        val everyDocOnce = rows.map(_.getAs[Long]("doc_id")).toSet.size == docs.size &&
          rows.length == docs.size
        // bin fill never exceeds capacity unless a single oversize doc owns it
        val fills = rows.groupBy(r => (r.getAs[Int]("bucket"), r.getAs[Int]("bin_idx")))
        val noOverfill = fills.values.forall { bs =>
          val total = bs.map(_.getAs[Long]("n_tokens")).sum
          total <= 20L || bs.length == 1
        }
        // offsets are the running fill in doc-id order
        val offsetsOk = fills.values.forall { bs =>
          bs.sortBy(_.getAs[Long]("doc_id"))
            .foldLeft((true, 0L)) { case ((ok, cur), r) =>
              (ok && r.getAs[Long]("bin_offset") == cur,
                cur + r.getAs[Long]("n_tokens"))
            }._1
        }
        // identical assignment from an arbitrary input partitioning
        val repacked = Packing.greedyPack(df.repartition(7), "doc_id", "text",
          capacity = 20L, nBuckets = 3, salt = "p1")
        val same = repacked.except(packed).count() == 0 &&
          packed.except(repacked).count() == 0
        everyDocOnce && noOverfill && offsetsOk && same
      } finally packed.unpersist()
    })
  }

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.choose(0, 40).flatMap { n =>
      Gen.listOfN(n, for {
        u <- Gen.choose(0L, 25L)
        v <- Gen.choose(0L, 25L)
      } yield (u, v))
    }

  test("property: CC labels match an independent BFS reference on both paths") {
    import graft.dedup.Dedup
    checkProp(Prop.forAll(genEdges) { edges =>
      val valid = edges.filter(e => e._1 != e._2)
      if (valid.isEmpty) true
      else {
        val df = valid.toDF("doc_a", "doc_b")
        // independent reference: BFS per component, label = component min
        val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
          .withDefaultValue(Set.empty)
        valid.foreach { case (a, b) =>
          adj(a) = adj(a) + b; adj(b) = adj(b) + a
        }
        val nodes = valid.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = scala.collection.mutable.Map.empty[Long, Long]
        nodes.sorted.foreach { n =>
          if (!expected.contains(n)) {
            var comp = Set(n); var frontier = Set(n)
            while (frontier.nonEmpty) {
              frontier = frontier.flatMap(adj) -- comp
              comp ++= frontier
            }
            val m = comp.min
            comp.foreach(c => expected(c) = m)
          }
        }
        def labels = Dedup.alternatingStarCC(df, 50)._1.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // auto: driver union-find; distributed: alternating-star rounds
        val (driver, distributed) = SizeGateModes.both(labels)
        driver == expected.toMap && distributed == expected.toMap
      }
    })
  }

  test("property: hotTailJoin is multiset-identical to the plain join for any skew/hotN") {
    import graft.operators.Relational
    val genRows = Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(0L, 500L)
      k <- Gen.frequency( // ~half the rows share one hot key
        5 -> Gen.const("hot"),
        5 -> Gen.choose(0, 30).map(i => s"k$i"))
    } yield (id, k)))
    checkProp(Prop.forAll(genRows, Gen.choose(0, 10)) { (rows, hotN) =>
      val fact = rows.toDF("id", "k")
      val dim = fact.groupBy($"k").agg(count(lit(1)).as("c"))
      def multiset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"),
          r.getAs[Long]("c"))).sorted.toSeq
      multiset(Relational.hotTailJoin(fact, dim, "k", "c", hotN)) ==
        multiset(fact.join(dim, "k"))
    })
  }

  test("property: dup-span coverage matches an independent set-union reference") {
    import graft.text.DupSpans
    checkProp(Prop.forAll(genDocs, Gen.choose(0, 4)) { (docs, hotN) =>
      val n = 3
      // independent reference: explicit position-set union, no windows
      val shingled = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").toVector.sliding(n)
          .filter(_.size == n).map(_.mkString(" ")).toVector
      }
      val counts = shingled.flatMap(_._2).groupBy(identity).map {
        case (g, occ) => g -> occ.size
      }
      val expected = docs.map { case (id, t) =>
        val sh = shingled.toMap.apply(id)
        val dupPos = sh.zipWithIndex.collect {
          case (g, p) if counts(g) >= 2 => p
        }
        val covered = dupPos.flatMap(p => p until p + n).toSet.size
        (id, t.trim.split("\\s+").length.toLong, sh.size.toLong,
          dupPos.size.toLong, covered.toLong)
      }.sortBy(_._1)
      val got = DupSpans.coverage(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, hotN = hotN)
        .orderBy($"doc_id")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup_shingles"),
          r.getAs[Long]("covered_tokens")))
        .toList
      got == expected
    })
  }

  test("property: redaction is idempotent and placeholder-stable for any mix") {
    import graft.text.Redaction
    val piece = Gen.oneOf(
      Gen.const("plain words here"),
      Gen.choose(0, 99).map(i => s"u$i@ex$i.org"),
      Gen.choose(0, 99).map(i => f"555-$i%03d-${i * 7}%04d"),
      Gen.choose(0, 200).map(i => s"10.$i.0.${i % 250}"),
      Gen.const("<EMAIL> <PHONE> <IP>")) // pre-redacted text stays fixed
    val genText = Gen.choose(1, 6)
      .flatMap(k => Gen.listOfN(k, piece).map(_.mkString(" ")))
    checkProp(Prop.forAll(Gen.listOf(genText)) { texts =>
      val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
      val once = df.select($"id", Redaction.redact($"t").as("r"))
      val twice = once.select($"id", Redaction.redact($"r").as("r"))
      once.orderBy($"id").collect().map(_.getString(1)).toSeq ==
        twice.orderBy($"id").collect().map(_.getString(1)).toSeq
    })
  }

  test("property: epoch shards are a bijection, dense per shard, id-set-determined") {
    import graft.text.Sharding
    val genIds = Gen.choose(1, 150).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-5000L, 5000L)).map(_.distinct))
    checkProp(Prop.forAll(genIds, Gen.choose(1, 9)) { (ids, nShards) =>
      val out = Sharding.shuffleShards(ids.toDF("doc_id"), "doc_id",
          nShards, "pSalt")
        .select($"doc_id", $"shard", $"pos")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val dense = out.groupBy(_._2).forall { case (_, rows) =>
        rows.map(_._3).sorted.toSeq == (1 to rows.size)
      }
      out.length == ids.size &&
        out.map(_._1).toSet == ids.toSet &&
        out.forall { case (_, s, _) => s >= 0 && s < nShards } &&
        dense
    })
  }

  // small element alphabet forces collisions, shared elements, and
  // threshold-boundary pairs — the inputs that stress prefix+positional
  // pruning soundness
  private val genSets: Gen[List[(Long, List[String])]] =
    Gen.choose(2, 25).flatMap { n =>
      Gen.sequence[List[(Long, List[String])], (Long, List[String])](
        (0 until n).map { i =>
          Gen.choose(0, 8).flatMap(sz =>
            Gen.listOfN(sz, Gen.oneOf((1 to 12).map(k => s"e$k"))))
            .map(es => (i.toLong, es))
        }.toList)
    }

  test("property: prefix-filter Jaccard join equals the naive join for ANY sets") {
    import graft.dedup.SetSimJoin
    checkProp(Prop.forAll(genSets, Gen.oneOf(30, 50, 67, 80, 100)) {
      (rows, t100) =>
        val got = SetSimJoin.jaccardPairs(rows.toDF("id", "s"), "id", "s",
            t100)
          .select("a", "b", "inter", "uni")
          .as[(Long, Long, Long, Long)].collect().toSet
        val want = (for {
          (a, sa0) <- rows; (b, sb0) <- rows if a < b
          sa = sa0.toSet; sb = sb0.toSet
          inter = (sa & sb).size.toLong
          uni = (sa | sb).size.toLong
          if uni > 0 && inter * 100 >= t100 * uni
        } yield (a, b, inter, uni)).toSet
        got == want
    })
  }

  test("property: containment join equals the naive directional join for ANY sets") {
    import graft.dedup.SetSimJoin
    checkProp(Prop.forAll(genSets, Gen.oneOf(40, 60, 90, 100)) {
      (rows, t100) =>
        val got = SetSimJoin.containmentPairs(rows.toDF("id", "s"), "id",
            "s", t100)
          .select("a", "b", "inter")
          .as[(Long, Long, Long)].collect().toSet
        val want = (for {
          (a, sa0) <- rows; (b, sb0) <- rows if a != b
          sa = sa0.toSet; sb = sb0.toSet
          inter = (sa & sb).size.toLong
          if sa.nonEmpty && inter * 100 >= t100 * sa.size
        } yield (a, b, inter)).toSet
        got == want
    })
  }
}
