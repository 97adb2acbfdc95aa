package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics: PageRank invariants (mass conservation, symmetry,
  * hub dominance) and triangle counting vs an independent brute force. */
class GraphOpsSpec extends SparkSpec {

  private def edgesOf(pairs: Seq[(String, String)]) = {
    import spark.implicits._
    val df = pairs.toDF("a", "b")
    df.unionAll(df.select(col("b").as("a"), col("a").as("b")))
      .groupBy("a", "b").agg(count(lit(1)).cast("double").as("w"))
  }

  private def hitsMap(df: DataFrame): Map[(String, Long), Long] =
    df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** The logical leaves of a HITS result: a local relation (the driver
    * path) or snapshot scans (the distributed loop). */
  private def leaves(df: DataFrame): Seq[String] =
    df.queryExecution.logical.collectLeaves().map(_.nodeName).distinct

  /** The driver path and the distributed path (`driverEdgeBudget = 0`)
    * return identical schemas and identical rows. */
  private def assertPathsAgree(e: DataFrame, iters: Int, clue: String = ""): Unit = {
    val driver = GraphOps.hitsL1(e, iters)
    val distributed = GraphOps.hitsL1(e, iters, driverEdgeBudget = 0)
    assert(leaves(driver) == Seq("LocalRelation"), clue)
    assert(leaves(distributed) == Seq("LogicalRDD"), clue)
    assert(driver.schema == distributed.schema, clue)
    assert(driver.collect().toSeq.sortBy(_.toString) ==
      distributed.collect().toSeq.sortBy(_.toString), clue)
  }

  test("pageRank conserves mass and is uniform on a symmetric cycle") {
    val ranks = GraphOps.pageRank(
      edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")), iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size === 4)
    // every node of a vertex-transitive graph gets the same rank = 1/N
    ranks.values.foreach(r => assert(math.abs(r - 0.25) < 1e-5, ranks))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-4)
  }

  test("pageRank ranks a hub above leaves and conserves mass on a star") {
    val ranks = GraphOps.pageRank(
      edgesOf(Seq("hub" -> "l1", "hub" -> "l2", "hub" -> "l3", "hub" -> "l4")),
      iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks("hub") > ranks("l1") * 2, ranks)
    Seq("l1", "l2", "l3", "l4").foreach(l => assert(ranks(l) === ranks("l1")))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-4)
  }

  test("hitsL1: authority concentrates on the universally-bought item") {
    import spark.implicits._
    // users 1..4 all buy item 100; each also buys a private item — the
    // shared item must take the dominant authority, private items split
    // the rest. (u and p share a type: the role union must not coerce.)
    val e = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      1L -> 11L, 2L -> 12L, 3L -> 13L, 4L -> 14L).toDF("u", "p")
    val out = GraphOps.hitsL1(e, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("auth", 100L)) > 3 * out(("auth", 11L)), out)
    Seq(12L, 13L, 14L).foreach(p =>
      assert(out(("auth", p)) == out(("auth", 11L)), out))
    // symmetric hubs score identically
    Seq(2L, 3L, 4L).foreach(u =>
      assert(out(("hub", u)) == out(("hub", 1L)), out))
    assertPathsAgree(e, 2)
  }

  test("hitsL1 conserves micro-unit mass per side (±1 rounding per node)") {
    import spark.implicits._
    val e = Seq(1L -> 10L, 1L -> 20L, 2L -> 20L, 2L -> 30L, 3L -> 30L).toDF("u", "p")
    val out = GraphOps.hitsL1(e, iters = 3).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val auths = out.collect { case ("auth", s) => s }
    val hubs = out.collect { case ("hub", s) => s }
    assert(math.abs(auths.sum - 1000000L) <= auths.size, auths.toSeq)
    assert(math.abs(hubs.sum - 1000000L) <= hubs.size, hubs.toSeq)
    assertPathsAgree(e, 3)
    // INT ids, alone and mixed with BIGINT (the role union widens node)
    assertPathsAgree(e.select(col("u").cast("int"), col("p").cast("int")), 3, "int")
    assertPathsAgree(e.select(col("u").cast("int"), col("p")), 3, "int/bigint")
  }

  test("hitsL1 equals an independent in-memory replay on random bipartite graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // the KMeansSpec discipline: a plain-Scala reimplementation with the
    // same integer micro-unit arithmetic must agree EXACTLY (the whole
    // point of the order-independent BIGINT formulation)
    def replay(edges: Set[(Long, Long)], iters: Int)
        : (Map[Long, Long], Map[Long, Long]) = {
      var hub = edges.map(_._1).map(_ -> 1000000L).toMap
      var auth = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val araw = edges.groupBy(_._2).map { case (p, es) =>
          p -> es.toSeq.map(e => hub(e._1)).sum }
        val as = araw.values.sum.toDouble
        auth = araw.map { case (p, r) => p -> math.round(r.toDouble * 1e6 / as) }
        val hraw = edges.groupBy(_._1).map { case (u, es) =>
          u -> es.toSeq.map(e => auth(e._2)).sum }
        val hs = hraw.values.sum.toDouble
        hub = hraw.map { case (u, r) => u -> math.round(r.toDouble * 1e6 / hs) }
      }
      (auth, hub)
    }
    val gen = Gen.listOfN(60, for {
      u <- Gen.choose(1L, 12L); p <- Gen.choose(100L, 115L)
    } yield (u, p))
    (1 to 6).foreach { seed =>
      val es = gen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"generator failed for seed $seed")).distinct
      val (authE, hubE) = replay(es.toSet, 3)
      val out = GraphOps.hitsL1(es.toDF("u", "p"), iters = 3)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      val auths = out.collect { case (("auth", n), v) => n -> v }.toMap
      val hubs = out.collect { case (("hub", n), v) => n -> v }.toMap
      assert(auths == authE, s"seed=$seed auth")
      assert(hubs == hubE, s"seed=$seed hub")
      assertPathsAgree(es.toDF("u", "p"), 3, s"seed=$seed")
    }
  }

  test("HITS driver path equals the checkpointed path (exact)") {
    import spark.implicits._
    val e = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      1L -> 11L, 2L -> 12L, 3L -> 13L, 4L -> 14L, 2L -> 11L).toDF("u", "p")
    // same integer trajectory, different execution discipline — must be
    // EXACT, not approximately equal
    assertPathsAgree(e, 4)
  }

  test("HITS takes the distributed path above the budget, for string or null ids") {
    import spark.implicits._
    // 9 distinct pairs; the repeated pair must not count against the budget
    val pairs = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      1L -> 11L, 2L -> 12L, 3L -> 13L, 4L -> 14L, 2L -> 11L)
    val e = (pairs :+ (1L -> 100L)).toDF("u", "p")
    assert(leaves(GraphOps.hitsL1(e, 2, driverEdgeBudget = 9)) == Seq("LocalRelation"))
    val over = GraphOps.hitsL1(e, 2, driverEdgeBudget = 8)
    assert(leaves(over) == Seq("LogicalRDD"))
    val expected = hitsMap(GraphOps.hitsL1(e, 2))
    assert(hitsMap(over) == expected)
    // non-integral ids never take the driver path, whatever the budget
    val strings = GraphOps.hitsL1(
      pairs.map { case (u, p) => (u.toString, p.toString) }.toDF("u", "p"), 2)
    assert(leaves(strings) == Seq("LogicalRDD"))
    assert(strings.collect().map(r =>
      (r.getString(0), r.getString(1).toLong) -> r.getLong(2)).toMap == expected)
    // a null id keeps Spark's null-key join semantics: distributed path
    val withNull = Seq(1L -> Option(100L), 2L -> Option(100L), 3L -> None).toDF("u", "p")
    assert(leaves(GraphOps.hitsL1(withNull, 2)) == Seq("LogicalRDD"))
  }

  test("a within-budget hitsL1 runs only its probe query and plans no shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val e = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 1L -> 11L, 2L -> 12L)
      .toDF("u", "p").repartition(2)
    val probeJobs = jobsDuring(DriverBudget.collectWithin(GraphOps.hitsInit(e)
      .select(col("u").cast("long"), col("p").cast("long")), 1L << 22))
    assert(probeJobs > 0)
    var out: DataFrame = null
    assert(jobsDuring { out = GraphOps.hitsL1(e, iters = 2) } == probeJobs)
    assert(jobsDuring(GraphOps.hitsL1(e, iters = 2, driverEdgeBudget = 0)) > probeJobs)
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = out.queryExecution.executedPlan
    assert(helper.collect(plan) { case x: ShuffleExchangeExec => x }.isEmpty, plan)
  }

  test("deep HITS (iters > 4) converges and stays exact vs the in-memory replay") {
    import spark.implicits._
    val pairs = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      1L -> 11L, 2L -> 12L, 3L -> 13L, 4L -> 14L, 2L -> 11L, 3L -> 12L)
    val e = pairs.toDF("u", "p")
    def run(iters: Int) = GraphOps.hitsL1(e, iters)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the plain-Scala replay from the randomized test, inlined for depth 12
    def replay(edges: Set[(Long, Long)], iters: Int): Map[(String, Long), Long] = {
      var hub = edges.map(_._1).map(_ -> 1000000L).toMap
      var auth = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val araw = edges.groupBy(_._2).map { case (p, es) =>
          p -> es.toSeq.map(x => hub(x._1)).sum }
        val as = araw.values.sum.toDouble
        auth = araw.map { case (p, r) => p -> math.round(r.toDouble * 1e6 / as) }
        val hraw = edges.groupBy(_._1).map { case (u, es) =>
          u -> es.toSeq.map(x => auth(x._2)).sum }
        val hs = hraw.values.sum.toDouble
        hub = hraw.map { case (u, r) => u -> math.round(r.toDouble * 1e6 / hs) }
      }
      auth.map { case (n, s) => ("auth", n) -> s } ++
        hub.map { case (n, s) => ("hub", n) -> s }
    }
    val deep = run(12)
    assert(deep == replay(pairs.toSet, 12))
    // fixpoint: one more round no longer moves any score by > 1 micro-unit
    val deeper = run(13)
    deep.foreach { case (k, v) =>
      assert(math.abs(deeper(k) - v) <= 1L, s"$k moved ${deeper(k) - v}")
    }
  }

  test("bigramEdges builds the symmetric weighted adjacency") {
    import spark.implicits._
    val docs = Seq("the cat sat", "the cat", "cat the").toDF("text")
    val e = GraphOps.bigramEdges(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // "the cat" bigram occurs 2x, "cat the" 1x -> undirected weight 3 both ways
    assert(e(("the", "cat")) === 3.0 && e(("cat", "the")) === 3.0)
    assert(e(("cat", "sat")) === 1.0 && e(("sat", "cat")) === 1.0)
    assert(e.size === 4)
  }

  test("triangle count matches brute force on known graphs") {
    import spark.implicits._
    // K4 has 4 triangles; a square + one diagonal has 2; a path has 0
    val k4 = for (x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
                  if x < y) yield ("k4", x, y)
    val sq = Seq(("sq", "a", "b"), ("sq", "b", "c"), ("sq", "c", "d"),
      ("sq", "d", "a"), ("sq", "a", "c"))
    val path = Seq(("p", "a", "b"), ("p", "b", "c"), ("p", "c", "d"))
    val got = GraphOps.trianglesPerGroup(
      (k4 ++ sq ++ path).toDF("g", "a", "b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("k4") === 4L)
    assert(got("sq") === 2L)
    assert(!got.contains("p")) // no triangles -> no row (count over joins)
  }

  test("triangle count is orientation-invariant and dedups parallel edges") {
    import spark.implicits._
    // same triangle given with mixed directions and duplicates
    val e = Seq(("t", "x", "y"), ("t", "y", "x"), ("t", "y", "z"),
      ("t", "z", "x"), ("t", "x", "z")).toDF("g", "a", "b")
    val got = GraphOps.trianglesPerGroup(e).collect()
    assert(got.length === 1 && got.head.getLong(1) === 1L)
  }

  test("personalizedPageRank: seeds dominate, far components get nothing") {
    import spark.implicits._
    // two disconnected squares; seed in the first one only
    val ranks = GraphOps.personalizedPageRank(
      edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a",
        "p" -> "q", "q" -> "r", "r" -> "s", "s" -> "p")),
      Seq("a").toDF("node"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the un-seeded component never receives teleport or contribution mass
    Seq("p", "q", "r", "s").foreach(n => assert(!ranks.contains(n), ranks))
    // the seed keeps the largest rank; its direct neighbors tie by symmetry
    assert(ranks("a") > ranks("b") && ranks("b") === ranks("d"), ranks)
    // mass stays ≈ 1 (rounding-only leakage)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-3, ranks)
  }

  test("personalizedPageRank equals an independent in-memory replay") {
    import spark.implicits._
    // plain-Scala replay of the exact rounded trajectory (incl. the
    // r > 0 frontier pruning) on a small weighted graph
    val pairs = Seq("a" -> "b", "a" -> "b", "b" -> "c", "c" -> "d",
      "d" -> "a", "b" -> "d", "e" -> "a")
    val seeds = Set("a", "c")
    def round6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val sym = pairs ++ pairs.map(_.swap)
    val w = sym.groupBy(identity).map { case (e, xs) => e -> xs.size.toDouble }
    val wdeg = w.groupBy(_._1._1).map { case (n, es) => n -> es.values.sum }
    var r = seeds.map(_ -> round6(1.0 / seeds.size)).toMap
    for (_ <- 1 to 4) {
      val mass = w.toSeq
        .collect { case ((b, a), wt) if r.contains(b) => a -> wt / wdeg(b) * r(b) }
        .groupBy(_._1).map { case (a, xs) => a -> 0.85 * xs.map(_._2).sum }
      val nodes = mass.keySet ++ seeds
      r = nodes.map { n =>
        n -> round6(mass.getOrElse(n, 0.0) +
          (if (seeds(n)) 0.15 / seeds.size else 0.0))
      }.filter(_._2 > 0).toMap
    }
    val got = GraphOps.personalizedPageRank(
      edgesOf(pairs), Seq("a", "c").toDF("node"), iters = 4)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got.keySet == r.keySet, s"frontier: got ${got.keySet}, want ${r.keySet}")
    r.foreach { case (n, v) =>
      assert(math.abs(got(n) - v) <= 2e-6, s"$n: got ${got(n)}, want $v")
    }
  }

  test("kCore peels cascades and keeps the dense core with exact degrees") {
    import spark.implicits._
    // K5 (4-regular) with a tail: t1 starts at degree 3 and only drops
    // below k once t2 peels — the peel MUST cascade across rounds, a
    // single degree-filter pass would wrongly keep t1
    val k5 = for (x <- Seq("a", "b", "c", "d", "e"); y <- Seq("a", "b", "c", "d", "e")
                  if x < y) yield (x, y)
    val tail = Seq(("e", "t1"), ("d", "t1"), ("t1", "t2"), ("t2", "t3"))
    val got = GraphOps.kCore((k5 ++ tail).toDF("a", "b"), k = 3, rounds = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("a", "b", "c", "d", "e"), got)
    // every K5 corner ends at its clean in-core degree of 4
    Seq("a", "b", "c", "d", "e").foreach(n => assert(got(n) === 4L, got))
  }

  test("kCore dedups parallel/reversed edges and ignores self-loops") {
    import spark.implicits._
    val e = Seq(("x", "y"), ("y", "x"), ("x", "y"), ("x", "x"),
      ("y", "z"), ("z", "x")).toDF("a", "b")
    val got = GraphOps.kCore(e, k = 2, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("x" -> 2L, "y" -> 2L, "z" -> 2L), got)
  }

  test("kCore equals an independent in-memory peel on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def replay(edges: Set[(String, String)], k: Int, rounds: Int)
        : Map[String, Long] = {
      var und = edges.collect { case (a, b) if a != b =>
        if (a < b) (a, b) else (b, a) }
      var deg = Map.empty[String, Long]
      for (_ <- 1 to rounds) {
        val d = (und.toSeq.map(_._1) ++ und.toSeq.map(_._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
        deg = d.filter(_._2 >= k)
        und = und.filter(e => deg.contains(e._1) && deg.contains(e._2))
      }
      deg
    }
    val nodes = Gen.choose('a', 'j').map(_.toString)
    val gen = Gen.listOfN(40, Gen.zip(nodes, nodes))
    (1 to 5).foreach { seed =>
      val es = gen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"gen failed for seed $seed"))
      val got = GraphOps.kCore(es.toDF("a", "b"), k = 3, rounds = 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == replay(es.toSet, 3, 4), s"seed=$seed")
    }
  }

  test("kCore reaches its fixpoint within the unrolled rounds on the corpus graph") {
    val edges = GraphOps.bigramEdges(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"))
    def run(rounds: Int) = GraphOps.kCore(edges, k = 10, rounds = rounds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val atCap = run(6)
    assert(atCap.nonEmpty)
    // one more peel changes nothing — the g4 result is the true 10-core
    assert(run(7) == atCap)
  }

  test("corpus bigram graph: ranks are positive and stopword-like connectors rank high") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val ranks = GraphOps.pageRank(GraphOps.bigramEdges(docs), iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.nonEmpty)
    ranks.values.foreach(r => assert(r > 0))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-3, s"mass=${ranks.values.sum}")
  }

  test("labelPropagation matches the hand-traced 3-round trajectory") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3–4.
    // Hand trace (most-frequent neighbor label, ties → min):
    //   l1: 1→2, 2→1, 3→1, 4→3, 5→4, 6→4
    //   l2: 1→1, 2→1, 3→1, 4→4, 5→3, 6→3
    //   l3: {1,2,3}→1, {4,5,6}→3 — the two communities emerge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    def labels(r: Int): Map[Long, Long] =
      GraphOps.labelPropagation(edges, rounds = r)
        .as[(Long, Long)].collect().toMap
    assert(labels(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    assert(labels(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation is orientation- and duplicate-invariant") {
    import spark.implicits._
    val e1 = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val e2 = Seq((2L, 1L), (3L, 2L), (1L, 2L), (1L, 1L)).toDF("a", "b")
    val r1 = GraphOps.labelPropagation(e1, 2).as[(Long, Long)].collect().toMap
    val r2 = GraphOps.labelPropagation(e2, 2).as[(Long, Long)].collect().toMap
    assert(r1 == r2)
  }

  test("bfsDepths: path-graph depths, horizon cut, early exit, multi-seed") {
    import spark.implicits._
    // path 1—2—3—4—5—6—7, symmetrized (the bigramEdges contract)
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (p ++ p.map(_.swap)).toDF("a", "b")
    val seed1 = Seq(1L).toDF("node")
    val got = GraphOps.bfsDepths(edges, seed1, maxDepth = 4)
      .as[(Long, Int)].collect().toMap
    // nodes 6 (depth 5) and 7 (depth 6) are beyond the horizon
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))

    // early exit: a 3-node path exhausts its frontier before maxDepth
    val tiny = Seq((1L, 2L), (2L, 3L), (2L, 1L), (3L, 2L)).toDF("a", "b")
    val got2 = GraphOps.bfsDepths(tiny, seed1, maxDepth = 8)
      .as[(Long, Int)].collect().toMap
    assert(got2 == Map(1L -> 0, 2L -> 1, 3L -> 2))

    // multi-seed: depth = min over seeds
    val seeds = Seq(1L, 7L).toDF("node")
    val got3 = GraphOps.bfsDepths(edges, seeds, maxDepth = 4)
      .as[(Long, Int)].collect().toMap
    assert(got3 == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3,
      7L -> 0, 6L -> 1, 5L -> 2))
  }

  test("ssspCosts: cheap detour beats the direct hop; horizon bounds path length") {
    import spark.implicits._
    // 1→2 costs 10 direct, but 1→3→4→2 costs 1+1+1: Bellman-Ford must
    // prefer the longer-but-cheaper path once rounds allow it
    val edges = Seq(
      (1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L),
      (2L, 5L, 1L)).toDF("a", "b", "cost")
    val seeds = Seq(1L).toDF("node")
    def run(r: Int): Map[Long, Long] =
      GraphOps.ssspCosts(edges, seeds, rounds = r)
        .as[(Long, Long)].collect().toMap
    // 1 round: only direct edges relaxed
    assert(run(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    // 3 rounds: the 3-edge detour wins over the direct hop for node 2,
    // but node 5's cheap route needs 4 edges — within 3 rounds it still
    // pays the direct-hop prefix (10 + 1)
    val r3 = run(3)
    assert(r3(2L) == 3L && r3(4L) == 2L && r3(5L) == 11L, r3.toString)
    // round 4 unlocks the 4-edge path; costs never increase with rounds
    val r4 = run(4)
    assert(r4(5L) == 4L, r4.toString)
    assert(r3.forall { case (n, c) => r4(n) <= c })
  }

  test("bfsDepths and ssspCosts equal in-memory replays on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    (1 to 3).foreach { trial =>
      val n = 12 + rng.nextInt(8)
      val dir = Seq.fill(3 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong,
        (1 + rng.nextInt(9)).toLong)).filter(e => e._1 != e._2).distinct
      val sym = (dir ++ dir.map(e => (e._2, e._1, e._3)))
        .groupBy(e => (e._1, e._2)).map { case ((a, b), es) => (a, b, es.map(_._3).min) }
        .toSeq
      val edges = sym.toDF("a", "b", "cost")
      val seed = dir.head._1
      val seeds = Seq(seed).toDF("node")

      // in-memory BFS
      val adj = sym.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
      var depth = Map(seed -> 0)
      var frontier = Set(seed)
      (1 to 4).foreach { d =>
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(depth.contains)
        depth ++= frontier.map(_ -> d)
      }
      val gotB = GraphOps.bfsDepths(edges, seeds, maxDepth = 4)
        .as[(Long, Int)].collect().toMap
      assert(gotB == depth, s"trial $trial BFS")

      // in-memory bounded Bellman-Ford
      var dist = Map(seed -> 0L)
      (1 to 4).foreach { _ =>
        val relaxed = sym.flatMap { case (a, b, c) =>
          dist.get(a).map(da => b -> (da + c)) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1).map {
          case (v, ds) => v -> ds.map(_._2).min }
      }
      val gotS = GraphOps.ssspCosts(edges, seeds, rounds = 4)
        .as[(Long, Long)].collect().toMap
      assert(gotS == dist, s"trial $trial SSSP")
    }
  }

  test("labelPropagation tie-break holds for STRING node ids") {
    import spark.implicits._
    // same two-triangle shape as the hand-traced long-id test, with
    // lexicographic ids; unary minus on a string casts to null, so the
    // old −label tie-break would have silently voided the min-label rule
    val ids = Map(1L -> "n1", 2L -> "n2", 3L -> "n3",
      4L -> "n4", 5L -> "n5", 6L -> "n6")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .map { case (a, b) => (ids(a), ids(b)) }.toDF("a", "b")
    val got = GraphOps.labelPropagation(edges, rounds = 3)
      .as[(String, String)].collect().toMap
    assert(got == Map("n1" -> "n1", "n2" -> "n1", "n3" -> "n1",
      "n4" -> "n3", "n5" -> "n3", "n6" -> "n3"))
  }
}
