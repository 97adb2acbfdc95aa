package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Corpus-graph analytics: weighted PageRank (TextRank keyword scoring
  * when run over the bigram graph — Mihalcea & Tarau 2004; public
  * literature) and degree-ordered triangle counting (Suri &
  * Vassilvitskii, WWW 2011). Everything is join/aggregate relational
  * algebra over a distributed edge table — rank state is a (node, r)
  * DataFrame, NEVER collected to the driver (unlike k-means, whose
  * state is k rows by contract; a graph's node set is corpus-sized).
  * The one exception is [[hitsL1]]'s budgeted fast path, which runs on
  * the driver only when the edge table fits a row budget.
  *
  * Determinism contract: per-iteration ranks are rounded to 6 places
  * (the s7 Lloyd convention), so the unrolled DuckDB oracle replays the
  * exact fixpoint trajectory and the float-sum ordering across engines
  * cannot surface in the compared output. */
object GraphOps {

  /** Undirected weighted word-adjacency edges from a document corpus:
    * one edge (a, b, w) per unordered adjacent-token pair, w = total
    * occurrence count over the corpus, self-loops dropped. Symmetrized
    * (both directions present) so every node has in-edges and the
    * PageRank contribution join is a plain equi-join on the source.
    *
    * Shape: one tokenize pass, explode to 2·(n−1) pair rows, ONE
    * exchange on (a, b) for the count — vocabulary-sized output, never
    * corpus-sized. */
  def bigramEdges(docs: DataFrame, textCol: String = "text",
                  keyCols: Seq[String] = Nil): DataFrame = {
    val t = TextAnalysis.tokens(col(textCol))
    val ks = keyCols.map(col)
    // NOTE (r17 optimization pass): fanning the scan out before the
    // tokenize (Tables.fanout / fanoutBy, both partitionings) was
    // A/B-measured at bench scale and REGRESSED every deep-unrolled
    // consumer (t18 1.58→2.77 s, g3 1.54→2.37, g1 1.47→2.17, g4
    // 1.97→2.36 at sf0.1/local[32]) while only mildly helping the
    // single-pass ones — the iterative plans reference this subtree
    // many times and the extra exchange multiplies across the unrolled
    // copies. Left as the plain scan deliberately.
    val pairs = docs
      .select(ks :+ t.as("t"): _*).filter(size(col("t")) >= 2)
      .select(ks :+ explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"): _*)
      .select(ks :+ col("p.a").as("a") :+ col("p.b").as("b"): _*)
      .filter(col("a") =!= col("b"))
    pairs.unionAll(pairs.select(ks :+ col("b").as("a") :+ col("a").as("b"): _*))
      .groupBy(keyCols :+ "a" :+ "b" map col: _*)
      .agg(count(lit(1)).cast("double").as("w"))
  }

  /** Weighted PageRank over a symmetrized edge table (a, b, w):
    * r₀ = 1/N, then `iters` rounds of
    * rᵢ₊₁(a) = (1−d)/N + d · Σ_{(a,b)∈E} w/wdeg(b) · rᵢ(b),
    * each rounded to 6 places. Returns (token, rank) for every node.
    *
    * Scale shape: wdeg and N are one aggregation each over the edge
    * table; every iteration is one equi-join (edges ⋈ ranks on the
    * contributing endpoint) + one groupBy — both shuffle on node id, so
    * a rank-partitioned edge table reuses the exchange across rounds.
    * No driver state, no collect: this is the iterative pattern for
    * billion-node corpus graphs (contrast s7, which may hold k rows).
    * For deep iteration counts, checkpoint every few rounds (the d7 CC
    * loop's pattern); the default 5 keeps the plan shallow enough not
    * to need it. */
  def pageRank(edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters in [1,20], got $iters")
    // Snapshot discipline (the d7 contract, r17 measurement): the lazy
    // unrolled plan references the caller's edge derivation once per
    // iteration (and the wdeg/n aggregates more), and the EXECUTED AQE
    // plan re-ran it per reference — 40 corpus scans for t18 at bench
    // scale, because stage reuse only dedupes canonically-identical
    // exchanges and per-branch column pruning forks the copies. Lazy
    // localCheckpoints pin the edge table, the out-degree table and the
    // per-edge share table to ONE vocabulary-sized snapshot each: the
    // corpus is tokenized once at any scale. Snapshots are edge/node-
    // sized and stay resident for the returned plan (the documented
    // leak, freed with the session).
    val e = edges.localCheckpoint(false)
    val wdeg = e.groupBy("a").agg(sum("w").as("wd")).localCheckpoint(false)
    val n = wdeg.select(count(lit(1)).cast("double").as("n"))
    // out-weight share of each contribution edge b→a, fixed across rounds
    val contrib = e.join(wdeg.withColumnRenamed("a", "b"), "b")
      .select(col("a"), col("b"), (col("w") / col("wd")).as("share"))
      .localCheckpoint(false)
    var ranks = wdeg.crossJoin(broadcast(n))
      .select(col("a").as("node"), round(lit(1.0) / col("n"), 6).as("r"))
    for (_ <- 1 to iters) {
      ranks = contrib.join(ranks.withColumnRenamed("node", "b"), "b")
        .groupBy("a").agg(sum(col("share") * col("r")).as("mass"))
        .crossJoin(broadcast(n))
        .select(col("a").as("node"),
          round(lit(1.0 - damping) / col("n") + lit(damping) * col("mass"),
            6).as("r"))
    }
    ranks.select(col("node").as("token"), col("r").as("score"))
  }

  /** Personalized PageRank (Jeh & Widom, WWW 2003; public literature)
    * over the same symmetrized weighted edge table as [[pageRank]], but
    * with ALL teleport mass concentrated on a seed set S:
    * r₀ = 1/|S| on S, absent elsewhere; then `iters` rounds of
    * rᵢ₊₁(a) = d · Σ share(b→a) · rᵢ(b)  +  (1−d)/|S| · 1[a ∈ S],
    * each rounded to 6 places (the t18 trajectory-pinning convention)
    * and pruned to r > 0. Run over the word-adjacency graph with query
    * tokens as seeds this is query-biased TextRank — keywords ranked by
    * proximity to the query, not global centrality.
    *
    * Scale shape: the rank state is a SPARSE frontier — only nodes
    * reachable from S within i hops (and above rounding resolution)
    * ever hold a row, so early rounds touch a neighborhood, not the
    * graph. Each round is one equi-join on the contributing endpoint +
    * one node-keyed aggregation (same exchange key every round), plus a
    * seed-table union whose side is |S| rows. No driver state; seeds
    * stay a DataFrame. Deep fixpoints would checkpoint per round (the
    * d7/hitsCheckpointed discipline); the ≤ 6 cap keeps the plan a
    * shallow linear chain. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 4,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 6, s"iters in [1,6], got $iters")
    // same snapshot discipline as [[pageRank]] — one corpus tokenize,
    // one share-table build, however many rounds reference them
    val e = edges.localCheckpoint(false)
    val wdeg = e.groupBy("a").agg(sum("w").as("wd"))
    val contrib = e.join(wdeg.withColumnRenamed("a", "b"), "b")
      .select(col("a"), col("b"), (col("w") / col("wd")).as("share"))
      .localCheckpoint(false)
    val nSeeds = seeds.agg(count(lit(1)).cast("double").as("ns"))
    // per-round teleport rows: (node, (1−d)/|S|) on seeds only
    val teleport = seeds.crossJoin(broadcast(nSeeds))
      .select(col("node"), (lit(1.0 - damping) / col("ns")).as("m"))
    var ranks = seeds.crossJoin(broadcast(nSeeds))
      .select(col("node"), round(lit(1.0) / col("ns"), 6).as("r"))
    for (_ <- 1 to iters) {
      val mass = contrib.join(ranks.withColumnRenamed("node", "b"), "b")
        .groupBy("a")
        .agg((lit(damping) * sum(col("share") * col("r"))).as("m"))
        .select(col("a").as("node"), col("m"))
      ranks = mass.unionByName(teleport)
        .groupBy("node").agg(round(sum("m"), 6).as("r"))
        .filter(col("r") > 0)
    }
    ranks.select(col("node").as("token"), col("r").as("score"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999; public literature)
    * over a directed bipartite edge table (u, p), L1-normalized in
    * integer MICRO-UNITS: every score is a long number of millionths,
    * so the per-step sums are BIGINT additions — order-independent and
    * therefore engine-exact, a strictly stronger determinism contract
    * than pageRank's round-to-6 pinning (no float-sum ordering exists
    * to pin). The only float ops are each step's normalization
    * `round(raw · 10⁶ / Σraw)` — one correctly-rounded IEEE divide per
    * node on exactly-representable inputs (raw ≤ 10⁶·deg keeps
    * raw·10⁶ < 2⁵³), identical in any engine.
    *
    * h₀ = 10⁶ per hub; each iteration: a(p) = normalize(Σ h over
    * in-edges), then h(u) = normalize(Σ a over out-edges). Returns
    * (role ∈ {auth, hub}, node, score).
    *
    * Small graphs run on the driver, the [[DedupOps.connectedComponents]]
    * fast path: the distinct (u, p) pairs are probed ONCE by
    * [[DriverBudget.collectWithin]], and when they fit
    * `driverEdgeBudget` (integral ids only) the exact integer trajectory
    * runs in driver memory and comes back as a local relation — one
    * probe query instead of a distributed round's jobs per half-step.
    * NOTE: construction is therefore EAGER when the fast path is
    * considered (the probe runs the upstream edge pipeline at builder
    * time); callers that only want the unexecuted distributed plan pass
    * `driverEdgeBudget = 0`.
    *
    * Scale shape above the budget: score state is a DISTRIBUTED
    * (node, score) table; each half-step is one equi-join on the
    * contributing endpoint + one groupBy, and the Σraw normalizer rides
    * a 1-row broadcast ([[hitsHalfStep]]). Rounds checkpoint one by one
    * ([[hitsCheckpointed]], the d7 CC-loop pattern), so neither the plan
    * nor the recompute grows with iteration count. Both paths compute
    * the identical integer trajectory. */
  def hitsL1(edges: DataFrame, iters: Int = 2,
             driverEdgeBudget: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(iters >= 1, s"iters >= 1, got $iters")
    val e = hitsInit(edges)
    val integral = Seq("u", "p").forall(c => e.schema(c).dataType match {
      case LongType | IntegerType => true
      case _ => false
    })
    val probed =
      if (integral)
        DriverBudget.collectWithin(
          e.select(col("u").cast("long"), col("p").cast("long")), driverEdgeBudget)
      else None
    probed.flatMap(hitsOnDriver(e, _, iters))
      .getOrElse(hitsCheckpointed(edges, iters))
  }

  /** One normalization half-step: raw integer scores → micro-unit scores
    * summing to ~10⁶, the Σraw normalizer riding a 1-row broadcast. */
  private def hitsNorm(grouped: DataFrame, node: String): DataFrame = {
    val s = grouped.agg(sum(col("raw")).as("s"))
    grouped.crossJoin(broadcast(s))
      .select(col(node),
        round(col("raw").cast("double") * lit(1e6) / col("s"))
          .cast("long").as("score"))
  }

  /** One distributed half-step: the (`from`, score) table's scores
    * summed over the edges onto each `to` endpoint and normalized.
    * Factored out so the plan-shape guard inspects the SHIPPED half-step
    * (the checkpointed loop's returned plan is just snapshot scans). */
  private[graft] def hitsHalfStep(e: DataFrame, scores: DataFrame,
                                  from: String, to: String): DataFrame =
    hitsNorm(e.join(scores, from).groupBy(to).agg(sum("score").as("raw")), to)

  private[graft] def hitsInit(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("p")).distinct()

  private[graft] def hitsHub0(e: DataFrame): DataFrame =
    e.select(col("u")).distinct().select(col("u"), lit(1000000L).as("score"))

  private def hitsResult(auth: DataFrame, hub: DataFrame): DataFrame =
    auth.select(lit("auth").as("role"), col("p").as("node"), col("score"))
      .unionByName(
        hub.select(lit("hub").as("role"), col("u").as("node"), col("score")))

  /** [[hitsCheckpointed]]'s trajectory in driver memory over the probed
    * distinct (u, p) pairs (as longs): ids index sorted primitive arrays
    * and each half-step is one pass over the edge index arrays. Each
    * normalization is Spark's own `round` on a double,
    * BigDecimal(x).setScale(0, HALF_UP) — not `math.round`. The two
    * result frames take their schemas from the analyzed (never executed)
    * distributed half-steps, so [[hitsResult]]'s union coerces the node
    * type as the distributed plan does. None — the distributed path
    * runs — for a null id or a zero Σraw, whose semantics (null join
    * keys, Spark's divide by zero) stay Spark's. */
  private def hitsOnDriver(e: DataFrame, rows: Array[Row],
                           iters: Int): Option[DataFrame] = {
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val us = rows.map(_.getLong(0))
    val ps = rows.map(_.getLong(1))
    def sortedDistinct(xs: Array[Long]): Array[Long] = {
      val a = xs.clone()
      java.util.Arrays.sort(a)
      var n = 0
      var i = 0
      while (i < a.length) {
        if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(a, n)
    }
    val uIds = sortedDistinct(us)
    val pIds = sortedDistinct(ps)
    val eu = us.map(java.util.Arrays.binarySearch(uIds, _))
    val ep = ps.map(java.util.Arrays.binarySearch(pIds, _))
    def step(scores: Array[Long], from: Array[Int], to: Array[Int],
             n: Int): Option[Array[Long]] = {
      val raw = new Array[Long](n)
      var total = 0L
      var i = 0
      while (i < from.length) {
        raw(to(i)) += scores(from(i))
        total += scores(from(i))
        i += 1
      }
      if (total == 0) None
      else Some(raw.map(r => java.math.BigDecimal.valueOf(r.toDouble * 1e6 / total.toDouble)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue))
    }
    var hub = Option(Array.fill(uIds.length)(1000000L))
    var auth: Option[Array[Long]] = None
    var i = 0
    while (i < iters && hub.nonEmpty) {
      auth = step(hub.get, eu, ep, pIds.length)
      hub = auth.flatMap(step(_, ep, eu, uIds.length))
      i += 1
    }
    val authShape = hitsHalfStep(e, hitsHub0(e), "u", "p")
    val hubShape = hitsHalfStep(e, authShape, "p", "u")
    def frame(shape: DataFrame, ids: Array[Long], scores: Array[Long]): DataFrame = {
      val intIds = shape.schema.head.dataType == org.apache.spark.sql.types.IntegerType
      val out = new java.util.ArrayList[Row](ids.length)
      for (k <- ids.indices)
        out.add(Row(if (intIds) Int.box(ids(k).toInt) else Long.box(ids(k)), scores(k)))
      e.sparkSession.createDataFrame(out, shape.schema)
    }
    for (a <- auth; h <- hub)
      yield hitsResult(frame(authShape, pIds, a), frame(hubShape, uIds, h))
  }

  /** The distributed loop: the d7 CC-loop discipline — each
    * round's auth/hub snapshots are LAZILY localCheckpoint'ed and one
    * count() per round materializes them (cutting lineage, so the plan
    * and the recompute stay constant-size per round), then the previous
    * round's snapshots are freed immediately — executor storage holds
    * at most two rounds of bounded (node, score) tables, never
    * O(rounds). The FINAL round's snapshots intentionally stay
    * persisted: the returned plan reads them and their lineage is
    * truncated (the d7 contract — the leak is two node-sized integer
    * tables, freed with the session or an explicit unpersist by the
    * caller).
    *
    * Integer micro-unit arithmetic is round-for-round EXACT, so this
    * path is spec-pinned equal to [[hitsOnDriver]] at equal iters. */
  private def hitsCheckpointed(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.GraftShims
    // NOTE (r17): a variant with PRE-PARTITIONED + pre-sorted edge
    // snapshots per join key (eu by u, ep by p — so no per-half-step
    // Exchange/Sort on the edge side) was A/B-measured at bench scale
    // and REGRESSED g2 2.31 → 2.75 s (anchors flat): the two extra
    // edge materializations cost more than the per-round edge exchange
    // they replace while AQE runtime-broadcasts the (small-here) score
    // side anyway. Revisit only if iters grows well past 2·(edge
    // materialization / half-step exchange) at the target scale.
    val e = hitsInit(edges).localCheckpoint(false) // round 1's action materializes it
    var hub = hitsHub0(e)
    var auth: DataFrame = null
    var prevA: DataFrame = null
    var prevH: DataFrame = null
    for (_ <- 1 to iters) {
      // lazy (no-arg localCheckpoint is EAGER): the count below is the
      // round's single materializing action for BOTH half-steps
      val a = hitsHalfStep(e, hub, "u", "p").localCheckpoint(false)
      val h = hitsHalfStep(e, a, "p", "u").localCheckpoint(false)
      h.count()
      if (prevA != null) GraftShims.unpersistLocalCheckpoint(prevA)
      if (prevH != null) GraftShims.unpersistLocalCheckpoint(prevH)
      prevA = a
      prevH = h
      auth = a
      hub = h
    }
    hitsResult(auth, hub)
  }

  /** Bounded k-core peeling (Seidman 1983; public literature) over an
    * undirected edge table (a, b): `rounds` rounds of "drop every node
    * whose degree in the surviving subgraph is < k", returning the
    * survivors with their post-peel degree. The result is the exact
    * `rounds`-round peel trajectory — deterministic whether or not the
    * fixpoint has been reached (the spec asserts fixpoint at test
    * scale; production depths would loop with the d7 checkpoint
    * discipline instead of unrolling).
    *
    * Scale shape: each round is one degree aggregation (vocabulary-
    * sized, node-keyed) + two semi-joins filtering the edge set, all
    * hashing on node id; the surviving edge set shrinks monotonically,
    * so later rounds are cheaper, never bigger. No driver state.
    *
    * Execution discipline: each round's edge/degree snapshots are lazily
    * localCheckpoint'ed and materialized by one count (the
    * d7/hitsCheckpointed pattern) — WITHOUT this, round j references
    * round j−1's subtree three times (degree agg + both endpoint
    * filters), so the lazy unrolled plan holds 3^rounds copies of the
    * corpus-edge derivation (measured 19 s at bench scale for the plan
    * alone; < 1 s checkpointed). Storage holds ≤ one round of bounded
    * node/edge tables; the final degree snapshot stays persisted for
    * the returned plan (the documented d7 leak contract). */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.GraftShims
    require(k >= 1 && rounds >= 1 && rounds <= 12,
      s"k >= 1, rounds in [1,12], got k=$k rounds=$rounds")
    // canonical undirected edge set, then symmetrize so degree is one
    // groupBy on the first endpoint
    val und = edges
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // materialized by round 1's count
    var e = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    var deg: DataFrame = null
    for (i <- 1 to rounds) {
      val d = kCoreDegrees(e, k).localCheckpoint(false)
      if (i < rounds) {
        // built from the d SNAPSHOT, so the degree agg runs once per
        // round. ONE action materializes BOTH lazy snapshots (counting
        // e2 checkpoints its dependency d en route — the
        // hitsCheckpointed single-action-per-round discipline; r17:
        // halves the per-round driver actions)
        val e2 = kCoreSurvivors(e, d).localCheckpoint(false)
        e2.count()
        GraftShims.unpersistLocalCheckpoint(e)
        e = e2
      } else {
        d.count() // materialize the final degree snapshot before freeing e
        GraftShims.unpersistLocalCheckpoint(e)
      }
      if (deg != null) GraftShims.unpersistLocalCheckpoint(deg)
      deg = d
    }
    deg.select(col("u").as("node"), col("d").as("degree"))
  }

  /** Hop distance from a seed set over an already-symmetrized edge
    * table (a, b): iterative frontier expansion with the kCore
    * per-round `localCheckpoint` discipline, so the shipped plan never
    * unrolls 2^depth joins. `seeds` is a 1-column (`node`) DataFrame —
    * usually one hub row, data-derived, so it composes without driver
    * round-trips. Returns (node, depth) for every node within
    * `maxDepth` hops (depth 0 = the seeds).
    *
    * Scale shape per round: one node-keyed equi-join (frontier ⋈ edges)
    * + distinct + one anti-join against the visited set — all hashing
    * on node id; frontier and visited sets are node-count-sized, never
    * edge-sized. */
  def bfsDepths(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.GraftShims
    require(maxDepth >= 1 && maxDepth <= 8, s"maxDepth in [1,8], got $maxDepth")
    val e = edges.select(col("a"), col("b")).localCheckpoint(false)
    var dist = seeds.select(col("node")).distinct()
      .withColumn("depth", lit(0)).localCheckpoint(false)
    dist.count()
    var frontier = dist
    var d = 0
    while (d < maxDepth && frontier.limit(1).count() > 0) {
      d += 1
      val next = e.join(frontier.select(col("node").as("a")), "a")
        .select(col("b").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("depth", lit(d))
        .localCheckpoint(false)
      val dist2 = dist.unionAll(next).localCheckpoint(false)
      // one action per round: counting dist2 checkpoints its dependency
      // next en route (the loop guard below reads the materialized next)
      dist2.count()
      // round 1's frontier IS dist — free each snapshot exactly once
      if (frontier ne dist) GraftShims.unpersistLocalCheckpoint(frontier)
      GraftShims.unpersistLocalCheckpoint(dist)
      dist = dist2
      frontier = next
    }
    if (frontier ne dist) GraftShims.unpersistLocalCheckpoint(frontier)
    dist
  }

  /** Bounded Bellman-Ford single-source shortest paths over a weighted
    * edge table (a, b, cost) with INTEGER costs (the micro-unit
    * discipline: float path sums would fork between engines; integer
    * sums are exact everywhere). Each round relaxes every edge once —
    * dist_k(v) = min(dist_{k-1}(v), min_u dist_{k-1}(u) + cost(u,v)) —
    * so after `rounds` rounds every ≤`rounds`-edge path is optimal; the
    * oracle replays the same recurrence as unrolled CTEs (the t18
    * pattern). Same per-round shapes and checkpoint discipline as
    * [[bfsDepths]]: one node-keyed join + one min-agg per round, dist
    * is node-count-sized. Returns (node, cost) for nodes reachable
    * within `rounds` edges (seeds at cost 0). */
  def ssspCosts(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.GraftShims
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8], got $rounds")
    val e = edges.select(col("a"), col("b"), col("cost").cast("long").as("cost"))
      .localCheckpoint(false)
    var dist = seeds.select(col("node")).distinct()
      .withColumn("cost", lit(0L)).localCheckpoint(false)
    dist.count()
    for (_ <- 1 to rounds) {
      val relaxed = e
        .join(dist.select(col("node").as("a"), col("cost").as("dc")), "a")
        .select(col("b").as("node"), (col("dc") + col("cost")).as("cost"))
      val dist2 = dist.unionAll(relaxed)
        .groupBy("node").agg(min("cost").as("cost"))
        .localCheckpoint(false)
      dist2.count()
      GraftShims.unpersistLocalCheckpoint(dist)
      dist = dist2
    }
    dist
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) for
    * community detection, made DETERMINISTIC so a second engine can
    * replay it exactly: every node starts as its own label; each round,
    * a node adopts the most frequent label among its neighbors, ties
    * broken by the smallest label; the round count is fixed (sync LPA
    * can oscillate on bipartite structure — a fixed budget with a fixed
    * tie rule makes the trajectory a pure function of the edge set, the
    * same determinism discipline as s7's k-means and x68's BPE).
    *
    * Scale shape: one node-keyed equi-join (edges ⋈ labels on the
    * neighbor endpoint) + two aggregations per round, all shuffling on
    * node id — the pageRank iteration pattern; the argmax is the
    * portable min(struct(−count, label)) single-agg (negating the
    * always-numeric COUNT, not the label, so string node ids order
    * correctly too), never a per-node window over the vote table. Keep `rounds` small (communities
    * stabilize in a few sync rounds); deep budgets would want the d7
    * checkpoint discipline. Input edges (a, b) are symmetrized and
    * self-loop-pruned internally; returns (node, label). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 6, s"rounds in [1,6], got $rounds")
    val und = edges
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // every round joins the SAME edge table; snapshot it once so the
    // caller's edge derivation (often itself a join/agg chain) runs one
    // time, not once per round — the d7 snapshot contract: the returned
    // plan reads the snapshot, which stays resident (documented leak)
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.select(col("node").as("v"), col("label")), "v")
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // (−c asc, label asc) min = (count desc, label asc) — the negation
      // sits on the internal BIGINT count, so the label column keeps its
      // native type and ordering (unary minus on a string id would cast
      // to null and silently break the tie rule)
      labels = votes.groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("best"))
        .select(col("node"), col("best.label").as("label"))
    }
    labels
  }

  /** The two halves of one k-core peel round over a symmetrized edge
    * table (u, v), factored out so the plan-shape guard inspects the
    * SHIPPED round construction (kCore checkpoints between rounds, so
    * its returned plan is just a snapshot scan). */
  private[graft] def kCoreDegrees(e: DataFrame, k: Int): DataFrame =
    e.groupBy("u").agg(count(lit(1)).as("d")).filter(col("d") >= k)

  /** Edges whose BOTH endpoints survive in `deg` — two node-keyed
    * semi-filters. */
  private[graft] def kCoreSurvivors(e: DataFrame, deg: DataFrame): DataFrame = {
    val keep = deg.select(col("u"))
    e.join(keep, "u")
      .join(keep.withColumnRenamed("u", "v"), "v")
      .select("u", "v")
  }

  /** Per-group triangle count over undirected edges (g, a, b), input
    * symmetrized or not (dedup'd internally). Degree-ordered
    * orientation: keep each edge only from its lower-(deg, node)
    * endpoint, so every wedge is enumerated exactly once from its
    * lowest-degree corner — the total wedge work is bounded by
    * Σ min(deg)² ≤ O(m^1.5) instead of Σ deg² (the "curse of the last
    * reducer" fix: a celebrity node never fans out its full
    * neighborhood). Returns (g, n_triangles). */
  def trianglesPerGroup(edges: DataFrame, groupCol: String = "g"): DataFrame = {
    val g = col(groupCol)
    // canonical undirected edge set (one row per unordered pair).
    // Snapshot discipline (r17): und feeds the degree table AND the
    // orientation join, and ori feeds the wedge self-join AND the
    // closing-edge probe — lazily left, the executed plan re-derived
    // the caller's edge table once per reference (32 corpus scans for
    // g1 at bench scale). Two edge-sized snapshots pin one tokenize.
    val und = edges
      .select(g.as("g"), least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    val deg = und.select(col("g"), col("u").as("x"))
      .unionAll(und.select(col("g"), col("v").as("x")))
      .groupBy("g", "x").agg(count(lit(1)).as("d"))
    // orient low-(deg, node) → high; (d, node) is a total order so
    // exactly one direction survives per edge
    val dU = deg.select(col("g"), col("x").as("u"), col("d").as("du"))
    val dV = deg.select(col("g"), col("x").as("v"), col("d").as("dv"))
    val ori = und.join(dU, Seq("g", "u")).join(dV, Seq("g", "v"))
      .select(col("g"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      .localCheckpoint(false)
    // wedges from the low corner, closed by an oriented edge (either
    // direction between the two high endpoints appears exactly once in
    // the oriented set)
    val e1 = ori.select(col("g"), col("s"), col("t").as("t1"))
    val e2 = ori.select(col("g"), col("s"), col("t").as("t2"))
    val wedge = e1.join(e2, Seq("g", "s")).filter(col("t1") < col("t2"))
    // wedge emits t1 < t2, so match the closing edge in canonical order
    val closer = ori.select(col("g"),
      least(col("s"), col("t")).as("t1"), greatest(col("s"), col("t")).as("t2"))
    wedge.join(closer, Seq("g", "t1", "t2"))
      .groupBy("g").agg(count(lit(1)).as("n_triangles"))
  }

  /** HyperBall (Boldi & Vigna 2013): per-node ball-size estimates — how
    * many distinct nodes sit within `rounds` hops — via the PORTABLE
    * HLL register algebra ([[Sketches.hllRegisters]]' bucket/rank
    * construction on the node's own 60-bit hash). Each round is one
    * edges⋈registers equi-join + a (node, bucket) max-merge: register
    * union IS max, so the whole neighborhood function runs in
    * |V|·2^b register rows per round, never materializing neighbor
    * SETS — the trick that makes distance distributions computable on
    * billion-node graphs. Deterministic end to end (integer max-merges;
    * the estimate is [[Sketches.hllEstimate]]'s closed form), so an
    * unrolled SQL replay matches exactly. */
  def hyperBall(edges: DataFrame, rounds: Int = 2, b: Int = 4,
                outCol: String = "est_ball"): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8], got $rounds")
    val w = 60 - b
    // snapshot discipline (r17): every round references the edge table
    // once and the register table TWICE (self-union), so the lazy plan
    // re-derives the caller's edge chain per copy. One edge snapshot
    // pins the corpus tokenize; register snapshots only pay off once
    // the 2^rounds state doubling outgrows their materialization cost
    // (A/B at rounds = 2: snapshotting regs per round REGRESSED g9
    // 0.55 → 0.63 s — the doubled register table is cheaper to
    // recompute from the edge snapshot than to persist at this depth)
    val e = edges.select("a", "b").localCheckpoint(false)
    val nodes = e.select(col("a").as("node")).distinct()
    val h = Sampling.rawHash(col("node"))
    val rest = shiftright(h, b)
    val rho = when(rest === 0, lit(w + 1))
      .otherwise(lit(w + 1) - length(bin(rest)))
    def snap(df: DataFrame): DataFrame =
      if (rounds > 2) df.localCheckpoint(false) else df
    var regs = snap(nodes.select(col("node"), (h % (1 << b)).as("__b"),
      rho.cast("int").as("__m")))
    for (_ <- 1 to rounds) {
      val fromNbrs = e
        .join(regs.withColumnRenamed("node", "b"), "b")
        .select(col("a").as("node"), col("__b"), col("__m"))
      regs = snap(regs.unionByName(fromNbrs)
        .groupBy("node", "__b").agg(max("__m").as("__m")))
    }
    Sketches.hllEstimate(regs, Seq("node"), b, outCol)
  }
}
