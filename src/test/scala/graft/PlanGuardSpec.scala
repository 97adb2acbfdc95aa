package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression guards: the properties that make the headline
  * queries scale are asserted here, so a refactor can't silently
  * reintroduce a global sort, a shuffled dimension join, or a
  * single-partition window (the round-1 `x2` failure mode).
  *
  * Assertions read the pre-execution plan string (AQE initial plan) —
  * broadcast hints and TakeOrderedAndProject are decided at planning
  * time, so no job needs to run. */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def planOf(q: String): String =
    plan(SparkEntry.queries(q)(spark, dir))

  test("x2 top-k plans TakeOrderedAndProject, not a global sort/window") {
    val p = plan(SparkEntry.topkUsersBase(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("dimension joins broadcast (j4, j6, j7, j10, j11) — no shuffled dim side") {
    Seq("j4_ktable_join", "j6_fk_left_join", "j7_fk_inner_join", "j10_q3_shipping",
        "j11_q5_local_supplier")
      .foreach { q =>
        val p = planOf(q)
        assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$p")
      }
  }

  test("s1 top-k is a bounded partial aggregate, not a per-query window") {
    val p = planOf("s1_cosine_topk")
    assert(!p.contains("WindowExec"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("s14 MIPS top-k is a bounded partial aggregate, not a per-query window") {
    val p = planOf("s14_mips_topk")
    assert(!p.contains("WindowExec"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("d6 salted pairs stay an equi hash join — no cartesian/nested-loop") {
    val p = planOf("d6_embedding_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j1 band join is planned on the equi key, not as a cartesian") {
    val p = planOf("j1_band_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j12 bucketed join: zero shuffle exchanges — co-location replaces the shuffle") {
    val p = planOf("j12_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"fact-side join lost the merge path:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    // the only Exchange anywhere is the supplier broadcast (as in j7)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("d11/t9/t10: equi hash joins only — no cartesian in the stats family") {
    Seq("d11_span_dup", "t9_unigram_entropy").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
    }
    // t10's one nested-loop join is the INTENDED 1-row totals cross join;
    // everything data-sized must still join hashed
    val p10 = planOf("t10_source_kl")
    assert(!p10.contains("CartesianProduct"), p10)
    assert(p10.contains("BroadcastHashJoin"), p10)
    // x28 is t10-shaped: marginal joins hashed, totals on a 1-row broadcast
    val p28 = planOf("x28_mix_chi2")
    assert(!p28.contains("CartesianProduct"), p28)
    assert(p28.contains("BroadcastHashJoin"), p28)
  }

  test("x26 heavy hitters never shuffles the corpus word-keyed") {
    val p = planOf("x26_heavy_hitters")
    // the whole point of the sketch: partial sketches merge — there is no
    // hash-partitioned exchange of words (only the 1-row final merge)
    assert(!p.contains("Exchange hashpartitioning"),
      s"heavy-hitter sketch reintroduced a word-keyed shuffle:\n$p")
  }

  test("x27 grouped hitters shuffle source-keyed sketches, never words") {
    val p = planOf("x27_grouped_hitters")
    assert(!p.contains("hashpartitioning(w"),
      s"grouped heavy hitters reintroduced a word-keyed shuffle:\n$p")
    assert(p.contains("windowspecdefinition(source"),
      s"per-source ranking window lost its partitioning:\n$p")
  }

  test("x23 CDC chunking windows per doc, never a single global partition") {
    val p = planOf("x23_cdc_chunk")
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"x23's prefix-sum window collapsed to one partition:\n$p")
  }

  test("s4 IVF search: broadcast probes/queries, bounded top-k, no window") {
    val p = planOf("s4_ivf_topk")
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("s3 IVF assignment is a shuffle-free projection — no exchange, no join") {
    val p = planOf("s3_ivf_assign")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("s13 frozen-weight scoring is a shuffle-free projection — no exchange, no join") {
    // the scoring stage alone (frozen weights, no fit jobs) — the pass
    // that must stay embarrassingly parallel on a 100 TB corpus
    val w = Array.fill(65)(0.01)
    val p = plan(graft.functions.Classifier.logisticScore(
      Tables.embeddings(spark, dir), "vec_id", "embedding", w, threshold = 0.5))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("round-8 analytics batch stays keyed — no cartesian, no single-partition window") {
    Seq("c5_lr_gate", "x53_rolling_zscore", "x54_markov_transitions",
        "x55_session_paths")
      .foreach { q =>
        val p = planOf(q)
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
        assert(!p.contains("SinglePartition"), s"$q grew a global window:\n$p")
      }
  }

  test("d5 simhash pairs join on the (band, bits) key — no cartesian") {
    val p = planOf("d5_simhash_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the self-join key is the band split, not the raw signature
    assert(p.contains("band"), p)
  }

  test("d8 semantic dedup joins on the cell key — no cartesian pair blowup") {
    val p = planOf("d8_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d10 fuzzy decontamination stays band-bucket-local — no cartesian") {
    val p = planOf("d10_fuzzy_decontaminate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t6 TF-IDF aggregates with partials — no window, no cartesian corpus join") {
    val p = planOf("t6_tfidf")
    assert(!p.contains("WindowExec"), p)
    // the N-docs scalar rides a broadcast, never a shuffled cross join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("t11 ranked TF-IDF windows per doc; the doc count rides a broadcast") {
    val p = planOf("t11_tfidf_terms")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"t11's top-k window lost its per-doc partitioning:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("t12 quantiles window over the histogram, never the raw rows") {
    val p = planOf("t12_length_quantiles")
    // single-chain plan (total and running count share one windowed
    // pass): no join may reappear — a join would both re-scan the
    // documents for the total AND give the subtree check below a
    // second subtree to falsely match against
    assert(!p.contains("Join"), s"t12 grew a join for the total:\n$p")
    // the window's child must be the (source, n_chars) aggregate — in a
    // join-free chain everything printed after the Window line IS its
    // child subtree, so a HashAggregate there means the sort ranks
    // distinct lengths, not documents
    val winAt = p.indexOf("Window")
    assert(winAt >= 0, p)
    assert(p.indexOf("HashAggregate", winAt) >= 0,
      s"t12's cumulative window no longer sits on the histogram aggregate:\n$p")
  }

  test("x14/x15 use the bounded aggregate — no per-class row_number window") {
    Seq("x14_balanced_sample", "x15_kmv_distinct").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("WindowExec"), s"$q grew a window:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$q lost the bounded aggregate:\n$p")
    }
  }

  test("x16 packing window is bucket-partitioned, never a global order") {
    val p = planOf("x16_seq_pack")
    assert(p.contains("windowspecdefinition(bucket"), p)
  }

  test("text queries run the codegen'd tokenizer, not the regex split") {
    Seq("a2_wordcount", "t2_quality").foreach { q =>
      val p = planOf(q)
      assert(p.contains("ascii_word_tokens"), s"$q lost the fast tokenizer:\n$p")
    }
  }

  test("t14 bm25 ranks via TakeOrderedAndProject; query-term filter precedes the tf exchange") {
    val p = planOf("t14_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the final 20-row rank window is fine; a corpus-sized global sort is not
    assert(!p.contains("Sort [score"), p)
  }

  test("x33 tiers join docs to the tier map by broadcast — raw rows never sort globally") {
    val p = planOf("x33_quality_tiers")
    assert(p.contains("BroadcastHashJoin"), s"tier lookup lost its broadcast:\n$p")
    // exactly one Window (over the bounded histogram), none over raw docs
    assert(p.sliding("Window".length).count(_ == "Window") >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d14 dup spans: digest joins stay hashed, no cartesian") {
    val p = planOf("d14_dup_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j13 full-outer band join keeps the equi-key plan of j1/j2") {
    val p = planOf("j13_full_band_join")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s10 PQ encode is shuffle-free; s11 ADC search exchanges only the top-k") {
    // encode: assignment + recon norm are map-side codebook lookups —
    // the corpus must NOT be exchanged
    val enc = plan(functions.SimilarityOps.pqEncode(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 2, 4, 1))
    assert(!enc.contains("Exchange"), enc)
    // search: corpus streams past the BROADCAST query table (the scoring
    // join is deliberately non-equi — query_id ≠ neighbor_id over a tiny
    // query set — so it plans as BNLJ BuildRight, s1's established
    // shape); the only exchanges are that broadcast and the bounded
    // top-k aggregation (partial → final)
    val p = planOf("s11_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p)
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2, p)
  }

  test("t18 textrank: contributions join hash-keyed — no cartesian, no window") {
    val p = planOf("t18_textrank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("WindowExec"), p)
    // contrib ⋈ ranks each round must be a hash equi-join; the only
    // nested-loop allowed is the 1-row node-count scalar broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"), p)
  }

  test("g1 triangles: wedge and closer joins stay equi-keyed") {
    val p = planOf("g1_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j15 interval join: bucketization keeps the theta join off the nested-loop path") {
    val p = planOf("j15_interval_join")
    // the raw BETWEEN predicate with no equi-key would plan as a
    // BroadcastNestedLoopJoin — the whole point of the bucket rewrite
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x45 retention cohorts: one data-sized exchange feeds dedup AND window") {
    val p = planOf("x45_retention_cohorts")
    // hash(user_id) repartition satisfies the (user, week) dedup and the
    // per-user min window; only the tiny cohort-cell agg re-exchanges
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("g2 HITS: every half-step an equi join; normalizers ride 1-row broadcasts") {
    // at test scale g2 runs HITS on the driver (a local relation), and the
    // distributed loop (driverEdgeBudget = 0) checkpoints per round, so
    // its returned plan is snapshot scans: guard one SHIPPED distributed
    // round (GraphOps.hitsHalfStep, auth then hub) over g2's edge table
    // instead, the g4 pattern
    import graft.functions.GraphOps
    val e = GraphOps.hitsInit(SparkEntry.purchaseEdges(spark, dir))
    val auth = GraphOps.hitsHalfStep(e, GraphOps.hitsHub0(e), "u", "p")
    val p = plan(GraphOps.hitsHalfStep(e, auth, "p", "u"))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("WindowExec"), p)
    // the only nested-loops allowed are the 1-row Σraw normalizer
    // broadcasts (pageRank's node-count pattern)
    assert(!p.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"), p)
  }

  test("x46 co-occurrence: basket self-join stays keyed on the order id") {
    val p = planOf("x46_item_cooccur")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("round-7 analytics batch stays keyed — no cartesian, no stray nested loop") {
    Seq("x48_ab_lift", "x49_conversion_latency", "x50_incremental_agg",
        "x51_weighted_median", "x52_psi_drift", "d19_dedup_savings",
        "t21_hapax", "x47_time_grid").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // only 1-row bounds/normalizer broadcasts may ride the nested-loop path
      assert(!p.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
        .contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // EVERY window in x51 must partition by source — a global cumulative
    // window would single-partition the histogram sort
    val p51 = planOf("x51_weighted_median")
    val specs = p51.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    val bySource = p51.sliding("windowspecdefinition(source".length)
      .count(_ == "windowspecdefinition(source")
    assert(specs > 0 && specs == bySource, s"specs=$specs bySource=$bySource\n$p51")
  }

  test("x39 HLL: two hash aggregations, no window, no join") {
    val p = planOf("x39_hll_distinct")
    assert(!p.contains("WindowExec"), p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("s12 kNN eval: neighbor list and predictions broadcast; no window") {
    val p = planOf("s12_knn_eval")
    assert(!p.contains("WindowExec"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d17 prefix join: candidates join on the prefix token, windows per doc") {
    val p = planOf("d17_prefix_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // rarity ranking partitions by doc_id — never a global window
    assert(!p.contains("Window [") || p.contains("windowspecdefinition(doc_id"), p)
  }

  test("x40 weighted reservoir plans TakeOrderedAndProject — no global sort/window") {
    val p = planOf("x40_weighted_reservoir")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x38 z-order key is a pure projection — no exchange, no join") {
    val p = planOf("x38_zorder_key")
    assert(!p.contains("Exchange"), p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("t20 readability is a pure projection — no exchange, no window") {
    val p = planOf("t20_readability")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x44 pareto: brand-partitioned window + keyed join back — no cartesian") {
    val p = planOf("x44_pareto")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the lag-min window must be partitioned (by brand), never global
    assert(p.contains("Window") && p.contains("windowspecdefinition(p_brand"), p)
  }

  test("x43 funnel: survivor joins stay equi-keyed; only the 3-row stage window is global") {
    val p = planOf("x43_funnel")
    assert(!p.contains("CartesianProduct"), p)
    // stage-to-stage joins on user_id are hash joins (broadcast under AQE
    // as the survivor set shrinks, sort-merge acceptable pre-AQE)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("g3 PPR: every round is equi-join + node agg; only the 1-row seed-count broadcasts") {
    val p = planOf("g3_ppr")
    assert(!p.contains("CartesianProduct"), p)
    // the |S|-count scalar is the only nested-loop rider (the g2 idiom)
    assert(!p.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("g4 k-core: peel rounds are degree aggs + equi semi-filters — no cartesian/window") {
    // kCore checkpoints per round (the d7 discipline), so the returned
    // plan is a scan of the final snapshot; guard the SHIPPED round
    // construction (GraphOps.kCoreDegrees/kCoreSurvivors) instead
    import org.apache.spark.sql.functions._
    import graft.functions.GraphOps
    val e = GraphOps.bigramEdges(graft.Tables.documents(spark, dir))
      .select(col("a").as("u"), col("b").as("v"))
    val round = GraphOps.kCoreSurvivors(e, GraphOps.kCoreDegrees(e, 10))
    val p = plan(round)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x56 ACF: one type-partitioned window; only the 1-row grid bounds broadcast") {
    val p = planOf("x56_acf")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.replace("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"), p)
    // the lag window must partition by event_type, never run global
    assert(p.contains("windowspecdefinition(event_type"), p)
    val specs = p.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    val byType = p.sliding("windowspecdefinition(event_type".length)
      .count(_ == "windowspecdefinition(event_type")
    assert(specs == byType, s"specs=$specs byType=$byType\n$p")
  }

  test("x57 attribution: join-free — one user-partitioned window + one agg") {
    val p = planOf("x57_attribution")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("windowspecdefinition(user_id"), p)
  }

  test("t22 RAKE: every join/window keys on doc_id — no cartesian, no global window") {
    val p = planOf("t22_rake")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val specs = p.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    val byDoc = p.sliding("windowspecdefinition(doc_id".length)
      .count(_ == "windowspecdefinition(doc_id")
    assert(specs > 0 && specs == byDoc, s"specs=$specs byDoc=$byDoc\n$p")
  }

  test("t23 novelty: shingle-keyed join back, no cartesian, no window") {
    val p = planOf("t23_ngram_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x58 equi-depth bins: one type-partitioned NTILE window, no join") {
    val p = planOf("x58_equidepth_bins")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("windowspecdefinition(event_type"), p)
  }

  test("x59 behavior entropy: two aggregations, no join, no window") {
    val p = planOf("x59_behavior_entropy")
    assert(!p.toLowerCase.contains("join"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x60 cohort LTV: one user-keyed equi join, no cartesian, no window") {
    val p = planOf("x60_cohort_ltv")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("filters and pruning reach the parquet scans (j10, q1)") {
    val j10 = planOf("j10_q3_shipping")
    // dimension filter pushed into the customer scan
    assert(j10.contains("EqualTo(c_mktsegment,BUILDING)"), j10)
    // column pruning: the lineitem scan must not read the wide comment col
    assert(!j10.contains("l_comment"), j10)
    val q1 = planOf("q1_agg")
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate)"), q1)
  }

  test("x61 fuzzy match: block-keyed equi join on the dictionary, no cartesian") {
    val p = planOf("x61_fuzzy_match")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the edit-distance verifier must run AFTER blocking (join filter),
    // never as a join condition that degenerates to nested-loop
    assert(p.contains("damerau_levenshtein"), p)
  }

  test("g5 part jaccard: basket-keyed equi joins only, no window") {
    val p = planOf("g5_part_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x62 RFM: three NTILE windows over the reduced per-user table, scalar broadcast") {
    val p = planOf("x62_rfm")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    assert(specs == 3, s"expected 3 ntile specs, got $specs\n$p")
  }

  test("x63 gini: nation-partitioned rank window, no cartesian") {
    val p = planOf("x63_gini")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("windowspecdefinition(nationkey"), p)
  }

  test("x64 benford: one 9-row aggregation + scalar broadcast, no window") {
    val p = planOf("x64_benford")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x65 cusum: day-level series only — the window runs on the daily aggregate") {
    val p = planOf("x65_cusum")
    assert(!p.contains("CartesianProduct"), p)
    // exactly one running-sum window, ordered by day
    val specs = p.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    assert(specs == 1, s"expected 1 cumulative spec, got $specs\n$p")
  }

  test("x96 bootstrap: replicate means are hash aggregates — no window, no cartesian") {
    val p = planOf("x96_bootstrap_ci")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the 32-replicate explode is in-flight
  }

  test("x94 rolling range frame: one user-keyed window, both aggs share its sort") {
    val p = planOf("x94_rolling_range")
    assert(!p.contains("CartesianProduct"), p)
    // one windowspecdefinition pair (count + sum over the SAME spec) —
    // a second spec would mean a second sort/shuffle
    val specs = p.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    assert(specs == 2, s"expected the 2 same-frame aggs, got $specs\n$p")
    assert(p.sliding("Window".length).count(_ == "Window") <= 2, p)
  }

  test("d20 ingest gate: base corpus streams past BROADCAST batch digests — no shuffled base join") {
    val p = planOf("d20_ingest_gate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // every base-side probe must be a broadcast hash join build
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"base corpus shuffled for the probe:\n$p")
  }

  test("x66 assoc rules: basket-keyed equi joins + scalar broadcast, no window") {
    val p = planOf("x66_assoc_rules")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x67 purchase cadence: join-free — one user-partitioned lag window + agg") {
    val p = planOf("x67_purchase_cadence")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("windowspecdefinition(user_id"), p)
  }

  test("t24 code detect: pure map-side projection — ZERO exchanges") {
    val p = planOf("t24_code_detect")
    assert(!p.contains("Exchange"), s"map-side query gained a shuffle:\n$p")
    assert(!p.toLowerCase.contains("join"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x73 token budget: level bases broadcast; doc window partitions by quality") {
    val p = planOf("x73_token_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"level-base join must broadcast (dimension-sized):\n$p")
    assert(p.contains("windowspecdefinition(quality"), p)
  }

  test("x74 BPE encode: map-side replace chain + ONE doc-keyed exchange, no join") {
    val p = planOf("x74_bpe_encode").toLowerCase
    // "hashjoin"/loop, not bare "join" — the encode projection contains
    // array_join, which is a scalar, not an operator
    assert(!p.contains("hashjoin") && !p.contains("nestedloop") &&
      !p.contains("cartesian"), p)
    assert(!p.contains("windowexec"), p)
    assert(p.sliding("exchange hashpartitioning".length)
      .count(_ == "exchange hashpartitioning") == 1,
      s"encode should pay exactly one hash exchange:\n$p")
  }

  test("x69 source cap: ONE source-partitioned window, no join") {
    val p = planOf("x69_source_cap")
    assert(p.contains("windowspecdefinition(source"), p)
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"cap should pay exactly one hash exchange:\n$p")
  }

  test("x70 temperature mix: one count agg, scalar total broadcast") {
    val p = planOf("x70_temperature_mix")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
    assert(!p.contains("WindowExec"), p)
  }

  test("x71 epoch shards: map-side hashes + one shard-partitioned window") {
    val p = planOf("x71_epoch_shards")
    assert(p.contains("windowspecdefinition(shard"), p)
    assert(!p.toLowerCase.contains("hashjoin"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"sharding should pay exactly one hash exchange:\n$p")
  }

  test("d22 winnow rows: no scan-level filter inlines the winnow chain") {
    // InferFiltersFromGenerate on a plain explode pushes size(fps) > 0
    // below the staged projections, inlining tokenizer+hash per filter
    // row (measured 300×). explode_outer + post-explode null filter
    // keeps every Filter condition free of the md5 gram hash.
    val p = planOf("d22_winnow_pairs")
    val filters = p.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq ++
      p.linesIterator.filter(_.trim.startsWith("Filter")).toSeq
    filters.foreach { f =>
      assert(!f.contains("md5") && !f.contains("ascii_word_tokens"),
        s"winnow chain leaked into a filter:\n$f")
    }
    assert(p.contains("Generate explode"), p)
  }

  test("j17 Q21 shape: semi + anti self-joins, never a cartesian") {
    val p = planOf("j17_q21_sole_late")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j18/j19/j20: part keys / part slice / 1-row max broadcast; argmin and max stay windowless") {
    Seq("j18_q17_small_qty", "j19_argmin_supplier", "j20_q15_top_supplier")
      .foreach { q =>
        val p = planOf(q)
        assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
        assert(!p.contains("WindowExec"),
          s"$q grew a window (argmin/max must stay aggregates):\n$p")
      }
  }

  test("j21 salted join: small side replicates via Generate, big side never duplicates") {
    val p = planOf("j21_salted_join")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m2 media decode is map-only: the binary parse pays no keyed exchange") {
    val p = planOf("m2_media_decode")
    // the only allowed exchange is the id-only round-robin fanout that
    // spreads the single-row-group scan before the codec map — media
    // bytes are still born and reduced inside one task
    assert(!p.contains("Exchange hashpartitioning"),
      s"metadata extraction must not shuffle keyed rows:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("j22 Q19 disjunction: per-side predicate unions push to BOTH scans") {
    val df = SparkEntry.queries("j22_q19_disjunctive")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the quantity-bound union reaches the lineitem scan...
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,40.0)"),
      s"quantity disjunction union not pushed:\n$p")
    // ...and the brand/size union reaches the part scan
    assert(p.contains("EqualTo(p_brand,Brand#1)"),
      s"brand disjunction union not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("j23/j24/j27: outer/anti probes stay hash joins over pre-aggregated or broadcast sides") {
    val p23 = planOf("j23_q13_custdist")
    // orders reach the outer join already at custkey grain (aggregate below the join)
    assert(p23.contains("LeftOuter"), p23)
    assert(!p23.contains("WindowExec") && !p23.contains("CartesianProduct"), p23)
    val p24 = planOf("j24_q22_idle_rich")
    assert(p24.contains("LeftAnti"), p24)
    assert(p24.contains("BroadcastNestedLoopJoin") && p24.contains("Cross"),
      s"j24's scalar average must ride a broadcast 1-row cross join:\n$p24")
    val p27 = planOf("j27_q16_supplier_cnt")
    assert(p27.contains("LeftAnti") && p27.contains("BroadcastHashJoin"), p27)
    assert(!p27.contains("WindowExec"), p27)
  }

  test("j25 Q7: the 2-nation filter pushes into BOTH nation scans") {
    val df = SparkEntry.queries("j25_q7_volume")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = "In(n_name, [NATION_3,NATION_7])"
    val hits = p.sliding(pushed.length).count(_ == pushed)
    assert(hits >= 2, s"nation filter must prune both dim scans (saw $hits):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j28 Q11: the global cut is a broadcast 1-row cross join, never a window") {
    val p = planOf("j28_q11_value_parts")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Cross"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("x87 Holt: the sequential fold runs in aggregates, never a window or join") {
    val p = planOf("x87_holt_linear")
    assert(!p.contains("WindowExec"), p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("j29 Q6: join-free scan-agg with the range predicates PUSHED into parquet") {
    val p = planOf("j29_q6_forecast")
    assert(!p.toLowerCase.contains("join") && !p.contains("WindowExec"), p)
    // all three residual predicates must reach the scan as pushed
    // filters (formatted mode — toString truncates the filter list)
    val f = SparkEntry.queries("j29_q6_forecast")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(f.contains("GreaterThanOrEqual(l_shipdate") &&
      f.contains("LessThan(l_quantity,24"),
      s"Q6's range predicates must push into the FileScan:\n$f")
  }

  test("j30/j31: dims broadcast; j31 keeps exactly ONE shuffled join (orders)") {
    val p30 = planOf("j30_q14_promo")
    assert(p30.contains("BroadcastHashJoin"), p30)
    assert(!p30.contains("SortMergeJoin") && !p30.contains("CartesianProduct"), p30)
    val p31 = planOf("j31_q9_profit")
    assert(p31.contains("BroadcastHashJoin"), p31)
    val smj = p31.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin")
    assert(smj <= 1, s"Q9 must shuffle only the orderkey join (saw $smj):\n$p31")
    assert(!p31.contains("CartesianProduct"), p31)
  }

  test("j32 Q4: the EXISTS plans as a semi join, orders pruned before it") {
    val p = planOf("j32_q4_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("WindowExec"), p)
  }

  test("j33 Q2: dims broadcast; the argmin window is partkey-partitioned") {
    val p = planOf("j33_q2_min_cost")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the correlated-min rewrite must NOT collapse to a global window —
    // Window over partkey keeps per-part locality at any scale
    assert(!p.contains("SinglePartition"),
      s"Q2's window min must stay partitioned by partkey:\n$p")
  }

  test("j34 Q12: single orderkey shuffle, both counts in one aggregation pass") {
    val p = planOf("j34_q12_shipmode")
    assert(!p.contains("CartesianProduct") && !p.contains("WindowExec"), p)
    val f = SparkEntry.queries("j34_q12_shipmode")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(f.contains("GreaterThanOrEqual(l_shipdate"),
      s"Q12's ship-year filter must push into the lineitem scan:\n$f")
  }

  test("j35 Q20: part prefix broadcast; dominance window shares the partkey shuffle") {
    val p = planOf("j35_q20_excess_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SinglePartition"),
      s"Q20's dominance window must stay partitioned by partkey:\n$p")
  }

  test("x110/x111: one fact-table aggregation pass, no window, no cartesian") {
    val p110 = planOf("x110_welch_t")
    assert(!p110.contains("WindowExec") && !p110.contains("CartesianProduct"), p110)
    val p111 = planOf("x111_anova_f")
    assert(!p111.contains("WindowExec") && !p111.toLowerCase.contains("join"),
      s"ANOVA is two stacked aggregations over one scan:\n$p111")
  }

  test("t30 JS grid: vocab-row joins only — totals broadcast, no corpus cartesian") {
    val p = planOf("t30_js_divergence")
    assert(!p.contains("CartesianProduct"),
      s"the (source × vocab) grid must come from broadcast totals:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("x115/x116: grouping sets and unpivot are ONE Expand, never unioned re-scans") {
    val p115 = planOf("x115_grouping_sets")
    assert(p115.contains("Expand"), p115)
    assert(!p115.contains("Union"),
      s"grouping sets must expand in one pass, not re-scan per set:\n$p115")
    val p116 = planOf("x116_unpivot")
    assert(p116.contains("Expand"), p116)
    assert(!p116.contains("Union"),
      s"unpivot must be a single Expand, not a self-union:\n$p116")
  }

  test("g10 modularity: node-keyed equi joins only, no cartesian") {
    val p = planOf("g10_modularity")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x121 winsorize: windows on the value histogram, boundaries broadcast back") {
    val p = planOf("x121_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row boundary table must broadcast into the clamp pass:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x123 U-shape: conversion-keyed window, no cartesian touch join") {
    val p = planOf("x123_ushape_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"),
      s"the position window must stay partitioned by conv_id:\n$p")
  }

  test("x126 bounce rides the sessionizer's user-keyed windows — no global sort") {
    val p = planOf("x126_bounce")
    assert(!p.contains("SinglePartition"),
      s"session collapse must stay user-partitioned:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j36 full Q1: join-free scan-agg, date filter pushed") {
    val p = planOf("j36_q1_pricing")
    assert(!p.toLowerCase.contains("join") && !p.contains("WindowExec"), p)
    val f = SparkEntry.queries("j36_q1_pricing")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(f.contains("LessThan(l_shipdate"),
      s"Q1's date filter must push into the scan:\n$f")
  }

  test("x101 Jaro-Winkler match: block-keyed equi join, no cartesian dictionary scan") {
    val p = planOf("x101_jaro_winkler")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the JW verifier must stay inside first-token blocks:\n$p")
  }

  test("x102 feature hashing: one hash-aggregate exchange, no join, no window") {
    val p = planOf("x102_feature_hashing")
    assert(!p.toLowerCase.contains("join") && !p.contains("WindowExec"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("s20 NDCG: two bounded top-k's, windows only after them") {
    val p = planOf("s21_ndcg")
    // system side ranks via TakeOrderedAndProject (the t14 guard);
    // the ideal side is a bounded top-k too — no global sort anywhere
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c7 calibration: scoring stays a projection — one join, no window") {
    val p = planOf("c7_calibration")
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multimodal decode queries are map-only: media bytes never cross an Exchange") {
    // the modality pillar's scale claim — pixels/samples/containers are
    // born, decoded and reduced to scalar rows inside the partition;
    // only (id, scalar...) rows may ever shuffle. The id-only
    // round-robin fanout (Tables.fanout over the 8-byte doc_id scan,
    // which parallelizes the codec stage) is the ONE permitted
    // exchange: it sits directly on the id-projected FileScan, below
    // any media synthesis, so bytes still never move
    Seq("m2_media_decode", "m3_phash", "m4_audio_spectral",
        "m6_video_meta", "m8_avi_frames", "m10_mp4_frames",
        "m11_h264_frames", "m12_h264_cavlc", "m13_h264_pframes",
        "m14_h264_bframes").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange rangepartitioning"),
        s"$q grew a keyed exchange:\n$p")
      // any round-robin fanout must read the bare id scan (nothing
      // heavier than the 8-byte id crosses it)
      if (p.contains("Exchange RoundRobinPartitioning"))
        assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
          s"$q fanout exchange no longer rides the id-only scan:\n$p")
      assert(!p.toLowerCase.contains("join"), s"$q grew a join:\n$p")
    }
  }

  test("m5 near-dup: the only exchange is keyed on (band, key) hashes, never bytes") {
    val p = planOf("m5_phash_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // every hashpartitioning key is a band key or pair id — if media
    // bytes or decoded images ever rode an exchange, `content` would
    // appear in its partitioning expressions
    assert(!p.contains("hashpartitioning(content"), p)
  }

  test("x104 Spearman windows partition by type; x103 KM windows run on the day-grain table") {
    val p104 = planOf("x104_spearman")
    assert(!p104.contains("CartesianProduct") && !p104.toLowerCase.contains("nestedloop"), p104)
    val p103 = planOf("x103_kaplan_meier")
    // the single-partition windows are INTENDED: they run on the
    // |distinct durations|-row curve, after the user-grain reduction;
    // the two scalars (max day, total users) ride 1-row broadcasts
    assert(p103.contains("HashAggregate"), p103)
    assert(!p103.contains("CartesianProduct"), p103)
    assert(p103.contains("BroadcastNestedLoopJoin"), p103)
  }
}
