package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact → MinHash+LSH → SimHash → n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - every candidate-generation step is a hash-partitioned groupBy/join on
  *    a *bounded* key (fingerprint, band signature, bucket) — never an
  *    all-pairs product;
  *  - the only data-sized shuffles hash short digests, not documents;
  *  - all hashing is md5-based and engine-portable (identical hex output in
  *    Spark and the DuckDB oracle), and every aggregate has a map-side
  *    partial (min / sum).
  */
object DedupOps {

  /** Exact dedup: group identical texts, keep the smallest doc_id as the
    * representative. Grouping on the md5 fingerprint keeps the shuffle rows
    * small (32-byte digest vs full document). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("__fp").as("fp"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_cnt"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS local fingerprinting algorithm): hash every word `k`-gram,
    * slide a window of `w` consecutive gram hashes, and select each
    * window's MINIMUM hash, ties broken by the RIGHTMOST position (the
    * paper's robust-winnowing rule). The selected set is a ~2/(w+1)
    * density sketch with the paper's guarantee: any shared token run of
    * length ≥ w + k − 1 between two documents contributes at least one
    * common fingerprint. Short inputs degrade gracefully: fewer grams
    * than one window → the global minimum is selected; fewer tokens
    * than `k` → no grams, empty sketch.
    *
    * Output (doc_id, n_grams, n_fps, fp_digest): the distinct selected
    * hashes, ascending, digested — a comparable per-document sketch
    * identity. Everything is per-row HOF arithmetic over ONE
    * materialized token column (the shingles-performance contract):
    * zero shuffles, so the sketch costs one corpus scan at any scale;
    * cross-doc matching then works on the sketches (fingerprint-keyed
    * joins, the d21/decontamination shapes), never on raw text. The
    * gram hash is the corpus-standard md5-60-bit form every sampling
    * and sharding oracle mirrors. */
  private def winnowed(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k, w >= 1, got k=$k w=$w")
    // per-row gram hashing + window minima are the expensive map stage —
    // fan the (id, text) projection out before it (guide §2.5; no-op on
    // an already-wide scan, streaming inputs pass through). Keyed on the
    // id: hash fanout skips round-robin's local sort of the text bytes
    graft.Tables.fanoutBy(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("t"))
      .withColumn("g", expr(
        s"""CASE WHEN size(t) >= $k THEN
           |  transform(sequence(1, size(t) - ${k - 1}),
           |    i -> cast(conv(substring(md5(concat_ws(' ', slice(t, i, $k))), 1, 15), 16, 10) AS bigint))
           |ELSE cast(array() AS array<bigint>) END""".stripMargin))
      .withColumn("wins", expr(
        s"""CASE WHEN size(g) = 0 THEN cast(array() AS array<int>)
           |WHEN size(g) < $w THEN
           |  array(array_max(filter(sequence(1, size(g)), p -> g[p - 1] = array_min(g))))
           |ELSE
           |  transform(sequence(1, size(g) - ${w - 1}),
           |    j -> array_max(filter(sequence(j, j + ${w - 1}),
           |           p -> g[p - 1] = array_min(slice(g, j, $w)))))
           |END""".stripMargin))
      .withColumn("fps", expr(
        "array_sort(array_distinct(transform(wins, p -> g[p - 1])))"))
  }

  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame =
    winnowed(docs, idCol, textCol, k, w)
      .select(col("doc_id"), size(col("g")).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(concat_ws(",",
          expr("transform(fps, x -> cast(x AS string))"))).as("fp_digest"))

  /** The exploded (doc_id, fp) sketch rows — the joinable form
    * cross-document matching builds on (fingerprint-keyed equi-joins,
    * the d21/decontamination shapes).
    *
    * `explode_outer` + a post-explode null filter, NOT plain `explode`:
    * InferFiltersFromGenerate would add `size(fps) > 0` to a plain
    * explode and push it below the staged projections, inlining the
    * whole winnow chain (tokens re-evaluated per lambda element) into a
    * per-row filter — measured 300× slower. The null filter sits on the
    * GENERATED attribute, which nothing can push down. */
  def winnowRows(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, w: Int = 4): DataFrame =
    winnowed(docs, idCol, textCol, k, w)
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)

  /** Word n-gram shingles (default 3). Documents shorter than n words
    * collapse to a single whole-document shingle.
    *
    * PERFORMANCE: pass an *attribute reference* to a materialized token
    * array (project `tokens(...)` into a column first), never the raw
    * `tokens(text)` expression — higher-order-function lambdas re-evaluate
    * their captured expressions per element, which would re-run the regex
    * tokenizer once per shingle index (measured 10× slowdown). Use
    * [[shingleRows]] which stages the projections correctly. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** (doc_id, shingle) rows: tokenize → project → shingle → explode, each
    * HOF consuming a materialized column so every expression evaluates
    * once per row. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3): DataFrame =
    graft.Tables.fanoutBy(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), explode(shingles(col("__t"), shingleN)).as("sh"))

  /** Universal-hash family constants (shared with the DuckDB oracle —
    * plain 64-bit integer arithmetic is engine-exact):
    * base value v = first 15 hex chars of md5(shingle) mod 2^30, then
    * hash_s(v) = (v·(2s+1) + (7919·s+13)) mod 1e9+7. */
  val HashMod = 1000000007L
  val BaseMod = 1073741824L // 2^30 keeps v·A + B inside 64 bits

  /** MinHash signatures: one row per doc with columns mh0..mh{k−1}.
    *
    * Computed entirely map-side by the codegen'd
    * [[graft.expressions.MinHashSignature]] — the signature is row-local
    * state, so the explode + per-doc `groupBy(min)` shuffle of the
    * composable chain is structurally unnecessary. One md5 per shingle,
    * k universal hashes by integer arithmetic, zero exchanges. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleN: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      // null text ≡ empty document (the aggregate chain's concat_ws path
      // hashes the empty shingle) — do not null-propagate the signature
      .select(col("doc_id"),
        graft.expressions.MinHashSignature.sig(
          coalesce(col("__t"), array()), numHashes, shingleN).as("__mh"))
      .select(col("doc_id") +:
        (0 until numHashes).map(s => element_at(col("__mh"), s + 1).as(s"mh$s")): _*)

  /** The pre-rewrite aggregate formulation of [[minhashSignatures]]
    * (explode shingles → md5 → k arithmetic columns → per-doc `min`
    * aggregates). Kept as the cross-check reference for the map-side
    * expression — equivalence is spec-asserted. */
  def minhashSignaturesAgg(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int, shingleN: Int = 3): DataFrame =
    shingleRows(docs, idCol, textCol, shingleN)
      .withColumn("v",
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long") % BaseMod)
      .groupBy("doc_id")
      .agg(
        min((col("v") * lit(1L) + lit(13L)) % HashMod).as("mh0"),
        (1 until numHashes).map(s =>
          min((col("v") * lit(2L * s + 1) + lit(7919L * s + 13)) % HashMod)
            .as(s"mh$s")): _*)

  /** LSH band rows (doc_id, band, sig): consecutive `rowsPerBand`
    * signature columns joined into one band signature, unpivoted with
    * `stack` (codegen'd, no shuffle). */
  def lshBands(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val stackArgs = (0 until numBands).map { b =>
      val sig = (0 until rowsPerBand)
        .map(r => s"cast(mh${b * rowsPerBand + r} as string)")
        .mkString("concat_ws('|', ", ", ", ")")
      s"$b, $sig"
    }.mkString(", ")
    sigs.selectExpr("doc_id", s"stack($numBands, $stackArgs) as (band, sig)")
  }

  /** Candidate near-dup pairs (a < b) from shared LSH buckets. The join key
    * (band, sig) is the LSH bucket — cardinality ∝ corpus size, and each
    * bucket is tiny, so the self-join is a bucket-local product, not n². */
  def lshCandidatePairs(bands: DataFrame): DataFrame = {
    val l = bands.select(col("band"), col("sig"), col("doc_id").as("a"))
    val r = bands.select(col("band").as("band2"), col("sig").as("sig2"), col("doc_id").as("b"))
    l.join(r, l("band") === r("band2") && l("sig") === r("sig2") && l("a") < r("b"))
      .select("a", "b").distinct()
  }

  /** End-to-end MinHash-LSH candidate pairs. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 12, rowsPerBand: Int = 3,
                 shingleN: Int = 3): DataFrame =
    lshCandidatePairs(lshBands(
      minhashSignatures(docs, idCol, textCol, numHashes, shingleN),
      numHashes, rowsPerBand))

  /** LSH parameter planner: for every (bands, rows) split of a
    * `numHashes`-function MinHash signature, the S-curve readouts that
    * pick the banding BEFORE any corpus pass runs — candidate
    * probability 1 − (1 − s^r)^b at the target similarity `t` (want
    * ≈ 1: recall), at a sub-threshold similarity `tBelow` (want ≈ 0:
    * false-candidate pressure, the verify stage's bill), at `tAbove`
    * (safety margin), and the curve midpoint s50 = (1/b)^(1/r).
    * Thresholds are EXPLICIT parameters, not derived offsets, so both
    * engines evaluate identical double literals. A |divisors(k)|-row
    * closed-form table — driver-scale math, zero corpus I/O; this is
    * how d2/d10's (numHashes, rowsPerBand) defaults were picked. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
              t: Double, tBelow: Double, tAbove: Double): DataFrame = {
    import spark.implicits._
    require(numHashes >= 2, s"need at least 2 hash functions: $numHashes")
    require(tBelow < t && t < tAbove && tBelow > 0 && tAbove <= 1.0,
      "need 0 < tBelow < t < tAbove <= 1")
    val divs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b.toLong, (numHashes / b).toLong))
    def pCand(sim: Double): Column =
      round(lit(1.0) - pow(lit(1.0) - pow(lit(sim), col("r")), col("b")), 6)
    divs.toDF("b", "r").select(col("b"), col("r"),
      round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6).as("s50"),
      pCand(t).as("p_at_t"),
      pCand(tBelow).as("p_below"),
      pCand(tAbove).as("p_above"))
  }

  /** 16-bit SimHash signature per document: per token-hash bit, majority
    * vote of ±1 contributions. Two shuffle-free explodes + one aggregation
    * keyed by (doc, bit) then (doc); contributions sum map-side.
    * 16 bits keeps the oracle SQL tractable; the construction generalizes
    * to 64 by changing the constant. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Tables.fanoutBy(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0) // chain semantics: token-less docs emit no row
      .select(col("doc_id"),
        graft.expressions.SimHash16.sig(col("__t")).as("simhash"))

  /** The pre-rewrite aggregate formulation of [[simhash16]] (explode
    * tokens → md5 → 16 contribution columns → per-doc vote sums). Kept as
    * the cross-check reference — equivalence is spec-asserted. */
  def simhash16Agg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per token-hash, 16 ±1 contributions as plain codegen'd columns
    // (bit i = bit (3 − i%4) of hex digit i/4) — no per-bit explode, no
    // interpreted lambdas; the per-doc vote is 16 algebraic sums.
    val contribs = (0 until 16).map { i =>
      expr(s"(shiftright(cast(conv(substring(h, ${i / 4 + 1}, 1), 16, 10) as int), " +
        s"${3 - i % 4}) % 2) * 2 - 1").as(s"c$i")
    }
    val votes = (0 until 16).map(i => sum(col(s"c$i")).as(s"s$i"))
    val assemble = (0 until 16).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id") +: md5(col("tok")).as("h") +: Nil: _*)
      .select(col("doc_id") +: contribs: _*)
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assemble.as("simhash"))
  }

  /** 64-bit SimHash signature per document — the production-width variant
    * of [[simhash16]], computed map-side by the codegen'd
    * [[graft.expressions.SimHash64]]. 64 bits is the width that keeps
    * blocked near-dup detection sub-quadratic at corpus scale: see
    * [[simhashPairsBanded]]. */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Tables.fanoutBy(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0) // chain semantics: token-less docs emit no row
      .select(col("doc_id"),
        graft.expressions.SimHash64.sig(col("__t")).as("simhash"))

  /** The pre-rewrite aggregate formulation of [[simhash64]] (explode
    * tokens → md5 → 64 contribution columns → per-doc vote sums). Kept as
    * the cross-check reference — equivalence is spec-asserted. Bit 63's
    * vote contributes `1L << 63` = Long.MinValue, i.e. lands on the sign
    * bit, matching the expression exactly. */
  def simhash64Agg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per token-hash, 64 ±1 contributions as plain codegen'd columns
    // (bit i = bit (3 − i%4) of hex digit i/4, over the first 16 hex
    // chars = 8 bytes of the md5)
    val contribs = (0 until 64).map { i =>
      expr(s"(shiftright(cast(conv(substring(h, ${i / 4 + 1}, 1), 16, 10) as int), " +
        s"${3 - i % 4}) % 2) * 2 - 1").as(s"c$i")
    }
    val votes = (0 until 64).map(i => sum(col(s"c$i")).as(s"s$i"))
    val assemble = (0 until 64).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id") +: md5(col("tok")).as("h") +: Nil: _*)
      .select(col("doc_id") +: contribs: _*)
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assemble.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist via the
    * standard (maxDist+1)-band blocking: split the signature into
    * maxDist+1 contiguous bit bands; by pigeonhole, two signatures within
    * Hamming distance maxDist agree EXACTLY on at least one band, so a
    * self-join on (band, band bits) has perfect recall and the exact
    * XOR-popcount filter keeps precision. Output is therefore identical
    * to the all-pairs filter — spec-asserted.
    *
    * 100 TB shape: the join key carries bits/(maxDist+1) signature bits
    * (64-bit sigs, d=3 → 16-bit bands → 65k distinct keys per band
    * position from hash-uniform bits), so buckets stay tiny and the join
    * is bucket-local, never n². Band extraction uses unsigned shifts —
    * bit 63 sits on the sign bit.
    *
    * `bits` must be the signature width (64 for [[simhash64]], 16 for
    * [[simhash16]]); bands cover the width evenly with the high band
    * absorbing any remainder. */
  def simhashPairsBanded(sigs: DataFrame, maxDist: Int, bits: Int = 64): DataFrame = {
    val numBands = maxDist + 1
    require(numBands >= 1 && numBands <= bits,
      s"need 1..$bits bands, got $numBands")
    val w = bits / numBands
    val bandKey = (b: Int) => {
      // band b covers bit offsets [b*w, (b+1)*w), the top band runs to `bits`
      val hi = if (b == numBands - 1) bits else (b + 1) * w
      val width = hi - b * w
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("simhash"), b * w).bitwiseAND(lit(mask))
    }
    val banded = sigs.select(
      col("doc_id") +: col("simhash") +:
        (0 until numBands).map(b => bandKey(b).as(s"k$b")): _*)
    val stackArgs = (0 until numBands).map(b => s"$b, k$b").mkString(", ")
    // carry the full signature through the unpivot so the exact Hamming
    // filter needs no re-join against the signature table
    val bands = banded.selectExpr(
      "doc_id", "simhash", s"stack($numBands, $stackArgs) as (band, key)")
    val l = bands.select(col("band"), col("key"),
      col("doc_id").as("a"), col("simhash").as("ha"))
    val r = bands.select(col("band").as("band2"), col("key").as("key2"),
      col("doc_id").as("b"), col("simhash").as("hb"))
    l.join(r, l("band") === r("band2") && l("key") === r("key2") &&
        l("a") < r("b"))
      // filter BEFORE distinct: bit_count is a codegen'd no-shuffle map,
      // so rejecting far pairs first shrinks the dedup exchange
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("a", "b", "hamming").distinct()
  }

  /** SimHash near-dup pairs blocked by the high byte of the signature —
    * the legacy 16-bit shape kept for the [[simhash16]] cross-checks;
    * production uses [[simhashPairsBanded]], whose (d+1)-band split is
    * what survives corpus scale. */
  def simhashPairs(sigs: DataFrame, maxDist: Int): DataFrame = {
    val l = sigs.select(col("doc_id").as("a"), col("simhash").as("ha"))
      .withColumn("blk", shiftright(col("ha"), 8))
    val r = sigs.select(col("doc_id").as("b"), col("simhash").as("hb"))
      .withColumn("blk2", shiftright(col("hb"), 8))
    l.join(r, l("blk") === r("blk2") && l("a") < r("b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("a", "b", "hamming")
  }

  /** n-gram Jaccard similarity for candidate pairs: |shingles(a) ∩
    * shingles(b)| / |union|. Computed via an explode + count join so set
    * sizes aggregate map-side; only candidate pairs (from LSH or another
    * blocker) ever meet.
    *
    * The corpus is semi-join-pruned to documents that appear in a
    * candidate pair BEFORE shingling: verification cost scales with the
    * candidate set (LSH keeps it tiny), not the corpus — at 100 TB,
    * exploding shingles for documents no pair references would dominate
    * the stage for nothing. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame =
    jaccardFromOverlap(pairShingleOverlap(docs, idCol, textCol, pairs, shingleN))

  /** Prefix-filtered set-similarity candidates (the AllPairs/PPJoin
    * family — Bayardo et al., WWW 2007; public literature): with tokens
    * globally ordered by ascending document frequency, a document whose
    * distinct-token set has size n keeps only its n − ⌈t·n⌉ + 1 RAREST
    * tokens as its prefix; any pair with token-set Jaccard ≥ t must
    * share a prefix token (pigeonhole on the required overlap ⌈t·n⌉), so
    * the prefix self-join has PERFECT RECALL with no hashing — the
    * deterministic complement to MinHash-LSH blocking.
    *
    * Scale shape: the df table is token-keyed and stays DISTRIBUTED
    * (vocabulary is unbounded at corpus scale — never collected/
    * broadcast); the candidate join keys on prefix tokens, whose df is
    * low BY CONSTRUCTION under Zipfian vocabularies (prefixes prefer the
    * rarest tokens), bounding the Σ df² bucket work. The set elements
    * are `shingleN`-gram shingles: a tiny closed UNIGRAM vocabulary
    * (this repo's synthetic documents: 31 words per source) is prefix
    * filtering's adversarial worst case — every token's df is huge and
    * candidates degrade toward all-pairs (measured: 184 s vs ~9 s at
    * bench scale) — while the 3-gram shingle space (~vocab³) restores
    * the rare-element distribution the algorithm is designed for. The
    * spec proves exact recall against brute force at BOTH granularities.
    *
    * `threshold` must be exactly binary-representable (0.5, 0.25, …) so
    * ⌈t·n⌉ is engine-portable. */
  def prefixCandidates(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 1): DataFrame =
    prefixCandidatesFromShingles(
      shingleRows(docs, idCol, textCol, shingleN).distinct(), threshold)

  /** [[prefixCandidates]] over an already-distinct (doc_id, sh) shingle
    * frame — split out so [[prefixJoin]] can derive BOTH the candidate
    * chain and the Jaccard verify from ONE shingle plan: the two
    * branches canonicalize to the same distinct-exchange subtree, so
    * exchange reuse explodes and deduplicates the corpus shingles once
    * instead of twice (the verify's semi-join prune moves ABOVE the
    * shared exchange). */
  private[functions] def prefixCandidatesFromShingles(
      tkDistinct: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val tk = tkDistinct.withColumnRenamed("sh", "tok")
    // document frequency as a WINDOW over the tok exchange, not a
    // groupBy + join back: the join version shuffles the (doc, tok)
    // rows on tok anyway (to meet the aggregate), so the window gets
    // the same df with one less join and one less aggregation branch.
    // A stop-shingle's tok partition is the same hot partition either
    // way — skew is unchanged, work is strictly less.
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val pfx = tk
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .select(col("doc_id"), col("tok"),
        row_number().over(byRarity).as("rnk"),
        count(lit(1)).over(Window.partitionBy("doc_id")).as("n"))
      // the 1e-9 nudge before ceil only ever LENGTHENS the prefix (for
      // the exactly-representable thresholds the public API documents it
      // is a no-op; for prefixJoin's tEff = t − 5e-7 it absorbs the
      // double product rounding a hair above an exact integer — a
      // SHORTER prefix would lose recall, a longer one only adds
      // candidates the verify kills)
      .filter(col("rnk") <= col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + 1)
    // PPJoin's POSITIONAL FILTER (Xiao et al., WWW 2008) on top of the
    // prefix pigeonhole: a token shared at ordered positions (ra, rb)
    // bounds the overlap by the shorter remaining suffix,
    // min(na − ra, nb − rb) + 1. For a true pair (J ≥ t) the FIRST
    // shared token lies inside both prefixes and its suffix bound
    // dominates the true overlap, so keeping pairs whose BEST bound
    // meets the required overlap α = t·(na+nb)/(1+t) is sound — recall
    // stays a theorem (spec re-proves vs brute force). The α test is the
    // multiplicative form ub·(1+t) ≥ t·(na+nb): exact in doubles for
    // binary-representable thresholds (the prefixCandidates contract);
    // prefixJoin passes its effective t − 5e-7, covered by the −1e-6
    // slack at the filter below. Bench sf0.1:
    // candidates drop 409k → 125k before the verify fan-out.
    // PPJoin's ASYMMETRIC prefixes (Xiao et al. 2008 §3.2): order the
    // pair by size (ties by id) — the larger record y probes with the
    // full AllPairs prefix (n − ⌈t·n⌉ + 1, already what `pfx` kept),
    // but the smaller record x only needs its INDEX prefix
    // n − ⌈2t/(1+t)·n⌉ + 1. Soundness is the smallest-common-token
    // lemma: a true pair shares ≥ α = ⌈t/(1+t)(nx+ny)⌉ tokens, and
    // α ≥ ⌈2t/(1+t)·nx⌉ (since ny ≥ nx) and α ≥ ⌈t·ny⌉ (since
    // nx ≥ t·ny), so the first common token sits inside BOTH prefixes.
    // The index side shrinks ~(1−t)/(1+t) of its rows, and the token
    // self-join's output shrinks with it. The 1e-9 nudge before ceil
    // only ever LENGTHENS the index prefix (an exact-integer bound that
    // double division rounds up a ulp would otherwise shorten it —
    // extra candidates are safe, a lost one is not).
    val idxKeep = col("n") -
      ceil(lit(2.0 * threshold) * col("n") / lit(1.0 + threshold) - lit(1e-9)) + 1
    val probe = pfx.select(col("tok"), col("doc_id").as("py"),
      col("rnk").as("ry"), col("n").as("ny"))
    val index = pfx.filter(col("rnk") <= idxKeep)
      .select(col("tok").as("tok2"), col("doc_id").as("px"),
        col("rnk").as("rx"), col("n").as("nx"))
    probe.join(index, col("tok") === col("tok2") &&
        (col("nx") < col("ny") ||
          (col("nx") === col("ny") && col("px") < col("py"))))
      .groupBy(least(col("px"), col("py")).as("a"),
        greatest(col("px"), col("py")).as("b"))
      .agg(max(least(col("nx") - col("rx"), col("ny") - col("ry")) + 1).as("ub"),
        max(col("nx") + col("ny")).as("nsum"))
      // −1e-6 slack on the α test: the multiplicative form is exact in
      // doubles only for binary-representable thresholds; prefixJoin
      // passes tEff = t − 5e-7, where a 1-ulp-high RHS at an
      // exact-integer boundary would prune a borderline TRUE pair. The
      // slack only ever keeps extra candidates (verify kills them).
      .filter(col("ub") * lit(1.0 + threshold) >= lit(threshold) * col("nsum") - lit(1e-6))
      .select("a", "b")
  }

  /** Exact-threshold set-similarity join: prefix-filtered candidates →
    * exact shingle-set Jaccard (the shared [[ngramJaccard]] verify core
    * at the same granularity) → threshold filter. Output is EVERY pair
    * with `shingleN`-gram-set Jaccard ≥ t — recall is a theorem, not a
    * tuning knob (`PrefixJoinSpec` proves it against brute force at
    * unigram and 3-gram granularity). */
  def prefixJoin(docs: DataFrame, idCol: String, textCol: String,
                 threshold: Double, shingleN: Int = 1): DataFrame = {
    // ONE shingle-distinct plan feeds the candidate generator and the
    // verify arrays — both branches sit above the same exchange, so
    // reuse computes the corpus explode+distinct once.
    val tk = shingleRows(docs, idCol, textCol, shingleN).distinct()
    // The verify works over per-doc shingle-set ARRAYS, not membership
    // rows: an earlier revision expanded each candidate pair into its
    // ~|doc| membership rows through two (pair × shingle) joins — the
    // pair-count × doc-length fan-out dominated the whole query (125k
    // pairs × ~50 rows at bench sf0.1). Collapsing each doc's distinct
    // shingles into one array row (same hash(doc_id) clustering the
    // candidate chain's windows already pay) turns the verify into two
    // |pairs|-row hash joins plus one per-pair intersection count —
    // the exact same result, A/B-measured 4.8 s → ~2 s when it replaced
    // the membership joins. Array size is bounded by per-doc distinct
    // shingles (doc length), which is the same data volume the
    // membership rows carried, just grouped — no new memory shape at
    // 100 TB.
    // SORTED sets: the per-pair count is the codegen'd early-exit merge
    // scan (SortedIntersectCount), whose comparator is exactly
    // sort_array's binary UTF8 order — no per-pair hash-set build
    val arrs = tk.groupBy("doc_id")
      .agg(sort_array(collect_set(col("sh"))).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("n"))
    // The ACCEPTED set is {pairs with round(J, 6) ≥ t} — the spec's
    // brute-force convention and the DuckDB oracle's — and round-6
    // HALF_UP keeps any pair with true J ≥ t − 5e-7. Every pruning
    // stage below therefore derives from the EFFECTIVE threshold
    // tEff = t − 5e-7, not t itself: bounds derived from the raw t
    // would bail a pair whose true J sits in [t − 5e-7, t) — a pair
    // the final rounded filter KEEPS — with an undercounted jaccard,
    // forking from brute force (reachable once na+nb crosses ~2M
    // distinct shingles, where 1/(na+nb) < 5e-7). Loosening to tEff
    // only ever ADDS candidates, so soundness is the same theorem at
    // threshold tEff; at test/bench scales the integer bounds are
    // unchanged (n·5e-7 < 1 below ~2M shingles).
    val tEff = threshold - 5e-7
    // Bayardo's LENGTH FILTER before the array joins: J(A,B) ≥ tEff
    // forces tEff·|A| ≤ |B| ≤ |A|/tEff (the intersection is at most
    // min(|A|,|B|) and the union at least max), so pruning on sizes
    // alone is SOUND for every accepted pair. At bench sf0.1 this cuts
    // the verified pair set 409k → 310k (sizes already ride the
    // candidate rows from the prefix chain's window counts).
    //
    // The verify is the early-exit merge scan against the minimum
    // intersection an accepted pair needs, i ≥ tEff·(na+nb)/(1+tEff)
    // (J = i/u, u = na+nb−i, J ≥ tEff ⟺ that bound; the 1e-9 nudge only
    // ever LOWERS the requirement — a ulp-up-rounded requirement could
    // bail on a true pair). Pairs the scan bails on return a count
    // strictly below the requirement, whose jaccard is then strictly
    // below tEff — so round-6 lands strictly below t, exactly the rows
    // the final filter drops; surviving pairs carry the EXACT count, so
    // the emitted jaccard is exact (PrefixJoinSpec's brute-force
    // equality re-proves both claims).
    val required = ceil(
      lit(tEff) * (col("na") + col("nb")) / lit(1.0 + tEff) - lit(1e-9))
      .cast("long")
    prefixCandidatesFromShingles(tk, tEff)
      .join(arrs.select(col("doc_id").as("a"), col("shs").as("sha"),
        col("n").as("na")), "a")
      .join(arrs.select(col("doc_id").as("b"), col("shs").as("shb"),
        col("n").as("nb")), "b")
      .filter(col("nb") >= ceil(col("na") * lit(tEff) - lit(1e-9)) &&
        col("nb") <= floor(col("na") / lit(tEff) + lit(1e-9)))
      .withColumn("inter", org.apache.spark.sql.GraftShims.column(
        graft.expressions.SortedIntersectCount(
          org.apache.spark.sql.GraftShims.expression(col("sha")),
          org.apache.spark.sql.GraftShims.expression(col("shb")),
          org.apache.spark.sql.GraftShims.expression(required))).cast("long"))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Jaccard *containment* verify over the same candidate chain:
    * inter/min(|A|,|B|) instead of inter/|A∪B|. Containment catches the
    * doc-subset duplication symmetric Jaccard misses — a short document
    * pasted whole into a much longer one scores near 1.0 here while its
    * Jaccard stays small (the union is dominated by the long doc). Same
    * plan shape and lifecycle as [[ngramJaccard]]. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame, shingleN: Int = 3): DataFrame =
    pairShingleOverlap(docs, idCol, textCol, pairs, shingleN)
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("containment"))

  /** Shared verify core for [[ngramJaccard]]/[[ngramContainment]]:
    * per-pair distinct-shingle overlap counts (a, b, na, nb, inter). */
  private def pairShingleOverlap(docs: DataFrame, idCol: String, textCol: String,
                                 pairs: DataFrame, shingleN: Int): DataFrame = {
    // The candidate list is referenced four times below (membership, the
    // two size joins, the intersection) — left as a PLAN, like `sh`: the
    // pair chain tops out in a shuffle (minhashLsh's distinct / the band
    // joins' exchanges), and all four references canonicalize to the same
    // subtree, so exchange reuse (and AQE stage reuse) computes it once
    // and reads the shuffle output four times. An earlier revision
    // eagerly localCheckpoint'ed here instead; that was faster than
    // persist() but leaked the snapshot's executor-storage blocks for the
    // session's lifetime — a plan is recomputation-safe, leak-free, and
    // keeps this function lazy (ReuseReferencesSpec pins the reuse and
    // the zero-storage-growth behavior). Callers with a pre-materialized
    // pair list can still pass it and own its lifecycle.
    val p = pairs
    val members = p.select(col("a").as(idCol))
      .union(p.select(col("b").as(idCol))).distinct()
    val pruned = docs.join(members, Seq(idCol), "left_semi")
    // referenced three times (sizes + both intersection hops) — left as a
    // plan, NOT materialized: the three references share one shuffle via
    // exchange reuse, and an eager checkpoint here A/B-measured slower
    // (extra sync barrier + fresh codegen for the post-checkpoint stages).
    overlapCounts(shingleRows(pruned, idCol, textCol, shingleN).distinct(), p)
  }

  /** The overlap-count core over a ready distinct (doc_id, sh) frame —
    * callers choose WHERE the member prune happens: below the shingle
    * explode (cheap when pairs touch few docs — the ngramJaccard path)
    * or above an exchange already paid by another branch (the
    * prefixJoin path). */
  private def overlapCounts(sh: DataFrame, p: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // hash-join on (doc, shingle) both hops — never a per-pair cross product
    val inter = p
      .join(sh.withColumnRenamed("doc_id", "a"), "a")
      .join(sh.withColumnRenamed("doc_id", "b"), Seq("b", "sh"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    p
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .join(inter, Seq("a", "b"), "left_outer")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select("a", "b", "na", "nb", "inter")
  }

  /** Symmetric Jaccard from overlap counts (inter / |A ∪ B|). */
  private def jaccardFromOverlap(counts: DataFrame): DataFrame =
    counts.select(col("a"), col("b"),
      round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))

  /** Inter-document repetition: for each document, the fraction of its
    * DISTINCT word n-gram shingles that also occur in at least one OTHER
    * document — the corpus-level duplicated-span measure (the
    * RefinedWeb/Gopher-style signal that catches boilerplate and licence
    * blocks pasted across many documents, which document-level near-dup
    * misses because no whole document pair is similar).
    *
    * Output: one row per doc — `doc_id`, `n_shingles` (distinct),
    * `dup_shingles` (those with corpus doc-frequency ≥ 2), `dup_frac`.
    *
    * 100 TB shape: shingles go through md5 digests, so both exchanges
    * (the per-doc distinct and the doc-frequency count) move narrow
    * fixed-width keys; the join back to per-doc shingles is INNER against
    * only the df ≥ 2 digests — typically a small fraction of the shingle
    * space — and every stage aggregates map-side first. No broadcast of
    * anything data-sized, no driver state. */
  def spanDupStats(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 5): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
      .select(col("doc_id"), md5(col("sh")).as("shh")).distinct()
    val totals = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // after the per-doc distinct, count(*) per digest IS doc frequency
    val dupDigests = sh.groupBy("shh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("shh")
    val dups = sh.join(dupDigests, "shh")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_shingles"))
    docs.select(col(idCol).as("doc_id"))
      .join(totals, Seq("doc_id"), "left_outer")
      .join(dups, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("dup_shingles"), lit(0L)).as("dup_shingles"),
        round(coalesce(col("dup_shingles"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)).cast("double"), lit(1.0)),
          6).as("dup_frac"))
  }

  /** Maximal duplicated SPANS per document — the exact-substring-dedup
    * output (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" shape): WHERE the duplicated text sits, not just how
    * much of it there is ([[spanDupStats]]' fraction). A position is
    * covered when its n-gram occurs at least twice anywhere in the corpus
    * (cross- OR within-doc — a licence block pasted twice into one
    * document is duplicated text all the same); covered start positions
    * whose n-gram windows overlap or touch (gap ≤ n) merge into one
    * maximal span via gaps-and-islands.
    *
    * Output: (doc_id, span_idx, span_start, n_starts, span_len) — token
    * coordinates, span_len counts covered tokens from first to last
    * window. Only docs containing duplicated spans appear.
    *
    * 100 TB shape: positions carry md5 digests, so the occurrence count
    * and the covered-position join shuffle narrow fixed-width keys; the
    * join is INNER against only the occ ≥ 2 digests. The island window
    * partitions by doc_id, and the final span aggregate's
    * (doc_id, span_idx) clustering is satisfied by the window's
    * hash(doc_id) partitioning (subset rule) — no extra exchange. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("pos")
    // tokens MUST be a materialized column before entering ngrams' HOF
    // lambda — a captured tokens(text) expression re-evaluates per
    // position (~|doc| tokenizer runs per row; measured 3× the whole
    // query's cost at sf0.1), the exact trap shingleRows documents
    val pos = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), posexplode(TextAnalysis.ngrams(col("__t"), shingleN)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("shh"))
    // occurrence counts via a digest-keyed window rather than
    // groupBy + join-back: the join form plans the explode+md5 subtree
    // TWICE (once under the digest aggregate, once as the probe side —
    // no exchange to reuse when the dup side broadcasts), and the
    // tokenize/ngram/md5 pass is the dominant cost (measured ~2× query
    // time at sf0.1). The window shuffles the same position rows the
    // aggregate's partial-agg barely shrinks (positions are mostly
    // unique), sorts within digest groups that are occurrence-sized, and
    // reads the corpus ONCE. Caveat at 100 TB: a pathologically hot
    // digest (boilerplate duplicated millions of times) buffers its
    // group in one window partition — WindowExec spills, but if that
    // regime is expected, pre-collapse to (shh, doc_id) first.
    val covered = pos
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("shh")))
      .filter(col("occ") >= 2).select("doc_id", "pos")
    covered
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(win) <= shingleN, 0).otherwise(1))
      .withColumn("span_idx",
        sum("brk").over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_idx").agg(
        min("pos").cast("long").as("span_start"),
        count(lit(1)).as("n_starts"),
        (max("pos") - min("pos") + shingleN).cast("long").as("span_len"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a held-out benchmark/eval set (the standard
    * test-set-leakage filter for LLM training data — GPT-3 appendix C /
    * PaLM §7 use 8–13-gram overlap; the n is a parameter here).
    *
    * Output: one row per corpus doc — `doc_id`, `hits` (count of DISTINCT
    * corpus-doc n-grams that occur anywhere in the benchmark), and
    * `contaminated` = hits > 0.
    *
    * 100 TB shape: the benchmark side is an eval set — thousands of docs,
    * not billions — so its distinct shingle digests are BROADCAST and the
    * corpus side never shuffles for the probe; md5 digests (32 hex chars)
    * keep the broadcast map and the per-doc distinct exchange small no
    * matter how long the shingles are. The only data-sized exchange is
    * the per-doc distinct on (doc_id, digest). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 5): DataFrame = {
    val bench = shingleRows(benchmark, idCol, textCol, shingleN)
      .select(md5(col("sh")).as("shh")).distinct()
    val corp = shingleRows(corpus, idCol, textCol, shingleN)
      .select(col("doc_id"), md5(col("sh")).as("shh")).distinct()
    val hits = corp.join(broadcast(bench), Seq("shh"))
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Incremental-ingest dedup gate — the continuous-crawl stage: each
    * NEW batch of documents is checked against the existing corpus and
    * routed `exact` (normalized fingerprint already present), `near`
    * (≥ `minShared` distinct `shingleN`-gram digests shared with the
    * corpus — the d9 evidence rule), or `new`.
    *
    * 100 TB shape — the MIRROR of [[decontaminate]]'s asymmetry: there
    * the probe set (benchmark) was small and the corpus streamed; here
    * the new batch is the small side, so ITS fingerprint and shingle
    * digests broadcast and the BASE CORPUS streams past them without
    * ever shuffling. Matched digests (bounded by the batch's own digest
    * count) come back as a second broadcast for the per-doc evidence
    * count. Nothing corpus-sized crosses an exchange. */
  def ingestGate(incoming: DataFrame, base: DataFrame,
                 idCol: String, textCol: String,
                 shingleN: Int = 5, minShared: Long = 3): DataFrame = {
    val incFp = incoming.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val matchedFp = base
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .join(broadcast(incFp.select("fp").distinct()), Seq("fp"), "left_semi")
      .distinct()
    val incSh = shingleRows(incoming, idCol, textCol, shingleN)
      .select(col("doc_id"), md5(col("sh")).as("shh")).distinct()
    val sharedSh = shingleRows(base, idCol, textCol, shingleN)
      .select(md5(col("sh")).as("shh"))
      .join(broadcast(incSh.select("shh").distinct()), Seq("shh"), "left_semi")
      .distinct()
    val nShared = incSh.join(broadcast(sharedSh), Seq("shh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    incFp
      .join(broadcast(matchedFp.withColumn("is_exact", lit(true))),
        Seq("fp"), "left_outer")
      .join(nShared, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("is_exact"), "exact")
          .when(coalesce(col("n_shared"), lit(0L)) >= minShared, "near")
          .otherwise("new").as("verdict"))
  }

  /** Bloom-pruned decontamination — [[decontaminate]] for the regime
    * where the benchmark digest set is too large to broadcast as a hash
    * relation but fits as Bloom BITS (~2 bits/key at these parameters vs
    * ~50+ bytes/key for a broadcast hash map). The bitset is built by ONE
    * tiny Spark job over the benchmark digests using the SAME
    * xxhash64-family expressions the probe evaluates (no hand-rolled
    * driver hashing that could drift), then ships as an array<long>
    * literal. Corpus shingles are pruned MAP-SIDE by the bit test — a
    * Bloom filter has zero false negatives, so the final output is
    * EXACTLY [[decontaminate]]'s — and only bloom-positive rows (true
    * hits + the ~(1−e^(−kn/m))^k false-positive sliver) reach the exact
    * digest join, which at this size the optimizer is free to plan as a
    * shuffled join: the corpus side arriving there is already tiny.
    *
    * 100 TB shape: the corpus-sized work is all map-side (shingle → md5 →
    * k bit probes against a literal); the exchanges carry only the per-doc
    * distinct and the bloom survivors. Driver state is `bits/8` bytes +
    * the ≤ k·|bench| set-bit indices, bounded by the eval-set contract. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 5, bits: Int = 1 << 16,
                         numHashes: Int = 5): DataFrame = {
    require(bits >= 64 && (bits & (bits - 1)) == 0, "bits must be a power of two >= 64")
    // the bitset is driver state AND a broadcast plan literal: 2^26 bits
    // = 8 MiB of longs serves ~6.7M benchmark shingles at ~10 bits/key —
    // far past any eval set; beyond that the filter itself has outgrown
    // the Bloom design point, so refuse loudly rather than ship a
    // hundred-MiB literal into every task
    require(bits <= (1 << 26),
      s"bits=$bits exceeds the 2^26 driver/plan-literal bound; an eval " +
        "benchmark needing more Bloom bits should use decontaminate's " +
        "broadcast-join probe instead")
    val bench = shingleRows(benchmark, idCol, textCol, shingleN)
      .select(md5(col("sh")).as("shh")).distinct()
    def idxs(c: Column): Seq[Column] =
      (0 until numHashes).map(i => pmod(xxhash64(c, lit(i)), lit(bits.toLong)))
    val setBits = bench
      .select(explode(array(idxs(col("shh")): _*)).as("i")).distinct()
      .collect().map(_.getLong(0))
    val words = new Array[Long](bits / 64)
    setBits.foreach(i => words(i.toInt >> 6) |= 1L << (i & 63))
    val wlit = typedlit(words.toIndexedSeq)
    def probe(c: Column): Column = idxs(c).map { i =>
      call_function("shiftrightunsigned",
          element_at(wlit, (i / 64).cast("int") + 1), i % 64)
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    val corp = shingleRows(corpus, idCol, textCol, shingleN)
      .select(col("doc_id"), md5(col("sh")).as("shh")).distinct()
    val hits = corp.filter(probe(col("shh")))
      .join(bench, Seq("shh"))
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** FUZZY benchmark decontamination: near-duplicate (not just exact
    * n-gram-overlap) matches between corpus and benchmark, for the
    * paraphrased-leakage case [[decontaminate]]'s exact probe misses.
    *
    * Composition of the dedup family across two datasets: benchmark ids
    * are shifted into a disjoint id space (`offset` — corpus ids must be
    * below it), both sides union into one MinHash-LSH pass, candidate
    * pairs are kept only when they CROSS the corpus/benchmark boundary,
    * and n-gram Jaccard verifies them exactly. Output: one row per
    * corpus doc with its best Jaccard against any benchmark doc (0.0
    * when LSH surfaced no candidate) and `contaminated` = best ≥
    * `minJaccard`.
    *
    * 100 TB shape: identical to d2+d3 — map-side signatures, band-bucket
    * join (bucket-local, never corpus × benchmark), semi-join-pruned
    * verification that scales with the candidate set. */
  def fuzzyDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, offset: Long,
                         numHashes: Int = 12, rowsPerBand: Int = 3,
                         shingleN: Int = 3,
                         minJaccard: Double = 0.35): DataFrame = {
    // the boundary test below is only sound if corpus ids sit strictly
    // below `offset` (and shifted benchmark ids above it) — a violation
    // would silently misclassify, so every row asserts its side at
    // execution time (map-side, no extra job)
    val u = corpus.select(
        when(assert_true(col(idCol).cast("long") >= 0 &&
            col(idCol).cast("long") < offset,
          lit(s"fuzzyDecontaminate: corpus ids must be in [0, $offset)")).isNull,
          col(idCol).cast("long")).as("doc_id"),
        col(textCol).as("__text"))
      .unionByName(benchmark.select(
        when(assert_true(col(idCol).cast("long") >= 0,
          lit("fuzzyDecontaminate: benchmark ids must be non-negative")).isNull,
          col(idCol).cast("long") + offset).as("doc_id"),
        col(textCol).as("__text")))
    // a < b and benchmark ids sit above `offset`, so a cross-boundary
    // pair always has a = corpus doc, b = benchmark doc
    val pairs = minhashLsh(u, "doc_id", "__text", numHashes, rowsPerBand, shingleN)
      .filter((col("a") < offset) =!= (col("b") < offset))
    val best = ngramJaccard(u, "doc_id", "__text", pairs, shingleN)
      .groupBy(col("a").as("doc_id"))
      .agg(max("jaccard").as("best_jaccard"))
    corpus.select(col(idCol).cast("long").as("doc_id"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        (coalesce(col("best_jaccard"), lit(0.0)) >= minJaccard).as("contaminated"))
  }

  /** Connected components over a near-dup pair graph → dedup clusters:
    * every node gets `cluster_id` = the minimum node id reachable through
    * the pairs, so "keep one doc per cluster" is a `groupBy(cluster_id)`
    * away. This is the step that turns pairwise near-dup evidence
    * (MinHash/SimHash/embedding pairs) into an actual dedup decision.
    *
    * Algorithm: label propagation to the minimum ("hash-to-min") —
    * iterate `label(v) ← min(label(v), min over neighbors' labels)` until
    * fixpoint. Each iteration is one hash join + one map-side-partial
    * `min` aggregation on the edge list; convergence takes
    * O(component diameter) rounds, and near-dup clusters are shallow by
    * construction (they are cliques-ish blobs from a similarity
    * threshold, not long chains). Lineage is cut per round with an eager
    * `localCheckpoint` so the loop's plan does not snowball; on a real
    * cluster point `spark.sparkContext.setCheckpointDir` at durable
    * storage and swap in `checkpoint()`. Adversarial graphs with giant
    * high-diameter components (where O(diameter) rounds exceed `maxIter`)
    * fall back to [[starContraction]] — same join primitives,
    * O(log² n) rounds.
    *
    * Small graphs short-circuit to a driver union-find: the edge list has
    * already survived LSH banding AND exact-Jaccard thresholding, so in
    * practice it is minuscule next to the corpus (tens of pairs per 10⁴
    * docs here). When it fits the `driverEdgeBudget` (probed by
    * [[DriverBudget.collectWithin]], shared with [[GraphOps.hitsL1]]), a
    * sequential union-find with path compression (O(E·α)) replaces
    * O(diameter) distributed rounds whose per-round job-scheduling cost
    * dwarfs the actual work; above the budget — or for non-integral id
    * types — the distributed loop runs. The budget bounds driver memory
    * explicitly (2^22 edges ≈ 64 MB collected); both paths compute the
    * identical fixpoint and both stay spec- and oracle-covered.
    *
    * NOTE: construction is EAGER when the fast path is considered (the
    * probe collect runs the upstream edge pipeline once at builder time,
    * like [[ngramJaccard]]'s candidate materialization) — callers that
    * only want the unexecuted plan should pass `driverEdgeBudget = 0`.
    *
    * `nodes`: one column, the node id. `edges`: columns `a`, `b`. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 50,
                          driverEdgeBudget: Long = 1L << 22): DataFrame = {
    val idCol = nodes.columns.head
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val idType = edges.schema("a").dataType
    // An overflowing probe falls through to the distributed loop
    // (re-running the edge pipeline once — bounded, rare); otherwise the
    // collected array IS the working set and the pipeline ran once.
    val probed =
      if (idType == LongType || idType == IntegerType)
        DriverBudget.collectWithin(
          edges.select(col("a").cast("long"), col("b").cast("long")), driverEdgeBudget)
      else None
    if (probed.nonEmpty) {
      val pairs = probed.get.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val touched = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      val spark = nodes.sparkSession
      import spark.implicits._
      val labels = touched.map(n => (n, find(n))).toSeq
        .toDF("node", "label")
        .select(col("node").cast(idType).as("node"), col("label").cast(idType).as("label"))
      return nodes.select(col(idCol).as("node"))
        .join(broadcast(labels), Seq("node"), "left_outer")
        .select(col("node").as(idCol),
          coalesce(col("label"), col("node")).as("cluster_id"))
    }
    // The edge list is usually orders of magnitude smaller than the node
    // set (it already passed a similarity threshold); size the loop's
    // parallelism to the edges, not the session default — every round
    // pays per-task scheduling overhead times the partition count.
    val symRaw = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(false) // lazy: the sizing count below materializes it
    val edgeCount = symRaw.count()
    val parts = math.max(1, math.min(
      edges.sparkSession.sparkContext.defaultParallelism,
      (edgeCount / 100000L).toInt + 1))
    val sym = symRaw.repartition(parts, col("src")).localCheckpoint(true)
    // sym is materialized; the pre-repartition snapshot is now dead weight.
    GraftShims.unpersistLocalCheckpoint(symRaw)
    // Iterate ONLY over edge-touching nodes: in a 100 TB corpus the vast
    // majority of documents are near-dup singletons — they must never
    // enter (or be shuffled by) the loop. Singletons rejoin at the end.
    // The init aggregation does double duty as propagation round 1: with
    // label(v) = v initially, min(v, min of in-neighbor ids) needs no join
    // — it falls out of the same groupBy that would dedup the node list.
    var labels = sym.select(col("src").as("node"), col("dst").as("label"))
      .unionByName(sym.select(col("src").as("node"), col("src").as("label")))
      .groupBy("node").agg(min("label").as("label"))
      .localCheckpoint(false) // lazy: the first labelSum materializes it
    // The snapshot whose RDD blocks back `labels`; each round's checkpoint
    // supersedes the previous one, which is freed immediately — otherwise
    // executor storage accumulates O(rounds) label snapshots.
    var labelsCk = labels
    // Convergence test without a second per-round job or a prev/next join:
    // labels only ever take a min, so Σ label is monotonically
    // non-increasing and strictly decreases until fixpoint — one exact
    // decimal aggregate doubles as the materializing action for the
    // round's lazy checkpoint.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))))
        .first().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = edgeCount == 0
    var i = 0
    while (!converged && i < maxIter) {
      // min over {own label} ∪ {labels of in-neighbors}: one hash join +
      // one map-side-partial min aggregation per round
      val next = labels.unionByName(
          sym.join(labels, sym("src") === labels("node"))
            .select(col("dst").as("node"), col("label")))
        .groupBy("node").agg(min("label").as("label"))
        // lazy (no-arg localCheckpoint is EAGER): labelSum is the round's
        // single action — it materializes the snapshot AND tests fixpoint
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      GraftShims.unpersistLocalCheckpoint(labelsCk)
      labelsCk = next
      labels = next
      i += 1
    }
    // High-diameter graphs (chains, lattices — adversarial for
    // O(diameter) label propagation) hand off to the large-star /
    // small-star contraction, which converges in O(log² n) rounds on the
    // same join primitives. Never silent truncation: a dedup decision on
    // unconverged labels keeps duplicate documents, so contraction either
    // converges or errors.
    if (!converged) {
      val contracted = starContraction(nodes,
        sym.select(col("src").as("a"), col("dst").as("b")))
      GraftShims.unpersistLocalCheckpoint(labelsCk)
      GraftShims.unpersistLocalCheckpoint(sym)
      return contracted
    }
    nodes.select(col(idCol).as("node"))
      .join(labels, Seq("node"), "left_outer")
      .select(col("node").as(idCol),
        coalesce(col("label"), col("node")).as("cluster_id"))
  }

  /** Large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the O(log² n)-round fallback
    * [[connectedComponents]] takes when hash-to-min exceeds its round
    * budget on a high-diameter graph.
    *
    * State is a canonical parent-pointer edge list (child > parent).
    * Per round, on the same primitives as the main loop (hash join +
    * map-side-partial min):
    *  - large-star: for every node v with neighborhood minimum
    *    m = min(Γ(v) ∪ {v}), each LARGER neighbor u > v re-points to m;
    *  - small-star: for every center v of the resulting pointer list with
    *    parent minimum m = min(parents(v)), every parent and v itself
    *    point to m.
    * Rooted stars (every node pointing at its component minimum) are the
    * joint fixpoint, so convergence = the edge set repeating exactly —
    * checked with one left-outer marker join per round (new-edge count
    * AND total count; set shrinkage alone must not read as converged).
    * Lineage is cut per round with the same lazy-checkpoint +
    * one-materializing-action discipline as the main loop. */
  private[functions] def starContraction(nodes: DataFrame, edges: DataFrame,
                                         maxRounds: Int = 64): DataFrame = {
    val idCol = nodes.columns.head
    var e = edges.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("c"), least(col("a"), col("b")).as("p"))
      .distinct()
      .localCheckpoint(true)
    var eCk = e
    var prevCount = e.count()
    var converged = prevCount == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val sym = e.select(col("c").as("v"), col("p").as("u"))
        .union(e.select(col("p").as("v"), col("c").as("u")))
      val mins = sym.groupBy("v")
        .agg(min("u").as("mn"))
        .select(col("v"), least(col("v"), col("mn")).as("m"))
      val large = sym.join(mins, "v").filter(col("u") > col("v"))
        .select(col("u").as("c"), col("m").as("p"))
        .distinct()
      val pmins = large.groupBy("c").agg(min("p").as("m"))
      val small = large.join(pmins, "c")
        .filter(col("p") =!= col("m"))
        .select(col("p").as("c"), col("m").as("p"))
        .union(pmins.select(col("c"), col("m").as("p")))
        .distinct()
        .localCheckpoint(false) // materialized by the convergence aggregate
      val row = small
        .join(e.withColumn("__prev", lit(1)), Seq("c", "p"), "left_outer")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__prev").isNull, 1L).otherwise(0L)).as("fresh"))
        .first()
      val nextCount = row.getLong(0)
      val fresh = if (row.isNullAt(1)) 0L else row.getLong(1)
      converged = fresh == 0L && nextCount == prevCount
      prevCount = nextCount
      GraftShims.unpersistLocalCheckpoint(eCk)
      eCk = small
      e = small
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starContraction did not converge in $maxRounds rounds — " +
          "raise maxRounds (expected O(log² n) for any graph)")
    nodes.select(col(idCol).as("node"))
      .join(e.select(col("c").as("node"), col("p").as("label")),
        Seq("node"), "left_outer")
      .select(col("node").as(idCol),
        coalesce(col("label"), col("node")).as("cluster_id"))
  }
}
