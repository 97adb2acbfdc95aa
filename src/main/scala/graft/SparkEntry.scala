package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Changelog, EventTime, Joins}
import graft.functions.{AbTest, Classifier, DedupOps, FuzzyMatch, GraphOps, Sampling, SimilarityOps, TextAnalysis}
import graft.sources.Bucketing

/** Driver contract — the full operator inventory of SURVEY.md §2 plus the
  * training-data-pipeline extensions, each as a batch query over the
  * harness parquet tables with a DuckDB oracle.
  *
  * Cross-engine determinism rules used throughout (SURVEY.md §5.2):
  *  - every output column is aliased identically in Spark and SQL;
  *  - event-time outputs are epoch-second longs (ns/us-precision raw
  *    timestamps are not representation-portable);
  *  - float aggregates are rounded at a digit where the true value is
  *    exact (all money/quantity columns are 2-decimal, so sums are exact
  *    at 2 decimals, discounted products at 4);
  *  - rankings order by the *rounded* score with an id tie-break.
  */
object SparkEntry {

  // ---- helpers -----------------------------------------------------------

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** The m-family's input: document ids, FANNED OUT to the session's
    * parallelism before the per-id codec work (synthesize + full decode
    * is ~ms per row — guide §2.5: a single-row-group scan would run the
    * whole codec stage on one core). Only the 8-byte id crosses the
    * exchange; media bytes are still born and die inside one task. */
  private def docIds(s: SparkSession, dir: String) =
    Tables.fanout(Tables.documents(s, dir).select("doc_id"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)

  /** The documents table fanned out (round-robin) to the session's
    * parallelism — the input for tokenizer/digest-heavy map stages whose
    * per-row cost dwarfs one narrow exchange of the text rows (guide
    * §2.5: the harness parquet files are single-row-group, so a bare
    * scan runs the whole map stage on one core). Round-robin (not
    * id-keyed) so plans pinned to exactly one `Exchange hashpartitioning`
    * keep their keyed-exchange count. No-op on already-wide scans. */
  private def docsW(s: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.documents(s, dir))

  /** [[docsW]] for the events table (the x-family's heavy map stages). */
  private def evW(s: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.events(s, dir))

  /** Per-doc unigram-distribution stats shared by t9 and the c4 fluency
    * gate (one definition, no drift): (doc_id, n, types, clogc, e) where
    * e = ln(n) − Σc·ln(c)/n, UNROUNDED — callers round at their use
    * site. The (doc, word) count aggregation is the only data-sized
    * exchange. */
  private def unigramStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n"),
        count(lit(1)).as("types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .withColumn("e", log(col("n").cast("double")) - col("clogc") / col("n"))

  /** DuckDB twin of [[unigramStats]] — `wc`/`ent` CTEs (expects `toks`
    * in scope; NOT margin-stripped). Shared by the t9 and c4 oracles so
    * the entropy definition cannot drift between them. */
  private val entropyCteSql =
    """wc AS (
      |  SELECT doc_id, w, count(*) AS c
      |  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
      |  GROUP BY 1, 2),
      |ent AS (
      |  SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS types,
      |    sum(c::DOUBLE * ln(c::DOUBLE)) AS clogc
      |  FROM wc GROUP BY 1)"""

  /** TF-IDF-scored (doc, term) rows shared by t6 (argmax) and t11
    * (ranked top-k) — ONE smoothed-IDF definition, tf·ln((N+1)/(df+1)),
    * so the two surfaces cannot drift. tf/df both aggregate with
    * map-side partials; the doc count rides a one-row broadcast. */
  private def tfidfScoredTerms(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfc, "term").crossJoin(broadcast(total))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log((col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double")), 6).as("tfidf"))
  }

  /** x2's distributed top-k core, exposed for the plan-guard spec: must
    * plan as `TakeOrderedAndProject` (per-partition heaps + tiny merge),
    * never a global-sort or single-partition window. */
  private[graft] def topkUsersBase(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).groupBy("user_id")
      .agg(round(sum("value"), 2).as("total"))
      .orderBy(col("total").desc, col("user_id").asc).limit(10)

  /** g2's customer→part purchase edges (u, p), exposed for the
    * plan-guard spec: at test scale g2 runs HITS on the driver, so the
    * guard builds the distributed half-steps over these edges itself. */
  private[graft] def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p"))

  private val tsFmt = "yyyy-MM-dd"

  /** The reference/current window boundary shared by x50 (incremental
    * agg) and x52 (PSI drift) — one constant interpolated into BOTH the
    * Spark and oracle sides of both queries, so "x52's reference window
    * is x50's history" can't silently fork. ≈ p80 of the events span. */
  private val refCutoffSec = 1706140800L

  /** The d7 dedup clustering chain (LSH candidates → Jaccard ≥ 0.4
    * verify → connected components), shared by d7 and d18 so the
    * profile can never describe a different clustering than the one d7
    * checks — the Spark twin of the oracle-side `ccReachSql`. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = DedupOps.ngramJaccard(docs, "doc_id", "text",
        DedupOps.minhashLsh(docs, "doc_id", "text"))
      .filter(col("jaccard") >= 0.4)
      .select("a", "b")
    DedupOps.connectedComponents(docs.select("doc_id"), pairs)
  }

  /** The winnow matching stage shared by d22/d23 — the Spark twin of
    * the oracle-side [[winnowPairSql]]. */
  private def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val rows = DedupOps.winnowRows(
      Tables.documents(s, dir), "doc_id", "text", k = 3, w = 4)
    rows.groupBy("fp").agg(sort_array(collect_set("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, 16))
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .groupBy("p.a", "p.b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 5)
  }

  /** One row per order basket: (l_orderkey, parts = sorted distinct
    * l_partkey array) — the shared kernel of the co-purchase family
    * (x46, g5, g6, g10–g13, x66). r17 rewrite: the former
    * distinct + self-join-on-l_orderkey pair generator cost 4 exchanges
    * and a sort-merge join per query; grouping each basket into one
    * sorted array costs ONE exchange (map-side partial collect_set),
    * and pairs/degrees then derive map-side from the same aggregate, so
    * the deg/co branches share the exchange instead of re-shuffling.
    * collect_set drops nulls, so the non-null filter is explicit — it
    * only removes rows the old a < b join (and its inferred IsNotNull)
    * ignored anyway; oracle-gated at 3 SFs. Basket arrays are bounded
    * by order size (≤ ~7 in TPC-H shapes), the same bound the old
    * self-join fan-out relied on, so rows stay tiny at any scale. */
  private def orderBaskets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select("l_orderkey", "l_partkey")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set("l_partkey")).as("parts"))

  /** Co-occurrence pairs (a < b, co = number of shared baskets) from
    * [[orderBaskets]] — the winnowPairs array-pair idiom: every (i < j)
    * element pair of the sorted distinct array, exploded map-side, then
    * one (a, b)-keyed count. Identical output to the old
    * self-join-with-a<b formulation (sorted distinct elements ⇒ strict
    * x < y, one instance per basket). */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> " +
          "transform(slice(parts, i + 2, size(parts)), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .groupBy("p.a", "p.b").agg(count(lit(1)).as("co"))

  /** Per-part basket count (distinct orders containing the part) from
    * [[orderBaskets]] — the degree/size table of the same family,
    * derived by exploding the basket arrays so it shares the baskets
    * exchange with [[basketPairs]] instead of re-aggregating lineitem. */
  private def basketDegrees(baskets: DataFrame): DataFrame =
    baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("deg"))

  /** Latest event per user, ordered by (ts_sec, event_id) — the KTable
    * materialization used by several queries. */
  private def latestEvents(s: SparkSession, dir: String): DataFrame =
    Changelog.latestByKey(ev(s, dir), Seq("user_id"), Seq(col("ts_sec"), col("event_id")))

  /** The same latest-per-key view in DuckDB SQL. */
  private val latestSql =
    """latest AS (
      |  SELECT * FROM (
      |    SELECT *, floor(epoch(ts))::BIGINT AS ts_sec,
      |           row_number() OVER (PARTITION BY user_id
      |                              ORDER BY floor(epoch(ts))::BIGINT DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |)""".stripMargin

  private val evSql = "ev AS (SELECT *, floor(epoch(ts))::BIGINT AS ts_sec FROM events)"

  /** The x31 gaps-and-islands sessionizer (gap > 300 s), shared with
    * x55 so the two queries can never disagree on what a session is:
    * events + their (user_id, session_idx) assignment. Both window
    * passes share the hash(user_id) clustering — one exchange. */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_sec").asc, col("event_id").asc)
    ev(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        col("event_type"), col("value"))
      .withColumn("new_s",
        when(col("ts_sec") - lag("ts_sec", 1).over(w) > 300, 1).otherwise(0))
      .withColumn("session_idx",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1)
  }

  /** DuckDB twin of [[sessionized]] — `ev`/`marked`/`sess` CTEs (NOT
    * margin-stripped), shared by the x31 and x55 oracles. */
  private val sessSql =
    s"""$evSql,
       |marked AS (
       |  SELECT user_id, event_id, ts_sec, event_type, value,
       |    CASE WHEN ts_sec - lag(ts_sec) OVER (PARTITION BY user_id
       |      ORDER BY ts_sec, event_id) > 300 THEN 1 ELSE 0 END AS new_s
       |  FROM ev),
       |sess AS (
       |  SELECT user_id, event_id, ts_sec, event_type, value,
       |    (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT + 1
       |      AS session_idx
       |  FROM marked)"""

  /** The ONE DuckDB mirror of `TextAnalysis.tokens` (equivalence to the
    * codegen'd tokenizer is spec-asserted) — every token-consuming oracle
    * goes through this CTE so the tokenization cannot fork per query. */
  private val toksSql =
    """toks AS (SELECT doc_id, source, text,
      |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS t
      |  FROM documents)""".stripMargin

  /** The ONE DuckDB mirror of `DedupOps.winnowed` (k=3, w=4) — CTEs
    * `gg`/`ww`/`ff` over `toks`, shared by the t28 and d22 oracles so
    * the winnow selection cannot fork between them. 1-based DuckDB
    * lists; rightmost-min ties via list_max over the filtered window
    * positions. */
  private val winnowFfSql =
    """gg AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3 THEN
      |      list_transform(range(1, len(t) - 1),
      |        i -> ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT)
      |    ELSE []::BIGINT[] END AS g
      |  FROM toks),
      |ww AS (
      |  SELECT doc_id, g,
      |    CASE WHEN len(g) = 0 THEN []::BIGINT[]
      |    WHEN len(g) < 4 THEN
      |      [list_max(list_filter(range(1, len(g) + 1), p -> g[p] = list_min(g)))]
      |    ELSE
      |      list_transform(range(1, len(g) - 2),
      |        j -> list_max(list_filter(range(j, j + 4),
      |               p -> g[p] = list_min(g[j:j+3]))))
      |    END AS wins
      |  FROM gg),
      |ff AS (
      |  SELECT doc_id, g,
      |    list_sort(list_distinct(list_transform(wins, p -> g[p]))) AS fps
      |  FROM ww)""".stripMargin

  /** The winnow matching stage (rare-fingerprint blocking + ≥5 shared)
    * as CTEs `fr`/`dfq`/`keep`/`wp` over `ff` — shared by the d22 and
    * d23 oracles so the pair rule cannot fork between them. */
  private val winnowPairSql =
    """fr AS (SELECT doc_id, unnest(fps) AS fp FROM ff),
      |dfq AS (SELECT fp, count(*) AS d FROM fr GROUP BY 1),
      |keep AS (SELECT fr.doc_id, fr.fp
      |         FROM fr JOIN dfq USING (fp) WHERE dfq.d BETWEEN 2 AND 16),
      |wp AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS shared
      |       FROM keep l JOIN keep r ON l.fp = r.fp AND l.doc_id < r.doc_id
      |       GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin

  /** The ONE DuckDB mirror of `TextAnalysis.langId` — shared by the t1
    * and t13 oracles so the heuristic cannot fork between them. */
  private val langGuessSql =
    """CASE WHEN regexp_matches(text, '[^\x00-\x7F]') THEN 'other'
      |     WHEN len(list_filter(
      |            list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> ''),
      |            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) > 0 THEN 'en'
      |     ELSE 'und' END""".stripMargin

  /** The ONE DuckDB mirror of [[TextAnalysis.qualityScore]] and its
    * feature inputs, as a CTE pair `feat`,`q` over `toks` — `q` carries
    * every feat column plus `quality`, so all quality-consuming oracles
    * (t2, x20, c1, x33) read one definition that cannot drift. */
  private val qualitySql =
    """feat AS (
      |  SELECT doc_id, text, t,
      |    len(t)::BIGINT AS n_tokens,
      |    round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(t, x -> len(x)::DOUBLE)),
      |          (a, b) -> a + b) / greatest(len(t)::DOUBLE, 1.0), 4) AS avg_token_len,
      |    round(len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))::DOUBLE
      |          / greatest(len(t)::DOUBLE, 1.0), 4) AS stopword_ratio,
      |    round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))::DOUBLE
      |          / greatest(length(text)::DOUBLE, 1.0), 4) AS punct_ratio
      |  FROM toks),
      |q AS (
      |  SELECT *, round(greatest(least(
      |      least(n_tokens::DOUBLE / 20.0, 1.0) * 0.5
      |      + least(stopword_ratio * 4, 1.0) * 0.5
      |      - punct_ratio, 1.0), 0.0), 4) AS quality
      |  FROM feat)""".stripMargin

  /** Exact-decontamination oracle, shared by d9 and x30: the Bloom prune
    * is an optimization with zero false negatives, so the two queries'
    * outputs are identical by construction — one SQL string keeps that
    * claim honest (same pattern as t9/c4's shared entropy CTE). */
  private lazy val decontOracleSql =
    s"""WITH $toksSql,
      |sh5 AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(t) >= 5
      |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
      |      ELSE [array_to_string(t, ' ')] END) AS sh
      |  FROM toks),
      |bench AS (SELECT DISTINCT md5(sh) AS shh FROM sh5 WHERE doc_id % 41 = 0),
      |corp AS (SELECT DISTINCT doc_id, md5(sh) AS shh FROM sh5 WHERE doc_id % 41 <> 0),
      |hits AS (
      |  SELECT c.doc_id, count(*) AS h
      |  FROM corp c JOIN bench b ON b.shh = c.shh
      |  GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.h, 0)::BIGINT AS hits,
      |  coalesce(h.h, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      |WHERE d.doc_id % 41 <> 0""".stripMargin

  /** Shared DuckDB CTE chain mirroring [[DedupOps.minhashLsh]]: 3-word
    * shingles → one md5 per shingle → 12 universal hashes (same integer
    * constants as `DedupOps.minhashSignatures`) → 4 LSH bands → candidate
    * pairs. Generated programmatically so the constants cannot drift from
    * the Scala side. Expects `toks` in scope. */
  private val minhashCandSql: String = minhashCandSqlFor(12, 3)

  /** The d7 clustering replay as a reusable CTE chain (caller prepends
    * `WITH RECURSIVE` and appends its own final SELECT over `reach`):
    * LSH candidates → exact Jaccard ≥ 0.4 verify → symmetric edges →
    * min-reachable-id closure. Shared by d7 and d18 so a profile query
    * can never describe a different clustering than the one checked. */
  private lazy val ccReachSql: String =
    s"""$toksSql,
      |$minhashCandSql,
      |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
      |inter AS (
      |  SELECT p.a, p.b, count(*) AS i
      |  FROM cand p
      |  JOIN shd sa ON sa.doc_id = p.a
      |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
      |  GROUP BY 1, 2),
      |pj AS (
      |  SELECT p.a, p.b
      |  FROM cand p
      |  JOIN sizes na ON na.doc_id = p.a
      |  JOIN sizes nb ON nb.doc_id = p.b
      |  LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b
      |  WHERE round(coalesce(i, 0)::DOUBLE / (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) >= 0.4),
      |edges AS (SELECT a AS s, b AS d FROM pj UNION SELECT b, a FROM pj),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.node = e.d)""".stripMargin

  /** [[minhashCandSql]] generalized over the LSH shape (numHashes,
    * rowsPerBand) — d10 uses wider 2-row bands for cross-set recall. */
  private def minhashCandSqlFor(numHashes: Int, rowsPerBand: Int): String = {
    val numBands = numHashes / rowsPerBand
    val mins = (0 until numHashes).map(s =>
      s"    min((v * ${2 * s + 1} + ${7919 * s + 13}) % ${DedupOps.HashMod}) AS mh$s")
      .mkString(",\n")
    val bandSelects = (0 until numBands).map { b =>
      val sig = (0 until rowsPerBand)
        .map(r => s"mh${b * rowsPerBand + r}::VARCHAR").mkString(" || '|' || ")
      s"  SELECT doc_id, $b AS band, $sig AS sig FROM mh"
    }.mkString("\n  UNION ALL\n")
    s"""sh AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(t) >= 3
       |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |      ELSE [array_to_string(t, ' ')] END) AS sh
       |  FROM toks),
       |shv AS (
       |  SELECT doc_id,
       |    (('0x' || substr(md5(sh), 1, 15))::BIGINT % ${DedupOps.BaseMod}) AS v
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id,
       |$mins
       |  FROM shv GROUP BY doc_id),
       |bands AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id)""".stripMargin
  }

  /** DuckDB replay of [[SimilarityOps.kmeansFit]]: `iters` unrolled Lloyd
    * rounds — same id<k init, same rounded-cosine + lowest-cid-tie-break
    * score, same `round(avg, 6)::FLOAT` centroid update, same
    * empty-cluster carry-forward. Generated programmatically so the
    * iteration count and score constants cannot drift from the Scala
    * side. Output: final centroids exploded to (cid, dim, val). */
  /** The Lloyd-iteration CTE chain shared by the s7 fit oracle and the
    * s4 fit+search oracle: `v` (vid, vv, vn), `dims`, and `c0 … c$iters`
    * centroid tables. NOT margin-stripped — embed in a larger
    * `stripMargin`'d query. */
  private def kmeansCtes(k: Int, iters: Int): String =
    kmeansCtesFor("", "embedding", k, iters)

  /** [[kmeansCtes]] generalized to a NAME PREFIX and a vector
    * expression, so several independent Lloyd chains can coexist in one
    * query — the product-quantization oracle instantiates one chain per
    * contiguous subspace slice. Prefix "" reproduces the original CTE
    * names (`v`, `dims`, `c0…c$iters`) byte-for-byte. */
  private def kmeansCtesFor(pfx: String, vecExpr: String, k: Int,
                            iters: Int): String = {
    val iterBlocks = (1 to iters).map { j =>
      val p = j - 1
      s"""${pfx}c${p}n AS (
         |  SELECT cid, cv,
         |    sqrt(list_reduce(list_transform(cv, x -> x::DOUBLE * x::DOUBLE),
         |         (a, b) -> a + b)) AS cn
         |  FROM ${pfx}c$p),
         |${pfx}a$j AS (
         |  SELECT vid, arg_max(cid, score) AS cid FROM (
         |    SELECT v.vid, cid,
         |      round(round(list_reduce(list_transform(range(1, len(v.vv) + 1),
         |              i -> v.vv[i]::DOUBLE * cv[i]::DOUBLE),
         |            (x, y) -> x + y) / (v.vn * cn), 6) * 1000000)::BIGINT * 100 - cid AS score
         |    FROM ${pfx}v v, ${pfx}c${p}n) GROUP BY 1),
         |${pfx}m$j AS (
         |  SELECT cid, i AS pos, round(avg(x), 6)::FLOAT AS m FROM (
         |    SELECT a.cid, d.i, v.vv[d.i]::DOUBLE AS x
         |    FROM ${pfx}a$j a JOIN ${pfx}v v ON v.vid = a.vid
         |    CROSS JOIN ${pfx}dims d)
         |  GROUP BY 1, 2),
         |${pfx}c$j AS (
         |  SELECT p.cid, coalesce(f.cv, p.cv) AS cv
         |  FROM ${pfx}c$p p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY pos) AS cv FROM ${pfx}m$j GROUP BY 1) f
         |    ON f.cid = p.cid)"""
    }.mkString(",\n")
    s"""${pfx}v AS (
       |  SELECT vec_id AS vid, $vecExpr AS vv,
       |    sqrt(list_reduce(list_transform($vecExpr, x -> x::DOUBLE * x::DOUBLE),
       |         (a, b) -> a + b)) AS vn
       |  FROM embeddings),
       |${pfx}dims AS (SELECT unnest(range(1,
       |  (SELECT max(len($vecExpr)) FROM embeddings) + 1)) AS i),
       |${pfx}c0 AS (SELECT vid AS cid, vv AS cv FROM ${pfx}v WHERE vid < $k),
       |$iterBlocks"""
  }

  private def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters)}
       |SELECT cid, (d.i - 1)::INT AS dim, cv[d.i]::DOUBLE AS val
       |FROM c$iters, dims d""".stripMargin

  /** DuckDB replay of [[SimilarityOps.pcaPowerProject]]: same rounded
    * means/covariance, `iters` unrolled power steps (e₁ init, max-abs
    * rescale, round 6 — no sign convention needed), same left-to-right
    * projection fold. Generated programmatically so the iteration count
    * and rounding discipline cannot drift from the Scala side. */
  private def pcaOracleSql(iters: Int): String = {
    val iterBlocks = (1 to iters).map { t =>
      val p = t - 1
      s"""w$t AS (
         |  SELECT c.i, sum(c.v * v$p.x) AS w
         |  FROM cov c JOIN v$p ON v$p.i = c.j GROUP BY 1),
         |v$t AS (
         |  SELECT i, round(w / (SELECT max(abs(w)) FROM w$t), 6) AS x FROM w$t)"""
    }.mkString(",\n")
    s"""WITH dims AS (SELECT unnest(range(1,
       |    (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
       |mu AS (
       |  SELECT d.i AS i, round(avg(e.embedding[d.i]::DOUBLE), 6) AS m
       |  FROM embeddings e CROSS JOIN dims d GROUP BY 1),
       |ce AS (
       |  SELECT e.vec_id, d.i, e.embedding[d.i]::DOUBLE - mu.m AS c
       |  FROM embeddings e CROSS JOIN dims d JOIN mu ON mu.i = d.i),
       |cov AS (
       |  SELECT a.i AS i, b.i AS j,
       |    round(sum(a.c * b.c) / (SELECT count(*) FROM embeddings), 6) AS v
       |  FROM ce a JOIN ce b ON b.vec_id = a.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT i, CASE WHEN i = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS x
       |       FROM dims),
       |$iterBlocks,
       |muL AS (SELECT list(m ORDER BY i) AS m FROM mu),
       |vL AS (SELECT list(x ORDER BY i) AS v FROM v$iters)
       |SELECT e.vec_id,
       |  round(list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, len(e.embedding) + 1),
       |      k -> (e.embedding[k]::DOUBLE - muL.m[k]) * vL.v[k])), (a, b) -> a + b), 6) AS proj
       |FROM embeddings e CROSS JOIN muL CROSS JOIN vL""".stripMargin
  }

  /** Fit constants of the s13 logistic quality scorer — named once so
    * the Spark query and the unrolled oracle can never drift. */
  private val LrIters = 6
  private val LrStep = 1.0
  private val LrThreshold = 0.5

  /** DuckDB replay of [[graft.functions.Classifier]]'s logistic fit +
    * frozen-weight scoring, as a CTE chain ending in
    * `scored (vec_id, score)`: `iters` unrolled full-batch gradient
    * rounds from the zero init — same prepended-intercept features, same
    * float-cast weights entering the left-to-right margin fold, same
    * round-6 margin/sigmoid/gradient/step discipline — then the scoring
    * pass with the final weights. Generated programmatically so the
    * iteration count, step size, and rounding cannot drift from the
    * Scala side; shared by the s13 gate oracle and the c5 curation
    * composition so the replayed fit cannot fork between them. */
  private def lrCtes(iters: Int, lr: Double): String = {
    // rounded sigmoid of the rounded margin of v.vv against weight list
    // `w` (FLOAT elements, cast back to DOUBLE per term — exactly
    // DotProductFloat's arithmetic)
    def scoreExpr(w: String): String =
      s"""round(1.0 / (1.0 + exp(-round(list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(range(1, len(v.vv) + 1),
         |          k -> v.vv[k]::DOUBLE * $w[k]::DOUBLE)),
         |        (a, b) -> a + b), 6))), 6)"""
    val iterBlocks = (1 to iters).map { j =>
      val p = j - 1
      s"""wf$p AS (SELECT list(w::FLOAT ORDER BY i) AS w FROM w$p),
         |p$j AS (
         |  SELECT v.vid, v.y, v.vv,
         |    ${scoreExpr("wf.w")} AS p
         |  FROM v CROSS JOIN wf$p wf),
         |g$j AS (
         |  SELECT d.i, round(avg((p.p - p.y) * p.vv[d.i]::DOUBLE), 6) AS g
         |  FROM p$j p CROSS JOIN dims d GROUP BY 1),
         |w$j AS (
         |  SELECT w.i, round(w.w - $lr * g.g, 6) AS w
         |  FROM w$p w JOIN g$j g ON g.i = w.i)"""
    }.mkString(",\n")
    s"""v AS (
       |  SELECT vec_id AS vid, list_prepend(1.0::FLOAT, embedding) AS vv,
       |    (label < 5)::INT::DOUBLE AS y
       |  FROM embeddings),
       |dims AS (SELECT unnest(range(1,
       |  (SELECT max(len(vv)) FROM v) + 1)) AS i),
       |w0 AS (SELECT i, 0.0::DOUBLE AS w FROM dims),
       |$iterBlocks,
       |wfF AS (SELECT list(w::FLOAT ORDER BY i) AS w FROM w$iters),
       |scored AS (
       |  SELECT v.vid AS vec_id, ${scoreExpr("wf.w")} AS score
       |  FROM v CROSS JOIN wfF wf)"""
  }

  private def lrOracleSql(iters: Int, lr: Double, threshold: Double): String =
    s"""WITH ${lrCtes(iters, lr)}
       |SELECT vec_id, score, score >= $threshold AS keep FROM scored""".stripMargin

  /** DuckDB replay of the PRODUCTION IVF composition — [[SimilarityOps
    * .kmeansFit]] centroids feeding [[SimilarityOps.ivfTopK]]: the Lloyd
    * CTE chain, then assign / probe / exact-top-k over the fitted
    * centroid table, same rounded-cosine score encoding throughout. */
  private def kmeansIvfOracleSql(k: Int, iters: Int, queryMax: Int,
                                 nprobe: Int, topN: Int): String =
    s"""WITH ${kmeansIvfRankedCtes(k, iters, queryMax, nprobe)}
       |SELECT query_id, rank, neighbor_id, sim FROM ivfr
       |WHERE rank <= $topN""".stripMargin

  /** The fit + assign + probe + rank chain of [[kmeansIvfOracleSql]] as
    * composable CTEs ending in `ivfr` (query_id, neighbor_id, sim, rank)
    * — shared by s4 (top-k projection) and s9 (recall vs brute force) so
    * the replayed IVF search cannot fork between them. */
  private def kmeansIvfRankedCtes(k: Int, iters: Int, queryMax: Int,
                                  nprobe: Int): String =
    s"""${kmeansCtes(k, iters)},
       |c AS (
       |  SELECT cid, cv,
       |    sqrt(list_reduce(list_transform(cv, x -> x::DOUBLE * x::DOUBLE),
       |         (a, b) -> a + b)) AS cn
       |  FROM c$iters),
       |assign AS (
       |  SELECT vid, arg_max(cid, score) AS cid FROM (
       |    SELECT v.vid, cid,
       |      round(round(list_reduce(list_transform(range(1, len(v.vv) + 1),
       |              i -> v.vv[i]::DOUBLE * cv[i]::DOUBLE),
       |            (x, y) -> x + y) / (v.vn * cn), 6) * 1000000)::BIGINT * 100 - cid AS score
       |    FROM v, c) GROUP BY 1),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vid AS query_id, cid,
       |      row_number() OVER (PARTITION BY q.vid ORDER BY
       |        round(round(list_reduce(list_transform(range(1, len(q.vv) + 1),
       |                i -> q.vv[i]::DOUBLE * cv[i]::DOUBLE),
       |              (x, y) -> x + y) / (q.vn * cn), 6) * 1000000)::BIGINT * 100 - cid DESC) AS rn
       |    FROM v q, c WHERE q.vid < $queryMax)
       |  WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.vid AS neighbor_id,
       |    round(list_reduce(list_transform(range(1, len(q.vv) + 1),
       |            i -> q.vv[i]::DOUBLE * n.vv[i]::DOUBLE),
       |          (x, y) -> x + y) / (q.vn * n.vn), 6) AS sim
       |  FROM probes p
       |  JOIN assign a ON a.cid = p.cid
       |  JOIN v n ON n.vid = a.vid
       |  JOIN v q ON q.vid = p.query_id
       |  WHERE a.vid <> p.query_id),
       |ivfr AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)""".stripMargin

  /** DuckDB replay of the product-quantization family
    * ([[SimilarityOps.pqEncode]]/[[SimilarityOps.pqTopK]]): one prefixed
    * Lloyd chain per contiguous subspace slice (via [[kmeansCtesFor]]),
    * final codebooks with sums-of-squares, per-subspace assignment with
    * the same encoded argmax, and an `enc` table (vid, per-subspace
    * codes + centroid vectors, reconstruction norm √Σ‖c_sub‖²). Shared
    * by the s10 encode oracle and the s11 ADC-search oracle so the
    * replayed codebooks cannot fork between them. */
  private def pqCtes(m: Int, ksub: Int, iters: Int): String = {
    def sliceExpr(s: Int) =
      s"embedding[($s * (len(embedding) // $m) + 1):(($s + 1) * (len(embedding) // $m))]"
    val chains = (0 until m)
      .map(s => kmeansCtesFor(s"p${s}_", sliceExpr(s), ksub, iters))
      .mkString(",\n")
    val finals = (0 until m).map { s =>
      s"""p${s}_cf AS (
         |  SELECT cid, cv,
         |    list_reduce(list_transform(cv, x -> x::DOUBLE * x::DOUBLE),
         |      (a, b) -> a + b) AS ss,
         |    sqrt(list_reduce(list_transform(cv, x -> x::DOUBLE * x::DOUBLE),
         |      (a, b) -> a + b)) AS cn
         |  FROM p${s}_c$iters),
         |p${s}_asg AS (
         |  SELECT vid, arg_max(cid, score) AS cid FROM (
         |    SELECT v.vid, cid,
         |      round(round(list_reduce(list_transform(range(1, len(v.vv) + 1),
         |              i -> v.vv[i]::DOUBLE * cv[i]::DOUBLE),
         |            (x, y) -> x + y) / (v.vn * cn), 6) * 1000000)::BIGINT * 100 - cid AS score
         |    FROM p${s}_v v, p${s}_cf) GROUP BY 1)"""
    }.mkString(",\n")
    val cidCols = (0 until m).map(s => s"a$s.cid AS cid$s").mkString(", ")
    val cvCols = (0 until m).map(s => s"c$s.cv AS cv$s").mkString(", ")
    val ssSum = (0 until m).map(s => s"c$s.ss").mkString(" + ")
    val asgJoins = (1 until m)
      .map(s => s"|  JOIN p${s}_asg a$s ON a$s.vid = a0.vid").mkString("\n")
    val cfJoins = (0 until m)
      .map(s => s"|  JOIN p${s}_cf c$s ON c$s.cid = a$s.cid").mkString("\n")
    s"""$chains,
       |$finals,
       |enc AS (
       |  SELECT a0.vid, $cidCols, $cvCols, sqrt($ssSum) AS rn
       |  FROM p0_asg a0
       $asgJoins
       $cfJoins)"""
  }

  /** The per-subspace ⟨q_sub, c_sub⟩ terms of the ADC score, as SQL over
    * `q.vv` (full query vector) and `enc`'s centroid columns. */
  private def pqDotSum(m: Int): String =
    (0 until m).map { s =>
      s"""list_reduce(list_transform(range(1, len(e.cv$s) + 1),
         |      i -> q.vv[$s * (len(q.vv) // $m) + i]::DOUBLE * e.cv$s[i]::DOUBLE),
         |    (x, y) -> x + y)""".stripMargin.replace("\n", "\n|    ")
    }.mkString(" + ")

  // ---- flagship ----------------------------------------------------------

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q3Shipping(spark, "/root/testdata/sf0.001")

  /** TPC-H Q3-shaped join-aggregate: the canonical multi-join + agg shape.
    * Dimension filter first, broadcast-able dim, single shuffle on the
    * group key. */
  private def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li   = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), tsFmt).as("orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .select("l_orderkey", "orderdate", "revenue")
  }

  // ---- the corpus --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.2 projections / per-record transforms -----------------------------

    "p1_pipe" -> ((s, dir) =>
      ev(s, dir).select("event_id", "event_type", "value")),

    "p2_mapvalues" -> ((s, dir) =>
      ev(s, dir).select(col("event_id"),
        round(col("value") * col("value"), 4).as("squared"))),

    "p3_selectkey" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("key"),
        col("l_orderkey"), col("l_linenumber"))),

    "p4_flatmap_split" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))),

    // §2.3 grouping / aggregation ------------------------------------------

    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc"),
          count(lit(1)).as("cnt"))),

    // the FULL TPC-H Q1 pricing summary — all eight aggregate columns
    // including the tax-inclusive charge, in exact integer micro-
    // dollars (cents × centi-disc × centi-tax = 10⁻⁶ dollars), every
    // average an integer-ratio division. One scan, one partial-agg
    // exchange of four group rows
    "j36_q1_pricing" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val cd = lit(100L) - round(col("l_discount") * 100).cast("long")
      val ct = lit(100L) + round(col("l_tax") * 100).cast("long")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity") * 100).cast("long").as("q"),
          cents.as("p"),
          round(col("l_discount") * 100).cast("long").as("d"),
          (cents * cd).as("disc6"),
          (cents.cast("decimal(38,0)") * cd * ct).as("chg8"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("count_order"),
          round(sum("q").cast("double") / 100.0, 2).as("sum_qty"),
          round(sum("p").cast("double") / 100.0, 2).as("sum_base_price"),
          round(sum("disc6").cast("double") / 10000.0, 4).as("sum_disc_price"),
          round(sum("chg8").cast("double") / 1000000.0, 4).as("sum_charge"),
          round(sum("q").cast("double") / count(lit(1)) / 100.0, 4).as("avg_qty"),
          round(sum("p").cast("double") / count(lit(1)) / 100.0, 4)
            .as("avg_price"),
          round(sum("d").cast("double") / count(lit(1)) / 100.0, 6)
            .as("avg_disc"))
    }),

    "a2_wordcount" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))),

    "a3_count_by_key" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id").agg(count(lit(1)).as("cnt"))),

    "a4_reduce_sum" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id").agg(round(sum("value"), 2).as("total"))),

    "a5_agg_stats" -> ((s, dir) =>
      Tables.orders(s, dir).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("total"),
          min("o_totalprice").as("lo"),
          max("o_totalprice").as("hi"))),

    // §2.4 event-time windows ----------------------------------------------

    "w1_tumbling_count" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(EventTime.tumble(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(EventTime.startSec(col("win")).as("win_start"), col("event_type"), col("cnt"))),

    "w2_tumbling_sum" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(EventTime.tumble(col("ts"), "1 day").as("win"), col("user_id"))
        .agg(round(sum("value"), 2).as("total"))
        .select(EventTime.startSec(col("win")).as("win_start"), col("user_id"), col("total"))),

    "w3_session" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(EventTime.session(timestamp_seconds(col("ts_sec")), "6 hours").as("win"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          EventTime.startSec(col("win")).as("sess_start"),
          EventTime.endSec(col("win")).as("sess_end"), col("cnt"))),

    "w4_sliding_count" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(EventTime.slide(col("ts"), "2 hours", "1 hour").as("win"))
        .agg(count(lit(1)).as("cnt"))
        .select(EventTime.startSec(col("win")).as("win_start"), col("cnt"))),

    // dynamic-gap sessions (beyond the reference's fixed gap): each event
    // proposes its own inactivity gap — clicks expire in 2h, everything
    // else in 6h; overlapping [ts, ts+gap) intervals merge per key
    "w5_session_dynamic" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(session_window(timestamp_seconds(col("ts_sec")),
            // make_interval: session_window's dynamic gap must be
            // CalendarIntervalType (ANSI INTERVAL literals are rejected)
            when(col("event_type") === "click", expr("make_interval(0,0,0,0,2,0,0)"))
              .otherwise(expr("make_interval(0,0,0,0,6,0,0)"))).as("win"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          EventTime.startSec(col("win")).as("sess_start"),
          EventTime.endSec(col("win")).as("sess_end"), col("cnt"))),

    // §2.5 joins -----------------------------------------------------------

    "j1_band_join" -> ((s, dir) => {
      val e1 = ev(s, dir).select(col("user_id"), col("event_id").as("left_id"),
        col("ts_sec").as("ts1"))
      val e2 = ev(s, dir).select(col("user_id").as("user_id2"),
        col("event_id").as("right_id"), col("ts_sec").as("ts2"))
      Joins.bandJoin(e1, e2, col("user_id") === col("user_id2"),
          col("ts1"), col("ts2"), 0L, 86400L)
        .filter(col("left_id") =!= col("right_id"))
        .select("left_id", "right_id")
    }),

    // full-outer windowed attribution: clicks ⋈ purchases within ±1 h
    // KEEPING both unmatched sides — which clicks never converted AND
    // which purchases arrived with no click nearby. Same shuffled
    // equi-join shape as j1/j2 (key equality carries the join, the band
    // is a residual filter); completes the join family's outer forms
    "j13_full_band_join" -> ((s, dir) => {
      val clicks = ev(s, dir).filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_sec").as("ts1"))
      val buys = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id").as("user_id2"), col("event_id").as("buy_id"),
          col("ts_sec").as("ts2"))
      Joins.bandJoin(clicks, buys, col("user_id") === col("user_id2"),
          col("ts1"), col("ts2"), -3600L, 3600L, "full_outer")
        .select(col("click_id"), col("buy_id"))
    }),

    // point-in-interval join with NO equi-key: urgent orders (points, by
    // order date) counted into each returned lineitem's synthetic
    // in-transit window [shipdate, shipdate + (qty mod 14 + 1) days].
    // Naively this BETWEEN theta join is a nested-loop over every
    // (order, lineitem) pair; Joins.intervalJoin bucketizes time
    // (16-day buckets ≥ the 14-day max interval ⇒ fan-out ≤ 2) so it
    // runs as a bucket-keyed HASH join + residual filter. Zero-match
    // intervals are restored by the left join from the distinct key set
    // — same group-then-count shape as the oracle's LEFT JOIN
    "j15_interval_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          unix_timestamp(col("l_shipdate")).as("start_sec"),
          // floor() on BOTH sides: a bare double→long cast truncates in
          // Spark but ROUNDS in DuckDB — a latent fork on any
          // non-integral quantity (benign on TPC-H's whole numbers,
          // pinned anyway)
          (unix_timestamp(col("l_shipdate")) +
            (pmod(floor(col("l_quantity")).cast("long"), lit(14L)) + 1L) * 86400L)
            .as("end_sec"))
      val pts = Tables.orders(s, dir)
        .filter(col("o_orderpriority").startsWith("1"))
        .select(unix_timestamp(col("o_orderdate")).as("p_sec"))
      val matched = graft.operators.Joins
        .intervalJoin(pts, li, "p_sec", "start_sec", "end_sec", 16L * 86400L)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n_orders"))
      li.select("l_orderkey", "l_linenumber").distinct()
        .join(matched, Seq("l_orderkey", "l_linenumber"), "left_outer")
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    "j2_left_band_count" -> ((s, dir) => {
      val e1 = ev(s, dir).select(col("user_id"), col("event_id").as("left_id"),
        col("ts_sec").as("ts1"))
      val e2 = ev(s, dir).select(col("user_id").as("user_id2"),
        col("event_id").as("right_id"), col("ts_sec").as("ts2"))
      Joins.bandJoin(e1, e2,
          col("user_id") === col("user_id2") && col("left_id") =!= col("right_id"),
          col("ts1"), col("ts2"), 0L, 86400L, "left_outer")
        .groupBy(col("left_id").as("event_id"))
        .agg(count(col("right_id")).as("match_cnt"))
    }),

    "j3_enrich" -> ((s, dir) =>
      Joins.enrich(ev(s, dir), Tables.customer(s, dir),
          col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "c_name", "c_mktsegment")),

    "j4_ktable_join" -> ((s, dir) =>
      Joins.tableJoin(latestEvents(s, dir), broadcast(Tables.customer(s, dir)),
          col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_val"), col("c_name"))),

    "j5_table_self_join" -> ((s, dir) => {
      val clicks = Changelog.latestByKey(
        ev(s, dir).filter(col("event_type") === "click"),
        Seq("user_id"), Seq(col("ts_sec"), col("event_id")))
        .select(col("user_id"), col("event_id").as("click_event_id"))
      val buys = Changelog.latestByKey(
        ev(s, dir).filter(col("event_type") === "purchase"),
        Seq("user_id"), Seq(col("ts_sec"), col("event_id")))
        .select(col("user_id").as("user_id2"), col("event_id").as("purchase_event_id"))
      Joins.tableJoin(clicks, buys, col("user_id") === col("user_id2"))
        .select("user_id", "click_event_id", "purchase_event_id")
    }),

    "j6_fk_left_join" -> ((s, dir) =>
      Joins.fkJoin(Tables.orders(s, dir),
          broadcast(Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey"), col("c_custkey"), "left_outer")
        .select("o_orderkey", "c_name")),

    "j7_fk_inner_join" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select("l_orderkey", "l_linenumber", "p_name", "s_name")),

    "j8_semi_join" -> ((s, dir) =>
      Joins.semi(Tables.customer(s, dir),
          Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "c_name")),

    "j9_anti_join" -> ((s, dir) =>
      Joins.anti(Tables.customer(s, dir),
          Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "c_name")),

    "j10_q3_shipping" -> ((s, dir) => q3Shipping(s, dir)),

    // TPC-H Q10 shape: top returned-revenue customers — four-way join
    // (returns-filtered lineitem ⋈ orders ⋈ customer ⋈ broadcast
    // nation), revenue agg, bounded top-20 (TakeOrderedAndProject on
    // the round-4 revenue so the rank is engine-exact). customer joins
    // by shuffle, NOT broadcast: at scale it is a fact-sized dimension
    // (AQE may still elect broadcast at test SFs)
    "j14_q10_returns" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      li.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),

    // Q22-flavored churn anti-join: customers with NO orders since the
    // cutoff, counted per nation — LEFT ANTI against the recent order
    // keys (shuffle hash anti; never a NOT IN materialization; the date
    // filter pushes to the orders scan), 25-row nation broadcast
    "j16_no_orders" -> ((s, dir) => {
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir)
        .join(recent, Seq("c_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_customers"),
          round(sum("c_acctbal"), 4).as("total_acctbal"))
    }),

    // TPC-H Q18 shape: large-volume orders — the HAVING-aggregate
    // drives a semi-shaped join back to orders/customer; the quantity
    // agg is the only lineitem-sized exchange
    "j38_q18_bigorders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 4).as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), tsFmt).as("orderdate"),
          round(col("o_totalprice"), 4).as("totalprice"), col("total_qty"))
    }),

    // TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    // multi-supplier order — the exists + not-exists self-join pair on
    // the fact table ("late" adapted to this schema: shipped > 90 days
    // after the order date; the reference benchmark's receipt/commit
    // columns are absent). Every self-join keys on l_orderkey, so all
    // three lineitem-sized inputs share one hash(orderkey) exchange
    // family; the distinct projections shrink before the semi/anti
    // probes; the per-supplier count aggregates BEFORE touching
    // supplier, so the name join moves |suppliers| rows, not |lines|
    "j17_q21_sole_late" -> ((s, dir) => {
      // snapshot (r17): late feeds the sole chain AND lateSupp — lazily
      // left, the executed plan ran the lineitem⋈orders join per
      // reference (6 lineitem + 3 orders scans). The snapshot is the
      // 2-column late projection (guide §8: decide on small rows).
      val late = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .localCheckpoint(false)
      val anySupp = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("a_ok"), col("l_suppkey").as("a_sk")).distinct()
      val lateSupp = late
        .select(col("l_orderkey").as("b_ok"), col("l_suppkey").as("b_sk")).distinct()
      val sole = late
        .join(anySupp, col("l_orderkey") === col("a_ok") &&
          col("l_suppkey") =!= col("a_sk"), "left_semi")
        .join(lateSupp, col("l_orderkey") === col("b_ok") &&
          col("l_suppkey") =!= col("b_sk"), "left_anti")
        .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      sole.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(sum("numwait").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    }),

    // TPC-H Q17 shape: revenue lost to small-quantity orders of one
    // brand — the correlated per-part avg subquery becomes an explicit
    // partkey aggregate joined back. The brand's part keys broadcast,
    // pruning lineitem BEFORE the partkey exchange; the avg table and
    // the join-back share that exchange; output is one row
    "j18_q17_small_qty" -> ((s, dir) => {
      val pk = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
        .select("p_partkey")
      val li = Tables.lineitem(s, dir)
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val avgq = li.groupBy("l_partkey").agg(avg("l_quantity").as("aq"))
      li.join(avgq, "l_partkey")
        .filter(col("l_quantity") < lit(0.2) * col("aq"))
        .agg(round(sum("l_extendedprice") / 7.0, 4).as("avg_yearly"))
    }),

    // TPC-H Q2 shape: cheapest qualifying supplier per group — but the
    // correlated min-cost subquery + join-back is re-expressed as ONE
    // argmin aggregate (min over a (bal, key, name) struct): no second
    // pass over the candidates, no re-join, same tie-broken winner. The
    // (partkey, suppkey) fact projection deduplicates before meeting
    // supplier; part's 2-column slice broadcasts
    "j19_argmin_supplier" -> ((s, dir) => {
      val pairs = Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .select("p_type", "l_suppkey").distinct()
      pairs.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy("p_type")
        .agg(min(struct(col("s_acctbal"), col("s_suppkey"), col("s_name"))).as("m"))
        .select(col("p_type"), col("m.s_suppkey").as("s_suppkey"),
          col("m.s_name").as("s_name"), round(col("m.s_acctbal"), 4).as("acctbal"))
    }),

    // TPC-H Q15 shape: the top supplier(s) by windowed revenue — an
    // aggregated view, its global max, and the equality join back. The
    // 1-row max broadcasts (never a single-partition window over all
    // suppliers); the revenue view's partkey... suppkey exchange is
    // computed once and reused by both branches of the one action
    "j20_q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("total_revenue"))
      rev.join(broadcast(rev.agg(max("total_revenue").as("mr"))),
          col("total_revenue") === col("mr"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    }),

    // explicit salted skew join (operators.Joins.salted): lineitem
    // scatters over 8 deterministic salt buckets, orders replicates ×8 —
    // the structural-skew pattern when one key dominates and the small
    // side can't broadcast whole. The oracle is the UNSALTED join: the
    // operator's contract is bit-identical results
    "j21_salted_join" -> ((s, dir) =>
      Joins.salted(Tables.lineitem(s, dir), Tables.orders(s, dir),
          "l_orderkey", "o_orderkey",
          Seq(col("l_linenumber"), col("l_partkey")), buckets = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))),

    // TPC-H Q19 shape: revenue under a DISJUNCTION of per-brand
    // conjunctions — the OR-of-ANDs residual. The part side broadcasts;
    // Catalyst extracts the common p_size lower bound and the union of
    // brands as PUSHED scan filters on part, and the l_quantity bounds'
    // union prunes lineitem, leaving the full disjunction as the join
    // residual — the shape where naive planning degrades to a filterless
    // join plus a post-filter over every joined row
    "j22_q19_disjunctive" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
          col("l_quantity").between(5, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
          col("l_quantity").between(10, 40))))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    }),

    // TPC-H Q13 shape: customers-per-order-count distribution INCLUDING
    // the zero bucket — the priority filter lives in the JOIN side (not
    // a WHERE over the joined result), so customers whose only orders
    // are urgent still land in c_count = 0. Orders pre-aggregate to one
    // row per custkey BEFORE meeting customer, so the outer join moves
    // |customers| + |distinct custkeys| rows, never |orders|; the
    // second aggregate runs over a ≤ max-orders-per-customer key space
    "j23_q13_custdist" -> ((s, dir) => {
      val oc = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      Tables.customer(s, dir).select("c_custkey")
        .join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("c"), lit(0L)).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q22 shape: well-funded customers gone idle — the scalar
    // positive-balance average becomes a broadcast 1-row cross join and
    // NOT EXISTS becomes a left-anti probe against the DISTINCT
    // custkeys of the date-pruned orders slice (the date filter pushes
    // to the orders scan; the anti build side is custkey-sized). The
    // above-average cut compares exact BIGINT cents (bal·n > Σbal) so
    // no float-sum ordering can flip a boundary customer
    "j24_q22_idle_rich" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .withColumn("bal_cents", round(col("c_acctbal") * 100, 0).cast("long"))
      val posAvg = cust.filter(col("c_acctbal") > 0)
        .agg(sum("bal_cents").as("tot"), count(lit(1)).as("n"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select("o_custkey").distinct()
      cust.crossJoin(broadcast(posAvg))
        .filter(col("bal_cents") * col("n") > col("tot"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), round(sum("c_acctbal"), 4).as("totacctbal"))
    }),

    // TPC-H Q7 shape: bilateral shipping volume between two nations by
    // ship year. Supplier⋈nation broadcasts WITH the 2-nation filter
    // applied, so lineitem is pruned to the two supplier nations before
    // the orders shuffle; customer resolves its nation the same way and
    // meets the order stream on custkey; the symmetric-pair inequality
    // is the residual. Both nation dims are the same 25-row broadcast
    "j25_q7_volume" -> ((s, dir) => {
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin("NATION_3", "NATION_7"))
      val cn = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin("NATION_3", "NATION_7"))
      Tables.lineitem(s, dir)
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
    }),

    // TPC-H Q8 shape: one nation's market share of a region's import
    // volume by order year — conditional aggregation over the joined
    // slice. Numerator and denominator both accumulate exact BIGINT
    // cents, so the share is ONE deterministic double division, not a
    // ratio of two order-dependent float sums; region prunes customer
    // through the broadcast nation⋈region dim before the custkey join
    "j26_q8_share" -> ((s, dir) => {
      val cn = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long").as("cents"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", col("cents")).otherwise(0L))
            .cast("double") / sum(col("cents")).cast("double"), 6).as("mkt_share"))
    }),

    // TPC-H Q16 shape: distinct suppliers per retained (brand, type,
    // size) with a supplier denylist — negative balance standing in for
    // Q16's complaints predicate (this schema has no comment column).
    // The (partkey, suppkey) projection deduplicates before meeting
    // part; the size/brand filters push into the broadcast part dim;
    // the denylist broadcasts as an anti build side of |denylist| rows
    "j27_q16_supplier_cnt" -> ((s, dir) => {
      val pk = Tables.part(s, dir)
        .filter(col("p_size").isin(1, 14, 23, 45) && col("p_brand") =!= "Brand#5")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      Tables.lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q11 shape: parts holding an outsized share of total traded
    // value — the global scalar subquery re-expressed as a broadcast
    // 1-row join over the SAME per-part aggregate both branches share
    // (the j20 pattern). Value accumulates as exact BIGINT cents so the
    // 1.5×-average cut (vc·2n > 3·Σvc) is integer-exact at the
    // keep/drop boundary, and the RELATIVE threshold keeps the result
    // SF-invariant — Q11's fixed fraction goes empty as |parts| grows
    "j28_q11_value_parts" -> ((s, dir) => {
      val v = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long")).as("vc"))
      val tot = v.agg(sum("vc").as("tot"), count(lit(1)).as("n"))
      v.crossJoin(broadcast(tot))
        .filter(col("vc") * lit(2) * col("n") > lit(3) * col("tot"))
        .select(col("l_partkey"), col("vc").as("value_cents"))
    }),

    // TPC-H Q6 shape: the forecasting-revenue-change scan — ZERO joins,
    // one partial-aggregated scalar over a triple range predicate that
    // pushes entirely into the parquet scan (date range + discount band
    // + quantity cap all arrive as PushedFilters). Revenue accumulates
    // exact cent×percent integers (price·discount is 10^-4-dollar
    // exact); ONE division at the end
    "j29_q6_forecast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          round(sum(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).cast("double") /
            lit(10000.0), 4).as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q14 shape: promo revenue share for one ship month — the
    // broadcast part dim meets a date-pruned lineitem slice; numerator
    // and denominator are exact 10^-4-dollar integers from the SAME
    // conditional aggregation (one pass), so the share is one double
    // division, never a ratio of order-dependent float sums
    "j30_q14_promo" -> ((s, dir) => {
      val pt = Tables.part(s, dir).select("p_partkey", "p_type")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-09-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-10-01")))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("units"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", col("units")).otherwise(0L))
              .cast("double") / sum(col("units")).cast("double"), 6)
            .as("promo_share"),
          round(sum(when(col("p_type") === "PROMO", col("units")).otherwise(0L))
            .cast("double") / lit(10000.0), 4).as("promo_revenue"),
          round(sum(col("units")).cast("double") / lit(10000.0), 4)
            .as("total_revenue"))
    }),

    // TPC-H Q9 shape (adapted: this schema carries no partsupp/
    // supplycost, so profit is gross revenue): per supplier-nation,
    // per order-year revenue on a part-name-filtered slice. The part
    // filter broadcasts and prunes lineitem BEFORE the one big shuffle
    // (the orderkey join against orders); supplier⋈nation broadcasts;
    // exact 10^-4-dollar integer accumulation, one division per group
    "j31_q9_profit" -> ((s, dir) => {
      val pf = Tables.part(s, dir).filter(col("p_name").contains("ol"))
        .select("p_partkey")
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("nation"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("units"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("units")).cast("double") / lit(10000.0), 4)
          .as("sum_profit"))
    }),

    // TPC-H Q4 shape (adapted: no commit/receipt dates in this schema,
    // so "late" = shipped > 30 days after the order date): order counts
    // per priority for one quarter where ANY lineitem shipped late —
    // the EXISTS is a left-semi join (first match short-circuits; no
    // post-join dedup), with the quarter filter pruning orders before
    // the shuffle
    "j32_q4_priority" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-04-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-07-01")))
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            datediff(col("l_shipdate"), col("o_orderdate")) > 30, "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))),

    // TPC-H Q2 shape (adapted: no partsupp/supplycost, so a supplier's
    // unit cost for a part is the cheapest per-unit price it ever
    // shipped at): for each EUROPE-supplied part in a size/type slice,
    // the minimum-cost supplier(s). The correlated min subquery is a
    // window-min PARTITIONED BY partkey over the already-aggregated
    // (part, supplier) pairs — one shuffle keyed on partkey serves both
    // the per-pair aggregate's downstream and the argmin, and the
    // part-slice + region dims both broadcast, so lineitem is pruned
    // before its only wide exchange
    "j33_q2_min_cost" -> ((s, dir) => {
      val ps = Tables.part(s, dir)
        .filter(col("p_size").isin(5, 15, 25, 35, 45) && col("p_type") === "LARGE")
        .select("p_partkey", "p_name")
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val cost = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") / col("l_quantity") * 100, 0)
            .cast("long").as("unit_cents"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min("unit_cents").as("unit_cost_cents"))
        .join(broadcast(ps), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
      cost
        .withColumn("min_cost",
          min(col("unit_cost_cents")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))))
        .filter(col("unit_cost_cents") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("unit_cost_cents"))
    }),

    // TPC-H Q12 shape (adapted: no l_shipmode/commit/receipt columns,
    // so the mode axis becomes the shipping-delay class and "late" is
    // implicit in the class itself): per delay class over one ship
    // year, how many line items belong to urgent-priority orders vs
    // not. One broadcast of nothing — orders⋈lineitem is the single
    // shuffle, the year filter prunes the scan, and both counts come
    // from ONE conditional aggregation pass
    "j34_q12_shipmode" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("ship_class",
          when(datediff(col("l_shipdate"), col("o_orderdate")) > 60, "SLOW")
            .when(datediff(col("l_shipdate"), col("o_orderdate")) > 30, "MEDIUM")
            .otherwise("FAST"))
        .groupBy("ship_class")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))),

    // TPC-H Q20 shape (adapted: no partsupp.availqty, so "holds excess
    // stock" becomes "shipped the dominant share": a supplier
    // qualifies if, for some part named small*, its 1997 shipped
    // quantity exceeds half that part's total 1997 shipped quantity).
    // The per-(part, supplier) and per-part totals share one
    // partkey-keyed aggregation; the dominance filter is a window
    // comparison on the SAME partitioning (no second shuffle); the
    // qualifying supplier set then left-semi-joins the broadcast-sized
    // supplier dim
    "j35_q20_excess_share" -> ((s, dir) => {
      val pn = Tables.part(s, dir).filter(col("p_name").startsWith("small"))
        .select("p_partkey")
      val qty = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(broadcast(pn), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(round(col("l_quantity") * 100, 0).cast("long")).as("sq"))
      val dominant = qty
        .withColumn("part_total",
          sum(col("sq")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))))
        .filter(col("sq") * 2 > col("part_total"))
        .select("l_suppkey").distinct()
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    }),

    // §2 KTable / changelog ------------------------------------------------

    "k1_latest_per_key" -> ((s, dir) =>
      latestEvents(s, dir).select("user_id", "event_id", "event_type", "ts_sec")),

    "k2_upsert_tombstone" -> ((s, dir) =>
      Changelog.upsertView(ev(s, dir), Seq("user_id"),
          Seq(col("ts_sec"), col("event_id")),
          col("event_type") === "error")
        .select("user_id", "event_id")),

    // KGroupedTable re-aggregation semantics, batch twin: aggregate over
    // the LATEST row per key, grouped by a derived attribute — what the
    // incremental adder/subtractor operator (streaming.TableAggregate)
    // maintains; its replay equivalence to this shape is spec-asserted
    "k3_table_reagg" -> ((s, dir) =>
      latestEvents(s, dir)
        .groupBy("event_type")
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("total_cents"),
          count(lit(1)).as("n_users"))),

    // type-2 slowly-changing dimension from the event changelog: one
    // validity interval per run of equal event_type values per user —
    // the dimension-HISTORY face of the same changelog k1's latest-view
    // consumes (k1 is exactly this table's is_current slice). One
    // hash(user) sort-shuffle feeds both the change-detect lag and the
    // interval-closing lead; output size is value CHANGES, not events
    "k4_scd2" -> ((s, dir) =>
      Changelog.scd2(ev(s, dir), Seq("user_id"), col("event_type"),
          col("ts_sec"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("value").as("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))),

    // point-in-time dimension lookup over the k4 history: the value
    // each key held AT a cutoff instant — one half-open interval filter
    // over the SCD2 table (valid_from ≤ t < valid_to), the time-travel
    // read the history table exists to serve. Users whose first change
    // postdates the cutoff simply have no row — exactly the latest-
    // per-key view over the truncated changelog
    // BITEMPORAL as-of: "what was the user's state at VALID time V, as
    // the system KNEW it at ingestion point E" — k5's one-axis as-of
    // extended with the transaction axis (event_id as ingestion order).
    // Three probes scan the two dimensions: same V at two knowledge
    // points shows late-arriving corrections appearing; the whole
    // readout is one broadcast of 3 probe rows + one max_by aggregate
    // over the filtered fact — no window, no per-probe re-scan
    "k6_bitemporal" -> ((s, dir) => {
      val base = 1704067200L
      val mid = ev(s, dir)
        .agg(((min("event_id") + max("event_id")) / 2).cast("long").as("e_mid"),
          max("event_id").as("e_max"))
      val probes = mid.select(explode(array(
          struct(lit(1).as("probe_id"), lit(base + 5 * 86400).as("v"),
            col("e_mid").as("e")),
          struct(lit(2).as("probe_id"), lit(base + 10 * 86400).as("v"),
            col("e_mid").as("e")),
          struct(lit(3).as("probe_id"), lit(base + 10 * 86400).as("v"),
            col("e_max").as("e")))).as("p"))
        .select("p.probe_id", "p.v", "p.e")
      ev(s, dir)
        .select("user_id", "event_id", "ts_sec", "event_type")
        .crossJoin(broadcast(probes))
        .filter(col("ts_sec") <= col("v") && col("event_id") <= col("e"))
        .groupBy("probe_id", "user_id")
        .agg(max(struct(col("ts_sec"), col("event_id"), col("event_type")))
          .as("b"))
        .select(col("probe_id"), col("user_id"),
          col("b.event_type").as("known_state"),
          col("b.ts_sec").as("valid_ts"), col("b.event_id").as("txn_id"))
    }),

    "k5_scd2_asof" -> ((s, dir) => {
      val t = lit(1704067200L + 10 * 86400)
      Changelog.scd2(ev(s, dir), Seq("user_id"), col("event_type"),
          col("ts_sec"), Seq(col("ts"), col("event_id")))
        .filter(col("valid_from") <= t &&
          (col("valid_to").isNull || col("valid_to") > t))
        .select(col("user_id"), col("value").as("event_type"),
          col("valid_from"))
    }),

    // dedup suite ----------------------------------------------------------

    "d1_exact_dedup" -> ((s, dir) =>
      DedupOps.exactDedup(Tables.documents(s, dir), "doc_id", "text")),

    "d2_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashLsh(Tables.documents(s, dir), "doc_id", "text")),

    // LSH candidate generation + exact n-gram-Jaccard verification — the
    // two-stage near-dup pipeline; never an all-pairs product.
    "d3_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.ngramJaccard(docs, "doc_id", "text",
        DedupOps.minhashLsh(docs, "doc_id", "text"))
    }),

    // dedup provenance: WHERE the near-duplication comes from — verified
    // near-dup pairs (d3's chain, d7's threshold) rolled up into a
    // source × source overlap matrix, the diagnostic that tells a
    // curation run which feeds overlap. The pair list is LSH-pruned and
    // threshold-filtered before the two doc_id-keyed source lookups, so
    // everything after d3's audited shape is candidate-set-sized
    "d13_overlap_matrix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.ngramJaccard(docs, "doc_id", "text",
          DedupOps.minhashLsh(docs, "doc_id", "text"))
        .filter(col("jaccard") >= 0.4)
        .select("a", "b")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.toDF("a", "sa"), "a")
        .join(src.toDF("b", "sb"), "b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("pairs"))
    }),

    "d4_simhash" -> ((s, dir) =>
      DedupOps.simhash64(Tables.documents(s, dir), "doc_id", "text")),

    // (maxDist+1)-band blocking over 64-bit signatures: perfect recall by
    // pigeonhole, bucket-local join — the shape that survives 100 TB
    "d5_simhash_neardup" -> ((s, dir) =>
      DedupOps.simhashPairsBanded(
        DedupOps.simhash64(Tables.documents(s, dir), "doc_id", "text"), 3)),

    // near-dup pairs → dedup clusters: connected components over the
    // verified-Jaccard graph; cluster_id = min reachable doc_id, so
    // keep-one-per-cluster is a groupBy away
    "d7_dedup_clusters" -> ((s, dir) => dedupClusters(s, dir)),

    // dedup health readout: the d7 cluster assignment rolled up to a
    // cluster-size histogram (how much of the corpus sits in dup groups
    // of 2, 3, …). Adds two tiny aggregations on top of the SHARED
    // dedupClusters chain (one definition on each side: dedupClusters
    // here, ccReachSql in the oracle — the profile cannot describe a
    // different clustering than d7 checks); output is ≤ max-cluster-size
    // rows
    "d18_cluster_profile" -> ((s, dir) =>
      dedupClusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))),

    // label-blocked near-dup pairs, salted: identical output to a plain
    // label self-join, but a dominant label can't serialize the stage
    "d6_embedding_neardup" -> ((s, dir) =>
      SimilarityOps.saltedBlockPairs(Tables.embeddings(s, dir),
        "label", "vec_id", "embedding", shards = 8, minSim = 0.3)),

    // similarity search ----------------------------------------------------

    "s1_cosine_topk" -> ((s, dir) =>
      SimilarityOps.bruteTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, 5)),

    // maximum-inner-product retrieval (the recommender/two-tower score:
    // magnitude carries popularity, so it is NOT divided away) — s1's
    // broadcast-queries/streamed-corpus/bounded-topK shape with the raw
    // dot; the norm-augmentation reduction to cosine (for IVF at scale)
    // is spec-pinned in MipsSpec
    "s14_mips_topk" -> ((s, dir) =>
      SimilarityOps.mipsTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, 5)),

    // MMR diversified re-rank (λ = 0.7, pool 20, k 5) for one query —
    // the greedy relevance-vs-redundancy pick between ANN recall and
    // the consumer; corpus work is exactly the s1 scan, the k rounds
    // run on the pool²-row similarity matrix
    "s20_mmr_rerank" -> ((s, dir) =>
      SimilarityOps.mmrRerank(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") === 0, pool = 20, k = 5, lambda = 0.7)),

    // contrastive hard-negative mining: per query, the top-5 most
    // similar vectors of a DIFFERENT class — s1's broadcast-queries/
    // streamed-corpus/bounded-topK shape with the class exclusion
    // inside the join (rank k = k usable negatives)
    "x80_hard_negatives" -> ((s, dir) =>
      SimilarityOps.hardNegativesTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", col("vec_id") < 20, 5)),

    "s2_lsh_ann" -> ((s, dir) =>
      SimilarityOps.bucketedPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        4, 0.2)),

    "s3_ivf_assign" -> ((s, dir) =>
      SimilarityOps.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding", 16)),

    // the IVF *search* half over FITTED centroids — the production
    // composition: kmeansFit's Lloyd output feeds ivfTopK's `centroids`
    // param; probe nprobe nearest cells, exact top-k within probed cells
    // only — one corpus shuffle total (the fit's k·dims means aside)
    "s4_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fitted = SimilarityOps.kmeansFit(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
        k = 8, queryPred = col("vec_id") < 20, nprobe = 4, topN = 5,
        centroids = Some(fitted))
    }),

    // silhouette-style cell QA over the FITTED index: per-cell cohesion
    // (avg sim to own centroid) and margin (avg own-vs-best-other gap) —
    // the check that says whether (k, nprobe) can be trusted before an
    // IVF rollout. Per-vector top-2 sorts a k-element literal array
    // inside the row; the only exchange is the ≤k-row cell aggregation
    "s8_cluster_quality" -> ((s, dir) =>
      SimilarityOps.clusterQuality(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 8, iters = 3)),

    // recall@k — ANN QA as a first-class operator: the fitted-IVF top-5
    // (s4's exact composition) against brute-force truth (s1's shape) per
    // query. Both sides are audited shapes; the comparison is a
    // query-keyed semi join over ≤ k·|queries| ranked rows
    "s9_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fitted = SimilarityOps.kmeansFit(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      val ivf = SimilarityOps.ivfTopK(emb, "vec_id", "embedding", k = 8,
        queryPred = col("vec_id") < 20, nprobe = 4, topN = 5,
        centroids = Some(fitted))
      val brute = SimilarityOps.bruteTopK(emb, "vec_id", "embedding",
        col("vec_id") < 20, 5)
      val hits = brute.select("query_id", "neighbor_id")
        .join(ivf.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      brute.groupBy("query_id").agg(count(lit(1)).as("k"))
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / col("k"), 6)
            .as("recall"))
    }),

    // product-quantization encode — the vector-compression step a 100 TB
    // embedding corpus takes before ANN serving: 64 floats → 2 codebook
    // ids + one reconstruction norm, assignment a map-side codegen'd
    // argmax per subspace over the collected (m·ksub-row) codebooks —
    // ZERO corpus shuffles
    "s10_pq_codes" -> ((s, dir) =>
      SimilarityOps.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding",
        m = 2, ksub = 4, iters = 2)),

    // PQ-ADC top-k search: exact query vector against quantized corpus
    // reconstructions; cos decomposes per contiguous subspace, so every
    // factor is a broadcast-literal codebook lookup — the corpus streams
    // past the broadcast query table carrying only codes + one norm, and
    // the only exchange is the bounded top-k aggregator
    "s11_pq_topk" -> ((s, dir) =>
      SimilarityOps.pqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        m = 2, ksub = 4, iters = 2, queryPred = col("vec_id") < 10, topN = 5)),

    // leave-one-out kNN classification accuracy per label — the
    // embedding-quality eval (does neighborhood structure respect
    // labels?); the |q|·k neighbor list broadcasts into the label join,
    // so the corpus-side label table never shuffles
    "s12_knn_eval" -> ((s, dir) =>
      SimilarityOps.knnEval(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", col("vec_id") < 100, k = 5)),

    // first-PC projection via power iteration — dimensionality reduction
    // before ANN/visualization; covariance is bounded driver state (d²),
    // the corpus pass is a zero-shuffle projection over literal arrays
    "x25_pca_project" -> ((s, dir) =>
      SimilarityOps.pcaPowerProject(Tables.embeddings(s, dir), "vec_id",
        "embedding", iters = 4)),

    // int8 embedding quantization — map-side, zero shuffles; outputs are
    // scalar summaries so the quantized vectors stay hash-checkable
    "s5_quantize" -> ((s, dir) =>
      SimilarityOps.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")),

    // quantization QA: reconstruction error per vector — the metric an
    // int8 rollout is gated on; map-side, zero shuffles
    "s6_quant_error" -> ((s, dir) =>
      SimilarityOps.quantError(Tables.embeddings(s, dir), "vec_id", "embedding")),

    // Lloyd's k-means fit (3 rounds from the deterministic id<k init) —
    // the centroid set ivfAssign/ivfTopK take via their `centroids`
    // param; exploded to (cid, dim, val) so the result is hash-checkable
    "s7_kmeans" -> ((s, dir) =>
      SimilarityOps.kmeansFit(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 3)
        .select(col("cid"), posexplode(col("cv")))
        .select(col("cid"), col("pos").cast("int").as("dim"),
          col("col").cast("double").as("val"))),

    // classifier-based quality filtering (the FineWeb-Edu/DCLM curation
    // shape): full-batch logistic fit over embeddings vs a binary label
    // — driver-held d+1 weights, ONE flat-plan job per round (weights
    // enter as literals, the kmeansFit small-state contract) — then a
    // ZERO-SHUFFLE frozen-weight scoring projection gating the corpus;
    // the unrolled-CTE oracle replays the exact fit trajectory
    "s13_lr_quality" -> ((s, dir) =>
      Classifier.fitScore(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)),

    // the classifier GATE in its curation seat (FineWeb-Edu's actual
    // deployment shape): s13's frozen-weight keep decision joined back
    // to the document table it curates — one doc_id-keyed equi-join of
    // the map-side-scored embedding table against the corpus, no other
    // exchange; the oracle replays the identical fit via the shared
    // lrCtes chain, so gate and score can never fork from s13
    "c5_lr_gate" -> ((s, dir) => {
      val scored = Classifier.fitScore(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)
      Tables.documents(s, dir)
        .join(scored.filter(col("keep")).select(col("vec_id"), col("score")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("score"))
    }),

    // reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009): merge the
    // BM25 (t14) and TF-IDF rankings for the same query WITHOUT score
    // calibration — rrf(d) = Σ 1/(60 + rank_s(d)). The hybrid-retrieval
    // combiner every RAG/hard-negative-mining stack runs over its
    // lexical + semantic rankers. Each input ranking is already a
    // bounded top-k, so the fusion itself is arithmetic over ≤ 40 rows
    // — broadcast scale regardless of corpus size
    "s15_rrf_fusion" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = Seq("hash", "join", "merge")
      graft.functions.Retrieval.rrfFuse(Seq(
        graft.functions.Retrieval.bm25Rank(docs, "doc_id", "text", terms, topN = 20),
        graft.functions.Retrieval.tfidfRank(docs, "doc_id", "text", terms, topN = 20)))
    }),

    // text analysis --------------------------------------------------------

    "t1_langid" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"))),


    // Luhn-style extractive summary: top-2 sentences per doc by total
    // doc-level term frequency — the cheap "what is this document
    // about" proxy a curation pipeline runs before paying for an
    // abstractive model. Sentence split on terminal-punct+space (RE2-
    // compatible, no lookbehind); scores are exact integer Σtf; ties
    // break to the EARLIER sentence. Doc-keyed exchanges only; the
    // rank window runs over sentence counts, never tokens
    "t33_extractive" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val sent = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), "[.!?]+\\s+")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"),
          col("col").as("sentence"))
        .filter(length(trim(col("sentence"))) > 0)
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      val stok = sent.select(col("doc_id"), col("pos"),
        explode(TextAnalysis.tokens(col("sentence"))).as("w"))
      val score = stok.join(tf, Seq("doc_id", "w"))
        .groupBy("doc_id", "pos").agg(sum("cnt").as("score"))
      sent.join(score, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("score"), lit(0L)).as("score"), col("sentence"))
        .withColumn("rank", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("pos").asc)))
        .filter(col("rank") <= 2)
        .select("doc_id", "rank", "pos", "score", "sentence")
    }),

    // collocations by Dunning's log-likelihood ratio (1993) — the
    // bigram association test that stays sane at low counts where PMI
    // explodes: G² = 2·ΣO·ln(O·N/(R·C)) over the 2×2 contingency of
    // (first-word, second-word) position marginals. Every count is an
    // exact integer; each term is O·(lnO + lnN − lnR − lnC), the
    // log-sum form that never multiplies two corpus-sized numbers
    // (N·O would pass 2^53 long before the sums do). One (w1, w2)
    // aggregation + two marginal aggs; the ≥5 floor prunes before the
    // marginal joins; top-15 via TakeOrderedAndProject
    "t32_collocations" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(DedupOps.shingles(col("t"), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"))
      val k = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
        .filter(col("k11") >= 5)
      val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
      val c2 = pairs.groupBy("w2").agg(count(lit(1)).as("c2"))
      val n = pairs.agg(count(lit(1)).as("n"))
      def term(o: Column, r: Column, c: Column): Column =
        when(o > 0, o.cast("double") *
          (log(o.cast("double")) + log(col("n").cast("double")) -
            log(r.cast("double")) - log(c.cast("double")))).otherwise(0.0)
      k.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("k11").as("cnt"),
          round(lit(2.0) * (
            term(col("k11"), col("c1"), col("c2")) +
            term(col("c1") - col("k11"), col("c1"), col("n") - col("c2")) +
            term(col("c2") - col("k11"), col("n") - col("c1"), col("c2")) +
            term(col("n") - col("c1") - col("c2") + col("k11"),
              col("n") - col("c1"), col("n") - col("c2"))), 4).as("g2"))
        .orderBy(col("g2").desc, col("w1").asc, col("w2").asc)
        .limit(15)
    }),

    // confusion matrix of t1's detector against the stored lang labels
    // — the eval harness face of langId: (truth, guess, n, share of
    // the truth row). One (lang, guess) aggregation; the per-truth
    // share rides a ≤|langs·guesses|-row window
    "t31_langid_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
        .withColumn("share",
          round(col("n").cast("double") /
            sum("n").over(Window.partitionBy("lang")).cast("double"), 6))
    }),

    // label QA: does the shipped lang column agree with the content
    // heuristic? Binarized to is-English (the heuristic's only positive
    // class). Pure map-side signals into one source-keyed aggregation —
    // the audit that catches a feed shipping mislabeled documents
    "t13_label_agreement" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), (col("lang") === "en").as("l"),
          (TextAnalysis.langId(col("text")) === "en").as("gg"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("l").cast("long")).as("labeled_en"),
          sum(col("gg").cast("long")).as("guessed_en"),
          round(avg((col("l") === col("gg")).cast("double")), 6).as("agree"))),

    // TextRank keyword scores: weighted PageRank over the corpus
    // word-adjacency (bigram) graph. Rank state is a distributed
    // (node, score) table — the iterative-graph pattern where per-entity
    // state is corpus-sized (contrast s7's k-row driver state); each
    // round is one equi-join + one node-keyed aggregation, rounded to 6
    // places so the unrolled oracle replays the exact trajectory
    "t18_textrank" -> ((s, dir) =>
      GraphOps.pageRank(GraphOps.bigramEdges(Tables.documents(s, dir)),
        iters = 5)),

    // per-source triangle census of the word co-occurrence graph —
    // degree-ordered orientation enumerates every wedge from its
    // lowest-degree corner, so a hub never fans out its full
    // neighborhood (the "last reducer" fix); a connectivity-shape
    // monitor per corpus slice
    "g1_triangles" -> ((s, dir) =>
      GraphOps.trianglesPerGroup(
        GraphOps.bigramEdges(Tables.documents(s, dir), keyCols = Seq("source"))
          .withColumnRenamed("source", "g"))
        .select(col("g").as("source"), col("n_triangles"))),

    // HITS hubs/authorities over the customer→part purchase bipartite
    // graph: which parts anchor demand (authorities) and which buyers
    // span it (hubs). Integer micro-unit scores — BIGINT sums are
    // order-independent, so the 2-iteration trajectory is engine-EXACT,
    // not rounding-pinned. Same join+agg iteration shape as t18
    "g2_hits" -> ((s, dir) => GraphOps.hitsL1(purchaseEdges(s, dir), iters = 2)),

    // item-item co-occurrence (market-basket): parts bought together in
    // one order, scored by cosine co/√(nₐ·n_b) over basket counts. The
    // pair generator self-joins on l_orderkey, so fan-out is bounded by
    // the per-order basket size squared (≤ ~7² in TPC-H shapes), never
    // |parts|²; the co ≥ 2 floor prunes the long noise tail before the
    // size joins
    "x46_item_cooccur" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) — the sizes and co
      // branches both derive map-side from ONE l_orderkey exchange
      // instead of a distinct + self-join (4 exchanges + SMJ).
      val baskets = orderBaskets(s, dir)
      val sizes = basketDegrees(baskets)
      val co = basketPairs(baskets)
        .select(col("a").as("pk1"), col("b").as("pk2"), col("co"))
        .filter(col("co") >= 2)
      co.join(sizes.select(col("l_partkey").as("pk1"), col("deg").as("na")), "pk1")
        .join(sizes.select(col("l_partkey").as("pk2"), col("deg").as("nb")), "pk2")
        .select(col("pk1"), col("pk2"), col("co"),
          round(col("co") / sqrt(col("na") * col("nb")), 6).as("cosine"))
    }),

    // query-biased TextRank: personalized PageRank over the word
    // co-occurrence graph with ALL teleport mass pinned to the query
    // tokens {hash, join} — keywords ranked by graph proximity to the
    // query instead of t18's global centrality. Rank state is a SPARSE
    // frontier (only nodes reached from the seeds hold rows), so early
    // rounds touch a neighborhood, not the vocabulary
    "g3_ppr" -> ((s, dir) => {
      import s.implicits._
      GraphOps.personalizedPageRank(
        GraphOps.bigramEdges(Tables.documents(s, dir)),
        Seq("hash", "join").toDF("node"), iters = 4)
    }),

    // 10-core of the word co-occurrence graph: 6 peel rounds of
    // "drop nodes with < 10 surviving neighbors" expose the densely
    // interlinked vocabulary nucleus (topic-core extraction; boilerplate
    // and rare terms peel away). Exact bounded-trajectory semantics —
    // the spec asserts the fixpoint is reached at test scale
    "g4_kcore" -> ((s, dir) =>
      GraphOps.kCore(
        GraphOps.bigramEdges(Tables.documents(s, dir)), k = 10, rounds = 6)),

    "t2_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("t", TextAnalysis.tokens(col("text")))
      d.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        TextAnalysis.avgTokenLen(col("t")).as("avg_token_len"),
        TextAnalysis.stopwordRatio(col("t")).as("stopword_ratio"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    "t3_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.reTokenCount(col("text")).cast("long").as("re_tokens"))),

    "t4_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    "m1_bytes_meta" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        octet_length(col("text")).cast("long").as("byte_len"),
        length(col("text")).cast("long").as("char_len"))),

    // the REAL media sniff→parse path under the oracle gate: each doc id
    // deterministically synthesizes a valid container header (PNG / GIF /
    // BMP / WAV cycling, production offsets/endianness) whose metadata is
    // pure arithmetic on the id — so DuckDB can state what parseMeta must
    // recover from bytes it cannot itself parse. Map-only: binary columns
    // never shuffle for metadata extraction
    "m2_media_decode" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val m = graft.multimodal.Multimodal.parseMeta(
            graft.multimodal.SyntheticMedia.bytes(id))
          (id, m.mediaType, m.width, m.height, m.durationMs, m.channels,
            m.sampleRate)
        }
        .toDF("doc_id", "media_type", "width", "height", "duration_ms",
          "channels", "sample_rate")
    }),

    // the m2 trick pushed from headers to PIXELS: each doc id renders a
    // real 24-bit BMP whose pixels sum 31 id-selected DCT basis
    // functions, so the full encode → ImageIO decode → box-resample →
    // DCT → median-threshold pHash pipeline lands on a hash DuckDB can
    // state as arithmetic (the selected-position mask; proof in
    // SyntheticMediaOracleSpec). Map-only: pixels are born and hashed
    // inside the partition, only (id, hash) rows ever move
    "m3_phash" -> ((s, dir) => {
      import s.implicits._
      val recs = docIds(s, dir)
        .map(id => graft.multimodal.MediaRecord(id, null,
          graft.multimodal.SyntheticMedia.bmpPatternBytes(id)))
      graft.multimodal.PerceptualHash.imagePHashes(recs)
        .select(col("doc_id"), col("simhash").as("phash"))
    }),

    // real audio DSP under the oracle gate: each doc id synthesizes a
    // playable WAV holding a bin-aligned pure tone; javax.sound decode →
    // Hann frames → FFT → spectral statistics recover the bin EXACTLY
    // (dominant/rolloff as exact doubles, centroid to the bin integer,
    // flatness ≈ 0 for a tone — margins proved in
    // SyntheticMediaOracleSpec). Map-only like m3
    "m4_audio_spectral" -> ((s, dir) => {
      import s.implicits._
      val recs = docIds(s, dir)
        .map(id => graft.multimodal.MediaRecord(id, null,
          graft.multimodal.SyntheticMedia.wavToneBytes(id)))
      graft.multimodal.AudioSpectral.spectralFeatures(recs).toDF()
        .select(col("id").as("doc_id"),
          col("sampleRate").as("sample_rate"),
          col("dominantHz").as("dominant_hz"),
          round(col("centroidHz") /
            (col("sampleRate").cast("double") / lit(1024.0)))
            .cast("int").as("centroid_bin"),
          col("rolloff85Hz").as("rolloff85_hz"),
          (col("flatness") < lit(0.01)).as("is_tonal"))
    }),

    // image near-dup via pHash Hamming blocking: ids 2g and 2g+1 render
    // the SAME pattern at different brightness (amp/base rescale — every
    // byte differs, no hash bit moves: the invariance pHash exists for),
    // so the banded self-join at distance 0 must recover exactly the
    // (2g, 2g+1) pairs. Restricted to one 315-group window where the
    // mask construction is injective (CRT on 63·5), keeping the oracle
    // scale-independent
    "m5_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      val recs = docIds(s, dir)
        .filter(_ < 630L)
        .map { id =>
          val (amp, base) = if (id % 2 == 0) (4, 128) else (3, 140)
          graft.multimodal.MediaRecord(id, null,
            graft.multimodal.SyntheticMedia.bmpPatternBytes(id / 2, amp, base))
        }
      graft.multimodal.PerceptualHash.nearDupImagePairs(recs, maxDist = 0)
    }),

    // the m2 trick for the VIDEO modality: each doc id builds a valid
    // minimal container — ISO-BMFF MP4 (ftyp + moov{mvhd,trak{tkhd}},
    // v0/v1 box layouts alternating so both parser paths are gated) or
    // RIFF AVI (LIST hdrl + avih) — whose duration/dimensions are
    // arithmetic on the id; parseMeta must recover them by real box/
    // chunk walking. Completes the modality matrix under the oracle:
    // image pixels (m3/m5), audio samples (m4), video containers (m6)
    "m6_video_meta" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val m = graft.multimodal.Multimodal.parseMeta(
            graft.multimodal.SyntheticMedia.videoBytes(id))
          (id, m.mediaType, m.width, m.height, m.durationMs)
        }
        .toDF("doc_id", "media_type", "width", "height", "duration_ms")
    }),

    // nonzero-distance calibration of the pHash pipeline: consecutive
    // ids render DIFFERENT arithmetic masks, so the measured Hamming
    // distance between their decoded-image hashes must equal the
    // popcount of the mask XOR — DuckDB states every distance exactly.
    // Exercises the distance math the m5 invariance query can't (its
    // pairs sit at 0)
    "m7_phash_hamming" -> ((s, dir) => {
      import s.implicits._
      // localCheckpoint: the self-join reads the hash table twice —
      // decode-and-hash once (the d7/mmr snapshot discipline), never
      // re-render the corpus per join side
      val hashes = docIds(s, dir)
        .map(id => graft.multimodal.MediaRecord(id, null,
          graft.multimodal.SyntheticMedia.bmpPatternBytes(id)))
        .transform(graft.multimodal.PerceptualHash.imagePHashes)
        .localCheckpoint(false)
      hashes.join(
          hashes.select((col("doc_id") - 1).as("doc_id"),
            col("simhash").as("next_hash")), "doc_id")
        .select(col("doc_id"),
          expr("bit_count(simhash ^ next_hash)").cast("int").as("hamming"))
    }),

    // the image-dedup DECISION (the d12 shape for pixels): m5's corpus
    // rendered, hashed, grouped by pHash, min doc id per group kept —
    // survivors are exactly the even ids (each odd id is a brightness
    // rescale of its even partner), and each survivor carries the
    // arithmetic mask the oracle states. Detection (m5) and decision
    // (m9) together close the image-dedup story end to end
    "m9_image_dedup_keep" -> ((s, dir) => {
      import s.implicits._
      val hashes = docIds(s, dir)
        .filter(_ < 630L)
        .map { id =>
          val (amp, base) = if (id % 2 == 0) (4, 128) else (3, 140)
          graft.multimodal.MediaRecord(id, null,
            graft.multimodal.SyntheticMedia.bmpPatternBytes(id / 2, amp, base))
        }
        .transform(graft.multimodal.PerceptualHash.imagePHashes)
      hashes.groupBy("simhash").agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), col("simhash").as("phash"))
    }),

    // frame-level video under the gate: each doc id builds a PLAYABLE
    // MJPEG AVI (genuine JDK-encoded JPEG frames in a RIFF movi list);
    // the query walks the container and REALLY decodes every frame —
    // the oracle states the frame count and the decoded dimensions
    // (dims survive the lossy codec exactly; pixel values don't ride)
    "m8_avi_frames" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val chunks = graft.multimodal.Multimodal.aviVideoChunks(
            graft.multimodal.SyntheticMedia.mjpegAviBytes(id))
          val imgs = chunks.flatMap { c =>
            Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(c)))
          }
          (id, chunks.length, imgs.size,
            imgs.headOption.map(_.getWidth).getOrElse(0),
            imgs.headOption.map(_.getHeight).getOrElse(0))
        }
        .toDF("doc_id", "n_frames", "frames_decoded", "frame_w", "frame_h")
    }),

    // the m8 story for the ISO-BMFF container: each doc id builds a
    // playable MJPEG-in-MP4 (real JPEG samples in mdat, a REAL
    // stsc/stsz/stco sample table — two samples per chunk, so odd counts
    // exercise a two-run stsc); the query walks the sample table and
    // REALLY decodes every sample. Shrinks the video stub to truly
    // absent codecs (H.264/HEVC). Map-only like m8
    "m10_mp4_frames" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val samples = graft.multimodal.Multimodal.mp4VideoSamples(
            graft.multimodal.SyntheticMedia.mjpegMp4Bytes(id))
          val imgs = samples.flatMap { c =>
            Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(c)))
          }
          (id, samples.length, imgs.size,
            imgs.headOption.map(_.getWidth).getOrElse(0),
            imgs.headOption.map(_.getHeight).getOrElse(0))
        }
        .toDF("doc_id", "n_frames", "frames_decoded", "frame_w", "frame_h")
    }),

    // REAL H.264 pixel decode — the I_PCM baseline subset implemented
    // from the public spec (graft.multimodal.H264): avcC config + AVCC
    // sample walk + NAL/Exp-Golomb/I_PCM parsing, losslessly exact, so
    // the oracle can state the decoded mean luma as id arithmetic. Map-
    // only like the rest of the m-family: zero exchanges, per-row codec
    // work that multiplies by executor count at cluster scale
    "m11_h264_frames" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes = graft.multimodal.SyntheticMedia.h264Mp4Bytes(id)
          val frames = graft.multimodal.Multimodal.mp4Avc1Track(bytes)
            .toSeq.flatMap { case (sps, pps, lenSize, samples) =>
              samples.flatMap(smp => graft.multimodal.H264.decodeNals(
                Seq(sps, pps) ++
                  graft.multimodal.Multimodal.avccNals(smp, lenSize)))
            }
          // mean over the full decoded plane (sum of every pixel, not a
          // header readback) — proves the samples really decoded
          val yMean = frames.headOption.map { f =>
            f.y.foldLeft(0L)((a, b) => a + (b & 0xff)) / f.y.length
          }.getOrElse(-1L)
          (id, frames.length,
            frames.headOption.map(_.width).getOrElse(0),
            frames.headOption.map(_.height).getOrElse(0), yMean)
        }
        .toDF("doc_id", "n_frames", "frame_w", "frame_h", "y_mean_first")
    }),

    // ENTROPY-CODED H.264: the m11 shape with CAVLC Intra_16x16 access
    // units instead of raw I_PCM — coeff_token/level/total_zeros bits,
    // DC dequant + Hadamard, intra DC prediction propagating across
    // macroblocks. The generator plants a known DC level in the first
    // macroblock at QP 28 (where the §8.5.10 chain reduces to
    // pixel += level), so the decoded full-plane mean is id arithmetic
    // the oracle can state. Map-only, zero exchanges, like m10/m11
    "m12_h264_cavlc" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes = graft.multimodal.SyntheticMedia.h264CavlcMp4Bytes(id)
          val frames = graft.multimodal.Multimodal.mp4Avc1Track(bytes)
            .toSeq.flatMap { case (sps, pps, lenSize, samples) =>
              samples.flatMap(smp => graft.multimodal.H264.decodeNals(
                Seq(sps, pps) ++
                  graft.multimodal.Multimodal.avccNals(smp, lenSize)))
            }
          val yMean = frames.headOption.map { f =>
            f.y.foldLeft(0L)((a, b) => a + (b & 0xff)) / f.y.length
          }.getOrElse(-1L)
          // and the LAST frame too: each sample decodes independently
          // through the entropy path (different DC level per frame)
          val yMeanLast = frames.lastOption.map { f =>
            f.y.foldLeft(0L)((a, b) => a + (b & 0xff)) / f.y.length
          }.getOrElse(-1L)
          (id, frames.length,
            frames.headOption.map(_.width).getOrElse(0),
            frames.headOption.map(_.height).getOrElse(0), yMean, yMeanLast)
        }
        .toDF("doc_id", "n_frames", "frame_w", "frame_h",
          "y_mean_first", "y_mean_last")
    }),

    // inter-predicted H.264 (IDR + P GOP): every sample after the first
    // decodes through the P path — mb_skip_run, mv prediction, motion
    // compensation (full quarter-pel luma 6-tap, eighth-pel chroma), the
    // inter CBP mapping, and CAVLC residual over prediction. The GOP is
    // built so each coded P frame shifts the constant plane by exactly
    // 4·c_t (QP-28 DC algebra) and skip frames copy it, so the oracle
    // states first/last frame means in closed form — the m12 discipline
    // extended to inter prediction. Map-only; media bytes never shuffle
    "m13_h264_pframes" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes = graft.multimodal.SyntheticMedia.h264PMp4Bytes(id)
          val frames = graft.multimodal.Multimodal.mp4Avc1Track(bytes)
            .toSeq.flatMap { case (sps, pps, lenSize, samples) =>
              graft.multimodal.H264.decodeNals(
                Seq(sps, pps) ++ samples.flatMap(smp =>
                  graft.multimodal.Multimodal.avccNals(smp, lenSize)))
            }
          def yMean(f: graft.multimodal.H264.Frame): Long =
            f.y.foldLeft(0L)((a, b) => a + (b & 0xff)) / f.y.length
          (id, frames.length,
            frames.headOption.map(_.width).getOrElse(0),
            frames.headOption.map(_.height).getOrElse(0),
            frames.headOption.map(yMean).getOrElse(-1L),
            frames.lastOption.map(yMean).getOrElse(-1L))
        }
        .toDF("doc_id", "n_frames", "frame_w", "frame_h",
          "y_mean_first", "y_mean_last")
    }),

    // bi-predicted H.264 (IDR + P + B GOP): B frames decode through two
    // reference lists — spatial direct + B_Skip derivation (per-4x4
    // colZeroFlag off the colocated P motion), B_L0/L1/Bi 16x16 with
    // per-list median mv prediction, and DEFAULT bi-prediction averaging
    // two full quarter-pel interpolations. Even P deltas make every B
    // macroblock kind land on the exact bi-average constant, so the
    // oracle states first/B1/last frame means in closed form — the m13
    // discipline extended to bi-prediction. Map-only; bytes never shuffle
    "m14_h264_bframes" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes = graft.multimodal.SyntheticMedia.h264BMp4Bytes(id)
          val frames = graft.multimodal.Multimodal.mp4Avc1Track(bytes)
            .toSeq.flatMap { case (sps, pps, lenSize, samples) =>
              graft.multimodal.H264.decodeNals(
                Seq(sps, pps) ++ samples.flatMap(smp =>
                  graft.multimodal.Multimodal.avccNals(smp, lenSize)))
            }
          def yMean(f: graft.multimodal.H264.Frame): Long =
            f.y.foldLeft(0L)((a, b) => a + (b & 0xff)) / f.y.length
          (id, frames.length,
            frames.headOption.map(_.width).getOrElse(0),
            frames.headOption.map(_.height).getOrElse(0),
            frames.headOption.map(yMean).getOrElse(-1L),
            if (frames.length > 2) yMean(frames(2)) else -1L,
            frames.lastOption.map(yMean).getOrElse(-1L))
        }
        .toDF("doc_id", "n_frames", "frame_w", "frame_h",
          "y_mean_first", "y_mean_b1", "y_mean_last")
    }),

    // CABAC H.264 (main profile): the m12 shape with ARITHMETIC-coded
    // access units — every sample decodes through the §9.3 CABAC engine
    // (context-modeled mb_type / CBP / significance maps / UEG0 levels)
    // instead of VLC tables, over mixed Intra_16x16 / Intra_4x4
    // macroblock neighborhoods. Same QP-28 DC algebra, so the oracle
    // states first/last frame means in closed form. Map-only, zero
    // exchanges, media bytes never shuffle
    "m15_h264_cabac" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes = graft.multimodal.SyntheticMedia.h264CabacMp4Bytes(id)
          val frames = graft.multimodal.Multimodal.mp4Avc1Track(bytes)
            .toSeq.flatMap { case (sps, pps, lenSize, samples) =>
              graft.multimodal.H264.decodeNals(
                Seq(sps, pps) ++ samples.flatMap(smp =>
                  graft.multimodal.Multimodal.avccNals(smp, lenSize)))
            }
          def yMean(f: graft.multimodal.H264.Frame): Long =
            f.y.foldLeft(0L)((a, b) => a + (b & 0xff)) / f.y.length
          (id, frames.length,
            frames.headOption.map(_.width).getOrElse(0),
            frames.headOption.map(_.height).getOrElse(0),
            frames.headOption.map(yMean).getOrElse(-1L),
            frames.lastOption.map(yMean).getOrElse(-1L))
        }
        .toDF("doc_id", "n_frames", "frame_w", "frame_h",
          "y_mean_first", "y_mean_last")
    }),

    // relational extras (set ops, top-k, rollup, analytic, json) -----------

    "x1_setops" -> ((s, dir) => {
      // restricted to the first 2 days so the EXCEPT arm actually prunes
      val e = ev(s, dir).filter(col("ts_sec") < lit(1704067200L + 2 * 86400))
      def users(t: String) = e.filter(col("event_type") === t).select("user_id").distinct()
      users("click").intersect(users("view")).except(users("error"))
    }),

    "x2_topk_users" -> ((s, dir) => {
      import s.implicits._
      // Rank is derived from the 10 collected survivors — constant driver work.
      val top = topkUsersBase(s, dir).as[(Long, Double)].collect()
      s.createDataFrame(top.toSeq.zipWithIndex.map { case ((u, t), i) => (i + 1, u, t) })
        .toDF("rank", "user_id", "total")
    }),

    "x3_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))),

    "x8_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))),

    "x4_json_extract" -> ((s, dir) =>
      ev(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))),

    // explicit GROUPING SETS — the third grouping-lattice shape beside
    // x3's rollup and x8's cube: exactly the two marginals plus the
    // full cross, no grand total. One pass (Spark expands sets inside
    // a single Expand + aggregate, not one scan per set); both group
    // columns are non-null in the data, so NULL marks the aggregated
    // level unambiguously
    "x115_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))),

    // unpivot (melt) — x12's wide per-user metric row back to tall
    // (user_id, metric, cnt): the Spark-native Unpivot node (one
    // Expand, no self-union, no re-scan per metric)
    "x116_unpivot" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id").agg(
          count(when(col("event_type") === "click", 1)).as("clicks"),
          count(when(col("event_type") === "view", 1)).as("views"),
          count(when(col("event_type") === "purchase", 1)).as("purchases"))
        .unpivot(Array(col("user_id")),
          Array(col("clicks"), col("views"), col("purchases")),
          "metric", "cnt")),

    "x5_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
      ev(s, dir).withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("user_id", "rnk", "event_id", "value")
    }),

    // winsorized per-type value stats — x34's MAD flags outliers, this
    // NEUTRALIZES them: clamp at the exact p05/p95 DATA values (disc
    // rule: smallest micro value whose cumulative count reaches the
    // rank threshold, cum·20 ≥ k·N in pure integers — no interpolated
    // double ever enters the sums) and report the tamed mean next to
    // the raw one. Histogram + cumulative window (the x51 discipline:
    // windows over |distinct values| rows), boundaries broadcast back,
    // exact micro sums, one division per stat
    "x121_winsorize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = ev(s, dir).select(col("event_type"),
        round(col("value") * 1e6).cast("long").as("mu"))
      val hist = v.groupBy("event_type", "mu").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("event_type").orderBy(col("mu").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("c").over(wc))
        .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
      val bounds = cum.groupBy("event_type").agg(
        min(when(col("cum") * 20 >= col("n"), col("mu"))).as("lo"),
        min(when(col("cum") * 20 >= col("n") * 19, col("mu"))).as("hi"),
        first("n").as("n"))
      v.join(broadcast(bounds), "event_type")
        .select(col("event_type"), col("n"), col("lo"), col("hi"), col("mu"),
          greatest(col("lo"), least(col("hi"), col("mu"))).as("wmu"))
        .groupBy("event_type")
        .agg(first("n").as("n"),
          round(first("lo").cast("double") / 1e6, 6).as("p05"),
          round(first("hi").cast("double") / 1e6, 6).as("p95"),
          round(sum("mu").cast("double") / first("n") / 1e6, 6).as("mean_raw"),
          round(sum("wmu").cast("double") / first("n") / 1e6, 6)
            .as("mean_winsorized"),
          sum(when(col("mu") =!= col("wmu"), 1L).otherwise(0L)).as("n_clamped"))
    }),

    // the rest of the rank-function surface in one query: rank /
    // dense_rank with REAL ties (centi-value), percent_rank, cume_dist,
    // and the per-user top value via a frame max — all six share the
    // SAME user-partitioned sort, so the whole suite costs one
    // exchange + one in-partition sort
    "x119_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("cv").asc, col("event_id").asc)
      val wt = Window.partitionBy("user_id").orderBy(col("cv").asc)
      ev(s, dir)
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("cv"))
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(wt))
        .withColumn("drnk", dense_rank().over(wt))
        .withColumn("pr", round(percent_rank().over(wt), 6))
        .withColumn("cd", round(cume_dist().over(wt), 6))
        .withColumn("top_cv", max("cv").over(
          Window.partitionBy("user_id")))
        .filter(col("rn") <= 5)
        .select("user_id", "rn", "event_id", "cv", "rnk", "drnk", "pr", "cd",
          "top_cv")
    }),

    // join-key skew diagnosis BEFORE committing a shuffle: per-key row
    // counts → heaviest keys + the skew factor (max/avg) and the p99
    // key weight — the planner-facing readout that says "salt this key"
    // (j21) or "let AQE split it". One keyed count, then a
    // |distinct keys|-row quantile over the count HISTOGRAM, never the
    // raw rows
    "x120_skew_report" -> ((s, dir) => {
      val counts = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      val stats = counts.agg(
        count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
        max("c").as("max_c"),
        expr("percentile(c, 0.99)").as("p99_c"))
      stats.select(col("n_keys"), col("n_rows"), col("max_c"),
        round(col("p99_c"), 4).as("p99_c"),
        round(col("max_c").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double"), 4).as("skew_factor"))
    }),

    // conditional-aggregation pivot: one row per user, one column per
    // event type — single shuffle on the key, the pivot columns are plain
    // codegen'd conditional aggregates
    "x12_pivot" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id").agg(
        count(when(col("event_type") === "click", 1)).as("clicks"),
        count(when(col("event_type") === "view", 1)).as("views"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("purchase_value"))),

    // frame-based analytics: per-user running total and previous-event
    // delta — key-partitioned windows (shuffle by user_id, in-partition
    // sort; no global ordering anywhere)
    "x11_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_sec").asc, col("event_id").asc)
      ev(s, dir).select(col("user_id"), col("event_id"),
        round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"),
        round(col("value") - coalesce(lag("value", 1).over(w), lit(0.0)), 2)
          .as("delta_prev"))
    }),

    "x6_distinct_count" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("cnt"))),

    // as-of self-join: each order's customer's most recent PRIOR order
    "x7_asof_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val prev = o.select(col("o_custkey").as("ck2"), col("o_orderkey").as("ok2"),
        col("o_orderdate").as("od2"))
      graft.operators.AsOfJoin.asof(
        o, prev, col("o_custkey"), col("ck2"),
        col("o_orderdate"), col("od2"), "o_orderkey",
        Seq("prev_orderkey" -> col("ok2")), col("ok2"), strict = true)
    }),

    // exact interpolated quantiles per group — the quantile thresholds
    // quality gates are tuned from (percentile ≡ DuckDB quantile_cont)
    "t5_quantiles" -> ((s, dir) =>
      ev(s, dir).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))),

    // robust outlier audit per event type: median + MAD (the
    // quantile-based dispersion that one corrupt feed can't drag the way
    // it drags stddev), then the count of values beyond med ± 3·MAD.
    // Two group-bounded percentile aggregations + one conditional count —
    // the med/MAD table is |event types| rows and broadcasts back
    "x34_mad_outliers" -> ((s, dir) => {
      val med = ev(s, dir).groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val mad = ev(s, dir).join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(round(expr("percentile(abs(round(value - med, 4)), 0.5)"), 4).as("mad"),
          first("med").as("med"))
      ev(s, dir).join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(first("med").as("med"), first("mad").as("mad"),
          count(lit(1)).as("n"),
          count(when(abs(round(col("value") - col("med"), 4)) >
            col("mad") * 3, 1)).as("n_outliers"))
    }),

    // Z-order (Morton) key — the multi-dimensional clustering key behind
    // writeZOrdered's data-skipping layout: bit-interleave of two bounded
    // dimensions, pure map-side integer arithmetic, zero shuffles
    "x38_zorder_key" -> ((s, dir) => {
      val du = pmod(col("user_id"), lit(1024L))
      val dv = pmod(floor(col("value") * lit(100.0)).cast("long"), lit(1024L))
      ev(s, dir).select(col("event_id"), du.as("du"), dv.as("dv"),
        graft.sources.ZOrder.zValue(Seq(du, dv), 10).as("zkey"))
    }),

    // declarative data-quality gate (Deequ-shaped): completeness,
    // uniqueness, domain, and bound constraints evaluated in ONE
    // aggregation pass — the audit a 100 TB ingest runs before a corpus
    // is admitted. Output: one (check_name, metric, passed) row per check
    "x37_dq_report" -> ((s, dir) => {
      import graft.functions.DataQuality.{Check, report}
      report(ev(s, dir), Seq(
        Check("value_complete",
          avg(when(col("value").isNotNull, 1.0d).otherwise(0.0d)),
          _ === 1.0d),
        Check("event_id_unique",
          count(lit(1)) - countDistinct(col("event_id")),
          _ === 0.0d),
        Check("type_in_domain",
          sum(when(!col("event_type")
            .isin("click", "view", "error", "purchase"), 1L).otherwise(0L)),
          _ === 0.0d),
        Check("value_nonnegative", min(col("value")), _ >= 0.0d),
        Check("user_id_lower_bound", min(col("user_id")), _ >= 0.0d)))
    }),

    // grouped bivariate stats: Pearson corr + sample covariance of the
    // event value against its JSON payload field, per event type — the
    // feature-drift / feature-leakage audit over a wide fact table. One
    // partial-aggregated exchange of |event types| co-moment rows
    "x35_group_stats" -> ((s, dir) =>
      ev(s, dir).select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(corr("value", "k"), 6).as("corr_vk"),
          round(covar_samp("value", "k"), 6).as("covar_vk"),
          round(stddev_samp("value"), 6).as("sd_value"),
          round(avg("k"), 6).as("avg_k"))),

    // per-user exponentially-decayed engagement: Σ value·α^(age) with
    // age in events-from-latest — the recency-weighted activity score
    // ranking/freshness systems keep per entity. Two window functions
    // and the final aggregate all share ONE hash(user_id) exchange
    "x36_ewma_decay" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
      val ordered = byUser.orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("value"),
          row_number().over(ordered).as("rn"),
          count(lit(1)).over(byUser).as("cnt"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value") * pow(lit(0.9), col("cnt") - col("rn"))), 4)
            .as("decayed_sum"),
          max(when(col("rn") === col("cnt"), col("value"))).as("last_value"))
    }),

    // end-to-end curation pipeline: language filter → quality gate →
    // exact-dedup to the min-id representative → deterministic 50%
    // downsample. One pass of map-side scoring, one digest-keyed shuffle
    // for dedup, one map-side sample filter — the composed shape these
    // operators run in production.
    "c1_curation" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("text"),
          TextAnalysis.langId(col("text")).as("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .filter(col("lang") === "en" && col("quality") >= 0.5)
      val reps = scored.groupBy("fp")
        .agg(min("doc_id").as("doc_id"), min_by(col("quality"), col("doc_id")).as("quality"))
      graft.functions.Sampling.sampleByHash(reps, col("doc_id"), 50)
        .select("doc_id", "quality")
    }),

    // per-document curation PROVENANCE: for every doc, the FIRST stage
    // of the c1 pipeline that dropped it (lang → quality → duplicate →
    // sampled_out) or 'kept' — the governance audit trail behind a
    // curation decision ("why is this document not in the corpus?").
    // Same definitions as c1 (shared scorers + the same rep rule), one
    // extra fp-keyed exchange over the PASSING docs only; every doc
    // appears exactly once, so kept-count ≡ |c1| by construction
    "c6_provenance" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val reps = scored.filter(col("lang") === "en" && col("quality") >= 0.5)
        .groupBy("fp").agg(min("doc_id").as("rep_id"))
      scored.join(reps, Seq("fp"), "left")
        .select(col("doc_id"),
          when(col("lang") =!= "en", "lang")
            .when(col("quality") < 0.5, "quality")
            .when(col("doc_id") =!= col("rep_id"), "duplicate")
            .when(Sampling.hashBucket(col("doc_id")) >= 50, "sampled_out")
            .otherwise("kept").as("stage"))
    }),

    // deterministic 10% sample + hash train/val/test split — pure
    // map-side filters, stable across runs/partitionings/engines
    "x10_hash_sample" -> ((s, dir) =>
      graft.functions.Sampling.sampleByHash(ev(s, dir), col("event_id"), 10)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Sampling.split(col("event_id")).as("split"))),

    // salted two-phase exact distinct count — the skew treatment from
    // operators.Skew wired into the oracle gate (same answer as a plain
    // count(DISTINCT), but a hot key's dedup spreads over 16 reducers)
    "x9_skew_distinct" -> ((s, dir) =>
      graft.operators.Skew.saltedDistinctCount(
        ev(s, dir), Seq("event_type"), "user_id", buckets = 16, outCol = "n_users")),

    // per-class rebalancing: each event_type keeps its own deterministic
    // rate (rare classes whole, dominant classes thinned) — still a pure
    // map-side hash filter, stable under repartitioning
    "x13_stratified_sample" -> ((s, dir) =>
      graft.functions.Sampling.stratifiedSampleByHash(
        ev(s, dir), col("event_id"), col("event_type"),
        Map("click" -> 10, "view" -> 5, "error" -> 0, "purchase" -> 100),
        defaultPct = 25)
        .select("event_id", "user_id", "event_type")),

    // TF-IDF: per-document top term by tf·ln((N+1)/(df+1)); term and
    // document frequencies aggregate map-side, the vocabulary join is the
    // only exchange that scales with corpus distinct-term count.
    // Skew, explicitly: the tf⋈dfc hop shuffles on `term`, and a zipf-hot
    // stopword puts O(|docs with term|) rows in one partition at corpus
    // scale. The dfc side is one row per term, so this is exactly the
    // shape AQE's skew-join split re-plans at runtime
    // (spark.sql.adaptive.skewJoin.enabled, on by default here): the hot
    // partition is split and the single matching dfc row duplicated per
    // split — equivalent to Skew.saltedJoin but decided from observed
    // sizes instead of a hand-picked salt. If AQE is off, route this hop
    // through Skew.saltedJoin(tf, dfc, "term", shards).
    "t6_tfidf" -> ((s, dir) => {
      // portable argmax: max score per doc, then min term among the ties
      val scored = tfidfScoredTerms(Tables.documents(s, dir))
      val best = scored.groupBy("doc_id").agg(max("tfidf").as("tfidf"))
      scored.join(best, Seq("doc_id", "tfidf"))
        .groupBy("doc_id")
        .agg(min("term").as("top_term"), max("tfidf").as("tfidf"))
    }),

    // SemDeDup shape: IVF-cell blocking (data-driven, unlike d6's label
    // column) + salted intra-cell cosine pairs — embedding near-dup whose
    // blocking needs no labels and whose parallelism no hot cell bounds
    "d8_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cells = SimilarityOps.ivfAssign(e, "vec_id", "embedding", 16)
      SimilarityOps.saltedBlockPairs(e.join(cells, "vec_id"),
        "centroid_id", "vec_id", "embedding", shards = 8, minSim = 0.3)
    }),

    // exactly-50-per-class balanced subset — deterministic reservoir via
    // the bounded k-smallest-by-hash aggregate (n·partitions rows per
    // class cross the shuffle; no per-class row_number window)
    "x14_balanced_sample" -> ((s, dir) =>
      graft.functions.Sampling.balancedSample(
        ev(s, dir), col("event_type"), col("event_id"), 50)
        .select(col("stratum").as("event_type"), col("rank"),
          col("id").as("event_id"))),

    // TPC-H Q5 shape: six-way join, region/nation broadcast down the dim
    // cascade, facts shuffle once on their join keys, one partial-agg'd
    // group-by — the join-order/broadcast stress test
    "j11_q5_local_supplier" -> ((s, dir) => {
      val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir).join(broadcast(asia),
        col("n_regionkey") === col("r_regionkey"))
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
    }),

    // the j7 FK join over WRITE-SIDE BUCKETED tables: lineitem and part
    // are co-bucketed on the part key, so the fact-side join plans with
    // ZERO shuffle exchanges (the merge hint forces the sort-merge path —
    // without it a small `part` would broadcast and never showcase the
    // co-location; supplier stays an explicit broadcast like j7). Same
    // rows as j7, hash-checked by the same oracle SQL; the no-shuffle
    // plan is guarded in PlanGuardSpec. Bucketed tables are written once
    // per (session, sf dir) and reused — the write is the one-time
    // shuffle that every later join on the key skips.
    "j12_bucketed_join" -> ((s, dir) => {
      // md5-derived suffix: String.hashCode collisions between two sf
      // dirs in one session would silently reuse the WRONG bucketed table
      val suffix = new java.math.BigInteger(1,
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8"))).toString(16).take(12)
      val liT = s"graft_j12_lineitem_$suffix"
      val ptT = s"graft_j12_part_$suffix"
      // write once per (session, sf dir); the catalog is in-memory per
      // session but the warehouse DIR persists across JVMs, so a stale
      // location from an earlier run must be cleared or CTAS refuses
      def writeFresh(name: String)(write: => Unit): Unit =
        if (!s.catalog.tableExists(name)) {
          val wh = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), name)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(wh)) fs.delete(wh, true)
          write
        }
      writeFresh(liT)(Bucketing.writeBucketed(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        liT, "l_partkey", 8, sortBy = Seq("l_partkey")))
      writeFresh(ptT)(Bucketing.writeBucketed(
        Tables.part(s, dir).select("p_partkey", "p_name"),
        ptT, "p_partkey", 8, sortBy = Seq("p_partkey")))
      s.table(liT)
        .join(s.table(ptT).hint("merge"), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select("l_orderkey", "l_linenumber", "p_name", "s_name")
    }),

    // sequence packing: documents → fixed-token-budget bins (next-fit in
    // hash buckets; deterministic, one bucket-keyed exchange, per-bucket
    // windows only — never a global order)
    "x16_seq_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      graft.functions.Packing.packByBudget(docs, col("doc_id"), col("nt"),
          budget = 512, buckets = 16)
        .select(col("id").as("doc_id"), col("bucket"), col("bin"),
          col("n_tokens"))
    }),

    // corpus n-gram statistics: top-20 bigrams — explode pairs from the
    // materialized token array (element_at is 1-based in BOTH engines),
    // map-side count partials, distributed top-k (TakeOrderedAndProject)
    "x17_bigram_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2) // sequence(1,0) would DESCEND in Spark
        // the dedup family's shingle builder at n=2 IS word bigrams — one
        // definition of the n-gram convention, not a second copy
        .select(explode(DedupOps.shingles(col("t"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20)),

    // KMV distinct sketch: k smallest hashes per group → (k−1)/u estimate;
    // engine-exact (unlike HLL) so the oracle gate applies to the sketch —
    // the x6/x9 distinct family's bounded-state sibling
    "x15_kmv_distinct" -> ((s, dir) =>
      graft.functions.Sketches.kmvDistinct(
        ev(s, dir), Seq("event_type"), "user_id", k = 64, outCol = "est_users")),

    // HyperLogLog distinct users per event type with a PORTABLE register
    // layout (bucket/rho from the sampling family's md5 hash; integer
    // register sum) so even this classically-opaque sketch is
    // hash-gated; map-side state is ≤1024 one-byte registers per group —
    // the mergeable-summary complement to x15's KMV digests
    "x39_hll_distinct" -> ((s, dir) =>
      graft.functions.Sketches.hllDistinct(
        ev(s, dir), Seq("event_type"), "user_id", outCol = "est_users")),

    // EXACT-k weighted sample (A-ES exponential keys): inclusion ∝
    // event value, size exactly 100 — the fixed-budget cut the Bernoulli
    // samplers (x10/x20) can't promise; top-k plans as
    // TakeOrderedAndProject, the corpus never shuffles
    "x40_weighted_reservoir" -> ((s, dir) =>
      graft.functions.Sampling.weightedReservoir(
        ev(s, dir), col("event_id"), col("value"), k = 100)),

    // corpus snapshot CDC: added/removed/changed keys between two
    // versions by content digest — the audit an incremental ingest
    // publishes instead of the full table. Synthetic snapshots are
    // deterministic doc_id-residue slices of the same corpus
    // per-group exact-k weighted sample: per-source/per-domain budgets
    // in one pass; the bounded topK aggregate keeps map-side state at k
    // rows per group — the grouped sibling of x40
    "x42_grouped_reservoir" -> ((s, dir) =>
      graft.functions.Sampling.weightedReservoirByGroup(
        ev(s, dir), Seq("event_type"), col("event_id"), col("value"), k = 20)),

    "x41_snapshot_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 7 =!= 0)
      val neu = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Changelog.snapshotDiff(old, neu, "doc_id", Seq("text", "lang", "source"))
    }),

    // Merkle bucket reconciliation over the SAME snapshot pair x41
    // diffs row-by-row: per-bucket (count, XOR-of-digests) comparison
    // flags the buckets that differ — the cheap first pass whose flagged
    // buckets are all a row-level snapshotDiff then needs to touch.
    // Each side is one scan + a 32-row aggregate; the compare join is
    // bucket-sized at any table size
    "x88_merkle_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 7 =!= 0)
      val neu = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val dig = Sampling.rawHash(concat_ws("|",
        col("doc_id"), col("text"), col("lang"), col("source")))
      Changelog.merkleDiff(old, neu, col("doc_id"), dig, buckets = 32)
    }),

    // the reference's custom Reducer (IntegerAdd) as a typed Aggregator
    // registered through functions.udaf: exact per-user cents total
    "a6_custom_udaf" -> ((s, dir) => {
      val addCents = udaf(graft.functions.Aggregators.longAdd)
      ev(s, dir)
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .groupBy("user_id")
        .agg(addCents(col("cents")).as("total_cents"))
    }),

    // Gopher-style repetition signals: duplicate token / bigram / trigram
    // fractions — pure map-side array arithmetic over ONE materialized
    // token column (zero shuffles; the quality filter costs one scan)
    "t7_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
        .select(col("doc_id"),
          TextAnalysis.dupTokenFrac(col("__t")).as("dup_token_frac"),
          TextAnalysis.dupNgramFrac(col("__t"), 2).as("dup_bigram_frac"),
          TextAnalysis.dupNgramFrac(col("__t"), 3).as("dup_trigram_frac"))),

    // benchmark decontamination: docs with doc_id % 41 == 0 stand in for
    // the held-out eval set; corpus docs sharing any 5-gram with it are
    // flagged (broadcast benchmark digests — the corpus never shuffles
    // for the probe)
    "d9_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.decontaminate(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0),
        "doc_id", "text", shingleN = 5)
    }),

    // d9's semantics through the Bloom-pruned path — the shape for a
    // benchmark too large to broadcast as a hash relation: the bitset
    // ships (array<long> literal), corpus shingles are pruned map-side,
    // and only bloom-positives reach the exact digest join. Zero false
    // negatives ⇒ byte-identical output; both share ONE oracle string
    "x30_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.bloomDecontaminate(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0),
        "doc_id", "text", shingleN = 5)
    }),

    // quality-weighted data selection: keep each doc with probability =
    // its quality score — no hard threshold cliff; deterministic by
    // content hash, rate floored to integer ppm so engines agree
    "x20_quality_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Sampling.weightedSampleByHash(
          docs.select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
          key = col("doc_id"), rate = col("quality"))
        .select("doc_id", "quality")
    }),

    // VALUE-based quality quartiles for curriculum/tiered sampling, via
    // the t12 histogram trick: rows collapse to a quality-value histogram
    // (4-dec rounding bounds it at ≤10⁴+1 rows however big the corpus),
    // one bounded global window reads off cumulative counts, docs pick up
    // their tier through a broadcast join on the rounded value — the raw
    // corpus never sorts globally and never shuffles for the window.
    // Equal scores always land in the same tier (no row-ntile tie split)
    "x33_quality_tiers" -> ((s, dir) => {
      // r17 measured no-go: fanning the scored projection out by doc_id
      // so the histogram branch and the join stream side share one
      // exchange does NOT dedupe the qualityScore pass — the join's
      // inferred isnotnull(quality) lands in only one exchange copy, so
      // the copies never canonicalize equal (executed plan held both),
      // and the extra exchange alone regressed the query 1.5× in the
      // interleaved bench A/B. At 100 TB fanoutBy no-ops anyway (wide
      // scan), so there is no scale story either. Left on two passes.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      val hist = docs.groupBy("quality").agg(count(lit(1)).as("c"))
      val winOrd = Window.orderBy("quality")
      val tiers = hist
        .withColumn("cum", sum("c").over(
          winOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("c").over(
          winOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("quality"),
          ceil(col("cum") * lit(4.0) / col("n")).cast("long").as("tier"))
      docs.join(broadcast(tiers), "quality").select("doc_id", "quality", "tier")
    }),

    // vocabulary build + id encoding — the last step before training:
    // the top-V words by (count desc, word) become ids 1..V, every other
    // token maps to the UNK id 0, and each doc is encoded as its id
    // sequence (reported as a digest so the row stays scalar). The
    // vocab-budget cut is an orderBy+limit — planned as
    // TakeOrderedAndProject (per-partition heaps), so the CORPUS-sized
    // distinct-word set is never sorted in one partition; only the ≤V
    // surviving rows see the single-partition rank, and that V is the
    // model's budget by construction. Vocab broadcasts to the encode
    // join; the (doc, pos) explode aggregates straight back per doc
    "x22_vocab_encode" -> ((s, dir) => {
      val V = 65536
      val docs = Tables.documents(s, dir)
      val vocab = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(V)
        .select(col("w"),
          row_number().over(Window.orderBy(col("cnt").desc, col("w"))).as("id"))
      val toks = docs.select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      toks.join(broadcast(vocab), Seq("w"), "left_outer")
        .withColumn("id", coalesce(col("id"), lit(0)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(",",
            transform(array_sort(collect_list(struct(col("pos"), col("id")))),
              p => p.getField("id").cast("string")))).as("ids_digest"))
    }),

    // content-defined chunking (CDC): chunk boundaries where the token's
    // hash ≡ 0 (mod 8), so chunk edges survive insertions/deletions —
    // the chunk-level dedup splitter fixed-size windows (x18) can't be.
    // One (doc, pos) explode; the prefix-sum of boundary flags is a
    // PER-DOC window (partitioned by doc_id — parallelism |docs|, never
    // a global sort); chunks aggregate back with map-side partials
    "x23_cdc_chunk" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val flagged = toks.withColumn("b",
        (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % 8 === 0)
          .cast("int"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      flagged
        .withColumn("chunk", coalesce(sum(col("b")).over(w), lit(0)).cast("int"))
        .groupBy("doc_id", "chunk")
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("w")))),
              p => p.getField("w")))).as("chunk_digest"))
    }),

    // flagship composition #3 — training-example ASSEMBLY from this
    // round's operators: span-repetition gate (d11 signal) ∧ lexical-
    // entropy gate (t9 signal) → token sizing → fixed-budget sequence
    // packing (x16 shape). The output is the bin layout a training job
    // would read: which curated docs share a 512-token sequence
    "c4_training_assembly" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val span = DedupOps.spanDupStats(docs, "doc_id", "text", shingleN = 5)
        .filter(col("dup_frac") <= 0.1).select("doc_id")
      // the entropy gate's aggregation already counted the tokens (n =
      // Σc), so the packer's sizing costs no third tokenization pass
      val sized = unigramStats(docs)
        .filter(round(col("e"), 6) >= 2.8)
        .select(col("doc_id"), col("n").as("nt"))
        .join(span, Seq("doc_id"), "left_semi")
      graft.functions.Packing.packByBudget(sized, col("doc_id"), col("nt"),
          budget = 512, buckets = 16)
        .select(col("id").as("doc_id"), col("bucket"), col("bin"), col("n_tokens"))
    }),

    // corpus-wide heavy hitters via a bounded SpaceSaving sketch: ONE
    // ≤256-entry summary per partition crosses the wire — no word-keyed
    // corpus shuffle (contrast a2's groupBy(word)). Capacity exceeds the
    // harness vocabulary, so the sketch is exact and the oracle replays
    // it as plain counts; at real scale the same query returns bounded-
    // error (cnt − err ≤ true ≤ cnt) heavy hitters under any skew
    "x26_heavy_hitters" -> ((s, dir) => {
      val hh = udaf(graft.functions.Aggregators.spaceSaving(256),
        org.apache.spark.sql.Encoders.STRING)
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .agg(hh(col("w")).as("sk"))
        .select(explode(col("sk.hits")).as("h"))
        .select(col("h.item").as("word"), col("h.cnt").as("cnt"),
          col("h.err").as("err"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(15)
    }),

    // training-mix drift monitor: Pearson chi-square statistic for
    // lang × source independence over the contingency table. The only
    // data-sized exchange is the (lang, source) count aggregation
    // (map-side partials); marginals and the grand total are re-aggs
    // of the tiny cell table riding broadcasts, same shape as t10
    "x28_mix_chi2" -> ((s, dir) => {
      val obs = Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("lang").agg(sum("o").as("rl"))
      val colT = obs.groupBy("source").agg(sum("o").as("cs"))
      val tot = obs.agg(sum("o").as("n"))
      obs.join(broadcast(rowT), "lang").join(broadcast(colT), "source")
        .crossJoin(broadcast(tot))
        .select(col("o"),
          (col("rl").cast("double") * col("cs") / col("n")).as("e"),
          col("n"))
        .agg(round(sum(pow(col("o") - col("e"), lit(2)) / col("e")), 6)
            .as("chi2"),
          count(lit(1)).as("cells"), max("n").as("n_docs"))
    }),

    // grouped heavy hitters: one SpaceSaving sketch PER SOURCE — the
    // composition that matters at 100 TB, where per-group vocabularies
    // are unbounded but the state per group stays ≤ capacity. The only
    // exchanges carry one partial sketch per (source, partition) and the
    // tiny exploded sketch rows into the per-source ranking window.
    // Exact regime at this capacity (≥ per-source vocabulary), so the
    // ranked counts equal true counts and the oracle is plain SQL
    "x27_grouped_hitters" -> ((s, dir) => {
      val hh = udaf(graft.functions.Aggregators.spaceSaving(256),
        org.apache.spark.sql.Encoders.STRING)
      val sk = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source").agg(hh(col("w")).as("sk"))
        .select(col("source"), explode(col("sk.hits")).as("h"))
        .select(col("source"), col("h.item").as("word"),
          col("h.cnt").as("cnt"), col("h.err").as("err"))
      val win = Window.partitionBy("source").orderBy(col("cnt").desc, col("word"))
      sk.withColumn("rank", row_number().over(win).cast("long"))
        .filter(col("rank") <= 5)
        .select("source", "rank", "word", "cnt", "err")
    }),

    // corpus-health report — the dashboard query a curation run is
    // monitored by: per-source (plus rollup total) doc/token counts,
    // exact-duplicate docs, and mean quality. One fingerprint-keyed
    // aggregation + one rollup; dup flags join back on the md5 digest
    "c3_corpus_report" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      // dup flag via an fp-partitioned window — same digest-keyed shuffle
      // as a groupBy + join back, without the ambiguous self-join
      base
        .withColumn("fc", count(lit(1)).over(Window.partitionBy("fp")))
        .withColumn("dup", (col("fc") > 1).cast("long"))
        .rollup("source")
        .agg(count(lit(1)).as("docs"),
          sum("n_toks").as("tokens"),
          sum("dup").as("dup_docs"),
          round(avg("q"), 4).as("mean_quality"))
    }),

    // contiguous global sample ids over a deterministic order — the
    // final indexing step before sharded training reads. zipWithIndex is
    // the documented RDD exception: ids assign per partition with a
    // counts-then-offsets pass over the RANGE-partitioned sort output,
    // so no stage ever collapses to a single partition (a row_number
    // window over the whole corpus would)
    "x24_global_ids" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).orderBy("doc_id")
        .as[Long].rdd.zipWithIndex.toDF("doc_id", "sample_id")
    }),

    // data mixing: resample the multi-source corpus toward target mixture
    // proportions (weight w_s = (source number mod 3) + 1, target 200
    // rows); exact integer-ppm rates so both engines truncate identically
    "x19_source_mixture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Sampling.mixtureSample(docs,
          key = col("doc_id"), source = col("source"),
          weight = substring(col("source"), 4, 8).cast("int") % 3 + 1,
          targetRows = 200)
        .select("doc_id", "source")
    }),

    // context-window chunking: split documents into fixed-token-budget
    // chunks (32 tokens, stride 24 → 8-token overlap) — the step that
    // turns a curated corpus into training sequences. Pure map-side array
    // arithmetic over ONE materialized token column: start offsets are a
    // computed sequence, each chunk a slice; zero shuffles at any scale
    "x18_chunk" -> ((s, dir) => {
      val C = 32
      val S = 24
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val nChunks = when(size(col("t")) <= C, lit(1))
        .otherwise(expr(s"1 + ((size(t) - $C + ${S - 1}) div $S)"))
      d.select(col("doc_id"), col("t"),
          posexplode(transform(sequence(lit(0), nChunks - 1), i => i * S + 1))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          slice(col("t"), col("start"), lit(C)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("fp"))
    }),

    // fuzzy decontamination: MinHash-LSH candidates that CROSS the
    // corpus/benchmark boundary, Jaccard-verified — the paraphrased
    // eval-leakage probe d9's exact n-gram overlap misses. Wider 2-row
    // bands buy cross-set recall; on this corpus the verify stage then
    // (correctly) rejects the surfaced candidate as an LSH false
    // positive — the two-stage contract end-to-end
    "d10_fuzzy_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.fuzzyDecontaminate(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0),
        "doc_id", "text", offset = 1000000L, rowsPerBand = 2)
    }),

    // inter-document repetition: per-doc fraction of distinct 5-gram
    // shingles with corpus doc-frequency ≥ 2 — catches boilerplate pasted
    // across docs that document-level near-dup misses; digest-keyed
    // exchanges only, df≥2 filter prunes the join back
    "d11_span_dup" -> ((s, dir) =>
      DedupOps.spanDupStats(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 5)),

    // exact-substring dedup output (Lee et al. 2022): the MAXIMAL
    // duplicated spans themselves, in token coordinates — what d11's
    // per-doc fraction summarizes, and what a span-cutting dedup pass
    // actually removes
    "d14_dup_spans" -> ((s, dir) =>
      DedupOps.dupSpans(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 8)),

    // containment verify over d2's candidates: inter/min(|A|,|B|) —
    // catches a short doc pasted whole into a long one, which symmetric
    // Jaccard dilutes toward 0 (union dominated by the long doc)
    "d15_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.ngramContainment(docs, "doc_id", "text",
        DedupOps.minhashLsh(docs, "doc_id", "text"))
    }),

    // LSH calibration QA: per candidate pair, the signature-ESTIMATED
    // Jaccard (agreeing-hash fraction) vs the exact distinct-shingle
    // Jaccard — the check that says whether 12 hashes / 4 bands can be
    // trusted before scaling d2's recall claims. Estimation is pure
    // arithmetic on d2's existing signature rows (two doc_id-keyed
    // joins); exact reuses d3's audited verify core
    "d16_minhash_calibration" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sigs = DedupOps.minhashSignatures(docs, "doc_id", "text", 12)
      val pairs = DedupOps.lshCandidatePairs(DedupOps.lshBands(sigs, 12, 3))
      val la = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "a" else s"a_$c"): _*)
      val lb = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "b" else s"b_$c"): _*)
      val agree = (0 until 12)
        .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = pairs.join(la, "a").join(lb, "b")
        .select(col("a"), col("b"),
          round(agree.cast("double") / lit(12.0), 6).as("est_jaccard"))
      est.join(DedupOps.ngramJaccard(docs, "doc_id", "text", pairs), Seq("a", "b"))
        .select(col("a"), col("b"), col("est_jaccard"),
          col("jaccard").as("exact_jaccard"),
          round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
    }),

    // exact-threshold set-similarity join (AllPairs prefix filtering):
    // perfect-recall candidates from rarest-element prefixes, exact
    // shingle-set Jaccard verify, threshold filter — the deterministic
    // complement to d2's MinHash blocking. Full corpus at 3-GRAM
    // granularity: the synthetic 31-word unigram vocabulary is prefix
    // filtering's adversarial worst case (every df huge → candidates
    // degrade toward all-pairs; measured 184 s vs ~9 s at bench scale —
    // see DedupOps.prefixCandidates), while the ~31³ shingle space has
    // the rare-element distribution the algorithm targets.
    // PrefixJoinSpec proves recall ≡ brute force at both granularities
    "d17_prefix_join" -> ((s, dir) =>
      DedupOps.prefixJoin(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.5, shingleN = 3)),

    // incremental-ingest dedup gate: the doc_id % 10 == 0 slice plays
    // the NEW crawl batch, the rest the existing corpus — each new doc
    // routes exact (fingerprint already present) / near (≥ 3 shared
    // distinct 5-gram digests, d9's evidence rule) / new. The batch's
    // digests broadcast; the base corpus streams past them and never
    // shuffles (decontaminate's asymmetry, mirrored)
    "d20_ingest_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.ingestGate(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", shingleN = 5, minShared = 3)
    }),

    // the dedup DECISION: near-dup pairs → clusters → keep exactly the
    // minimum doc id per cluster (cluster_id IS the min reachable id, so
    // survivors are the doc_id == cluster_id rows) — the surviving corpus
    // a training run would actually read
    "d12_dedup_keep" -> ((s, dir) =>
      dedupClusters(s, dir)
        .filter(col("doc_id") === col("cluster_id"))
        .join(Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        .select("doc_id", "source", "n_chars")),

    // d12's keep decision with a QUALITY rule instead of min-id: the
    // longest doc per near-dup cluster survives (n_chars desc, doc_id
    // asc tie) — the policy real curation runs use, since the min-id
    // pick discards the richest copy whenever a truncated dup sorts
    // first. Same shared dedupClusters chain; one cluster-keyed argmax
    "d26_keep_best" -> ((s, dir) =>
      dedupClusters(s, dir)
        .join(Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nd"))).as("b"))
        .select(col("cluster_id"), col("n_members"),
          (-col("b.nd")).as("kept_doc"), col("b.nc").as("kept_chars"))),

    // dedup savings readout: per source, corpus size before vs after the
    // d12 keep decision (docs and chars) and the fractional savings —
    // the number a curation run actually reports. Two source-keyed
    // aggregations on top of the SHARED dedupClusters chain; sums are
    // exact BIGINT so the readout is engine-exact
    "d19_dedup_savings" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val kept = dedupClusters(s, dir)
        .filter(col("doc_id") === col("cluster_id")).select("doc_id")
      val before = docs.groupBy("source").agg(
        count(lit(1)).as("docs_before"), sum("n_chars").as("chars_before"))
      val after = docs.join(kept, "doc_id").groupBy("source").agg(
        count(lit(1)).as("docs_after"), sum("n_chars").as("chars_after"))
      before.join(after, Seq("source"), "left_outer")
        .select(col("source"), col("docs_before"),
          coalesce(col("docs_after"), lit(0L)).as("docs_after"),
          col("chars_before"),
          coalesce(col("chars_after"), lit(0L)).as("chars_after"),
          round(lit(1.0) - coalesce(col("chars_after"), lit(0L)).cast("double")
            / col("chars_before"), 6).as("savings"))
    }),

    // CCNet-style LM quality scoring: per-doc mean log-probability under
    // an add-one-smoothed corpus bigram model — fluent (corpus-typical)
    // text scores high, gibberish low. Shapes: bigram instances explode
    // from ONE materialized token column; the model (bigram + context
    // counts) aggregates with map-side partials; context counts derive
    // from the already-aggregated bigram counts (no second corpus pass);
    // the vocabulary size rides a broadcast scalar; scoring joins are
    // keyed hash joins on (w1, w2) / w1 — AQE splits hot-word skew
    "t8_bigram_logprob" -> ((s, dir) => bigramLogProb(Tables.documents(s, dir))),

    // per-doc unigram-distribution stats: token/type counts, type-token
    // ratio, Shannon entropy (nats) of the word histogram — the lexical-
    // diversity quality signals (templated/spammy text scores low).
    // entropy = ln(n) − Σ c·ln(c) / n: the rearrangement sums one term
    // per DISTINCT word with no per-term division, so the (doc, word)
    // count aggregation is the only data-sized exchange
    "t9_unigram_entropy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"))
        .join(unigramStats(docs), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_tokens"),
          coalesce(col("types"), lit(0L)).as("n_types"),
          round(coalesce(col("types").cast("double") / col("n"), lit(0.0)), 6)
            .as("ttr"),
          round(coalesce(col("e"), lit(0.0)), 6).as("entropy"))
    }),

    // training-mix QA: KL divergence of each source's unigram word
    // distribution from the corpus-wide distribution — how far every
    // source drifts from the mix it contributes to. Word-keyed
    // aggregations with map-side partials; the per-source and corpus
    // totals ride broadcasts (|sources| rows and one scalar)
    "t10_source_kl" -> ((s, dir) => {
      val sw = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cs"))
      val srcTot = sw.groupBy("source").agg(sum("cs").as("ns"))
      val wTot = sw.groupBy("w").agg(sum("cs").as("cw"))
      val tot = wTot.agg(sum("cw").as("n"))
      sw.join(broadcast(srcTot), "source")
        .join(wTot, "w")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("ns"),
          (col("cs").cast("double") / col("ns") *
            (log(col("cs").cast("double") / col("ns")) -
             log(col("cw").cast("double") / col("n")))).as("term"))
        .groupBy(col("source"))
        .agg(first(col("ns")).as("n_tokens"), round(sum("term"), 6).as("kl"))
    }),

    // Jensen-Shannon divergence of each source against the REST of the
    // corpus — t10's KL made symmetric and bounded (≤ ln 2), the
    // standard "how far does this feed drift from everything else"
    // number. The full (source × vocab) frame comes from broadcasting
    // the |sources|-row totals over the term table (one wt shuffle;
    // the left join back to per-source counts is the only other
    // exchange), so the grid is |vocab|·|sources| rows — vocab-linear,
    // never corpus-linear. Zero-count sides contribute only their
    // opposite term (the 0·ln 0 = 0 convention), expressed as CASE on
    // both engines
    "t30_js_divergence" -> ((s, dir) => {
      val sw = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cs"))
      val srcTot = sw.groupBy("source").agg(sum("cs").as("ns"))
      val wTot = sw.groupBy("w").agg(sum("cs").as("cw"))
      val tot = wTot.agg(sum("cw").as("n"))
      val grid = wTot.crossJoin(broadcast(srcTot)).crossJoin(broadcast(tot))
        .join(sw, Seq("source", "w"), "left")
        .select(col("source"), col("ns"),
          coalesce(col("cs"), lit(0L)).as("cs"),
          (col("cw") - coalesce(col("cs"), lit(0L))).as("cr"),
          (col("n") - col("ns")).as("nr"))
      val p = col("cs").cast("double") / col("ns")
      val q = col("cr").cast("double") / col("nr")
      val m = (p + q) / 2
      grid
        .select(col("source"), col("ns"),
          (when(col("cs") > 0, p * (log(p) - log(m))).otherwise(0.0) +
           when(col("cr") > 0, q * (log(q) - log(m))).otherwise(0.0)).as("term"))
        .groupBy("source")
        .agg(first(col("ns")).as("n_tokens"),
          round(sum("term") / 2, 6).as("js"))
    }),

    // retrieval-style term salience: TF-IDF top-3 terms per document —
    // t6's scoring (same tfidfScoredTerms helper, same smoothed IDF)
    // extended from argmax to a ranked list. The per-doc top-k window
    // sorts one document's vocabulary, never the corpus, and ranks by
    // the ROUNDED score (term tie-break) so the engine and the oracle
    // order identically at double precision
    "t11_tfidf_terms" -> ((s, dir) => {
      val win = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tfidfScoredTerms(Tables.documents(s, dir))
        .withColumn("rank", row_number().over(win).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "tfidf")
    }),

    // Okapi BM25 top-20 for a fixed query bag — the retrieval scorer a
    // decontamination audit / hard-negative miner runs over the corpus.
    // Query-term filter is map-side BEFORE the tf shuffle, corpus scalars
    // (N, avgdl) ride a one-row broadcast, and the ranking is a bounded
    // TakeOrderedAndProject — no global sort at any scale
    "t14_bm25" -> ((s, dir) =>
      graft.functions.Retrieval.bm25Rank(Tables.documents(s, dir),
        "doc_id", "text", Seq("hash", "join", "merge"), topN = 20)),

    // Dirichlet query-likelihood LM ranking (Zhai & Lafferty) — the
    // third scorer beside BM25/TF-IDF, same query bag so the three
    // rankings are directly comparable (and fusable by s15's RRF)
    "s17_qlm_rank" -> ((s, dir) =>
      graft.functions.Retrieval.qlmRank(Tables.documents(s, dir),
        "doc_id", "text", Seq("hash", "join", "merge"), topN = 20)),

    // DBSCAN density clustering over the embedding space — arbitrary-
    // shape clusters + an explicit NOISE verdict (what k-means can't
    // say). The ε-graph is decided by EXACT integer squared-L2 over
    // milli-unit quantized vectors (the s19 discipline) so no float
    // distance ever thresholds; clusters are min-id-labeled components
    // of the core-core graph (the d7 CC contract), borders take the min
    // core-neighbor cluster — deterministic where classic DBSCAN is
    // scan-order-dependent. The exact kernel is require-bounded to 10⁵
    // vectors; s22 is the blocked scale path over the same semantics
    "s16_dbscan" -> ((s, dir) =>
      SimilarityOps.dbscan(Tables.embeddings(s, dir), "vec_id", "embedding",
        eps2 = 1250000L, minPts = 4)),

    // DBSCAN's 100 TB path: same density semantics, ε-candidates from a
    // sign-bucket LSH self-join (Σ|bucket|² work, never all-pairs), each
    // candidate verified by the same EXACT integer ε-test — precision
    // exact, recall = the bucket contract (pairs split across buckets
    // are unseen; DbscanSpec pins blocked ≡ exact where the corpus
    // respects the bucket geometry). `bits` is DERIVED from the corpus
    // (smallest b ≥ 4 with 512·2^b ≥ n, integer rule the oracle
    // replays) so bucket occupancy — and Σ|bucket|² — stays flat as the
    // corpus grows; a Σ|bucket|² budget guard refuses saturated buckets
    "s22_dbscan_blocked" -> ((s, dir) =>
      SimilarityOps.dbscanBlocked(Tables.embeddings(s, dir), "vec_id",
        "embedding", eps2 = 1250000L, minPts = 4)),

    // ranking-quality eval: NDCG@1..20 of the BM25 ranking against
    // graded term-overlap relevance — the metric a retrieval change is
    // gated on. Gains rounded BEFORE the rank-ordered cumulative sums
    // (the x65 ordered-window discipline) so engines fold identical
    // values; the ideal side is a bounded TakeOrderedAndProject whose
    // gain sequence is tie-order-independent (equal rel ⇒ equal gain)
    "s21_ndcg" -> ((s, dir) =>
      graft.functions.Retrieval.ndcgCurve(Tables.documents(s, dir),
        "doc_id", "text", Seq("hash", "join", "merge"), topN = 20)),

    // reverse search: standing queries percolated over the corpus —
    // rarest-term anchoring, exact all-terms verify on the anchor's
    // postings only; the oracle is deliberately the brute cross form
    "s18_percolate" -> ((s, dir) =>
      graft.functions.Retrieval.percolate(Tables.documents(s, dir),
        "doc_id", "text", Seq(
          ("q1", Seq("hash", "join")),
          ("q2", Seq("table", "scan")),
          ("q3", Seq("merge", "sort", "fast")),
          ("q4", Seq("hash", "zzzmissing"))))),

    // quantized JL random projection 64 → 16: exact milli-unit BIGINT
    // arithmetic over a formula-derived ±1 matrix, so the projection is
    // engine-exact (the oracle regenerates the matrix from the same
    // md5 parity); the readout digests each projected vector
    "s19_jl_project" -> ((s, dir) =>
      SimilarityOps.jlProject(Tables.embeddings(s, dir),
          "vec_id", "embedding", dim = 64, dimOut = 16)
        .select(col("vec_id"),
          md5(concat_ws(",", expr("transform(proj, v -> cast(v AS string))")))
            .as("proj_digest"),
          expr("aggregate(proj, 0L, (a, v) -> a + v)").as("proj_sum"),
          expr("aggregate(proj, 0L, (a, v) -> a + v * v)").as("proj_norm2"))),

    // text normalization: the canonical form a strict exact-dedup pass
    // fingerprints — casing/whitespace/punctuation variants collapse to
    // one digest. Pure map-side projection, zero shuffles
    "t15_normalize" -> ((s, dir) => {
      val clean = TextAnalysis.asciiClean(TextAnalysis.normalizeWs(col("text")))
      Tables.documents(s, dir).select(col("doc_id"),
        md5(clean).as("norm_digest"),
        length(col("text")).cast("long").as("n_raw"),
        length(clean).cast("long").as("n_clean"))
    }),

    // Zipf rank-frequency fit over the top-1000 vocabulary: OLS slope of
    // ln(count) on ln(rank) — the corpus-health statistic that flags
    // synthetic/templated text (natural corpora sit near slope −1). The
    // vocabulary is budget-bounded by the same TakeOrdered top-k as x22
    // (never a global sort); ranking sorts ≤1000 rows; the OLS is one
    // scalar aggregation over them
    "t16_zipf" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(1000)
      val ranked = counts.withColumn("r",
        row_number().over(Window.orderBy(col("c").desc, col("w").asc)))
      val pts = ranked.select(log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
      val sums = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      sums.select(col("n").as("n_terms"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
    }),

    // PII / identifier scrub — the redaction pass before text ships to
    // training. The line under test is a contact-card shape assembled
    // from customer fields: the name carries a 9-digit id (always
    // masked) while the cents-scaled balance is a 1..7-digit run, so the
    // ≥5-digit rule acts selectively, not as a constant rewrite. A chain
    // of codegen'd regexp_replaces: pure map-side, zero shuffles
    "t17_pii_scrub" -> ((s, dir) => {
      val line = concat_ws(" ", col("c_name"), col("c_mktsegment"),
        abs(floor(col("c_acctbal") * 100)).cast("string"))
      Tables.customer(s, dir).select(col("c_custkey"),
        TextAnalysis.scrubPii(line).as("clean"),
        TextAnalysis.piiHits(line, "[0-9]{5,}").as("n_ids"))
    }),

    // compressibility quality signal — model-free redundancy gate
    // (template spam repeats itself; organic text doesn't). The driver
    // readout is the engine-portable LZ-style statistic: distinct
    // 4-gram count vs total sliding 4-gram count (the window-dictionary
    // size DEFLATE's LZ77 stage would build, so it orders documents the
    // same way the exact zlib ratio does). Emitted as exact integers —
    // a ratio would invite cross-engine float-rounding forks at tie
    // digits. The exact zlib DEFLATE ratio remains available as
    // expressions.DeflateRatio (codegen'd, SQL-registered via
    // GraftExtensions, spec-asserted against java.util.zip semantics).
    // Map-only: per-row array ops, zero exchanges
    "t19_compress_ratio" -> ((s, dir) => {
      val n = greatest(length(col("text")) - 3, lit(0))
      val grams = transform(sequence(lit(1), n),
        i => col("text").substr(i, lit(4)))
      Tables.documents(s, dir).select(col("doc_id"),
        n.cast("long").as("n_grams"),
        when(n === 0, lit(0L))
          .otherwise(size(array_distinct(grams)).cast("long"))
          .as("n_distinct"))
    }),

    // sharded inverted index: (term, shard) → posting CSV. Sharding by
    // hash(doc_id) bounds every output row by df/shards — a stop-word's
    // postings never concentrate in one row/executor at 100 TB
    "x29_inverted_index" -> ((s, dir) =>
      graft.functions.Retrieval.invertedIndex(Tables.documents(s, dir),
        "doc_id", "text", shards = 4)),

    // batch sessionization (gap > 300 s) — the batch replay twin of w3's
    // streaming session windows, as gaps-and-islands window functions.
    // ONE exchange total: the window's hash(user_id) partitioning also
    // satisfies the (user_id, session_idx) groupBy's clustering (subset
    // rule), so the session aggregate reuses the window's shuffle+sort
    // per-brand 2-D skyline (Pareto frontier, minimize price AND size):
    // a part survives iff no same-brand part is ≤ on both axes and < on
    // one. NOT all-pairs: rows collapse to a distinct-(brand, price)
    // min-size spine first (one keyed aggregation, output bounded by
    // distinct prices), the strict-cheaper prefix min is a lag-window
    // over that spine partitioned by brand (parallel across brands),
    // and survivors come from ONE keyed join back. The oracle is the
    // independent O(n²) NOT EXISTS dominance definition, so the
    // window rewrite is verified against the textbook semantics
    "x44_pareto" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
      val spine = parts.groupBy("p_brand", "p_retailprice")
        .agg(min("p_size").as("msz"))
      val w = Window.partitionBy("p_brand").orderBy("p_retailprice")
      val withPrev = spine.withColumn("prev_min",
        min("msz").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      parts.join(withPrev, Seq("p_brand", "p_retailprice"))
        .filter(col("p_size") === col("msz") &&
          (col("prev_min").isNull || col("prev_min") > col("p_size")))
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
    }),

    // staged conversion funnel: first view → first click STRICTLY after
    // it → first purchase strictly after that, per user; output = users
    // surviving each stage + conversion vs the previous stage. Each
    // stage is ONE user-keyed aggregation over a type-filtered slice
    // (filter pushed to the scan); the stage-to-stage joins are keyed on
    // user_id and the left side shrinks monotonically, so AQE broadcasts
    // the survivor sets as the funnel narrows. The 3-row stage summary
    // window is constant-size by construction
    "x43_funnel" -> ((s, dir) => {
      val e = ev(s, dir).select("user_id", "event_type", "ts_sec")
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_sec").as("t0"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_sec") > col("t0"))
        .groupBy("user_id").agg(min("ts_sec").as("t1"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_sec") > col("t1"))
        .groupBy("user_id").agg(min("ts_sec").as("t2"))
      val stages = v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users")).select(lit("2_click").as("stage"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users")).select(lit("3_purchase").as("stage"), col("n_users")))
      stages.withColumn("conv_prev",
        coalesce(round(col("n_users").cast("double") /
          lag("n_users", 1).over(Window.orderBy("stage")), 6), lit(1.0)))
    }),

    "x31_sessionize" -> ((s, dir) =>
      sessionized(s, dir)
        .groupBy("user_id", "session_idx").agg(
          count(lit(1)).as("n_events"),
          min("ts_sec").as("start_sec"),
          max("ts_sec").as("end_sec"),
          round(sum("value"), 2).as("total"))),

    // top within-session event-type paths: the session-keyed event list
    // ordered inside ONE row (array_sort of (ts, id, type) structs — the
    // s7 pattern; no second window pass), concatenated and counted. The
    // n ≥ 2 floor prunes the singleton-path tail before output. Shares
    // the x31 sessionizer — one gap definition, no drift
    "x55_session_paths" -> ((s, dir) =>
      sessionized(s, dir)
        .groupBy("user_id", "session_idx")
        .agg(array_sort(collect_list(
          struct(col("ts_sec"), col("event_id"), col("event_type")))).as("evs"))
        .select(concat_ws(">",
          transform(col("evs"), e => e.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= 2)),

    // rolling z-score anomaly monitor: each event scored against the
    // mean/std of its 20 PRECEDING same-type events (frame excludes the
    // current row — the monitored value must not shift its own
    // baseline). Variance from explicit (Σv, Σv²) frame sums (the x48
    // closed form), rounded at 6 BEFORE the sqrt/divide so the
    // cross-engine frame-sum ulp cannot leak into the anomaly set; z
    // rounded at 4, |z| > 3 flags. One type-partitioned ordered window
    // — type cardinality bounds partitions, never a global sort
    "x53_rolling_zscore" -> ((s, dir) => {
      val f = Window.partitionBy("event_type")
        .orderBy(col("ts_sec").asc, col("event_id").asc)
        .rowsBetween(-20, -1)
      ev(s, dir).select(col("event_type"), col("event_id"), col("ts_sec"), col("value"))
        .withColumn("n", count(lit(1)).over(f))
        .withColumn("sv", sum("value").over(f))
        .withColumn("sv2", sum(col("value") * col("value")).over(f))
        .filter(col("n") === 20)
        .withColumn("mean", col("sv") / 20)
        .withColumn("varr", round(col("sv2") / 20 - pow(col("mean"), 2), 6))
        .filter(col("varr") > 0)
        .withColumn("z", round((col("value") - col("mean")) / sqrt(col("varr")), 4))
        .filter(abs(col("z")) > 3)
        .select("event_type", "event_id", "ts_sec", "value", "z")
    }),

    // the x53 anomaly feed at TIME-BUCKETED parallelism — the SCALE.md
    // x53 caveat (window parallelism = type cardinality) solved by the
    // overlap-carry rewrite: biweekly buckets each carry their
    // predecessor's last 20 rows, every frame completes inside its own
    // (type, bucket) partition, and the output is bit-identical to the
    // single-window form (same oracle SQL as x53 — the full-timeline
    // semantics — proves it cross-engine)
    "x89_zscore_bucketed" -> ((s, dir) =>
      graft.functions.TimeSeries.rollingZScoreBucketed(
          ev(s, dir), "event_type", "ts_sec", "event_id", "value",
          bucketSec = 1209600L)
        .select(col("g").as("event_type"), col("id").as("event_id"),
          col("ts").as("ts_sec"), col("v").as("value"), col("z"))),

    // first-order Markov transition matrix of user behavior: per-user
    // event streams → (from, to) adjacent-type pairs (one lead() over
    // the user-ordered window) → global counts and per-from-state
    // probabilities. The |types|²-row transition table is the
    // behavioral fingerprint drift monitors diff against x52-style
    "x54_markov_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_sec").asc, col("event_id").asc)
      val pairs = ev(s, dir)
        .select(col("user_id"), col("ts_sec"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
      pairs.groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_type")), 6))
    }),

    // autocorrelation of each event type's hourly volume at lags 1–3 —
    // the seasonality probe run before picking a forecast model or an
    // anomaly baseline (x53's window length, x47's grid). Exact
    // milli-unit arithmetic + scale notes in TimeSeries.bucketAcf;
    // spec-pinned to known physics on synthetic periodic series
    "x56_acf" -> ((s, dir) =>
      graft.functions.TimeSeries.bucketAcf(
        ev(s, dir).select(col("event_type"), col("ts_sec"), col("value")),
        "event_type", "ts_sec", "value")),

    // Holt linear-trend smoothing of each event type's daily volume —
    // the level/trend readout behind x85's seasonal-naive residuals and
    // x83's value trend, as a genuinely SEQUENTIAL recursion: exact
    // centi-unit daily sums feed a per-group aggregate() fold (state =
    // (level, trend), array length = days, not events), and the DuckDB
    // twin replays the identical IEEE trajectory via a recursive CTE
    "x87_holt_linear" -> ((s, dir) =>
      graft.functions.TimeSeries.holtLinear(
        ev(s, dir), "event_type", "ts", "value")),

    // last-touch attribution: each purchase's value is credited to the
    // most recent PRECEDING non-purchase event by the same user within
    // a 7-day lookback — the classic marketing-attribution readout.
    // One user-partitioned ordered window carries the candidate source
    // forward (last(…, ignoreNulls) over an unbounded-to-−1 frame, so a
    // purchase can never attribute to itself or a later event); value
    // moves to integer micro-units before the channel sum (exact BIGINT
    // adds, the g2 discipline). No joins at all: window + one ≤|types|-
    // row aggregation
    // deterministic Poisson bootstrap: error bars for a 100 TB mean
    // without ever resampling data — each (row, replicate) draws a
    // Poisson(1) resample WEIGHT from the portable 60-bit hash compared
    // against 7 hard-coded integer CDF thresholds (floor(CDF·2^60); the
    // standard streaming-bootstrap construction), so all 32 replicate
    // means ride ONE (group, replicate)-grain aggregation of exact
    // BIGINT sums; the CI is order statistics 2 and 31 of the sorted
    // replicate means — no percentile interpolation to fork engines
    "x96_bootstrap_ci" -> ((s, dir) => {
      val th = Seq(424136118829305344L, 848272237658610688L,
        1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
        1152236456152946176L, 1152825534095764608L)
      val reps = evW(s, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 1e6, 0).cast("long").as("micro"))
        .withColumn("rep", explode(sequence(lit(0), lit(31))))
        // one md5 yields TWO independent 60-bit draws (hex chars 1-15
        // and 17-31), halving the dominant per-row digest cost: rep 2j
        // and 2j+1 share the digest of block j
        .withColumn("u", expr(
          "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':', " +
            "CAST(rep DIV 2 AS STRING))), CAST(1 + 16 * (rep % 2) AS INT), " +
            "15), 16, 10) AS BIGINT)"))
        .withColumn("w",
          th.map(t => when(col("u") >= t, 1L).otherwise(0L)).reduce(_ + _))
        .groupBy("event_type", "rep")
        .agg(sum(col("w") * col("micro")).as("swm"), sum("w").as("sw"))
        .filter(col("sw") > 0)
        .withColumn("m", round(col("swm") / col("sw"), 4))
      reps.groupBy("event_type").agg(
        count(lit(1)).as("n_reps"),
        element_at(sort_array(collect_list(col("m"))), 2)
          .as("lo_mean_micro"),
        element_at(sort_array(collect_list(col("m"))), 31)
          .as("hi_mean_micro"))
    }),

    // time-decay multi-touch attribution — the other standard credit
    // model next to x57's last-touch: every touch inside a conversion's
    // 30-day lookback earns weight 2^(30 − Δdays), halving per day of
    // age. Weights are exact BIGINT powers of two and the only float op
    // is ONE rounded division per (conversion, touch) pair, so the
    // per-channel micro-credit totals are engine-exact; the pair join is
    // per-user (bounded by a user's events), never cross-user
    // U-shaped (position-based) multi-touch attribution — the third
    // standard model beside x57's last-touch and x95's time-decay:
    // first and last touch take 4000 basis points each, the middles
    // split 2000 exactly (integer division, remainder to the EARLIEST
    // middles — the x68 exact-split discipline, so every conversion's
    // credits sum to precisely 10000). One conversion-keyed window
    // orders the touches; channel totals are exact integer bps
    "x123_ushape_attribution" -> ((s, dir) => {
      val e = ev(s, dir)
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("cu"), col("event_id").as("conv_id"),
          col("ts_sec").as("cts"))
      val touch = e.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("tu"), col("event_type").as("channel"),
          col("ts_sec").as("tts"), col("event_id").as("tid"))
      val w = Window.partitionBy("conv_id")
      val ordered = conv.join(touch, col("cu") === col("tu") &&
          col("tts") <= col("cts") &&
          col("cts") - col("tts") < lit(30L * 86400))
        .withColumn("idx", row_number().over(
          w.orderBy(col("tts").asc, col("tid").asc)))
        .withColumn("n", count(lit(1)).over(w))
      ordered
        .withColumn("bps",
          when(col("n") === 1, 10000L)
            .when(col("n") === 2, 5000L)
            .when(col("idx") === 1 || col("idx") === col("n"), 4000L)
            .otherwise(expr("2000 div (n - 2)") +
              when(col("idx") - 2 < expr("2000 % (n - 2)"), 1L).otherwise(0L)))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"), sum("bps").as("total_bps"))
    }),

    // CUPED variance reduction (Deng et al. 2013) — the experiment
    // readout after x122's SRM gate: adjust each user's post-period
    // metric by θ·(pre-period − mean) with θ = cov(X,Y)/var(X), which
    // strips pre-existing user variance out of the arm comparison.
    // θ's numerator and denominator are EXACT decimal sums
    // (n·Σxy − ΣxΣy over n·Σx² − (Σx)²) — one division; the per-arm
    // CUPED means are closed-form over exact per-arm sums. One
    // user-keyed aggregation of the fact table, then arm-count rows
    "x124_cuped" -> ((s, dir) => {
      val base = 1704067200L
      val cut = base + 10 * 86400
      val per = ev(s, dir)
        .select(col("user_id"),
          when(col("ts_sec") < cut, round(col("value") * 1e6).cast("long"))
            .otherwise(0L).as("xv"),
          when(col("ts_sec") >= cut, round(col("value") * 1e6).cast("long"))
            .otherwise(0L).as("yv"))
        .groupBy("user_id")
        .agg(sum("xv").as("x"), sum("yv").as("y"))
        .withColumn("arm",
          when(Sampling.hashBucket(
            concat(col("user_id").cast("string"), lit(":ab")), 2) === 0, "A")
            .otherwise("B"))
      val g = per.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      val theta = g.select(col("n"), col("sx"),
        ((col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
          (col("n").cast("decimal(38,0)") * col("sxx") -
            col("sx").cast("decimal(38,0)") * col("sx")).cast("double"))
          .as("theta"))
      per.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum("x").as("ax"), sum("y").as("ay"))
        .crossJoin(broadcast(theta))
        .select(col("arm"), col("n_users"),
          round(col("ay").cast("double") / col("n_users") / 1e6, 6)
            .as("mean_raw"),
          round((col("ay").cast("double") / col("n_users") -
            col("theta") * (col("ax").cast("double") / col("n_users") -
              col("sx").cast("double") / col("n"))) / 1e6, 6).as("mean_cuped"),
          round(col("theta"), 6).as("theta"))
    }),

    "x95_decay_attribution" -> ((s, dir) => {
      val e = ev(s, dir)
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("cu"), col("event_id").as("conv_id"),
          col("ts_sec").as("cts"))
      val touch = e.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("tu"), col("event_type").as("channel"),
          col("ts_sec").as("tts"))
      conv.join(touch, col("cu") === col("tu") &&
          col("tts") <= col("cts") &&
          col("cts") - col("tts") < lit(30L * 86400))
        .withColumn("w",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - ((cts - tts) div 86400) AS INT))"))
        .withColumn("sw", sum("w").over(Window.partitionBy("conv_id")))
        .withColumn("credit_micro",
          round(col("w") * lit(1000000L) / col("sw"), 0).cast("long"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"),
          sum("credit_micro").as("total_credit_micro"))
    }),

    "x57_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_sec").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val nonPurchase = col("event_type") =!= "purchase"
      ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          col("event_type"), col("value"))
        .withColumn("channel",
          last(when(nonPurchase, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("src_ts",
          last(when(nonPurchase, col("ts_sec")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("src_ts").isNotNull &&
          col("ts_sec") - col("src_ts") <= 604800L)
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 10000).cast("long")).as("attributed_micros"))
    }),

    // RAKE keyword phrases, top-3 per doc — the document-local degree
    // heuristic next to t18's global centrality and t11's corpus
    // tf-idf; algorithm + scale notes in Retrieval.rake
    "t22_rake" -> ((s, dir) =>
      graft.functions.Retrieval.rake(Tables.documents(s, dir), topK = 3)),

    // 5-gram novelty: the fraction of a doc's distinct 5-gram shingles
    // that occur in NO other document — the self-information signal
    // boilerplate/template detection thresholds on (novel ≈ 1 is fresh
    // prose; novel ≈ 0 is assembled from corpus-common fragments). The
    // d9 decontamination shingle definition (one definition, no drift);
    // one (shingle → doc-count) aggregation + a shingle-keyed join back
    // — d14's digest-keyed shape, never all-pairs
    "t23_ngram_novelty" -> ((s, dir) => {
      val sh = DedupOps.shingleRows(Tables.documents(s, dir),
          "doc_id", "text", shingleN = 5)
        .distinct()
      val cnt = sh.groupBy("sh").agg(count(lit(1)).as("docs"))
      sh.join(cnt, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("docs") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double") /
            col("n_shingles").cast("double"), 6).as("novelty"))
    }),

    // Gopher rule-based quality gate (Rae et al. 2021 §A.1.1; public
    // literature) — the standard rule pre-filter an LLM curation pipeline
    // runs BEFORE model-based scoring (c5's classifier gate): word count
    // in [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    // < 0.1 ('#' and '...'), ≥ 80% of words contain a letter, ≥ 2
    // distinct stopwords present. Every signal is a map-side column
    // expression over the shared tokenizer — zero shuffles, one corpus
    // scan at any scale, and each rule is emitted alongside the verdict
    // so rejected docs are auditable (which rule fired)
    "t25_gopher_rules" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("t", TextAnalysis.tokens(col("text")))
      d.select(col("doc_id"),
          size(col("t")).cast("long").as("n_words"),
          TextAnalysis.avgTokenLen(col("t")).as("mean_word_len"),
          TextAnalysis.hashRatio(col("text"), col("t")).as("hash_ratio"),
          TextAnalysis.ellipsisRatio(col("text"), col("t")).as("ellipsis_ratio"),
          TextAnalysis.alphaWordFrac(col("t")).as("alpha_frac"),
          TextAnalysis.stopwordKinds(col("t")).as("stop_kinds"))
        .withColumn("pass",
          col("n_words").between(50L, 100000L) &&
            col("mean_word_len").between(3.0, 10.0) &&
            // §A.1.1 thresholds each symbol's ratio separately
            col("hash_ratio") < 0.1 &&
            col("ellipsis_ratio") < 0.1 &&
            col("alpha_frac") > 0.8 &&
            col("stop_kinds") >= 2L)
    }),

    // behavioral entropy per user: Shannon entropy of the event-type
    // distribution (t9's exact ln(n) − Σc·ln(c)/n closed form — one
    // definition, no drift) + concentration (top-type share) — the two
    // behavioral features churn/bot models start from (bots are
    // low-entropy, engaged users high). Two keyed aggregations, the
    // second over ≤ |types| rows per user
    "x59_behavior_entropy" -> ((s, dir) => {
      val c = ev(s, dir).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
      c.groupBy("user_id").agg(
        sum("c").as("n_events"),
        count(lit(1)).as("n_types"),
        round(log(sum("c").cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum("c"), 6).as("entropy"),
        round(max("c").cast("double") / sum("c"), 6).as("top_share"))
    }),

    // lifetime value by activation cohort: users grouped by their FIRST
    // active week (x45's cohort key), credited with all their purchase
    // value ever — the LTV readout next to x45's retention triangle.
    // Purchase value moves to micro-units before the sums (exact BIGINT
    // adds); one user-keyed left join of two user-level aggregates
    "x60_cohort_ltv" -> ((s, dir) => {
      val firstWeek = ev(s, dir)
        .groupBy("user_id")
        .agg(expr("min(ts_sec div 604800)").as("cohort_week"))
      val purchases = ev(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("np"),
          sum(round(col("value") * 10000).cast("long")).as("micros"))
      firstWeek.join(purchases, Seq("user_id"), "left_outer")
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("np"), lit(0L))).as("n_purchases"),
          sum(coalesce(col("micros"), lit(0L))).as("ltv_micros"))
    }),

    // distributed BPE merge learning (Sennrich 2016) — tokenizer
    // TRAINING as a pipeline stage: 4 rounds of most-frequent adjacent
    // symbol-pair fusion over the corpus word distribution. The corpus
    // is scanned exactly once (the a2-shaped word-frequency agg); every
    // round after that runs on the cached VOCABULARY table, so the loop
    // cost is independent of corpus row count, and driver state is one
    // (pair, count) row per round. The oracle replays the identical
    // trajectory through unrolled CTEs (the s7 kmeans discipline)
    "x68_bpe_merges" -> ((s, dir) =>
      graft.functions.Bpe.learnMerges(Tables.documents(s, dir), "text", rounds = 4)),

    // tokenizer APPLICATION: encode the corpus with the x68-learned
    // merge table — per-doc word and subword counts (the fertility
    // readout that decides whether a vocab is worth shipping). The
    // merge table is 4 driver rows (bounded by the round budget);
    // encoding itself is a pure map-side regexp_replace chain, so the
    // corpus is touched once with zero extra shuffles beyond the
    // per-doc count agg. Oracle replays learning via x68's unrolled
    // CTEs and applies the same left-to-right fuse contract per word
    "x74_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.functions.Bpe.learnMerges(docs, "text", rounds = 4)
        .orderBy("step").select("lhs", "rhs")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.functions.Bpe.encode(docs, "text", merges)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("subwords"))).cast("long").as("n_subwords"))
    }),

    // per-source document cap (RefinedWeb's host-level cap, Penedo et
    // al. 2023 §3.3: no single origin may dominate the corpus): keep
    // each source's top-10 documents by quality score (ties broken by
    // doc_id so the cut is deterministic). ONE exchange — the window's
    // hash(source) partitioning is the only shuffle, survivors are a
    // filter over the ranked rows. At 100 TB the per-source rank is the
    // same row_number window as x5; a pathologically hot source skews
    // ONE partition, which AQE's skew split (or pre-aggregating to a
    // per-source top-K heap via the x2 TakeOrdered shape) absorbs
    "x69_source_cap" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id").asc)
      d.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
    }),

    // temperature-scaled mixture weights (the multilingual-LM sampling
    // rule, Lample & Conneau 2019 §3.1: p_s ∝ n_s^α with α = 0.5 —
    // upsamples the tail, downsamples the head): per-source weight,
    // expected docs for a 1000-doc budget, and the implied epochs over
    // each source (budget share / source size — >1 means the source
    // repeats). Micro-unit discipline: weights are exact integer
    // parts-per-million of sqrt(count) over the summed sqrt, so both
    // engines truncate identically and the shares sum to ≤ 1e6. The
    // fact table is touched once (one count-by-source agg); everything
    // downstream is |sources| rows wide at any scale
    "x70_temperature_mix" -> ((s, dir) => {
      val c = Tables.documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n"))
      // sqrt(n) in micro-units, floored — exact for n ≤ 4e12
      val sq = c.select(col("source"), col("n"),
        floor(sqrt(col("n").cast("double")) * lit(1000000.0)).cast("long").as("sq"))
      val tot = sq.agg(sum("sq").as("tsq"))
      sq.crossJoin(broadcast(tot))
        // `div`, not `/`: integer division on both engines (Spark's `/`
        // on longs is double division and would fork on truncation)
        .select(col("source"), col("n"),
          expr("sq * 1000000 div tsq").as("w_ppm"))
        .withColumn("expect_docs", expr("w_ppm * 1000 div 1000000"))
        .withColumn("epochs",
          round(col("expect_docs").cast("double") / col("n"), 6))
    }),

    // deterministic epoch sharding: the global training-order shuffle
    // realized the scalable way — shard = hash(doc, epoch) mod 8 and a
    // total order WITHIN the shard by a second independent hash, so an
    // epoch's order is reproducible from (seed, doc_id) alone, no
    // global sort ever runs (the only exchange is the shard-partitioned
    // window; at cluster scale each shard is one writer task, and the
    // epoch salt reshuffles membership AND order every epoch)
    // community detection over the co-purchase graph: deterministic
    // synchronous label propagation (Raghavan 2007; fixed 3-round
    // budget, most-frequent-neighbor label, min-label ties) on g5's
    // basket-bounded co≥3 edge set — product communities from purchase
    // behavior. Each round is one node-keyed join + two aggs (the
    // pageRank iteration shape); the oracle replays the identical
    // trajectory through unrolled CTEs (the x68 discipline)
    "g6_lpa_communities" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) replaces the
      // distinct + self-join pair generator — same pairs, 2 fewer
      // exchanges and no SMJ below the LPA loop.
      val co = basketPairs(orderBaskets(s, dir))
        .filter(col("co") >= 3)
      graft.functions.GraphOps.labelPropagation(co.select("a", "b"), rounds = 3)
        .select(col("node").as("part"), col("label").as("community"))
    }),

    // Newman modularity of the g6 LPA partition over the SAME
    // co-purchase graph — "was that community structure real" as one
    // number plus per-community shares. Exact-integer formulation:
    // Q = (4m·Σe_c − Σd_c²) / 4m², so the global score is ONE division
    // over exact sums (no float-order fork however many communities);
    // per-community contributions divide the same way. Labels join the
    // edge list twice (both endpoints) and the degree table once —
    // all node-keyed equi joins
    // degree distribution + continuous power-law MLE over the (≥2)
    // co-purchase graph: α̂ = 1 + n / Σ ln(dᵢ/d_min) (Clauset-Shalizi-
    // Newman 2009, eq. 3.1) with d_min = 1 — is this a scale-free
    // co-demand structure or a random one. Degrees are exact integer
    // counts; the ln sum is the only float op, computed from the
    // DEGREE HISTOGRAM (c·ln d per distinct degree — dimension-sized,
    // and float-order-safe because each distinct degree contributes
    // ONE product)
    "g12_degree_alpha" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) replaces the
      // distinct + self-join pair generator — same pairs.
      val co = basketPairs(orderBaskets(s, dir))
        .filter(col("co") >= 2).select("a", "b")
        // snapshot (r17): both union branches of the degree table
        // reference co — lazily left, the executed plan re-ran the
        // basket self-join per branch (5 lineitem scans)
        .localCheckpoint(false)
      val deg = co.select(col("a").as("node"))
        .unionByName(co.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val hist = deg.groupBy("d").agg(count(lit(1)).as("c"))
      hist.agg(sum("c").as("n_nodes"), max("d").as("max_degree"),
          sum(col("c").cast("double") * log(col("d").cast("double")))
            .as("slnd"))
        .select(col("n_nodes"), col("max_degree"),
          round(lit(1.0) +
            col("n_nodes").cast("double") / nullif(col("slnd"), lit(0.0)), 4)
            .as("alpha"))
    }),

    // weakly connected components of the (≥2) co-purchase graph — the
    // graph-family face of the d7 machinery (same library operator,
    // same min-reachable-id labels): which parts trade together AT ALL,
    // before LPA asks how they cluster. Nodes = edge-touched parts
    "g11_components" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) — same pairs, fewer
      // exchanges below the snapshot.
      val co = basketPairs(orderBaskets(s, dir))
        .filter(col("co") >= 2).select("a", "b")
        .localCheckpoint(false)
      val nodes = co.select(col("a").as("part"))
        .unionByName(co.select(col("b").as("part"))).distinct()
      graft.functions.DedupOps.connectedComponents(nodes, co)
        .select(col("part"), col("cluster_id").as("component_id"))
    }),

    "g10_modularity" -> ((s, dir) => {
      // the co-occurrence pair table feeds LPA, the degree table and
      // BOTH endpoint joins — snapshot it once (the d7 contract), and
      // snapshot the 3-round LPA chain too: labels join three branches
      // and would otherwise execute the whole iteration per branch.
      // r17: basket-array kernel (orderBaskets) below the snapshot.
      val co = basketPairs(orderBaskets(s, dir))
        .filter(col("co") >= 3).select("a", "b")
        .localCheckpoint(false)
      val lab = graft.functions.GraphOps
        .labelPropagation(co, rounds = 3).select("node", "label")
        .localCheckpoint(false)
      val sym = co.unionByName(co.select(col("b").as("a"), col("a").as("b")))
      val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      val cstat = deg.join(lab, "node")
        .groupBy("label").agg(count(lit(1)).as("n_nodes"),
          sum("deg").as("d_c"))
      val ein = co
        .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
        .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_c"))
      val m = co.agg(count(lit(1)).as("m"))
      val rows = cstat.join(ein, Seq("label"), "left")
        .select(col("label").as("community"), col("n_nodes"), col("d_c"),
          coalesce(col("e_c"), lit(0L)).as("e_c"))
        .crossJoin(broadcast(m))
      val tot = rows.agg(sum("e_c").as("se"),
        sum(col("d_c").cast("decimal(38,0)") * col("d_c")).as("sd2"),
        first("m").as("m"))
        .select(round((lit(4).cast("decimal(38,0)") * col("m") * col("se") -
            col("sd2")).cast("double") /
          (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
          .as("modularity"))
      rows
        .select(col("community"), col("n_nodes"), col("e_c").as("internal_edges"),
          col("d_c").as("degree_sum"),
          round((lit(4).cast("decimal(38,0)") * col("m") * col("e_c") -
              col("d_c").cast("decimal(38,0)") * col("d_c")).cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
            .as("contribution"))
        .crossJoin(broadcast(tot))
    }),

    // split-leakage audit: near-duplicate pairs (the d3 LSH + exact
    // Jaccard chain, d7's 0.4 threshold) whose members landed in
    // DIFFERENT train/val/test splits under the x10 hash-split rule —
    // the train/test contamination a random split silently creates when
    // the corpus has near-dups (exact-dup leakage is the degenerate
    // case; the near-dup form is what actually bites). Costs one
    // |pairs|-row join pass over the already-audited dedup chain
    "x72_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = graft.functions.DedupOps.ngramJaccard(docs, "doc_id", "text",
          graft.functions.DedupOps.minhashLsh(docs, "doc_id", "text"))
        .filter(col("jaccard") >= 0.4)
      val splits = docs.select(col("doc_id"),
        Sampling.split(col("doc_id")).as("split"))
      pairs
        .join(splits.select(col("doc_id").as("a"), col("split").as("split_a")), "a")
        .join(splits.select(col("doc_id").as("b"), col("split").as("split_b")), "b")
        .filter(col("split_a") =!= col("split_b"))
        .select("a", "b", "jaccard", "split_a", "split_b")
    }),

    // token-budget curation: the best documents (quality desc, doc_id
    // tie-break) until a 6k-token budget is spent — the "fill the
    // training budget with the best data first" cut. NOT a global sort:
    // quality is round-4 so the level table is ≤ 10^4 rows — the only
    // unpartitioned window runs there (the x33 discipline); docs join
    // their level's running base via broadcast and the per-doc
    // cumulative window partitions by quality level. Equal to the naive
    // global ORDER BY (quality DESC, doc_id) prefix by construction
    "x73_token_budget" -> ((s, dir) => {
      val budget = 6000L
      // r17 measured no-go: sharing the scored projection via a doc_id
      // fanout exchange regressed 1.5× for the same reason as x33 (the
      // join-side inferred isnotnull(quality) forks the exchange copies;
      // the fanout no-ops at scale). Left on two passes.
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val lvl = d.groupBy("quality").agg(sum("n_tokens").as("lt"))
      val lvlBase = lvl
        .withColumn("lcum", sum("lt").over(Window.orderBy(col("quality").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("quality"), (col("lcum") - col("lt")).as("lprev"))
      d.join(broadcast(lvlBase), "quality")
        .withColumn("cum_tokens", col("lprev") +
          sum("n_tokens").over(Window.partitionBy("quality").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum_tokens") <= budget)
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
    }),

    "x71_epoch_shards" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("shard",
          Sampling.hashBucket(concat(col("doc_id").cast("string"), lit(":e1")), 8)
            .cast("int"))
        .withColumn("ord",
          Sampling.hashBucket(concat(col("doc_id").cast("string"), lit(":o1")), 1000000))
      d.withColumn("pos", row_number()
          .over(Window.partitionBy("shard")
            .orderBy(col("ord").asc, col("doc_id").asc)).cast("long"))
        .select("doc_id", "shard", "pos")
    }),

    // equi-depth (frequency-balanced) 10-bin histogram per event type:
    // NTILE over the (value, event_id) total order, then per-bin
    // boundaries/counts — the feature-binning table a training pipeline
    // derives before bucketizing a skewed numeric column (equal-width
    // x52 bins starve the tail; equi-depth adapts). One type-partitioned
    // window + one ≤ |types|·10-row aggregation
    "x58_equidepth_bins" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").asc, col("event_id").asc)
      ev(s, dir).select(col("event_type"), col("event_id"), col("value"))
        .withColumn("bin", ntile(10).over(w))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 4).as("lo"),
          round(max("value"), 4).as("hi"))
    }),

    // x58's equi-depth histogram through Ranks.rangeParallelNtile — the
    // third instance of the per-group-window caveat, now one LIBRARY
    // operator (x90 shares it): coarse floor(value) bins split the
    // rank, SQL ntile falls out in closed form. Same oracle as x58
    "x91_equidepth_parallel" -> ((s, dir) =>
      graft.functions.Ranks.rangeParallelNtile(
          ev(s, dir).select(col("event_type"), col("event_id"), col("value")),
          "event_type", "value", "event_id", 10,
          floor(col("value")).cast("long"))
        .groupBy(col("event_type"), col("ntile").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min("value"), 4).as("lo"),
          round(max("value"), 4).as("hi"))),

    // rendezvous (HRW) sharding stability readout: docs per shard at
    // n=8, plus how many of each shard's docs MOVE when a 9th shard
    // joins — rendezvous placement moves only the rows the new shard
    // wins (≈ 1/9), where hash-mod placement would move 8/9 of the
    // corpus. Pure projection (per-row md5 candidates + argmax, the
    // portable cross-engine hash) into one shard-grain aggregate
    "x92_hrw_shards" -> ((s, dir) =>
      Tables.documents(s, dir).select("doc_id")
        .select(col("doc_id"),
          graft.functions.Sharding.hrwShard(col("doc_id"), 8).as("shard"),
          graft.functions.Sharding.hrwShard(col("doc_id"), 9).as("shard9"))
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("shard9") =!= col("shard"), 1L).otherwise(0L))
            .as("moved"))),

    // trailing-hour rolling totals per user as a RANGE (time-interval)
    // window frame — the frame is defined by ts_sec VALUES, not row
    // counts, so same-second peers all join the frame and the result is
    // tie-order-independent (a ROWS frame with ties would not be
    // oracle-safe); values accumulate as exact micro-unit BIGINTs
    "x94_rolling_range" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_sec")
        .rangeBetween(-3600, 0)
      ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          round(col("value") * 1e6, 0).cast("long").as("micro"))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("cnt_1h"),
          sum("micro").over(w).as("sum_micro_1h"))
    }),

    // the OTHER movement-minimal placement: consistent-hash ring with 4
    // virtual nodes per shard — same growth readout as x92 (insertion
    // reroutes only the keys the new shard's vnodes capture), rougher
    // balance at small vnode counts (the documented trade); the ring
    // broadcasts, the successor lookup is one linearized min aggregate
    "x93_ring_shards" -> ((s, dir) =>
      graft.functions.Sharding.ringGrowth(
          Tables.documents(s, dir).select("doc_id"), "doc_id", 8, 4)
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("shard_next") =!= col("shard"), 1L).otherwise(0L))
            .as("moved"))),

    // hapax legomena per doc: the fraction of a document's distinct
    // words used exactly once — templated/spammy text reuses its
    // vocabulary (low hapax), natural prose keeps minting new words.
    // Consumes the SHARED unigramStats aggregation (t9/c4's (doc, word)
    // exchange — one definition, no drift) + the doc spine join for
    // token-less docs
    "t21_hapax" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select("doc_id").join(unigramStats(docs), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_tokens"),
          coalesce(col("types"), lit(0L)).as("n_types"),
          coalesce(col("hapax"), lit(0L)).as("n_hapax"),
          round(coalesce(col("hapax"), lit(0L)).cast("double") /
            greatest(coalesce(col("types"), lit(0L)), lit(1L)).cast("double"),
            6).as("hapax_frac"))
    }),

    // population stability index per event type: value distribution
    // drift between the reference window (x50's history half, the
    // shared refCutoffSec) and the current one, over 10 fixed-width
    // bins with +0.5 smoothing — the standard go/no-go feature-drift
    // monitor. TRUE single pass: one (type, bin) aggregation with
    // conditional half counts reads the events once; totals ride a
    // window over the ≤ |types|·10-row histogram (t12's no-join
    // pattern) and absent bins fold in closed form — never a spine
    // join or a second fact scan
    "x52_psi_drift" -> ((s, dir) => {
      val hist = ev(s, dir)
        .select(col("event_type"),
          least(greatest(floor(col("value") / 20).cast("long"), lit(0L)),
            lit(9L)).as("bin"),
          (col("ts_sec") < refCutoffSec).as("ref"))
        .groupBy("event_type", "bin").agg(
          sum(when(col("ref"), 1L).otherwise(0L)).as("rc"),
          sum(when(!col("ref"), 1L).otherwise(0L)).as("cc"))
      val w = Window.partitionBy("event_type")
      val p = (col("rc") + lit(0.5)) / (col("rt") + lit(5.0))
      val q = (col("cc") + lit(0.5)) / (col("ct") + lit(5.0))
      val p0 = lit(0.5) / (max("rt") + lit(5.0))
      val q0 = lit(0.5) / (max("ct") + lit(5.0))
      hist
        .withColumn("rt", sum("rc").over(w))
        .withColumn("ct", sum("cc").over(w))
        .withColumn("nb", count(lit(1)).over(w))
        .select(col("event_type"), col("nb"), col("rt"), col("ct"),
          ((p - q) * log(p / q)).as("term"))
        .groupBy("event_type")
        .agg(round(
          sum(col("term")) +
            (lit(10L) - max("nb")).cast("double") * ((p0 - q0) * log(p0 / q0)),
          6).as("psi"))
    }),

    // char-weighted median quality per source: the threshold-tuning
    // readout should weight documents by their SIZE (a 1M-char doc
    // matters 1000× a 1k-char one), which plain percentile can't say.
    // Same histogram trick as t12: rows collapse to a (source, rounded
    // score) weight histogram — the only data-sized exchange — and the
    // cumulative window reads the type-1 weighted median off the tiny
    // histogram; raw rows never sort
    "x51_weighted_median" -> ((s, dir) => {
      val hist = Tables.documents(s, dir)
        // qualityScore is already rounded to 4 places by its shared
        // definition — no re-round, same digits t2/x33 consume
        .select(col("source"), col("n_chars"),
          TextAnalysis.qualityScore(col("text")).as("qv"))
        .groupBy("source", "qv").agg(sum("n_chars").as("w"))
      val cum = hist
        .withColumn("cw", sum("w").over(
          Window.partitionBy("source").orderBy("qv")))
        .withColumn("tw", sum("w").over(Window.partitionBy("source")))
      cum.filter(col("cw") * 2 >= col("tw"))
        .groupBy("source").agg(min("qv").as("weighted_median_q"))
    }),

    // incremental aggregate maintenance — the 100 TB ETL pattern: keep
    // the historical per-user aggregate, fold in ONLY the delta's
    // partial aggregate (algebraic merge: counts/sums add, min/max
    // combine, mean derives from merged sums), never rescan history.
    // The ORACLE recomputes everything from scratch, so merged ≡ full
    // recompute is the checked contract, not an assumption
    "x50_incremental_agg" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("value"), col("ts_sec"))
      def part(df: DataFrame) = df.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum("value").as("sv"),
        min("value").as("mn"), max("value").as("mx"))
      val base = part(e.filter(col("ts_sec") < refCutoffSec))
      val delta = part(e.filter(col("ts_sec") >= refCutoffSec))
      base.unionByName(delta)
        .groupBy("user_id").agg(
          sum("n").as("n"), sum("sv").as("sv"),
          min("mn").as("mn"), max("mx").as("mx"))
        .select(col("user_id"), col("n"),
          round(col("sv"), 4).as("total"),
          // mean derives from the ROUNDED total: the raw two-phase sum
          // differs from the oracle's single-pass sum by an ulp, which
          // round-6 can surface; the rounded totals are bit-identical
          // across engines, so everything derived from them is too
          round(round(col("sv"), 4) / col("n"), 6).as("mean"),
          round(col("mn"), 4).as("vmin"), round(col("mx"), 4).as("vmax"))
    }),

    // conversion latency: x43's staged funnel carried to the converting
    // users' end-to-end time (first view → the strictly-ordered first
    // purchase), summarized as count/mean/p50/p90. Same narrowing
    // user-keyed stage joins as x43; the latency distribution is
    // |converted users| rows into one exact-percentile aggregate (the
    // t5 percentile ≡ quantile_cont bridge)
    "x49_conversion_latency" -> ((s, dir) => {
      val e = ev(s, dir).select("user_id", "event_type", "ts_sec")
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_sec").as("t0"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_sec") > col("t0"))
        .groupBy("user_id").agg(min("ts_sec").as("t1"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_sec") > col("t1"))
        .groupBy("user_id").agg(min("ts_sec").as("t2"))
      p.join(v, "user_id").select((col("t2") - col("t0")).as("sec"))
        .agg(count(lit(1)).as("n_converted"),
          round(avg("sec"), 4).as("mean_sec"),
          round(expr("percentile(sec, 0.5)"), 4).as("p50_sec"),
          round(expr("percentile(sec, 0.9)"), 4).as("p90_sec"))
    }),

    // deterministic A/B readout: users hash-split 50/50 (the unit of
    // randomization is the USER, so one user's events never straddle
    // arms — x10's md5 bridge with a dedicated ':ab' salt), then per
    // event_type the arm means, relative lift, and Welch z from explicit
    // (n, Σv, Σv²) sums (the t16 convention: both engines evaluate the
    // same closed form). One (type, arm) aggregation over the events —
    // 10-row downstream algebra, broadcast joins
    "x48_ab_lift" -> ((s, dir) => {
      val armed = ev(s, dir).select(col("event_type"), col("value"),
        when(Sampling.hashBucket(
          concat(col("user_id").cast("string"), lit(":ab")), 2) === 0, "A")
          .otherwise("B").as("arm"))
      graft.functions.AbTest.lift(armed, "event_type", "value", "arm")
    }),

    // Wilson score interval per event type (Wilson 1927; the
    // small-sample-safe confidence bound product analytics ranks by —
    // a 3/3 success rate must NOT outrank 95/100): conversion =
    // value > 100, z = 1.96. ONE aggregation pass over the fact table
    // (count + conditional sum partials); the interval algebra runs on
    // |types| rows. Both engines evaluate the identical double
    // expression tree, rounded at 6
    "x75_wilson" -> ((s, dir) => {
      val z = 1.959964
      val agg = ev(s, dir).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(when(col("value") > 100, 1L).otherwise(0L)).as("pos"))
      val nn = col("n").cast("double")
      val p = col("pos").cast("double") / nn
      val z2 = lit(z * z)
      val denom = lit(1.0) + z2 / nn
      val center = p + z2 / (lit(2.0) * nn)
      val margin = lit(z) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nn)) / nn)
      agg.select(col("event_type"), col("n"), col("pos"),
        round(p, 6).as("rate"),
        round((center - margin) / denom, 6).as("wilson_lo"),
        round((center + margin) / denom, 6).as("wilson_hi"))
    }),

    // CCNet-style perplexity bucketing (Wenzek 2020): head/middle/tail
    // tertiles of cross-entropy under the corpus's own unigram LM,
    // bucketed per source (CCNet buckets per language) — the public
    // "keep the head" curation gate, with the engine-exact unigram LM
    // standing in for CCNet's KenLM
    "t26_ppl_bucket" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Selection.perplexityBuckets(
          docs, col("text"), col("doc_id"), col("source"))
        .select(col("doc_id"), col("grp").as("source"),
          col("n_tokens"), col("xent"), col("bucket"))
    }),

    // t26's CCNet tertiles at RANGE-PARALLEL rank — the per-group ntile
    // window caveat solved the distributed-ranking way: monotone coarse
    // xent bins + a dimension-sized offset table make the exact global
    // rank a (group, bin)-parallel row_number plus an offset, and SQL
    // ntile's uneven-bucket rule is a closed form of (rank, n). Same
    // oracle as t26 — the rewrite must reproduce it row for row
    "x90_ppl_parallel" -> ((s, dir) =>
      graft.functions.Selection.perplexityBucketsParallel(
          Tables.documents(s, dir), col("text"), col("doc_id"), col("source"))
        .select(col("doc_id"), col("grp").as("source"),
          col("n_tokens"), col("xent"), col("bucket"))),

    // word burstiness (Church & Gale 1995): corpus frequency over
    // document frequency — bursty words concentrate in few docs
    // (topical terms), flat words spread (function words); one
    // (doc, word) exchange + a word-keyed re-agg
    "t27_burstiness" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("w").agg(sum("c").as("cf"), count(lit(1)).as("df"))
        .filter(col("cf") >= 5)
        .select(col("w"), col("cf"), col("df"),
          round(col("cf").cast("double") / col("df"), 6).as("burstiness"))
    }),

    // winnowing sketches (Schleimer 2003 / MOSS): per-doc selected-hash
    // identity — one corpus scan, zero shuffles; the w+k−1 match
    // guarantee is spec-pinned with planted shared runs
    "t28_winnow" -> ((s, dir) =>
      graft.functions.DedupOps.winnowFingerprints(
        Tables.documents(s, dir), "doc_id", "text", k = 3, w = 4)),

    // near-dup pairs from the winnow sketches: MOSS's matching stage.
    // Rare-fingerprint blocking (2 ≤ df ≤ 16) drops stop-fingerprints
    // BEFORE pair generation — the d21 set-explosion shape, so a hub
    // fingerprint can never emit more than 16·15/2 pairs — then pairs
    // sharing ≥ 5 selected fingerprints survive
    "d22_winnow_pairs" -> ((s, dir) => winnowPairs(s, dir)),

    // the winnow pairs closed into clusters: the SHARED pair rule
    // (winnowPairs here, winnowPairSql in the oracle) + the d7 CC
    // machinery, restricted to pair members so singletons stay out.
    // The pair list is SNAPSHOTTED once: CC's budget probe and its
    // component loop are separate ACTIONS, so exchange reuse cannot
    // span them and a plan-shaped pair input would recompute the whole
    // winnow chain per action (measured 2×; the labelPropagation
    // snapshot contract — the pair list is candidate-sized, not corpus-
    // sized, so the resident blocks are small)
    "d23_winnow_clusters" -> ((s, dir) => {
      val pairs = winnowPairs(s, dir).select("a", "b").localCheckpoint(false)
      val members = pairs.select(col("a").as("doc_id"))
        .unionAll(pairs.select(col("b").as("doc_id"))).distinct()
      graft.functions.DedupOps.connectedComponents(members, pairs)
    }),

    // LSH parameter planner: the closed-form S-curve table that picks
    // (bands, rows) BEFORE any corpus pass — candidate probability at
    // the target Jaccard (recall), below it (the verify stage's
    // false-candidate bill), above it (margin), and the curve midpoint;
    // |divisors(120)| rows of driver-scale math, zero corpus I/O.
    // Explicit threshold literals so both engines evaluate identical
    // doubles
    "d24_lsh_planner" -> ((s, dir) =>
      graft.functions.DedupOps.lshPlan(s, numHashes = 120,
        t = 0.8, tBelow = 0.6, tAbove = 0.9)),

    // weighted shortest paths from the hub: 4 Bellman-Ford relaxation
    // rounds over integer edge costs 10⁶ div w (rare co-occurrence =
    // costly hop), vs the oracle's unrolled-CTE replay of the same
    // recurrence — g7's BFS with costs instead of hop counts
    // HyperBall over the word graph: per-node 2-hop ball-size estimates
    // in |V|·16 register rows — neighborhood sets are never
    // materialized; two edges⋈registers max-merges, then the x39
    // estimate closed form. Deterministic end to end, so the oracle is
    // the same two rounds unrolled in SQL
    "g9_hyperball" -> ((s, dir) =>
      graft.functions.GraphOps.hyperBall(
        graft.functions.GraphOps.bigramEdges(Tables.documents(s, dir)),
        rounds = 2, b = 4, outCol = "est_ball2")),

    "g8_sssp" -> ((s, dir) => {
      // ew feeds the cost edges AND the hub seed (r17: snapshot once so
      // the corpus tokenize runs once, not per reference — d7 contract)
      val ew = graft.functions.GraphOps.bigramEdges(Tables.documents(s, dir))
        .localCheckpoint(false)
      val ec = ew.select(col("a"), col("b"),
        expr("1000000L div cast(w as long)").as("cost"))
      val hub = ew.groupBy("a").agg(sum("w").as("wd"))
        .orderBy(col("wd").desc, col("a")).limit(1)
        .select(col("a").as("node"))
      graft.functions.GraphOps.ssspCosts(ec, hub, rounds = 4)
    }),

    // hop distance from the word graph's weighted-degree hub: iterative
    // frontier BFS (per-round checkpoints, node-keyed joins only) vs
    // the oracle's recursive CTE
    "g7_bfs_hops" -> ((s, dir) => {
      // same snapshot-once rationale as g8 (ew → edges AND hub seed)
      val ew = graft.functions.GraphOps.bigramEdges(Tables.documents(s, dir))
        .localCheckpoint(false)
      val hub = ew.groupBy("a").agg(sum("w").as("wd"))
        .orderBy(col("wd").desc, col("a")).limit(1)
        .select(col("a").as("node"))
      graft.functions.GraphOps.bfsDepths(ew.select("a", "b"), hub, maxDepth = 4)
    }),

    // DSIR importance weighting (Xie 2023): hashed unigram+bigram
    // bucket models over the corpus md5 hash, target = src0/src1;
    // each raw doc scores Σ c_b·ln(p_target/p_raw), and selected =
    // more target-like than the raw average (logw > 0) — the
    // deterministic variant of the paper's resampling rule
    "x76_dsir" -> ((s, dir) => {
      val docs = docsW(s, dir)
      graft.functions.Selection.dsirLogWeights(docs, col("text"),
          col("doc_id"), col("source").isin("src0", "src1"), buckets = 512)
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 6).as("logw"),
          (round(col("logw"), 6) > 0).as("selected"))
    }),

    // cross-source contamination matrix: distinct 5-gram shingles shared
    // between every source pair — the d9 shingle definition (whole-doc
    // fallback for short docs). ONE shingle-keyed exchange: each
    // shingle's ≤ |sources| source set is aggregated in place and the
    // ordered pairs explode map-side into a |sources|²-row aggregate
    // (the self-join formulation would exchange the distinct set twice
    // and equi-join on 32-char hash keys)
    "d21_source_overlap" -> ((s, dir) => {
      val docs = docsW(s, dir)
      val sh = docs
        .select(col("source"), TextAnalysis.tokens(col("text")).as("__t"))
        .select(col("source"),
          explode(graft.functions.DedupOps.shingles(col("__t"), 5)).as("sh"))
        .select(col("source"), md5(col("sh")).as("shh"))
      sh.groupBy("shh").agg(sort_array(collect_set("source")).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(expr(
          "flatten(transform(ss, (x, i) -> " +
            "transform(slice(ss, i + 2, size(ss)), " +
            "y -> struct(x AS source_a, y AS source_b))))")).as("p"))
        .groupBy("p.source_a", "p.source_b").agg(count(lit(1)).as("shared"))
    }),

    // d21's overlap matrix on SKETCHES — the 100 TB path: per-source
    // 5-gram HLLs (m registers per source however big the feed),
    // union by register max, intersection by inclusion-exclusion.
    // Pairwise work is |sources|²·m rows, never corpus-sized
    "d25_hll_overlap" -> ((s, dir) => {
      val sh = docsW(s, dir)
        .select(col("source"), TextAnalysis.tokens(col("text")).as("__t"))
        .select(col("source"),
          explode(graft.functions.DedupOps.shingles(col("__t"), 5)).as("sh"))
        .select(col("source"), md5(col("sh")).as("shh"))
      graft.functions.Sketches.hllOverlap(sh, "source", "shh", b = 10)
    }),

    // Zipf's-law fit per source: least-squares slope of ln(freq) on
    // ln(rank) over the top-100 words (count desc, word) — natural text
    // sits near −1; the per-source window is the x58 partitioned shape
    "x77_zipf_slope" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val wc = docs
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val ranked = wc.withColumn("r", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("w"))))
        .filter(col("r") <= 100)
        .select(col("source"), log(col("r").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
      ranked.groupBy("source").agg(
          count(lit(1)).as("n_terms"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("source"), col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"))
    }),

    // language drift per source: KL(p_source ‖ p_corpus) over word
    // unigrams — the mixture diagnostic behind domain reweighting
    "x78_source_kl" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Selection.classKlFromCorpus(docs, col("text"), col("source"))
        .select(col("cls").as("source"), col("n_tokens"),
          round(col("kl"), 6).as("kl"))
    }),

    // naive-Bayes source attribution: every doc scored against every
    // source's Laplace unigram model, argmax by the LPA min-struct rule
    // — the separability / leakage probe (correct = own source wins)
    "x79_nb_source_attr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Selection.naiveBayesAttribution(
          docs, col("text"), col("doc_id"), col("source"))
        .select(col("doc_id"), col("cls").as("source"), col("predicted"),
          round(col("score"), 6).as("score"),
          (col("predicted") === col("cls")).as("correct"))
    }),

    // pairwise correlation matrix of the per-day activity series: the
    // metric-dependency probe. Pearson over the days BOTH types are
    // active (inner day join), written as the explicit five-sum closed
    // form so both engines evaluate the identical expression tree
    "x86_type_corr" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(count(lit(1)).cast("double").as("c"))
      val l = daily.select(col("event_type").as("ta"), col("day"), col("c").as("x"))
      val r = daily.select(col("event_type").as("tb"), col("day"), col("c").as("y"))
      l.join(r, "day").filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("ta"), col("tb"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr"))
    }),

    // Heaps'-law fit (V = k·N^β): vocabulary growth across sources —
    // one (source, word) exchange to per-source (N, V) points, then the
    // x77 closed-form regression of ln V on ln N; β ≈ 0.4–0.6 for
    // natural text, ~0 when sources share one capped vocabulary
    "t29_heaps_fit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sv = docs
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source").agg(
          count(lit(1)).as("nn"), countDistinct("w").as("vv"))
        .select(log(col("nn").cast("double")).as("x"),
          log(col("vv").cast("double")).as("y"))
      sv.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n").as("n_sources"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("beta"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n"), 6).as("ln_k"))
    }),

    // seasonal-naive monitoring: today's per-type daily total against
    // the same weekday last week (a day-keyed self JOIN on day−7, not
    // lag(7) — row-offset lags silently misalign across gap days);
    // residual null when no baseline exists
    "x85_seasonal_residual" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum("value").as("v"))
      val base = daily.select(col("event_type"),
        (col("day") + 7).as("day"), col("v").as("v_base"))
      daily.join(base, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          round(col("v"), 6).as("v"),
          round(col("v_base"), 6).as("v_base"),
          round(col("v") - col("v_base"), 6).as("residual"))
    }),

    // latency-SLO style percentile report: exact interpolated
    // p50/p90/p99 per event type — percentile buffers per GROUP
    // (bounded by group size, the t5/x34 contract), never per corpus
    "x81_percentile_slo" -> ((s, dir) =>
      ev(s, dir).groupBy("event_type").agg(
          count(lit(1)).as("n"),
          expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("p"))
        .select(col("event_type"), col("n"),
          round(col("p")(0), 6).as("p50"),
          round(col("p")(1), 6).as("p90"),
          round(col("p")(2), 6).as("p99"))),

    // order-independent table fingerprint: XOR of per-row md5-60-bit
    // digests over the exactly-formattable columns — the snapshot
    // equality probe two pipeline stages compare without moving rows
    // (xor is commutative, associative, overflow-free; doubles are
    // deliberately excluded: cross-engine float FORMATTING forks)
    "x82_table_checksum" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val rowh = Sampling.rawHash(concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus")))
      li.select(col("l_returnflag"), rowh.as("h"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
    }),

    // per-metric trend: OLS slope of value on event time (seconds) —
    // the x77 closed-form regression over each type's full series
    "x83_value_trend" -> ((s, dir) =>
      ev(s, dir).select(col("event_type"),
          col("ts_sec").cast("double").as("x"), col("value").as("y"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 9)
            .as("slope_per_sec"))),

    // mutual information between event type and the value>100 outcome:
    // I = Σ p_ij·ln(p_ij/(p_i·p_j)) from one contingency aggregation —
    // the dependence probe behind feature-selection filters
    "x84_type_value_mi" -> ((s, dir) => {
      val cell = ev(s, dir)
        .select(col("event_type"), (col("value") > 100).as("pos"))
        .groupBy("event_type", "pos").agg(count(lit(1)).as("c"))
      val rowm = cell.groupBy("event_type").agg(sum("c").as("ci"))
      val colm = cell.groupBy("pos").agg(sum("c").as("cj"))
      val tot = cell.agg(sum("c").cast("double").as("tt"))
      cell.join(broadcast(rowm), "event_type").join(broadcast(colm), "pos")
        .crossJoin(broadcast(tot))
        .select((col("c") / col("tt") *
          log((col("c") * col("tt")) / (col("ci").cast("double") * col("cj"))))
          .as("term"))
        .agg(round(sum("term"), 9).as("mi"))
    }),

    // zero-filled weekly series: (event_type × every week in range),
    // including silent weeks — the gap-filled shape monitoring needs
    // (a missing week must read 0, not vanish). The data-sized work is
    // ONE (type, week) count: bounds AND the type set both derive from
    // that |types × weeks|-row result (never a second fact scan; the
    // three `counts` references canonicalize to one subtree, so exchange
    // reuse computes the aggregation once), and the dense spine rides a
    // broadcast 1-row bounds agg + explode
    "x47_time_grid" -> ((s, dir) => {
      val counts = ev(s, dir)
        .select(col("event_type"), expr("ts_sec div 604800").as("week"))
        .groupBy("event_type", "week").agg(count(lit(1)).as("n"))
      val bounds = counts.agg(min("week").as("w0"), max("week").as("w1"))
      val grid = counts.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("w0"), col("w1"))).as("week"))
      grid.join(counts, Seq("event_type", "week"), "left_outer")
        .select(col("event_type"), col("week"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // weekly retention cohorts: users bucketed by first-active week,
    // counted once per (cohort, weeks-since-cohort) cell — the
    // activation/retention triangle. ONE data-sized exchange: the
    // explicit hash(user_id) repartition satisfies BOTH the
    // (user, week) dedup aggregate (clustering on a key subset is
    // clustering) and the per-user min window, so neither re-shuffles;
    // the final cell aggregate moves only |users × active weeks| rows
    // relational DIVISION — the algebra operator SQL forgot: customers
    // whose orders span EVERY priority class, with the divisor a
    // RELATION (distinct priorities), not a literal count. The general
    // double-anti-join form: candidates × divisor minus supplied =
    // missing pairs; candidates minus missing = the quotient. Divisor
    // broadcasts (|D| rows), so the pair frame is |D|·|candidates| —
    // divisor-linear, and the count-equality shortcut is NOT used
    // because it breaks the moment the divisor carries duplicates or
    // runtime-derived membership
    "j37_division" -> ((s, dir) => {
      val sup = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority")).distinct()
      val divisor = sup.select("o_orderpriority").distinct()
      val cand = sup.select("o_custkey").distinct()
      val missing = cand.crossJoin(broadcast(divisor))
        .join(sup, Seq("o_custkey", "o_orderpriority"), "left_anti")
      cand.join(missing.select("o_custkey").distinct(),
          Seq("o_custkey"), "left_anti")
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_custkey").as("custkey"), col("c_nationkey"))
    }),

    // fulfilment SLA: order-to-ship latency percentiles per order
    // priority — does URGENT actually ship faster. Latency is an exact
    // integer day count; percentiles run per-priority over the
    // |priorities|-bounded groups (the x81 percentile discipline);
    // one orderkey join is the only data-sized exchange
    "x129_ship_sla" -> ((s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lat"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(expr("percentile(lat, 0.5)"), 4).as("p50_days"),
          round(expr("percentile(lat, 0.9)"), 4).as("p90_days"),
          max("lat").as("max_days"))),

    // trending detector: parts whose demand SHARE jumped between two
    // halves of 1997 — the period-over-period screen behind every
    // "what's hot" readout. Add-one-smoothed share ratio
    // (cH2+1)·nH1 / ((cH1+1)·nH2): numerator and denominator exact
    // integer products, ONE double division for the sort key, ties to
    // the smaller part. One conditional aggregation pass builds both
    // periods; the ≥10-unit floor prunes before ranking
    "x128_trending_parts" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_partkey"),
          round(col("l_quantity") * 100).cast("long").as("q"),
          (col("l_shipdate") >= to_timestamp(lit("1997-07-01"))).as("h2"))
      val per = l.groupBy("l_partkey").agg(
        sum(when(col("h2"), 0L).otherwise(col("q"))).as("q1"),
        sum(when(col("h2"), col("q")).otherwise(0L)).as("q2"))
      val tot = per.agg(sum("q1").as("n1"), sum("q2").as("n2"))
      per.filter(col("q2") >= 1000L)
        .crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("q1"), col("q2"),
          round((col("q2") + 1L).cast("double") * col("n1").cast("double") /
            ((col("q1") + 1L).cast("double") * col("n2").cast("double")), 6)
            .as("share_ratio"))
        .orderBy(col("share_ratio").desc, col("l_partkey").asc)
        .limit(15)
    }),

    // 2-D SKYLINE of the parts market: cheapest-to-buy vs most-demanded
    // — parts no other part strictly beats on BOTH axes (min unit price
    // ↓, shipped quantity ↑). The classic sort-scan rewrite: order by
    // (price asc, demand desc, part asc) and keep rows whose demand
    // strictly exceeds every PRECEDING row's (running max over the
    // sorted frame) — O(n log n), no pairwise domination join; exact
    // integer axes. Equal-(price, demand) ties keep the smallest part
    // id (strict-skyline convention, stated here because both engines
    // must share it)
    "x130_skyline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val axes = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity") * 100, 0)
            .cast("long")).as("price_cents"),
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("demand"))
      val w = Window.orderBy(col("price_cents").asc, col("demand").desc,
          col("l_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      axes.withColumn("prevmax", max("demand").over(w))
        .filter(col("prevmax").isNull || col("demand") > col("prevmax"))
        .select("l_partkey", "price_cents", "demand")
    }),

    // new-vs-returning split per week — the x45 triangle's other
    // readout: how much of each week's audience is seeing the product
    // for the first time. Shares one user-keyed exchange with the
    // cohort computation; exact counts, one division
    "x131_new_returning" -> ((s, dir) => {
      val uw = ev(s, dir)
        .select(col("user_id"), expr("ts_sec div 604800").as("week"))
        .repartition(col("user_id"))
        .dropDuplicates("user_id", "week")
      uw.withColumn("cohort_week",
          min("week").over(Window.partitionBy("user_id")))
        .groupBy("week")
        .agg(sum(when(col("week") === col("cohort_week"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("week") === col("cohort_week"), 0L).otherwise(1L))
            .as("n_returning"))
        .select(col("week"), col("n_new"), col("n_returning"),
          round(col("n_new").cast("double") /
            (col("n_new") + col("n_returning")).cast("double"), 6)
            .as("new_share"))
    }),

    // DAU/WAU stickiness per week — the product-health ratio: how much
    // of the weekly audience shows up on an average day. Two distinct-
    // user aggregations share the user-keyed exchange family; the
    // readout divides exact integer sums once per week row
    "x127_stickiness" -> ((s, dir) => {
      val ud = ev(s, dir)
        .select(col("user_id"), expr("ts_sec div 86400").as("day"),
          expr("ts_sec div 604800").as("week"))
        .distinct()
      val dau = ud.groupBy("week", "day")
        .agg(countDistinct("user_id").as("dau"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_days"), sum("dau").as("sum_dau"))
      val wau = ud.groupBy("week").agg(countDistinct("user_id").as("wau"))
      dau.join(wau, "week")
        .select(col("week"), col("n_days"), col("wau"),
          round(col("sum_dau").cast("double") / col("n_days"), 4).as("avg_dau"),
          round(col("sum_dau").cast("double") /
            (col("n_days") * col("wau")).cast("double"), 6).as("stickiness"))
    }),

    // per-entry-type session quality — bounce rate and dwell: which
    // entry event starts sessions that die immediately. Rides the
    // SHARED x31 sessionizer (one hash(user) exchange), collapses each
    // session to one row (entry type via min-struct argmin, n events,
    // exact dwell seconds), then a |types|-row readout; bounce =
    // single-event session
    "x126_bounce" -> ((s, dir) => {
      val sess = sessionized(s, dir)
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          (max("ts_sec") - min("ts_sec")).as("dwell_sec"),
          min(struct(col("ts_sec"), col("event_id"), col("event_type")))
            .getField("event_type").as("entry_type"))
      sess.groupBy("entry_type")
        .agg(count(lit(1)).as("n_sessions"),
          round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("bounce_rate"),
          round(sum("dwell_sec").cast("double") / count(lit(1)), 4)
            .as("mean_dwell_sec"))
    }),

    // exponential retention-decay fit over the pooled x45 triangle:
    // ln(retention at offset k) regressed on k (offsets ≥ 1, the x83
    // five-sum closed form) → decay rate and half-life — the one-number
    // compression of the whole cohort triangle. Retention rates are
    // exact integer ratios; the regression runs on ≤|offsets| rows
    "x125_retention_fit" -> ((s, dir) => {
      val uw = ev(s, dir)
        .select(col("user_id"), expr("ts_sec div 604800").as("week"))
        .repartition(col("user_id"))
        .dropDuplicates("user_id", "week")
      val cohorted = uw.withColumn("cohort_week",
        min("week").over(Window.partitionBy("user_id")))
      val base = cohorted.filter(col("week") === col("cohort_week"))
        .agg(count(lit(1)).as("n0"))
      val offs = cohorted
        .groupBy((col("week") - col("cohort_week")).as("k"))
        .agg(count(lit(1)).as("active"))
        .filter(col("k") >= 1)
        .crossJoin(broadcast(base))
        .select(col("k").cast("double").as("k"),
          log(col("active").cast("double") / col("n0").cast("double")).as("lr"))
      // a one-offset (or empty) triangle has no slope: nullif keeps the
      // degenerate readout NULL, never a divide-by-zero
      offs.agg(count(lit(1)).as("n_offsets"),
          sum("k").as("sk"), sum("lr").as("sl"),
          sum(col("k") * col("lr")).as("skl"), sum(col("k") * col("k")).as("skk"))
        .select(col("n_offsets"),
          round((col("n_offsets") * col("skl") - col("sk") * col("sl")) /
            nullif(col("n_offsets") * col("skk") - col("sk") * col("sk"),
              lit(0.0)), 6).as("decay_rate"),
          round((col("sl") - ((col("n_offsets") * col("skl") -
              col("sk") * col("sl")) /
            nullif(col("n_offsets") * col("skk") - col("sk") * col("sk"),
              lit(0.0))) *
            col("sk")) / nullif(col("n_offsets").cast("double"), lit(0.0)), 6)
            .as("intercept"),
          round(-log(lit(2.0)) /
            nullif((col("n_offsets") * col("skl") - col("sk") * col("sl")) /
              nullif(col("n_offsets") * col("skk") - col("sk") * col("sk"),
                lit(0.0)), lit(0.0)), 4)
            .as("half_life_weeks"))
    }),

    "x45_retention_cohorts" -> ((s, dir) => {
      val uw = ev(s, dir)
        .select(col("user_id"), expr("ts_sec div 604800").as("week"))
        .repartition(col("user_id"))
        .dropDuplicates("user_id", "week")
      uw.withColumn("cohort_week",
          min("week").over(Window.partitionBy("user_id")))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Flesch reading-ease quality signal with deterministic proxies:
    // syllables = vowel-group ([aeiouy]+) count, sentences = [.!?]+ run
    // count clamped to ≥1 (the synthetic corpus has no punctuation, so
    // it exercises the single-sentence degenerate path; ReadabilitySpec
    // covers punctuated text). Pure map-side — three regexp counters +
    // the shared tokenizer per row, zero shuffles at any scale
    "t20_readability" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"),
        greatest(size(TextAnalysis.tokens(col("text"))), lit(1)).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long").as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("n_syllables"))
      base.select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * col("n_words").cast("double") / col("n_sentences")
          - lit(84.6) * col("n_syllables").cast("double") / col("n_words"), 4).as("flesch"))
    }),

    // exact length quantiles per source WITHOUT sorting the data: the
    // rows collapse to a (source, n_chars) histogram first — the only
    // data-sized exchange, output bounded by distinct lengths — then a
    // cumulative window over that tiny histogram reads off the type-1
    // (lower) quantile. At 100 TB the raw rows never shuffle; an exact
    // per-group percentile over raw values would buffer whole groups
    "t12_length_quantiles" -> ((s, dir) => {
      val hist = Tables.documents(s, dir)
        .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
      // both the running count and the per-source total come out of the
      // SAME windowed pass over the histogram (unbounded frame for the
      // total) — no second aggregation of hist, no join
      val cum = hist
        .withColumn("cum", sum("c").over(
          Window.partitionBy("source").orderBy("n_chars")))
        .withColumn("n", sum("c").over(Window.partitionBy("source")))
      cum.select(col("source"), col("n_chars"), col("cum"), col("n"),
          explode(array(Seq(0.25, 0.5, 0.75, 0.9).map(lit): _*)).as("q"))
        .filter(col("cum") >= ceil(col("n") * col("q")))
        .groupBy("source", "q").agg(min("n_chars").as("value"))
    }),

    // flagship composition #2: the round-6 operators chained into one
    // curation pipeline — repetition gate (t7 signal) ∧ decontamination
    // (d9, broadcast probe) ∧ LM-fluency gate (t8 model over the same
    // corpus) → weighted source mixing (x19) to a 100-row target
    "c2_curation_v2" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 41 =!= 0)
      val bench = docs.filter(col("doc_id") % 41 === 0)
      val rep = corpus
        .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("__t"))
        .filter(TextAnalysis.dupTokenFrac(col("__t")) <= 0.6)
        .select("doc_id", "source")
      val clean = DedupOps.decontaminate(corpus, bench, "doc_id", "text", shingleN = 5)
        .filter(!col("contaminated")).select("doc_id")
      val fluent = bigramLogProb(corpus)
        .filter(col("avg_logp") >= -3.42).select("doc_id")
      // snapshot (r17): mixtureSample reads its input twice (count pass +
      // filter pass); lazily left, each pass re-ran all three curation
      // branches (tokenize + decontaminate + bigram fluency — the
      // executed plan held 34 corpus scans). The snapshot is the kept
      // (doc_id, source) id list — survivor-sized, the d7 contract.
      val kept = rep.join(clean, "doc_id").join(fluent, "doc_id")
        .localCheckpoint(false)
      graft.functions.Sampling.mixtureSample(kept,
          key = col("doc_id"), source = col("source"),
          weight = substring(col("source"), 4, 8).cast("int") % 3 + 1,
          targetRows = 100)
        .select("doc_id", "source")
    }),

    // ---- round-8 batch 2: entity resolution + customer analytics ------

    // fuzzy entity resolution over the part-name dictionary: distinct
    // names (with multiplicity) blocked on their first token, verified
    // with the codegen'd UNRESTRICTED Damerau-Levenshtein ≤ 3 (the
    // custom expression Spark lacks; DuckDB's damerau_levenshtein is
    // the same full variant — fuzz-verified). Dictionary-first is the
    // 100 TB shape: the corpus is touched once (distinct agg, map-side
    // partials); the O(|a|·|b|) verifier only ever runs inside blocks
    // of the tiny name dictionary
    "x61_fuzzy_match" -> ((s, dir) =>
      FuzzyMatch.dictionaryMatch(Tables.part(s, dir), "p_name",
        n => element_at(split(n, " "), 1), maxDist = 3)),

    // node similarity on the order-basket graph: Jaccard of the order
    // sets of two parts, from the same basket-bounded self-join as x46
    // (fan-out ≤ basket², never |parts|²) plus two degree lookups —
    // the "customers who bought X also bought Y" similarity readout
    // with exact integer co/degree counts and one final division
    "g5_part_jaccard" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) — deg and co derive
      // from one shared l_orderkey exchange.
      val baskets = orderBaskets(s, dir)
      val deg = basketDegrees(baskets)
      val co = basketPairs(baskets)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("co"))
        .filter(col("co") >= 3)
      co.join(deg.select(col("l_partkey").as("part_a"), col("deg").as("deg_a")), "part_a")
        .join(deg.select(col("l_partkey").as("part_b"), col("deg").as("deg_b")), "part_b")
        .select(col("part_a"), col("part_b"), col("co"), col("deg_a"), col("deg_b"),
          round(col("co").cast("double") /
            (col("deg_a") + col("deg_b") - col("co")), 6).as("jaccard"))
    }),

    // RFM segmentation: recency / frequency / monetary per purchasing
    // user, quintile-scored with NTILE over total orders (value +
    // user_id tie-break — engine-exact), monetary in exact micro-units.
    // The scored table is one row per purchasing user — already the
    // reduced readout; at population scale the three exact global
    // NTILEs swap for x58's bucketed equi-depth boundaries (broadcast
    // the 4 cut points, score map-side) without changing the contract
    "x62_rfm" -> ((s, dir) => {
      val p = ev(s, dir).filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(
          max("ts_sec").as("last_ts"),
          count(lit(1)).as("freq"),
          sum(round(col("value") * 10000).cast("long")).as("micros"))
      val now = ev(s, dir).agg(max("ts_sec").as("now_ts"))
      p.crossJoin(broadcast(now))
        .withColumn("recency_days", expr("(now_ts - last_ts) div 86400"))
        .withColumn("r_score",
          ntile(5).over(Window.orderBy(col("last_ts").asc, col("user_id").asc)))
        .withColumn("f_score",
          ntile(5).over(Window.orderBy(col("freq").asc, col("user_id").asc)))
        .withColumn("m_score",
          ntile(5).over(Window.orderBy(col("micros").asc, col("user_id").asc)))
        .select(col("user_id"), col("recency_days"), col("freq"), col("micros"),
          col("r_score"), col("f_score"), col("m_score"),
          concat_ws("", col("r_score"), col("f_score"), col("m_score")).as("segment"))
    }),

    // revenue concentration: per-nation Gini coefficient over customer
    // order totals via the sorted-rank identity
    // G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) — cents-exact integers end
    // to end (rank from a per-nation total-order window), ONE double
    // division at the very end, so both engines divide identical
    // integers. One join + one nation-partitioned window + one agg
    "x63_gini" -> ((s, dir) => {
      val ct = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nationkey"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("nationkey")
        .orderBy(col("cents").asc, col("c_custkey").asc)
      ct.withColumn("rk", row_number().over(w))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum("cents").as("total_cents"),
          round((lit(2L) * sum(col("rk") * col("cents")) -
              (count(lit(1)) + 1) * sum(col("cents"))).cast("double") /
            (count(lit(1)) * sum(col("cents"))).cast("double"), 6).as("gini"))
    }),

    // Benford first-digit monitor on order totals: digit taken from the
    // STRING form of exact integer cents (never float log10 near a
    // power-of-ten boundary), expected share log10(1+1/d), and the
    // per-digit χ² contribution n·(obs−exp)²/exp — the standard
    // anomalous-amounts screen. One tiny 9-row aggregation; the total
    // rides a 1-row broadcast
    "x64_benford" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("d", substring(col("cents").cast("string"), 1, 1).cast("int"))
      val tot = o.agg(count(lit(1)).as("n_tot"))
      // log10 (not log(10, x) = ln/ln — a different libm path than the
      // oracle's log10) and an explicit square (not pow) keep the double
      // sequence identical across engines
      val expP = log10(lit(1.0) + lit(1.0) / col("d"))
      val obsP = col("n").cast("double") / col("n_tot")
      o.groupBy("d").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("d"), col("n"),
          round(obsP, 6).as("obs_p"),
          round(expP, 6).as("exp_p"),
          round((obsP - expP) * (obsP - expP) / expP * col("n_tot"), 6)
            .as("chi2_part"))
    }),

    // CUSUM changepoint series on daily purchase revenue: standardized
    // cumulative deviation S_i = Σ_{j≤i}(x_j − μ)/σ — the mean-shift
    // detector whose |S| peak marks the changepoint. Daily totals are
    // exact micro-unit longs (order-free sums); μ and σ come from
    // exact Σx (long) and Σx² (decimal/hugeint — x² overflows int64),
    // so both engines standardize IDENTICAL integers; the one ordered
    // double accumulation is the day-ordered cumulative window —
    // deterministic sequence, both engines. Days are a bounded readout
    // (span/86400), stats ride a 1-row broadcast
    // Theil–Sen robust slope of daily revenue per type: the median of
    // all pairwise day slopes — breakdown point 29%, immune to the
    // outlier days OLS (x83) chases. Each slope is ONE deterministic
    // division of exact integers; the median is an order statistic
    // (avg of the two middles when even), so no quantile interpolation
    // forks engines; pairs are calendar-bounded
    "x100_theil_sen" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 10000).cast("long")).as("rev"))
      val a = daily.select(col("event_type"), col("day").as("di"),
        col("rev").as("ri"))
      val b = daily.select(col("event_type"), col("day").as("dj"),
        col("rev").as("rj"))
      a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
        .select(col("event_type"),
          ((col("rj") - col("ri")).cast("double") /
            (col("dj") - col("di")).cast("double")).as("slope"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sort_array(collect_list(col("slope"))).as("sl"))
        .select(col("event_type"), col("n_pairs"),
          expr("""round(CASE WHEN n_pairs % 2 = 1
                 THEN element_at(sl, CAST((n_pairs + 1) DIV 2 AS INT))
                 ELSE (element_at(sl, CAST(n_pairs DIV 2 AS INT))
                   + element_at(sl, CAST(n_pairs DIV 2 + 1 AS INT))) / 2
                 END, 4)""").as("sen_slope"))
    }),

    // Jaro-Winkler entity resolution over the part-name dictionary —
    // the SIMILARITY-gated twin of x61's edit-distance match, scored by
    // the codegen'd classic Jaro-Winkler (Spark ships no Jaro family;
    // DuckDB's jaro_winkler_similarity is the same parameterization:
    // 0.7 boost threshold, prefix cap 4, p=0.1 — probe-verified).
    // Dictionary-first as ever: corpus aggregated once, the O(|a|·|b|)
    // scorer only inside first-token blocks of the tiny dictionary
    "x101_jaro_winkler" -> ((s, dir) =>
      FuzzyMatch.jaroWinklerMatch(Tables.part(s, dir), "p_name",
        n => element_at(split(n, " "), 1), minSim = 0.88)),

    // classifier calibration curve (the reliability diagram): s13's
    // scores bucketed into deciles vs the empirical label rate — the
    // audit that decides whether a quality-gate threshold MEANS its
    // number. Mean scores ride exact micro-unit integer sums (the g2
    // discipline) so no unordered float summation exists; the fit is
    // the SAME lrCtes-replayed trajectory as s13/c5, so the three can
    // never fork
    "c7_calibration" -> ((s, dir) => {
      val scored = Classifier.fitScore(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)
      val y = Tables.embeddings(s, dir).select(col("vec_id"),
        (col("label") < 5).cast("int").as("y"))
      scored.join(y, "vec_id")
        .select(least(floor(col("score") * 10), lit(9)).cast("int").as("bucket"),
          col("score"), col("y"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n"),
          sum("y").cast("long").as("pos"),
          sum(round(col("score") * 1e6).cast("long")).as("su"))
        .select(col("bucket"), col("n"), col("pos"),
          round(col("su") / lit(1e6) / col("n"), 6).as("mean_score"),
          round(col("pos").cast("double") / col("n"), 6).as("pos_rate"))
    }),

    // isotonic (PAVA) calibration on c7's reliability table — the
    // monotone recalibration every binary scorer wants before its
    // scores gate anything. PAVA's sequential stack is re-expressed as
    // the minimax closed form (max_i min_j of interval means), pure
    // relational algebra over the B-row bucket table: the O(B³) pair
    // lattice is 1000 rows at B=10 and never touches the corpus
    "c8_isotonic" -> ((s, dir) => {
      val scored = Classifier.fitScore(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)
      val y = Tables.embeddings(s, dir).select(col("vec_id"),
        (col("label") < 5).cast("int").as("y"))
      val stats = scored.join(y, "vec_id")
        .select(least(floor(col("score") * 10), lit(9)).cast("int").as("bucket"),
          col("y"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n"), sum("y").cast("long").as("pos"))
      Classifier.isotonicCalibration(stats, "bucket", "n", "pos")
    }),

    // cumulative gains (lift chart data) — "score the corpus, take the
    // top X%: what share of positives do you capture": the operational
    // complement to c10's AUC, read per score decile from c7's bucket
    // table. Cumulative sums run over the 10-row reliability table in
    // DESCENDING score order; shares are exact integer ratios, one
    // division each
    "c11_gains" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Classifier.fitScore(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)
      val y = Tables.embeddings(s, dir).select(col("vec_id"),
        (col("label") < 5).cast("int").as("y"))
      val b = scored.join(y, "vec_id")
        .select(least(floor(col("score") * 10), lit(9)).cast("int").as("bucket"),
          col("y"))
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          sum("y").cast("long").as("pos"))
      val wd = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      b.withColumn("cum_n", sum("n").over(wd))
        .withColumn("cum_pos", sum("pos").over(wd))
        .withColumn("tot_n", sum("n").over(wall))
        .withColumn("tot_pos", sum("pos").over(wall))
        .select(col("bucket"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
          round(col("cum_n").cast("double") / col("tot_n"), 6)
            .as("pop_share"),
          round(col("cum_pos").cast("double") / col("tot_pos"), 6)
            .as("gain"),
          round(col("cum_pos").cast("double") * col("tot_n") /
            (col("cum_n").cast("double") * col("tot_pos")), 6).as("lift"))
    }),

    // exact ROC AUC of the LR scorer — the ranking-quality scalar next
    // to c9's calibration pair: U/(n₁n₀) on the micro-unit score
    // histogram with doubled average ranks (ties at half credit);
    // exact integers until ONE division
    "c10_auc" -> ((s, dir) => {
      val scored = Classifier.fitScore(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)
      val y = Tables.embeddings(s, dir).select(col("vec_id"),
        (col("label") < 5).cast("int").as("y"))
      Classifier.aucFromScores(scored.join(y, "vec_id"), "score", "y")
    }),

    // Brier score + expected calibration error — the two scalar
    // calibration numbers over the SAME scored rows c7/c8 bucket.
    // Brier from exact micro-unit integers ((su − y·10⁶)² summed as
    // decimal, ONE division); ECE folds the decile reliability table
    // in closed form. One corpus aggregation, then 10-row arithmetic
    "c9_brier_ece" -> ((s, dir) => {
      val scored = Classifier.fitScore(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, iters = LrIters, lr = LrStep,
        threshold = LrThreshold)
      val y = Tables.embeddings(s, dir).select(col("vec_id"),
        (col("label") < 5).cast("int").as("y"))
      val b = scored.join(y, "vec_id")
        .select(least(floor(col("score") * 10), lit(9)).cast("int").as("bucket"),
          round(col("score") * 1e6).cast("long").as("su"), col("y"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n"), sum("y").cast("long").as("pos"),
          sum("su").as("ssu"),
          sum((col("su") - col("y") * lit(1000000L)).cast("decimal(38,0)") *
            (col("su") - col("y") * lit(1000000L))).as("sq"))
      // |pos/n − mean_score|·n telescopes to |pos·10⁶ − Σsu|/10⁶, so
      // the ECE numerator stays an EXACT integer — no 10-row float sum
      // for the engines to order differently
      b.agg(sum("n").as("n"),
          sum("sq").as("sqt"),
          sum(abs(col("pos") * lit(1000000L) - col("ssu"))).as("ece_num"))
        .select(col("n"),
          round(col("sqt").cast("double") / col("n").cast("double") / lit(1e12), 6)
            .as("brier"),
          round(col("ece_num").cast("double") / col("n").cast("double") / lit(1e6),
            6).as("ece"))
    }),

    // Kaplan-Meier churn survival: user lifetimes (last-active −
    // first-active day) with still-active users CENSORED, then the
    // product-limit curve on |distinct durations| rows — bounded by the
    // observation window in DAYS, never by user/event count. Exact
    // integer at-risk/event/censor counts; factor logs rounded before
    // the duration-ordered cumulative sum (the x65/s20 discipline)
    "x103_kaplan_meier" -> ((s, dir) =>
      graft.functions.Survival.kaplanMeier(
        graft.functions.Survival.lifetimes(
          ev(s, dir), "user_id", "ts_sec", horizonDays = 7))),

    // the hashing trick (Weinberger 2009): dictionary-free fixed-dim
    // featurization — index = portable 60-bit md5 mod 256, value = Σ ±1
    // sign hash over token occurrences (signed sums make collisions
    // cancel in expectation). No vocabulary build pass exists at all;
    // the one exchange is the (doc, feat) aggregation, partial map-side
    "x102_feature_hashing" -> ((s, dir) =>
      graft.functions.Featurize.hashedFeatures(
        Tables.documents(s, dir), "doc_id", "text", dim = 256)),

    // Kendall τ-b rank correlation between a type's daily revenue and
    // daily event count — the tie-corrected RANK companion to the
    // moment-based correlations: concordant/discordant pair counts and
    // both tie corrections are exact integers over calendar-bounded day
    // pairs; one sqrt + one division at the end
    "x99_kendall_tau" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 10000).cast("long")).as("rev"),
          count(lit(1)).as("cnt"))
      val a = daily.select(col("event_type"), col("day").as("di"),
        col("rev").as("ri"), col("cnt").as("ci"))
      val b = daily.select(col("event_type"), col("day").as("dj"),
        col("rev").as("rj"), col("cnt").as("cj"))
      val pairs = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
        .groupBy("event_type")
        .agg(sum((signum(col("rj") - col("ri")) *
            signum(col("cj") - col("ci"))).cast("long")).as("s_stat"))
      val n = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      // t(t−1) is even, so the double division is exact; kept LongType
      def tiePairs(c: org.apache.spark.sql.Column) =
        (c * (c - 1) / 2).cast("long")
      val t1 = daily.groupBy("event_type", "rev")
        .agg(count(lit(1)).as("t")).groupBy("event_type")
        .agg(sum(tiePairs(col("t"))).as("t_rev"))
      val t2 = daily.groupBy("event_type", "cnt")
        .agg(count(lit(1)).as("t")).groupBy("event_type")
        .agg(sum(tiePairs(col("t"))).as("t_cnt"))
      pairs.join(n, "event_type").join(t1, "event_type").join(t2, "event_type")
        .select(col("event_type"), col("n_days"), col("s_stat"),
          round(col("s_stat").cast("double") /
            sqrt(((tiePairs(col("n_days")) - col("t_rev")) *
              (tiePairs(col("n_days")) - col("t_cnt"))).cast("double")),
            4).as("tau_b"))
    }),

    // Spearman rank correlation per type between daily revenue and
    // daily event count — the third correlation lens beside Pearson
    // (x86) and Kendall (x99): monotone association through ranks.
    // Average ranks carried DOUBLED (2·rank + ties − 1) so tie
    // averaging stays exact-integer; Pearson over doubled ranks is the
    // same ρ (affine invariance); every sum is exact BIGINT, one
    // sqrt + one division at the end; zero-variance series emit NULL
    // identically in both engines
    "x104_spearman" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = ev(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 10000).cast("long")).as("rev"),
          count(lit(1)).as("cnt"))
      val ranked = daily.select(col("event_type"),
        (lit(2L) * rank().over(Window.partitionBy("event_type").orderBy("rev"))
          + count(lit(1)).over(Window.partitionBy("event_type", "rev"))
          - lit(1L)).as("dx"),
        (lit(2L) * rank().over(Window.partitionBy("event_type").orderBy("cnt"))
          + count(lit(1)).over(Window.partitionBy("event_type", "cnt"))
          - lit(1L)).as("dy"))
      ranked.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("event_type"), col("n").as("n_days"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6))
            .as("rho"))
    }),

    // degree assortativity of the part co-occurrence graph (Newman
    // 2002): do high-degree parts co-occur with high-degree parts?
    // Pearson over the directed edge list's endpoint degrees — exact
    // integer sums out of the same basket-bounded candidate core as
    // x46/g5, one sqrt + one division; a degree-regular graph (zero
    // variance) emits NULL in both engines
    "g13_assortativity" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) — same pairs.
      val co = basketPairs(orderBaskets(s, dir))
        .filter(col("co") >= 3).select("a", "b")
        // snapshot (r17): co feeds the symmetrized table twice and deg +
        // both endpoint joins reference that — the executed lazy plan
        // held 13 lineitem scans (the g10/g11 d7 contract, applied here)
        .localCheckpoint(false)
      val dir2 = co.unionByName(co.select(col("b").as("a"), col("a").as("b")))
        .localCheckpoint(false)
      val deg = dir2.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      dir2
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .agg(count(lit(1)).as("m"), sum("da").as("sa"), sum("db").as("sb"),
          sum(col("da") * col("db")).as("sab"),
          sum(col("da") * col("da")).as("saa"),
          sum(col("db") * col("db")).as("sbb"))
        .select((col("m") / 2).cast("long").as("n_edges"),
          when((col("m") * col("saa") - col("sa") * col("sa")) > 0 &&
              (col("m") * col("sbb") - col("sb") * col("sb")) > 0,
            round((col("m") * col("sab") - col("sa") * col("sb")).cast("double") /
              sqrt((col("m") * col("saa") - col("sa") * col("sa")).cast("double") *
                (col("m") * col("sbb") - col("sb") * col("sb")).cast("double")), 6))
            .as("assortativity"))
    }),

    // 10%-trimmed mean order value per market segment — the robust
    // location estimate that ignores both tails: exact total order
    // (cents, orderkey) decides the trim deterministically, kept cents
    // sum exactly, ONE division at the end. Exact-NTILE shape like
    // x62: windows run on one-row-per-order within 5 segments; at
    // population scale swap for x58/x91 bucketed boundaries
    "x105_trimmed_mean" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
      o.select(col("segment"), col("cents"),
          row_number().over(Window.partitionBy("segment")
            .orderBy(col("cents"), col("o_orderkey"))).as("rn"),
          count(lit(1)).over(Window.partitionBy("segment")).as("n"))
        .filter(col("rn") > expr("n div 10") &&
          col("rn") <= col("n") - expr("n div 10"))
        .groupBy("segment").agg(
          count(lit(1)).as("n_kept"),
          round(sum("cents").cast("double") / lit(100.0) / count(lit(1)), 6)
            .as("trimmed_mean"))
    }),

    // Count-Min Sketch over the corpus token stream (Cormode 2005) —
    // the third mergeable summary beside KMV (x15) and HLL (x39):
    // depth×width upper-bound counters that merge by per-cell ADDITION,
    // probed at the 5 most frequent words with the TRUE count in-row so
    // the ≥0 over-count guarantee is visible. Portable md5 buckets +
    // integer sums keep the sketch itself oracle-checkable
    "x109_countmin" -> ((s, dir) =>
      graft.functions.Sketches.cmsEstimates(
        docsW(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("w")),
        "w", depth = 4, width = 64, topN = 5)),

    // sample-ratio-mismatch guard for the x48 experiment — the FIRST
    // check any A/B readout should gate on: if the 50/50 hash split's
    // USER counts drift, every downstream lift/t/U number is suspect.
    // χ² = (na−nb)²/(na+nb) on distinct users per arm (exact integers,
    // one division), flagged at the 0.05 critical value 3.841
    "x122_ab_srm" -> ((s, dir) => {
      val armed = ev(s, dir).select(col("user_id"),
        when(Sampling.hashBucket(
          concat(col("user_id").cast("string"), lit(":ab")), 2) === 0, "A")
          .otherwise("B").as("arm"))
        .distinct()
      armed.groupBy("arm").agg(count(lit(1)).as("n"))
        .agg(
          sum(when(col("arm") === "A", col("n")).otherwise(0L)).as("na"),
          sum(when(col("arm") === "B", col("n")).otherwise(0L)).as("nb"))
        .select(col("na"), col("nb"),
          round((col("na") - col("nb")).cast("double") *
            (col("na") - col("nb")).cast("double") /
            (col("na") + col("nb")).cast("double"), 6).as("chi2"),
          ((col("na") - col("nb")) * (col("na") - col("nb")) * lit(1000000L) >
            lit(3841459L) * (col("na") + col("nb"))).as("srm_flag"))
    }),

    // Welch's unequal-variance t per metric over the x48 arm split —
    // the experiment readout that stays honest when A and B have
    // different spreads. Same one-pass sufficient-statistics shape as
    // x48 (count/Σv/Σv² per (metric, arm)); t AND the
    // Welch–Satterthwaite df are |metrics| rows of post-aggregation
    // arithmetic, so the fact table is touched exactly once at any SF
    "x110_welch_t" -> ((s, dir) => {
      val armed = ev(s, dir).select(col("event_type"), col("value"),
        when(Sampling.hashBucket(
          concat(col("user_id").cast("string"), lit(":ab")), 2) === 0, "A")
          .otherwise("B").as("arm"))
      graft.functions.AbTest.welchT(armed, "event_type", "value", "arm")
    }),

    // one-way ANOVA F across ALL event types — "does the metric differ
    // across k groups at all" before x110 asks which pair. One keyed
    // aggregation (n, Σv, Σv² per group) then k rows collapse to a
    // single readout; SSB in sum form (Σsvᵢ²/nᵢ − (Σsv)²/n) so the
    // grand mean never needs a second pass
    "x111_anova_f" -> ((s, dir) =>
      graft.functions.AbTest.anovaF(ev(s, dir), "value", "event_type")),

    // single best changepoint per event type's daily series — binary
    // segmentation step 1, the "when did this metric regime-shift"
    // readout next to x65's known-target CUSUM. Exact-integer prefix
    // sums decide the argmax (decimal(38,0) numerator), so the split
    // choice never forks on float order; grid-sized work after one
    // (type, day) aggregation
    "x112_changepoint" -> ((s, dir) =>
      graft.functions.TimeSeries.changepoint(
        ev(s, dir), "event_type", "ts_sec", "value")),

    // Haar wavelet top-5 detail coefficients per event type's daily
    // series — the multi-resolution "where and at what SCALE does this
    // metric move" localization next to x112's single changepoint. The
    // unnormalized sum/difference pyramid keeps every coefficient an
    // exact milli-unit integer, so the |detail| ranking never forks;
    // everything past one (type, day) aggregation is span-bound
    // (levels halving aggs over 2^5-point grids)
    "x132_haar" -> ((s, dir) =>
      graft.functions.TimeSeries.haarTopDetails(
        ev(s, dir), "event_type", "ts_sec", "value")),

    // PACF lags 1–3 from x56's ACF via Durbin–Levinson closed forms —
    // the AR-order fingerprint (cuts off at p where ACF only decays).
    // Arithmetic on the rounded acf columns: |groups| extra rows on
    // the ACF plan, no new exchange
    "x117_pacf" -> ((s, dir) =>
      graft.functions.TimeSeries.bucketPacf(
        ev(s, dir), "event_type", "ts_sec", "value")),

    // does click volume LEAD purchase volume — cross-correlation of
    // the two hourly series at lags −3..3 (positive lag: purchases
    // trail clicks). Shared dense grid, exact decimal numerators per
    // lag, full-series normalization; span-sized work after one
    // (type, hour) aggregation
    "x118_ccf" -> ((s, dir) =>
      graft.functions.TimeSeries.crossCorrelation(
        ev(s, dir), "event_type", "ts_sec", "value", "click", "purchase")),

    // SAX symbol strings per event type: dense daily grid →
    // z-normalize (series' own μ/σ from exact integer sums) → 8-frame
    // PAA → Gaussian quartile alphabet {a,b,c,d}. The whole-series
    // shape index: W chars instead of N days
    "x113_sax" -> ((s, dir) =>
      graft.functions.TimeSeries.saxSymbols(
        ev(s, dir), "event_type", "ts_sec", "value")),

    // AMS F₂ over the corpus token stream — "how big is the token
    // self-join" in 8 longs, next to x109's per-value Count-Min: the
    // sketch every join-size planner wants before committing to a
    // shuffle. Map-side ±1 sums, k-row state, true F₂ in-row
    "x114_ams_f2" -> ((s, dir) =>
      graft.functions.Sketches.amsF2(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("w")),
        "w", sketches = 8)),

    // Herfindahl-Hirschman revenue concentration per nation — the
    // antitrust-style "is this market one whale or many minnows"
    // readout beside x63's Gini: HHI = Σ shareᵢ² over customer revenue
    // shares. Σc and Σc² exact integers (Σc² in DECIMAL(38,0)/HUGEINT,
    // the g2 discipline) — ONE double division per nation
    "x108_hhi" -> ((s, dir) => {
      val oc = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      oc.groupBy("nation").agg(
          count(lit(1)).as("n_customers"),
          sum("cents").as("tot"),
          sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sq"))
        .select(col("nation"), col("n_customers"), col("tot"),
          round(col("sq").cast("double") /
            (col("tot").cast("double") * col("tot").cast("double")), 6).as("hhi"))
    }),

    // vocabulary richness per source: Chao1's bias-corrected unseen-
    // species estimate (observed + f1(f1−1)/2(f2+1)) and Good-Turing's
    // unseen probability mass (f1/N) from ONE frequency-of-frequencies
    // table — "how much vocabulary has this crawl NOT seen yet", the
    // coverage readout beside t29's Heaps fit and x98's user estimate.
    // Exact integer singleton/doubleton/token counts, one division per
    // estimator
    "t34_vocab_richness" -> ((s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("source").agg(
          count(lit(1)).as("vocab"),
          sum("c").as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("vocab"), col("n_tokens"), col("f1"), col("f2"),
          round(col("vocab") + (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + 1).cast("double")), 4).as("chao1"),
          round(col("f1").cast("double") / col("n_tokens"), 6).as("p_unseen"))
    }),

    // Mann-Whitney U between the purchase and click value distributions
    // — the nonparametric companion to x48's z-lift (no normality
    // assumption on values). Rank sums ride DOUBLED average ranks
    // computed from the shared value HISTOGRAM (windows run on
    // |distinct values| rows, the x51 discipline), tie-corrected
    // variance exact-integer until one division
    "x106_mann_whitney" -> ((s, dir) =>
      AbTest.mannWhitney(ev(s, dir), "value",
        col("event_type") === "purchase", col("event_type") === "click")),

    // two-sample Kolmogorov-Smirnov on the same pair: D = max |ECDF
    // difference| as an exact integer maximum over the histogram
    // support (one division at the end), with the α=0.05 asymptotic
    // threshold and verdict in the same row — the distribution-shift
    // gate that catches what a mean test can't (shape changes)
    "x107_ks_test" -> ((s, dir) =>
      AbTest.ksTest(ev(s, dir), "value",
        col("event_type") === "purchase", col("event_type") === "click")),

    // capture–recapture (Chapman) population estimate: how many distinct
    // users does a type REALLY have when full enumeration is off the
    // table — capture = seen before the x52 reference cutoff, recapture
    // = seen after; N̂ = (nA+1)(nB+1)/(m+1) − 1 is exact integers up to
    // ONE division. `actual` rides along so the estimate is judged
    // against truth in the same row; per-user presence flags aggregate
    // out of one exchange
    "x98_capture_recapture" -> ((s, dir) => {
      val presence = ev(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(when(col("ts_sec") < refCutoffSec, 1L).otherwise(0L)).as("ia"),
          max(when(col("ts_sec") >= refCutoffSec, 1L).otherwise(0L)).as("ib"))
      presence.groupBy("event_type").agg(
        sum("ia").as("n_a"), sum("ib").as("n_b"),
        sum(col("ia") * col("ib")).as("m"),
        count(lit(1)).as("actual"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("m"),
          col("actual"),
          round((col("n_a") + 1) * (col("n_b") + 1) /
            (col("m") + 1).cast("double") - 1, 4).as("chapman"))
    }),

    // Mann–Kendall trend test per event type over the daily micro-unit
    // series: S = Σ sign(later − earlier) over all day pairs and the
    // tie-corrected variance numerator are INTEGERS (the test is
    // nonparametric, so exactness is free); the only float ops are the
    // final sqrt (IEEE-exact) and one division. Day pairs are per-type
    // and bounded by the calendar (≤ days² rows), never by event volume
    "x97_mann_kendall" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 10000).cast("long")).as("micros"))
      val a = daily.select(col("event_type"), col("day").as("di"),
        col("micros").as("vi"))
      val b = daily.select(col("event_type"), col("day").as("dj"),
        col("micros").as("vj"))
      val s0 = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
        .groupBy("event_type")
        .agg(sum(signum(col("vj") - col("vi")).cast("long")).as("s_stat"))
      val n = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("event_type", "micros")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_corr"))
      val z = {
        val varD = (col("n_days") * (col("n_days") - 1) *
          (lit(2) * col("n_days") + 5) - col("tie_corr")).cast("double") / 18.0
        when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(varD))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(varD))
          .otherwise(lit(0.0))
      }
      s0.join(n, "event_type").join(ties, "event_type")
        .select(col("event_type"), col("n_days"), col("s_stat"),
          round(z, 4).as("z"))
    }),

    "x65_cusum" -> ((s, dir) => {
      val daily = ev(s, dir).filter(col("event_type") === "purchase")
        .groupBy(expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 10000).cast("long")).as("micros"))
      val st = daily.agg(
        count(lit(1)).as("nd"),
        sum("micros").as("tot"),
        sum(col("micros").cast("decimal(38,0)") * col("micros")).as("sq"))
      val mu = col("tot").cast("double") / col("nd")
      val sigma = sqrt((col("sq").cast("double") -
        col("tot").cast("double") * col("tot") / col("nd")) / col("nd"))
      val cw = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(st))
        .withColumn("dev", col("micros") - mu)
        .withColumn("s", round(sum(col("dev")).over(cw) / sigma, 6))
        .select(col("day"), col("micros"), col("s"))
    }),

    // association rules over order baskets: confidence in both
    // directions and lift for co-purchased part pairs — the x46/g5
    // candidate generator (basket-bounded self-join) promoted to the
    // market-basket readout. Exact integer co/degree/basket counts;
    // three rounded divisions at the end; the basket total rides a
    // 1-row broadcast
    "x66_assoc_rules" -> ((s, dir) => {
      // r17: basket-array kernel (orderBaskets) — n/deg/co all derive
      // from one shared l_orderkey exchange. n_orders = baskets row
      // count (one basket row per distinct non-null l_orderkey, exactly
      // what countDistinct counted).
      val baskets = orderBaskets(s, dir)
      val n = baskets.agg(count(lit(1)).as("n_orders"))
      val deg = basketDegrees(baskets)
      val co = basketPairs(baskets)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("co"))
        .filter(col("co") >= 3)
      co.join(deg.select(col("l_partkey").as("part_a"), col("deg").as("deg_a")), "part_a")
        .join(deg.select(col("l_partkey").as("part_b"), col("deg").as("deg_b")), "part_b")
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("co"),
          round(col("co").cast("double") / col("deg_a"), 6).as("conf_ab"),
          round(col("co").cast("double") / col("deg_b"), 6).as("conf_ba"),
          round((col("co") * col("n_orders")).cast("double") /
            (col("deg_a") * col("deg_b")), 6).as("lift"))
    }),

    // purchase cadence per user: inter-purchase gaps from one
    // user-partitioned lag window over purchase times (integer-second
    // gaps — engine-exact), then min/avg/max per user — the
    // re-engagement readout next to x62's RFM scores
    "x67_purchase_cadence" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_sec").asc, col("event_id").asc)
      ev(s, dir).filter(col("event_type") === "purchase")
        .withColumn("gap", col("ts_sec") - lag("ts_sec", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap").as("min_gap"),
          max("gap").as("max_gap"),
          round(sum("gap").cast("double") / count(lit(1)), 6).as("avg_gap"))
    }),

    // code-vs-prose detector: symbol-density and keyword-hit signals a
    // curation pipeline uses to route documents to a code or text
    // corpus. Every count is length-difference integer arithmetic
    // (replace/translate — no regex, whose dialects diverge between
    // engines); the only double is the final density ratio of two
    // exact integers. Pure map-side projection, zero exchanges
    "t24_code_detect" -> ((s, dir) => {
      def chCount(ch: String) =
        length(col("text")) - length(translate(col("text"), ch, ""))
      def kwCount(kw: String) =
        expr(s"(length(text) - length(replace(text, '$kw', ''))) div ${kw.length}")
      Tables.documents(s, dir).select(
        col("doc_id"),
        (chCount("\n") + 1).as("n_lines"),
        chCount(";").as("n_semi"),
        chCount("{}").as("n_braces"),
        (kwCount("def ") + kwCount("return") + kwCount("import") +
          kwCount("void ") + kwCount("function")).as("kw_hits"),
        round((chCount(";") + chCount("{}") + chCount("=") + chCount("()"))
            .cast("double") /
          greatest(length(col("text")), lit(1)).cast("double"), 6)
          .as("symbol_density"))
        .withColumn("is_code",
          col("symbol_density") > 0.015 || col("kw_hits") >= 3)
    }),

    // ---- round-15 streaming-gate batch contracts ----------------------
    // four queries whose ONLY reason to exist is honesty: each is the
    // exact batch semantics of a shipped streaming operator that had no
    // hash gate (StreamQuota / IncrementalView / StreamPercolate /
    // IncrementalIndex), so STREAMCHECK can hold the operator to an
    // oracle-gated reference instead of a spec-only claim

    // arrival-order ingestion quota: the first 10 documents per source
    // in doc_id (arrival) order survive, with their 1-based admission
    // rank — streaming.StreamQuota's contract (a stream cannot rank by
    // quality what it has not seen — x69 ranks because it sees the whole
    // corpus; the honest online rule is first-come-first-admitted). The
    // rank window's hash(source) exchange is the same partitioning the
    // streaming gate's groupByKey(source) uses; state there is one long
    // per source, and here one bounded rank per row
    "x133_quota_admission" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables.documents(s, dir).select("source", "doc_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
    }),

    // KEY-derived-group maintained view: live rows of the user changelog
    // (latest per user; 'error' = tombstone, the k2 convention) grouped
    // by user_id mod 7 into (n_keys, total exact cents) —
    // streaming.IncrementalView's contract, whose adder/subtractor fold
    // maintains exactly this aggregate without rescanning history (k3
    // groups by a VALUE-derived attribute and gates TableAggregate; the
    // view keyed on the key itself was the missing contract)
    "x134_view_maintenance" -> ((s, dir) =>
      Changelog.upsertView(ev(s, dir), Seq("user_id"),
          Seq(col("ts_sec"), col("event_id")),
          col("event_type") === "error")
        .select(concat(lit("g"), pmod(col("user_id"), lit(7))).as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_keys"), sum("cents").as("total"))),

    // standing-query alerts over the ARRIVING-document shape (key =
    // doc_id, event time rides along): one row per (standing query,
    // matching document) — streaming.StreamPercolate's contract, the
    // identical stateless projection it runs per micro-batch (s18 is
    // the corpus-side percolator with rarest-term anchoring; this is
    // the live alert shape, |batch| × |queries| inside codegen)
    "x135_percolate_alerts" -> ((s, dir) =>
      graft.streaming.StreamPercolate.alertsBatch(
        Tables.documents(s, dir).select(
          col("doc_id").cast("string").as("key"),
          col("text").as("value"),
          col("doc_id").as("ts")),
        percolateQueries)),

    // incrementally-maintainable inverted-index statistics: live rows of
    // a document changelog (key = doc_id mod 150, replayed in doc_id
    // order, every 17th doc a tombstone) tokenized to per-term
    // (df, total_tf) — streaming.IncrementalIndex's contract, which
    // maintains this table by adder/subtractor deltas without ever
    // re-tokenizing the corpus. TextAnalysis.tokens is the ONE
    // tokenizer (the x29/t3 discipline), so the maintained index and
    // this recompute cannot fork on tokenization
    "x136_incr_index" -> ((s, dir) => {
      val ch = Tables.documents(s, dir).select(
        pmod(col("doc_id"), lit(150)).cast("string").as("key"),
        when(pmod(col("doc_id"), lit(17)) === 0, lit(null).cast("string"))
          .otherwise(col("text")).as("value"),
        col("doc_id").as("seq"))
      val live = Changelog.latestByKey(ch, Seq("key"), Seq(col("seq")))
        .filter(col("value").isNotNull)
      live.select(col("key"),
          explode(TextAnalysis.tokens(col("value"))).as("term"))
        .groupBy("term")
        .agg(countDistinct("key").as("df"), count(lit(1)).as("total_tf"))
    })
  )

  /** The standing query set shared by the x117 batch contract and its
    * STREAMCHECK twin (StreamVerify) — one definition, so the gate and
    * the gated can never disagree on what the queries are. */
  private[graft] val percolateQueries: Seq[(String, Seq[String])] = Seq(
    ("q_hash_join", Seq("hash", "join")),
    ("q_merge", Seq("merge")),
    ("q_sort_window", Seq("sort", "window")))

  /** The t8 chain over an arbitrary document set (t8 scores the whole
    * table; c2 scores only the decontamination corpus — the bigram model
    * must be fit on the same scope it scores). */
  private def bigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cbi = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cbi"))
    val cw = cbi.groupBy("w1").agg(sum(col("cbi")).as("cw"))
    val vocab = toks.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bi.join(cbi, Seq("w1", "w2")).join(cw, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("cbi") + 1).cast("double") / (col("cw") + col("v")).cast("double"))
          .as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 4).as("avg_logp"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  def oracleSql: Map[String, String] = Map(

    "p1_pipe" -> "SELECT event_id, event_type, value FROM events",

    "p2_mapvalues" ->
      "SELECT event_id, round(value * value, 4) AS squared FROM events",

    "p3_selectkey" ->
      """SELECT l_returnflag || '-' || l_linestatus AS key, l_orderkey, l_linenumber
        |FROM lineitem""".stripMargin,

    "p4_flatmap_split" ->
      """SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '')) AS word
        |FROM documents""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY 1, 2""".stripMargin,

    // full Q1 in exact micro-dollar integers; averages integer-ratio
    "j36_q1_pricing" ->
      """WITH l AS (SELECT l_returnflag, l_linestatus,
        |    round(l_quantity * 100)::BIGINT AS q,
        |    round(l_extendedprice * 100)::BIGINT AS p,
        |    round(l_discount * 100)::BIGINT AS d,
        |    round(l_extendedprice * 100)::BIGINT
        |      * (100 - round(l_discount * 100)::BIGINT) AS disc6,
        |    round(l_extendedprice * 100)::HUGEINT
        |      * (100 - round(l_discount * 100)::BIGINT)
        |      * (100 + round(l_tax * 100)::BIGINT) AS chg8
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01')
        |SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS count_order,
        |  round(sum(q)::DOUBLE / 100.0, 2) AS sum_qty,
        |  round(sum(p)::DOUBLE / 100.0, 2) AS sum_base_price,
        |  round(sum(disc6)::DOUBLE / 10000.0, 4) AS sum_disc_price,
        |  round(sum(chg8)::DOUBLE / 1000000.0, 4) AS sum_charge,
        |  round(sum(q)::DOUBLE / count(*) / 100.0, 4) AS avg_qty,
        |  round(sum(p)::DOUBLE / count(*) / 100.0, 4) AS avg_price,
        |  round(sum(d)::DOUBLE / count(*) / 100.0, 6) AS avg_disc
        |FROM l GROUP BY 1, 2""".stripMargin,

    "a2_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '')) AS word
        |  FROM documents)
        |GROUP BY 1""".stripMargin,

    "a3_count_by_key" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1",

    "a4_reduce_sum" ->
      "SELECT user_id, round(sum(value), 2) AS total FROM events GROUP BY 1",

    "a5_agg_stats" ->
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY 1""".stripMargin,

    "w1_tumbling_count" ->
      s"""WITH $evSql
        |SELECT (ts_sec // 3600) * 3600 AS win_start, event_type, count(*) AS cnt
        |FROM ev GROUP BY 1, 2""".stripMargin,

    "w2_tumbling_sum" ->
      s"""WITH $evSql
        |SELECT (ts_sec // 86400) * 86400 AS win_start, user_id,
        |  round(sum(value), 2) AS total
        |FROM ev GROUP BY 1, 2""".stripMargin,

    "w3_session" ->
      s"""WITH $evSql,
        |marked AS (
        |  SELECT user_id, ts_sec,
        |    -- Spark merges a session when the next event lands exactly on
        |    -- the session end (t2 <= t1 + gap), so a new session needs a
        |    -- STRICTLY greater gap — verified against an exact-gap pair at sf0.1
        |    CASE WHEN ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) > 21600
        |         OR lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |sess AS (
        |  SELECT user_id, ts_sec,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked)
        |SELECT user_id, min(ts_sec) AS sess_start, max(ts_sec) + 21600 AS sess_end,
        |  count(*) AS cnt
        |FROM sess GROUP BY user_id, sess_id""".stripMargin,

    "w4_sliding_count" ->
      s"""WITH $evSql
        |SELECT win_start, count(*) AS cnt FROM (
        |  SELECT unnest([(ts_sec // 3600) * 3600, (ts_sec // 3600) * 3600 - 3600]) AS win_start
        |  FROM ev)
        |GROUP BY 1""".stripMargin,

    // dynamic gaps need the running MAX of (ts + gap) over preceding rows
    // — a long-gap event can bridge past a short-gap neighbor, so the
    // fixed-gap lag(ts) trick is wrong here. Merge is gap-INCLUSIVE
    // (running end >= ts), matching Spark's session_window (see w3 note).
    "w5_session_dynamic" ->
      s"""WITH $evSql,
        |g AS (
        |  SELECT user_id, ts_sec,
        |    CASE WHEN event_type = 'click' THEN 7200 ELSE 21600 END AS gap
        |  FROM ev),
        |marked AS (
        |  SELECT user_id, ts_sec, gap,
        |    CASE WHEN max(ts_sec + gap) OVER (PARTITION BY user_id ORDER BY ts_sec
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= ts_sec
        |         THEN 0 ELSE 1 END AS new_sess
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts_sec, gap,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked)
        |SELECT user_id, min(ts_sec) AS sess_start, max(ts_sec + gap) AS sess_end,
        |  count(*) AS cnt
        |FROM sess GROUP BY user_id, sess_id""".stripMargin,

    "j1_band_join" ->
      s"""WITH $evSql
        |SELECT e1.event_id AS left_id, e2.event_id AS right_id
        |FROM ev e1 JOIN ev e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts_sec BETWEEN e1.ts_sec AND e1.ts_sec + 86400
        | AND e1.event_id <> e2.event_id""".stripMargin,

    "j2_left_band_count" ->
      s"""WITH $evSql
        |SELECT e1.event_id AS event_id, count(e2.event_id) AS match_cnt
        |FROM ev e1 LEFT JOIN ev e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts_sec BETWEEN e1.ts_sec AND e1.ts_sec + 86400
        | AND e1.event_id <> e2.event_id
        |GROUP BY 1""".stripMargin,

    "j3_enrich" ->
      """SELECT event_id, user_id, c_name, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,

    "j4_ktable_join" ->
      s"""WITH $latestSql
        |SELECT user_id, event_type AS last_type, value AS last_val, c_name
        |FROM latest JOIN customer ON user_id = c_custkey""".stripMargin,

    "j5_table_self_join" ->
      """WITH e AS (SELECT *, floor(epoch(ts))::BIGINT AS ts_sec FROM events),
        |clicks AS (
        |  SELECT user_id, event_id AS click_event_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_sec DESC, event_id DESC) rn
        |    FROM e WHERE event_type = 'click') WHERE rn = 1),
        |buys AS (
        |  SELECT user_id, event_id AS purchase_event_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_sec DESC, event_id DESC) rn
        |    FROM e WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT clicks.user_id AS user_id, click_event_id, purchase_event_id
        |FROM clicks JOIN buys ON clicks.user_id = buys.user_id""".stripMargin,

    "j6_fk_left_join" ->
      """SELECT o_orderkey, c_name
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
        |  ON o_custkey = c_custkey""".stripMargin,

    "j7_fk_inner_join" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,

    "j8_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "j9_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "j10_q3_shipping" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2""".stripMargin,

    "j14_q10_returns" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "j38_q18_bigorders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 4) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(o_totalprice, 4) AS totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "j17_q21_sole_late" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY),
        |sole AS (
        |  SELECT l1.l_suppkey, count(*)::BIGINT AS numwait FROM late l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |  GROUP BY 1)
        |SELECT s_name, sum(numwait)::BIGINT AS numwait
        |FROM sole JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "j18_q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |aq AS (SELECT l_partkey, avg(l_quantity) AS aq FROM li GROUP BY 1)
        |SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM li JOIN aq USING (l_partkey)
        |WHERE l_quantity < 0.2 * aq""".stripMargin,

    "j19_argmin_supplier" ->
      """WITH pairs AS (
        |  SELECT DISTINCT p_type, l_suppkey
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |  JOIN part ON l_partkey = p_partkey),
        |c AS (SELECT p_type, s_suppkey, s_name, s_acctbal,
        |    row_number() OVER (PARTITION BY p_type
        |      ORDER BY s_acctbal, s_suppkey) AS rn
        |  FROM pairs JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT p_type, s_suppkey, s_name, round(s_acctbal, 4) AS acctbal
        |FROM c WHERE rn = 1""".stripMargin,

    "j20_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,

    "j21_salted_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "j22_q19_disjunctive" ->
      """SELECT count(*)::BIGINT AS n_lines,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
        |    AND l_quantity BETWEEN 5 AND 30)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
        |    AND l_quantity BETWEEN 10 AND 40)""".stripMargin,

    "j23_q13_custdist" ->
      """WITH oc AS (SELECT o_custkey, count(*)::BIGINT AS c FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(c, 0)::BIGINT AS c_count, count(*)::BIGINT AS custdist
        |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,

    "j24_q22_idle_rich" ->
      """WITH pos AS (
        |  SELECT sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS tot,
        |    count(*)::BIGINT AS n
        |  FROM customer WHERE c_acctbal > 0),
        |recent AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |SELECT c_nationkey, count(*)::BIGINT AS numcust,
        |  round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer, pos
        |WHERE round(c_acctbal * 100)::BIGINT * n > tot
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1""".stripMargin,

    "j25_q7_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate)::BIGINT AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_3', 'NATION_7')
        |  AND cn.n_name IN ('NATION_3', 'NATION_7')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "j26_q8_share" ->
      """SELECT year(o_orderdate)::BIGINT AS o_year,
        |  round(
        |    (sum(CASE WHEN sn.n_name = 'NATION_3'
        |         THEN round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
        |         ELSE 0 END)::BIGINT)::DOUBLE /
        |    (sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT)::DOUBLE,
        |    6) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    "j27_q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 14, 23, 45) AND p_brand <> 'Brand#5'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "j28_q11_value_parts" ->
      """WITH v AS (SELECT l_partkey,
        |    sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS vc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, vc AS value_cents FROM v
        |WHERE vc * 2 * (SELECT count(*) FROM v) > 3 * (SELECT sum(vc) FROM v)""".stripMargin,

    // exact cent×percent integers; one final division
    "j29_q6_forecast" ->
      """SELECT
        |  round(sum(round(l_extendedprice * 100)::BIGINT
        |    * round(l_discount * 100)::BIGINT)::DOUBLE / 10000.0, 4) AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    // numerator/denominator from ONE conditional aggregation over exact
    // 10^-4-dollar integers
    "j30_q14_promo" ->
      """WITH sl AS (
        |  SELECT l.l_partkey,
        |    round(l_extendedprice * 100)::BIGINT
        |      * (100 - round(l_discount * 100)::BIGINT) AS units,
        |    p.p_type
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT
        |  round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN units ELSE 0 END)::DOUBLE
        |    / sum(units)::DOUBLE, 6) AS promo_share,
        |  round(sum(CASE WHEN p_type = 'PROMO' THEN units ELSE 0 END)::DOUBLE
        |    / 10000.0, 4) AS promo_revenue,
        |  round(sum(units)::DOUBLE / 10000.0, 4) AS total_revenue
        |FROM sl""".stripMargin,

    // gross-revenue Q9 adaptation (no partsupp in this schema); exact
    // integer accumulation, one division per (nation, year)
    "j31_q9_profit" ->
      """SELECT n.n_name AS nation,
        |  year(o.o_orderdate)::BIGINT AS o_year,
        |  round(sum(round(l_extendedprice * 100)::BIGINT
        |    * (100 - round(l_discount * 100)::BIGINT))::DOUBLE / 10000.0, 4)
        |    AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND contains(p.p_name, 'ol')
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // EXISTS as a semi join; "late" = shipped > 30 days after ordering
    "j32_q4_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-04-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND date_diff('day', o.o_orderdate::DATE, l.l_shipdate::DATE) > 30)
        |GROUP BY 1""".stripMargin,

    // correlated min as a window-min per part; unit cost = cheapest
    // observed per-unit ship price in cents
    "j33_q2_min_cost" ->
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(round(l_extendedprice / l_quantity * 100)::BIGINT) AS unit_cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |j AS (
        |  SELECT c.*, p.p_name, e.s_name, e.s_acctbal, e.n_name,
        |    min(c.unit_cost_cents) OVER (PARTITION BY c.l_partkey) AS mc
        |  FROM cost c
        |  JOIN part p ON c.l_partkey = p.p_partkey
        |    AND p.p_size IN (5, 15, 25, 35, 45) AND p.p_type = 'LARGE'
        |  JOIN eu e ON c.l_suppkey = e.s_suppkey)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, p_name,
        |  unit_cost_cents
        |FROM j WHERE unit_cost_cents = mc""".stripMargin,

    // delay-class axis standing in for l_shipmode; one conditional
    // aggregation yields both priority counts
    "j34_q12_shipmode" ->
      """SELECT CASE
        |    WHEN date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 60
        |      THEN 'SLOW'
        |    WHEN date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 30
        |      THEN 'MEDIUM'
        |    ELSE 'FAST' END AS ship_class,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,

    // dominance (>half the part's shipped quantity) standing in for
    // availqty excess; quantities as exact centi-units
    "j35_q20_excess_share" ->
      """WITH qty AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(round(l_quantity * 100)::BIGINT)::BIGINT AS sq
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |dom AS (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, sq,
        |      sum(sq) OVER (PARTITION BY l_partkey) AS part_total
        |    FROM qty)
        |  WHERE sq * 2 > part_total)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)""".stripMargin,

    "k1_latest_per_key" ->
      s"""WITH $latestSql
        |SELECT user_id, event_id, event_type, ts_sec FROM latest""".stripMargin,

    "k2_upsert_tombstone" ->
      s"""WITH $latestSql
        |SELECT user_id, event_id FROM latest WHERE event_type <> 'error'""".stripMargin,

    "k3_table_reagg" ->
      s"""WITH $latestSql
        |SELECT event_type,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS total_cents,
        |  count(*) AS n_users
        |FROM latest GROUP BY 1""".stripMargin,

    "k4_scd2" ->
      s"""WITH $evSql,
        |r AS (SELECT user_id, event_type, ts_sec,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT user_id, event_type, ts_sec AS valid_from, rn FROM r
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)""".stripMargin,

    // k4's interval table filtered at the cutoff instant (half-open)
    // the same max_by argmax over both time axes
    "k6_bitemporal" ->
      s"""WITH $evSql,
        |mid AS (SELECT ((min(event_id) + max(event_id)) // 2)::BIGINT AS e_mid,
        |    max(event_id)::BIGINT AS e_max FROM ev),
        |probes AS (
        |  SELECT 1 AS probe_id, ${1704067200L + 5 * 86400} AS v, e_mid AS e FROM mid
        |  UNION ALL
        |  SELECT 2, ${1704067200L + 10 * 86400}, e_mid FROM mid
        |  UNION ALL
        |  SELECT 3, ${1704067200L + 10 * 86400}, e_max FROM mid),
        |f AS (SELECT p.probe_id, ev.user_id, ev.ts_sec, ev.event_id,
        |    ev.event_type
        |  FROM ev CROSS JOIN probes p
        |  WHERE ev.ts_sec <= p.v AND ev.event_id <= p.e),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY probe_id, user_id
        |    ORDER BY ts_sec DESC, event_id DESC) AS rn FROM f)
        |SELECT probe_id, user_id, event_type AS known_state,
        |  ts_sec AS valid_ts, event_id AS txn_id
        |FROM rk WHERE rn = 1""".stripMargin,

    "k5_scd2_asof" ->
      s"""WITH $evSql,
        |r AS (SELECT user_id, event_type, ts_sec,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT user_id, event_type, ts_sec AS valid_from, rn FROM r
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |iv AS (SELECT user_id, event_type, valid_from,
        |    lead(valid_from) OVER w2 AS valid_to
        |  FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY rn))
        |SELECT user_id, event_type, valid_from FROM iv
        |WHERE valid_from <= ${1704067200L + 10 * 86400}
        |  AND (valid_to IS NULL OR valid_to > ${1704067200L + 10 * 86400})""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS rep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY 1""".stripMargin,

    "d2_minhash_lsh" ->
      s"""WITH $toksSql,
        |$minhashCandSql
        |SELECT a, b FROM cand""".stripMargin,

    "d3_ngram_jaccard" ->
      s"""WITH $toksSql,
        |$minhashCandSql,
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS i
        |  FROM cand p
        |  JOIN shd sa ON sa.doc_id = p.a
        |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
        |  GROUP BY 1, 2)
        |SELECT p.a AS a, p.b AS b,
        |  round(coalesce(i, 0)::DOUBLE / (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) AS jaccard
        |FROM cand p
        |JOIN sizes na ON na.doc_id = p.a
        |JOIN sizes nb ON nb.doc_id = p.b
        |LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b""".stripMargin,

    // d3's chain + d7's threshold, rolled up to source pairs
    "d13_overlap_matrix" ->
      s"""WITH $toksSql,
        |$minhashCandSql,
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS i
        |  FROM cand p
        |  JOIN shd sa ON sa.doc_id = p.a
        |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT p.a, p.b
        |  FROM cand p
        |  JOIN sizes na ON na.doc_id = p.a
        |  JOIN sizes nb ON nb.doc_id = p.b
        |  LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b
        |  WHERE round(coalesce(i, 0)::DOUBLE
        |              / (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) >= 0.4)
        |SELECT least(da.source, db.source) AS src_a,
        |  greatest(da.source, db.source) AS src_b, count(*) AS pairs
        |FROM dup
        |JOIN documents da ON da.doc_id = dup.a
        |JOIN documents db ON db.doc_id = dup.b
        |GROUP BY 1, 2""".stripMargin,

    // same candidate+Jaccard chain as d3, thresholded, then transitive
    // closure to the minimum reachable id (DuckDB recursive CTE = the
    // oracle for the Spark side's iterative label propagation)
    "d7_dedup_clusters" ->
      s"""WITH RECURSIVE $ccReachSql
        |SELECT node AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY 1""".stripMargin,

    // d7's cluster replay rolled up twice: cluster → size → size
    // histogram. Shares the ccReachSql chain so the clustering the
    // profile describes can never fork from the clustering d7 checks
    "d18_cluster_profile" ->
      s"""WITH RECURSIVE $ccReachSql,
        |cl AS (SELECT node, min(r)::BIGINT AS cid FROM reach GROUP BY 1),
        |cs AS (SELECT cid, count(*) AS cluster_size FROM cl GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM cs GROUP BY 1""".stripMargin,

    // 64-bit signature: assemble in HUGEINT (BIGINT << 63 overflows in
    // DuckDB), then two's-complement fold to signed BIGINT to match
    // Spark's long — bit 63 is the sign bit in both engines
    "d4_simhash" ->
      s"""WITH $toksSql,
        |h AS (SELECT doc_id, md5(unnest(t)) AS h FROM toks),
        |b AS (
        |  SELECT doc_id, i AS bitpos,
        |    strpos('0123456789abcdef', substr(h, (i // 4)::INT + 1, 1)) - 1 AS nib
        |  FROM h, unnest(range(0, 64)) AS u(i)),
        |bits AS (
        |  SELECT doc_id, bitpos,
        |    CASE WHEN sum(((nib >> (3 - (bitpos % 4))::INT) % 2) * 2 - 1) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM b GROUP BY 1, 2),
        |u AS (SELECT doc_id, sum(bit::HUGEINT << bitpos::INT) AS s FROM bits GROUP BY 1)
        |SELECT doc_id,
        |  (CASE WHEN s >= 9223372036854775808::HUGEINT
        |        THEN s - 18446744073709551616::HUGEINT ELSE s END)::BIGINT AS simhash
        |FROM u""".stripMargin,

    // oracle is the plain all-pairs Hamming filter: band blocking has
    // perfect recall at hamming <= maxDist (pigeonhole), so the engine's
    // banded result must equal this exactly
    "d5_simhash_neardup" ->
      s"""WITH $toksSql,
        |h AS (SELECT doc_id, md5(unnest(t)) AS h FROM toks),
        |b AS (
        |  SELECT doc_id, i AS bitpos,
        |    strpos('0123456789abcdef', substr(h, (i // 4)::INT + 1, 1)) - 1 AS nib
        |  FROM h, unnest(range(0, 64)) AS u(i)),
        |bits AS (
        |  SELECT doc_id, bitpos,
        |    CASE WHEN sum(((nib >> (3 - (bitpos % 4))::INT) % 2) * 2 - 1) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM b GROUP BY 1, 2),
        |u AS (SELECT doc_id, sum(bit::HUGEINT << bitpos::INT) AS s FROM bits GROUP BY 1),
        |sig AS (
        |  SELECT doc_id,
        |    (CASE WHEN s >= 9223372036854775808::HUGEINT
        |          THEN s - 18446744073709551616::HUGEINT ELSE s END)::BIGINT AS simhash
        |  FROM u)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |  bit_count(xor(l.simhash, r.simhash))::INT AS hamming
        |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin,

    "d6_embedding_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings)
        |SELECT a, b, sim FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    round(list_reduce(list_transform(range(1, len(l.embedding) + 1),
        |            i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE),
        |          (x, y) -> x + y) / (l.nrm * r.nrm), 6) AS sim
        |  FROM v l JOIN v r ON l.label = r.label AND l.vec_id < r.vec_id)
        |WHERE sim >= 0.3""".stripMargin,

    "s1_cosine_topk" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1, len(q.embedding) + 1),
        |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
        |          (x, y) -> x + y) / (q.nrm * c.nrm), 6) AS sim
        |  FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
        |SELECT query_id, rank, neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // 5 unrolled greedy rounds; identical λ expression tree as the
    // Spark side (1.0 − 0.7, never a 0.3 literal — binary doubles)
    "s20_mmr_rerank" -> {
      def mmrRound(r: Int): String = {
        val sel = (1 until r).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")
        s"""d$r AS (SELECT p.a AS id, max(p.s) AS dv
           |  FROM ps p JOIN ($sel) sel ON p.b = sel.id GROUP BY 1),
           |c$r AS (SELECT pool.id, pool.rel,
           |    0.7::DOUBLE * pool.rel
           |      - (1.0::DOUBLE - 0.7::DOUBLE) * coalesce(d$r.dv, 0.0::DOUBLE) AS sc
           |  FROM pool LEFT JOIN d$r USING (id)
           |  WHERE pool.id NOT IN ($sel)),
           |s$r AS (SELECT id, $r AS rank, rel, round(sc, 6) AS score
           |  FROM c$r ORDER BY sc DESC, id LIMIT 1)"""
      }
      s"""WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn
        |  FROM v WHERE vec_id = 0),
        |pool AS (
        |  SELECT id, rel, cv, cn FROM (
        |    SELECT c.vec_id AS id,
        |      round(list_reduce(list_transform(range(1, len(q.qv) + 1),
        |              i -> q.qv[i]::DOUBLE * c.embedding[i]::DOUBLE),
        |            (x, y) -> x + y) / (q.qn * c.nrm), 6) AS rel,
        |      c.embedding AS cv, c.nrm AS cn
        |    FROM v c, q WHERE c.vec_id <> q.qid)
        |  ORDER BY rel DESC, id LIMIT 20),
        |ps AS (
        |  SELECT a.id AS a, b.id AS b,
        |    round(list_reduce(list_transform(range(1, len(a.cv) + 1),
        |            i -> a.cv[i]::DOUBLE * b.cv[i]::DOUBLE),
        |          (x, y) -> x + y) / (a.cn * b.cn), 6) AS s
        |  FROM pool a JOIN pool b ON a.id <> b.id),
        |s1 AS (SELECT id, 1 AS rank, rel,
        |    round(0.7::DOUBLE * rel
        |      - (1.0::DOUBLE - 0.7::DOUBLE) * 0.0::DOUBLE, 6) AS score
        |  FROM pool ORDER BY 0.7::DOUBLE * rel
        |      - (1.0::DOUBLE - 0.7::DOUBLE) * 0.0::DOUBLE DESC, id LIMIT 1),
        |${mmrRound(2)},
        |${mmrRound(3)},
        |${mmrRound(4)},
        |${mmrRound(5)}
        |SELECT id, rank, rel, score FROM s1
        |UNION ALL SELECT id, rank, rel, score FROM s2
        |UNION ALL SELECT id, rank, rel, score FROM s3
        |UNION ALL SELECT id, rank, rel, score FROM s4
        |UNION ALL SELECT id, rank, rel, score FROM s5""".stripMargin
    },

    // s1's ranking CTE restricted to cross-class pairs
    "x80_hard_negatives" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    c.label AS neighbor_class,
        |    round(list_reduce(list_transform(range(1, len(q.embedding) + 1),
        |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
        |          (x, y) -> x + y) / (q.nrm * c.nrm), 6) AS sim
        |  FROM v q JOIN v c ON q.vec_id < 20 AND q.label <> c.label)
        |SELECT query_id, rank, neighbor_id, neighbor_class, sim FROM (
        |  SELECT query_id, neighbor_id, neighbor_class, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // s1's ranking CTE without the norm division
    "s14_mips_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1, len(q.embedding) + 1),
        |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
        |          (x, y) -> x + y), 6) AS score
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
        |SELECT query_id, rank, neighbor_id, score FROM (
        |  SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    "s2_lsh_ann" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
        |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)::BIGINT AS bkt
        |  FROM embeddings)
        |SELECT a, b, sim FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    round(list_reduce(list_transform(range(1, len(l.embedding) + 1),
        |            i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE),
        |          (x, y) -> x + y) / (l.nrm * r.nrm), 6) AS sim
        |  FROM v l JOIN v r ON l.bkt = r.bkt AND l.vec_id < r.vec_id)
        |WHERE sim >= 0.2""".stripMargin,

    "s3_ivf_assign" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM v WHERE vec_id < 16),
        |scored AS (
        |  SELECT v.vec_id AS vec_id, cid,
        |    round(round(list_reduce(list_transform(range(1, len(v.embedding) + 1),
        |            i -> v.embedding[i]::DOUBLE * cv[i]::DOUBLE),
        |          (x, y) -> x + y) / (v.nrm * cn), 6) * 1000000)::BIGINT * 100 - cid AS score
        |  FROM v, c)
        |SELECT vec_id, arg_max(cid, score) AS centroid_id
        |FROM scored GROUP BY 1""".stripMargin,

    "s4_ivf_topk" ->
      kmeansIvfOracleSql(k = 8, iters = 3, queryMax = 20, nprobe = 4, topN = 5),

    // the shared ivfr CTE chain (s4's replay) joined against a brute
    // ranking built from the same v CTE — one fit, two rankings, recall
    "s9_ann_recall" ->
      s"""WITH ${kmeansIvfRankedCtes(8, 3, 20, 4)},
        |bscored AS (
        |  SELECT q.vid AS query_id, n.vid AS neighbor_id,
        |    round(list_reduce(list_transform(range(1, len(q.vv) + 1),
        |            i -> q.vv[i]::DOUBLE * n.vv[i]::DOUBLE),
        |          (x, y) -> x + y) / (q.vn * n.vn), 6) AS sim
        |  FROM v q JOIN v n ON q.vid < 20 AND q.vid <> n.vid),
        |bruter AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM bscored),
        |bk AS (SELECT query_id, count(*)::BIGINT AS k
        |       FROM bruter WHERE rank <= 5 GROUP BY 1),
        |hits AS (
        |  SELECT b.query_id, count(*)::BIGINT AS hits
        |  FROM (SELECT query_id, neighbor_id FROM bruter WHERE rank <= 5) b
        |  JOIN (SELECT query_id, neighbor_id FROM ivfr WHERE rank <= 5) i
        |    USING (query_id, neighbor_id)
        |  GROUP BY 1)
        |SELECT bk.query_id, coalesce(hits, 0)::BIGINT AS hits,
        |  round(coalesce(hits, 0)::DOUBLE / bk.k, 6) AS recall
        |FROM bk LEFT JOIN hits USING (query_id)""".stripMargin,

    // per-subspace Lloyd replays + assignment + reconstruction norm,
    // shared with s11 via the enc CTE so the codebooks cannot fork
    "s10_pq_codes" ->
      s"""WITH ${pqCtes(2, 4, 2)}
        |SELECT vid AS vec_id, concat_ws(',', cid0, cid1) AS codes,
        |  round(rn, 6) AS recon_norm
        |FROM enc""".stripMargin,

    // ADC scoring: Σ_s ⟨q_s, c_s(code)⟩ / (‖q‖·rn) over the same enc
    // table, ranked per query with the s1/s4 tie-break convention
    "s11_pq_topk" ->
      s"""WITH ${pqCtes(2, 4, 2)},
        |fv AS (
        |  SELECT vec_id AS vid, embedding AS vv,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS vn
        |  FROM embeddings),
        |q AS (SELECT vid AS query_id, vv, vn FROM fv WHERE vid < 10),
        |scored AS (
        |  SELECT q.query_id, e.vid AS neighbor_id,
        |    round((${pqDotSum(2)}) / (q.vn * e.rn), 6) AS sim
        |  FROM q JOIN enc e ON e.vid <> q.query_id),
        |pqr AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, sim FROM pqr
        |WHERE rank <= 5""".stripMargin,

    // the s1 top-k chain (rounded sim, id tie-break) → majority vote
    // with smallest-label ties → per-true-label accuracy
    "s12_knn_eval" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1, len(q.embedding) + 1),
        |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE),
        |          (x, y) -> x + y) / (q.nrm * c.nrm), 6) AS sim
        |  FROM v q JOIN v c ON q.vec_id < 100 AND q.vec_id <> c.vec_id),
        |nn AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY sim DESC, neighbor_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 5),
        |votes AS (SELECT n.query_id, e.label AS nlabel, count(*) AS cnt
        |  FROM nn n JOIN embeddings e ON e.vec_id = n.neighbor_id
        |  GROUP BY 1, 2),
        |pred AS (SELECT query_id, nlabel AS pred FROM (
        |    SELECT query_id, nlabel,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cnt DESC, nlabel ASC) AS rn
        |    FROM votes)
        |  WHERE rn = 1)
        |SELECT e.label AS label, count(*) AS n_queries,
        |  sum((p.pred = e.label)::INT)::BIGINT AS n_correct,
        |  round(avg((p.pred = e.label)::INT::DOUBLE), 4) AS acc
        |FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
        |GROUP BY 1""".stripMargin,

    // same Lloyd replay as s7/s4, then per-vector assigned-vs-best-other
    // rounded sims; the encoded argmax is the one s3/s4 already prove
    "s8_cluster_quality" ->
      s"""WITH ${kmeansCtes(8, 3)},
        |cf AS (
        |  SELECT cid, cv,
        |    sqrt(list_reduce(list_transform(cv, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS cn
        |  FROM c3),
        |scoredv AS (
        |  SELECT v.vid, cid,
        |    round(list_reduce(list_transform(range(1, len(v.vv) + 1),
        |            i -> v.vv[i]::DOUBLE * cv[i]::DOUBLE),
        |          (x, y) -> x + y) / (v.vn * cn), 6) AS sim,
        |    round(round(list_reduce(list_transform(range(1, len(v.vv) + 1),
        |            i -> v.vv[i]::DOUBLE * cv[i]::DOUBLE),
        |          (x, y) -> x + y) / (v.vn * cn), 6) * 1000000)::BIGINT * 100
        |      - cid AS s
        |  FROM v, cf),
        |assign AS (SELECT vid, arg_max(cid, s) AS cid FROM scoredv GROUP BY 1),
        |ab AS (
        |  SELECT sv.vid, a.cid,
        |    max(CASE WHEN sv.cid = a.cid THEN sv.sim END) AS asim,
        |    max(CASE WHEN sv.cid <> a.cid THEN sv.sim END) AS bsim
        |  FROM scoredv sv JOIN assign a ON a.vid = sv.vid
        |  GROUP BY 1, 2)
        |SELECT cid AS centroid_id, count(*)::BIGINT AS n_vecs,
        |  round(avg(asim), 6) AS cohesion,
        |  round(avg(asim - bsim), 6) AS margin
        |FROM ab GROUP BY 1""".stripMargin,

    "d8_semantic_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |         (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM v WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, arg_max(cid, score) AS cid FROM (
        |    SELECT v.vec_id, cid,
        |      round(round(list_reduce(list_transform(range(1, len(v.embedding) + 1),
        |              i -> v.embedding[i]::DOUBLE * cv[i]::DOUBLE),
        |            (x, y) -> x + y) / (v.nrm * cn), 6) * 1000000)::BIGINT * 100 - cid AS score
        |    FROM v, c) GROUP BY 1)
        |SELECT a, b, sim FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    round(list_reduce(list_transform(range(1, len(l.embedding) + 1),
        |            i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE),
        |          (x, y) -> x + y) / (l.nrm * r.nrm), 6) AS sim
        |  FROM v l, v r, assign la, assign ra
        |  WHERE la.vec_id = l.vec_id AND ra.vec_id = r.vec_id
        |    AND la.cid = ra.cid AND l.vec_id < r.vec_id)
        |WHERE sim >= 0.3""".stripMargin,

    "s5_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, mx,
        |    list_transform(embedding, x -> round(x::DOUBLE * 127.0 / mx)::INT) AS qv
        |  FROM m WHERE mx > 0)
        |SELECT vec_id, round(mx, 6) AS max_abs,
        |  md5(list_aggregate(list_transform(qv, v -> v::VARCHAR), 'string_agg', ',')) AS q_digest,
        |  list_aggregate(qv, 'sum')::BIGINT AS q_sum
        |FROM q""".stripMargin,

    "s6_quant_error" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, mx, embedding,
        |    list_transform(embedding, x -> round(x::DOUBLE * 127.0 / mx)::INT) AS qv
        |  FROM m WHERE mx > 0),
        |e AS (
        |  SELECT vec_id, embedding,
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE - qv[i]::DOUBLE * mx / 127.0) AS errs
        |  FROM q)
        |SELECT vec_id,
        |  round(list_max(list_transform(errs, x -> abs(x))), 8) AS max_abs_err,
        |  round(list_reduce(list_transform(errs, x -> x * x), (x, y) -> x + y)
        |        / len(embedding), 8) AS mse
        |FROM e""".stripMargin,

    "s7_kmeans" -> kmeansOracleSql(k = 8, iters = 3),

    "x25_pca_project" -> pcaOracleSql(iters = 4),

    "s13_lr_quality" -> lrOracleSql(LrIters, LrStep, LrThreshold),

    // the same lrCtes fit chain, gating documents (keep = score ≥ thr)
    "c5_lr_gate" ->
      s"""WITH ${lrCtes(LrIters, LrStep)}
        |SELECT d.doc_id, d.source, d.n_chars, s.score
        |FROM scored s JOIN documents d ON d.doc_id = s.vec_id
        |WHERE s.score >= $LrThreshold""".stripMargin,

    // BM25 chain verbatim from the t14 oracle + the log-tf/idf scorer on
    // the same tf/df/N tables; both per-system scores round at 6 BEFORE
    // ranking (doc_id tie-break), so the integer ranks are engine-exact
    // and the rrf reciprocal sums are exact small-rational arithmetic
    "s15_rrf_fusion" ->
      s"""WITH $toksSql,
        |terms AS (SELECT doc_id, unnest(t) AS term, len(t)::BIGINT AS dl FROM toks),
        |tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM terms WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n_docs, avg(len(t)::DOUBLE) AS avgdl FROM toks),
        |bc AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        |  FROM tf JOIN dfc USING (term) CROSS JOIN st),
        |bs AS (SELECT doc_id, round(sum(c), 6) AS score FROM bc GROUP BY 1),
        |br AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |       FROM (SELECT * FROM bs ORDER BY score DESC, doc_id LIMIT 20)),
        |tc AS (
        |  SELECT doc_id, (1.0 + ln(tf::DOUBLE)) * ln(n_docs::DOUBLE / df) AS c
        |  FROM tf JOIN dfc USING (term) CROSS JOIN st),
        |ts2 AS (SELECT doc_id, round(sum(c), 6) AS score FROM tc GROUP BY 1),
        |tr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |       FROM (SELECT * FROM ts2 ORDER BY score DESC, doc_id LIMIT 20)),
        |u AS (SELECT doc_id, rank FROM br UNION ALL SELECT doc_id, rank FROM tr),
        |f AS (SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf,
        |             count(*)::BIGINT AS systems
        |      FROM u GROUP BY 1)
        |SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank,
        |  rrf, systems
        |FROM (SELECT * FROM f ORDER BY rrf DESC, doc_id LIMIT 20)""".stripMargin,

    "t1_langid" ->
      s"""SELECT doc_id,
        |  $langGuessSql AS lang_guess
        |FROM documents""".stripMargin,


    // same split regex, same integer Σtf scores, same earlier-wins tie
    "t33_extractive" ->
      s"""WITH $toksSql,
        |sp AS (SELECT doc_id,
        |    regexp_split_to_array(text, '[.!?]+\\s+') AS arr
        |  FROM documents),
        |sent0 AS (SELECT doc_id,
        |    unnest(list_filter(
        |      list_transform(range(1, len(arr) + 1),
        |        i -> struct_pack(pos := i, sentence := arr[i])),
        |      st -> trim(st.sentence) <> '')) AS st
        |  FROM sp),
        |sent AS (SELECT doc_id, st.pos AS pos, st.sentence AS sentence
        |  FROM sent0),
        |tf AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |tfc AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM tf GROUP BY 1, 2),
        |stok AS (SELECT doc_id, pos,
        |    unnest(list_filter(regexp_split_to_array(lower(sentence), '\\W+'),
        |      x -> x <> '')) AS w
        |  FROM sent),
        |sc AS (SELECT s.doc_id, s.pos, sum(t.cnt)::BIGINT AS score
        |  FROM stok s JOIN tfc t ON t.doc_id = s.doc_id AND t.w = s.w
        |  GROUP BY 1, 2),
        |rk AS (SELECT sent.doc_id, sent.pos,
        |    coalesce(sc.score, 0)::BIGINT AS score, sent.sentence,
        |    row_number() OVER (PARTITION BY sent.doc_id
        |      ORDER BY coalesce(sc.score, 0) DESC, sent.pos ASC) AS rank
        |  FROM sent LEFT JOIN sc USING (doc_id, pos))
        |SELECT doc_id, rank, pos, score, sentence FROM rk WHERE rank <= 2""".stripMargin,

    // identical log-sum term shape; counts exact, one ln per factor
    "t32_collocations" ->
      s"""WITH $toksSql,
        |bg AS (SELECT unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
        |    ELSE [] END) AS bg
        |  FROM toks),
        |pairs AS (SELECT string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2 FROM bg),
        |k AS (SELECT w1, w2, count(*)::BIGINT AS k11 FROM pairs
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |m1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM pairs GROUP BY 1),
        |m2 AS (SELECT w2, count(*)::BIGINT AS c2 FROM pairs GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM pairs),
        |sc AS (SELECT k.w1, k.w2, k.k11 AS cnt,
        |    round(2.0::DOUBLE * (
        |      (CASE WHEN k11 > 0 THEN k11::DOUBLE *
        |        (ln(k11::DOUBLE) + ln(n::DOUBLE) - ln(c1::DOUBLE) - ln(c2::DOUBLE))
        |        ELSE 0.0 END) +
        |      (CASE WHEN c1 - k11 > 0 THEN (c1 - k11)::DOUBLE *
        |        (ln((c1 - k11)::DOUBLE) + ln(n::DOUBLE) - ln(c1::DOUBLE)
        |         - ln((n - c2)::DOUBLE)) ELSE 0.0 END) +
        |      (CASE WHEN c2 - k11 > 0 THEN (c2 - k11)::DOUBLE *
        |        (ln((c2 - k11)::DOUBLE) + ln(n::DOUBLE) - ln((n - c1)::DOUBLE)
        |         - ln(c2::DOUBLE)) ELSE 0.0 END) +
        |      (CASE WHEN n - c1 - c2 + k11 > 0 THEN (n - c1 - c2 + k11)::DOUBLE *
        |        (ln((n - c1 - c2 + k11)::DOUBLE) + ln(n::DOUBLE)
        |         - ln((n - c1)::DOUBLE) - ln((n - c2)::DOUBLE)) ELSE 0.0 END)
        |    ), 4) AS g2
        |  FROM k JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nn)
        |SELECT w1, w2, cnt, g2 FROM sc
        |ORDER BY g2 DESC, w1 ASC, w2 ASC LIMIT 15""".stripMargin,

    "t31_langid_eval" ->
      s"""WITH g AS (SELECT lang, $langGuessSql AS lang_guess FROM documents),
        |c AS (SELECT lang, lang_guess, count(*)::BIGINT AS n
        |  FROM g GROUP BY 1, 2)
        |SELECT lang, lang_guess, n,
        |  round(n::DOUBLE /
        |    (sum(n) OVER (PARTITION BY lang))::DOUBLE, 6) AS share
        |FROM c""".stripMargin,

    // label QA: per-source agreement between the shipped lang label and
    // the t1 heuristic on the binarized is-English task
    "t13_label_agreement" ->
      s"""WITH g AS (
        |  SELECT source, (lang = 'en') AS l,
        |    ($langGuessSql = 'en') AS gg
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  sum(l::INT)::BIGINT AS labeled_en, sum(gg::INT)::BIGINT AS guessed_en,
        |  round(avg((l = gg)::INT::DOUBLE), 6) AS agree
        |FROM g GROUP BY 1""".stripMargin,

    // unrolled PageRank rounds (the s7 pattern: per-iteration rounding
    // pins the trajectory); literal/op ORDER mirrors GraphOps.pageRank
    // so IEEE evaluation cannot fork
    "t18_textrank" -> {
      val iterBlocks = (1 to 5).map { j =>
        s"""r$j AS (
           |  SELECT c.a AS node,
           |    round((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           |          + 0.85::DOUBLE * sum(c.share * r.r), 6) AS r
           |  FROM ctr c JOIN r${j - 1} r ON r.node = c.b GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH $toksSql,
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgf AS (SELECT a, b FROM bg WHERE a <> b),
        |ew AS (SELECT a, b, count(*)::DOUBLE AS w FROM
        |    (SELECT a, b FROM bgf UNION ALL SELECT b AS a, a AS b FROM bgf)
        |  GROUP BY 1, 2),
        |wdeg AS (SELECT a, sum(w) AS wd FROM ew GROUP BY 1),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM wdeg),
        |ctr AS (SELECT e.a, e.b, e.w / d.wd AS share
        |        FROM ew e JOIN wdeg d ON d.a = e.b),
        |r0 AS (SELECT a AS node, round(1.0::DOUBLE / (SELECT n FROM nn), 6) AS r
        |       FROM wdeg),
        |$iterBlocks
        |SELECT node AS token, r AS score FROM r5""".stripMargin
    },

    // degree-ordered orientation replayed relationally: the (d, node)
    // total order picks one direction per edge, wedges pair oriented
    // out-edges, the closer matches in canonical (t1 < t2) order
    "g1_triangles" ->
      s"""WITH $toksSql,
        |bgs AS (SELECT source, unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |        FROM toks WHERE len(t) >= 2),
        |und AS (SELECT DISTINCT source AS g, least(a, b) AS u, greatest(a, b) AS v
        |        FROM bgs WHERE a <> b),
        |deg AS (SELECT g, x, count(*) AS d FROM
        |    (SELECT g, u AS x FROM und UNION ALL SELECT g, v AS x FROM und)
        |  GROUP BY 1, 2),
        |ori AS (SELECT und.g,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t
        |  FROM und
        |  JOIN deg du ON du.g = und.g AND du.x = und.u
        |  JOIN deg dv ON dv.g = und.g AND dv.x = und.v),
        |wedge AS (SELECT e1.g, e1.t AS t1, e2.t AS t2
        |          FROM ori e1 JOIN ori e2 ON e2.g = e1.g AND e2.s = e1.s
        |          WHERE e1.t < e2.t),
        |clo AS (SELECT g, least(s, t) AS t1, greatest(s, t) AS t2 FROM ori)
        |SELECT w.g AS source, count(*) AS n_triangles
        |FROM wedge w JOIN clo ON clo.g = w.g AND clo.t1 = w.t1 AND clo.t2 = w.t2
        |GROUP BY 1""".stripMargin,

    // exact unrolled replay (the t18 pattern) — but in integer
    // micro-units, so no per-round rounding convention is even needed:
    // every Σ is a BIGINT add, every normalize a correctly-rounded
    // divide on < 2^53 integers
    "g2_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS p
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1r AS (SELECT p, 1000000::BIGINT * count(*) AS raw FROM e GROUP BY 1),
        |a1s AS (SELECT sum(raw) AS s FROM a1r),
        |a1 AS (SELECT p, round(raw::DOUBLE * 1000000 / s)::BIGINT AS a
        |       FROM a1r, a1s),
        |h1r AS (SELECT u, sum(a) AS raw FROM e JOIN a1 USING (p) GROUP BY u),
        |h1s AS (SELECT sum(raw) AS s FROM h1r),
        |h1 AS (SELECT u, round(raw::DOUBLE * 1000000 / s)::BIGINT AS h
        |       FROM h1r, h1s),
        |a2r AS (SELECT p, sum(h) AS raw FROM e JOIN h1 USING (u) GROUP BY p),
        |a2s AS (SELECT sum(raw) AS s FROM a2r),
        |a2 AS (SELECT p, round(raw::DOUBLE * 1000000 / s)::BIGINT AS a
        |       FROM a2r, a2s),
        |h2r AS (SELECT u, sum(a) AS raw FROM e JOIN a2 USING (p) GROUP BY u),
        |h2s AS (SELECT sum(raw) AS s FROM h2r),
        |h2 AS (SELECT u, round(raw::DOUBLE * 1000000 / s)::BIGINT AS h
        |       FROM h2r, h2s)
        |SELECT 'auth' AS role, p AS node, a AS score FROM a2
        |UNION ALL
        |SELECT 'hub' AS role, u AS node, h AS score FROM h2""".stripMargin,

    "x46_item_cooccur" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sz AS (SELECT l_partkey, count(*) AS n FROM b GROUP BY 1),
        |p AS (SELECT x.l_partkey AS pk1, y.l_partkey AS pk2, count(*) AS co
        |      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
        |        AND x.l_partkey < y.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pk1, pk2, co, round(co / sqrt(sa.n * sb.n), 6) AS cosine
        |FROM p
        |JOIN sz sa ON pk1 = sa.l_partkey
        |JOIN sz sb ON pk2 = sb.l_partkey""".stripMargin,

    // t18's unrolled-trajectory pattern with the teleport rewired to
    // the seed table: each round is the damped contribution sum UNION'd
    // with the per-seed teleport rows, re-aggregated and rounded at 6
    // (the sum collapses ≤ 2 doubles per node — commutative, engine-
    // exact given identical inputs); rounded-to-zero rows are pruned on
    // both sides so the sparse-frontier contract replays exactly
    "g3_ppr" -> {
      val iterBlocks = (1 to 4).map { j =>
        s"""r$j AS (
           |  SELECT node, round(sum(m), 6) AS r FROM (
           |    SELECT c.a AS node, 0.85::DOUBLE * sum(c.share * r.r) AS m
           |    FROM ctr c JOIN r${j - 1} r ON r.node = c.b GROUP BY 1
           |    UNION ALL SELECT node, m FROM tp) u
           |  GROUP BY 1 HAVING round(sum(m), 6) > 0)"""
      }.mkString(",\n")
      s"""WITH $toksSql,
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgf AS (SELECT a, b FROM bg WHERE a <> b),
        |ew AS (SELECT a, b, count(*)::DOUBLE AS w FROM
        |    (SELECT a, b FROM bgf UNION ALL SELECT b AS a, a AS b FROM bgf)
        |  GROUP BY 1, 2),
        |wdeg AS (SELECT a, sum(w) AS wd FROM ew GROUP BY 1),
        |ctr AS (SELECT e.a, e.b, e.w / d.wd AS share
        |        FROM ew e JOIN wdeg d ON d.a = e.b),
        |sd AS (SELECT * FROM (VALUES ('hash'), ('join')) s(node)),
        |ns AS (SELECT count(*)::DOUBLE AS ns FROM sd),
        |tp AS (SELECT node, 0.15::DOUBLE / (SELECT ns FROM ns) AS m FROM sd),
        |r0 AS (SELECT node, round(1.0::DOUBLE / (SELECT ns FROM ns), 6) AS r
        |       FROM sd),
        |$iterBlocks
        |SELECT node AS token, r AS score FROM r4""".stripMargin
    },

    // bounded k-core peel replayed round for round: d_j = degrees on
    // the (j−1)-survivor edge set with the >= k floor, e_j = edges with
    // both endpoints surviving; the output is round 6's qualifying
    // degree table — pure integer counting, engine-exact
    "g4_kcore" -> {
      val peelBlocks = (1 to 6).map { j =>
        s"""d$j AS (SELECT u, count(*)::BIGINT AS d FROM e${j - 1}
           |  GROUP BY 1 HAVING count(*) >= 10),
           |e$j AS (SELECT e.u, e.v FROM e${j - 1} e
           |  JOIN d$j a ON a.u = e.u JOIN d$j b ON b.u = e.v)"""
      }.mkString(",\n")
      s"""WITH $toksSql,
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgf AS (SELECT a, b FROM bg WHERE a <> b),
        |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM bgf),
        |e0 AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        |$peelBlocks
        |SELECT u AS node, d AS degree FROM d6""".stripMargin
    },

    "t2_quality" ->
      s"""WITH $toksSql,
        |$qualitySql
        |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio, quality
        |FROM q""".stripMargin,

    "t3_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
        |  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS re_tokens
        |FROM documents""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "m1_bytes_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len,
        |  length(text)::BIGINT AS char_len
        |FROM documents""".stripMargin,

    // SyntheticMedia's metadata formulas restated as arithmetic — the
    // oracle checks what the real byte-level parser must recover
    "m2_media_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
        |    WHEN 2 THEN 'image/bmp' ELSE 'audio/wav' END AS media_type,
        |  (CASE WHEN doc_id % 4 < 3 THEN 1 + doc_id % 1000 ELSE 0 END)::INT AS width,
        |  (CASE WHEN doc_id % 4 < 3 THEN 1 + doc_id % 97 ELSE 0 END)::INT AS height,
        |  (CASE WHEN doc_id % 4 = 3 THEN (4000 + doc_id % 512) * 1000
        |      // ((8000 + (doc_id % 8) * 1000) * (1 + doc_id % 2) * 2)
        |    ELSE 0 END)::BIGINT AS duration_ms,
        |  (CASE WHEN doc_id % 4 = 3 THEN 1 + doc_id % 2 ELSE 0 END)::INT AS channels,
        |  (CASE WHEN doc_id % 4 = 3 THEN 8000 + (doc_id % 8) * 1000
        |    ELSE 0 END)::INT AS sample_rate
        |FROM documents""".stripMargin,

    // the selected-position mask as a 63-bit word: 31-term arithmetic
    // progression (offset + i·step) mod 63, step from a coprime pick —
    // the hash the real BMP → decode → DCT → median pipeline must emit
    // (SyntheticMediaOracleSpec proves the equality over every residue)
    "m3_phash" ->
      """SELECT d.doc_id,
        |  (SELECT sum(1::BIGINT << ((d.doc_id % 63 + i * s) % 63))::BIGINT
        |   FROM generate_series(0, 30) t(i)) AS phash
        |FROM (SELECT doc_id,
        |    CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
        |      WHEN 3 THEN 5 ELSE 8 END AS s
        |  FROM documents) d""".stripMargin,

    // bin-aligned tone physics as arithmetic: dominant = k·rate/1024 and
    // rolloff = (k+1)·rate/1024 are EXACT doubles (rate divisible by 8
    // makes rate/1024 exact binary); centroid rounds to the bin integer
    "m4_audio_spectral" ->
      """SELECT doc_id,
        |  (8000 + (doc_id % 8) * 1000)::INT AS sample_rate,
        |  ((8 + doc_id % 48) * (8000 + (doc_id % 8) * 1000))::DOUBLE
        |    / 1024.0 AS dominant_hz,
        |  (8 + doc_id % 48)::INT AS centroid_bin,
        |  ((9 + doc_id % 48) * (8000 + (doc_id % 8) * 1000))::DOUBLE
        |    / 1024.0 AS rolloff85_hz,
        |  TRUE AS is_tonal
        |FROM documents""".stripMargin,

    // brightness-rescale pairs: ids 2g and 2g+1 share a pattern, so the
    // distance-0 banded join must return exactly the consecutive pairs
    "m5_phash_neardup" ->
      """SELECT d1.doc_id AS a, d2.doc_id AS b, 0::INT AS hamming
        |FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |WHERE d1.doc_id % 2 = 0 AND d1.doc_id < 630 AND d2.doc_id < 630
        |""".stripMargin,

    // container fields restated as arithmetic: MP4 duration is a real
    // integer division (600-tick timescale), AVI duration is
    // µs/frame × frames / 1000
    "m6_video_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 2 WHEN 0 THEN 'video/mp4' ELSE 'video/avi' END
        |    AS media_type,
        |  (1 + doc_id % 1000)::INT AS width,
        |  (1 + doc_id % 97)::INT AS height,
        |  (CASE doc_id % 2
        |    WHEN 0 THEN (1 + doc_id % 100000) * 1000 // 600
        |    ELSE (10000 + (doc_id % 5) * 10000) * (1 + doc_id % 2400) // 1000
        |   END)::BIGINT AS duration_ms
        |FROM documents""".stripMargin,

    // the measured image-hash Hamming distance must equal the popcount
    // of the two arithmetic masks' XOR — every nonzero distance stated
    "m7_phash_hamming" ->
      """WITH m AS (SELECT d.doc_id,
        |    (SELECT sum(1::BIGINT << ((d.doc_id % 63 + i * s) % 63))::BIGINT
        |     FROM generate_series(0, 30) t(i)) AS mask
        |  FROM (SELECT doc_id,
        |      CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
        |        WHEN 3 THEN 5 ELSE 8 END AS s
        |    FROM documents) d)
        |SELECT a.doc_id, bit_count(xor(a.mask, b.mask))::INT AS hamming
        |FROM m a JOIN m b ON b.doc_id = a.doc_id + 1""".stripMargin,

    // survivors = the even ids (min per pattern group), each carrying
    // its group's arithmetic mask
    "m9_image_dedup_keep" ->
      """SELECT d.doc_id,
        |  (SELECT sum(1::BIGINT << (((d.doc_id // 2) % 63 + i * s) % 63))::BIGINT
        |   FROM generate_series(0, 30) t(i)) AS phash
        |FROM (SELECT doc_id,
        |    CASE (doc_id // 2) % 5 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
        |      WHEN 3 THEN 5 ELSE 8 END AS s
        |  FROM documents WHERE doc_id < 630 AND doc_id % 2 = 0) d""".stripMargin,

    // frame count and decoded dimensions as arithmetic; every frame must
    // decode (frames_decoded = n_frames — real JPEGs, real decoder)
    "m8_avi_frames" ->
      """SELECT doc_id,
        |  (1 + doc_id % 8)::INT AS n_frames,
        |  (1 + doc_id % 8)::INT AS frames_decoded,
        |  (8 + doc_id % 16)::INT AS frame_w,
        |  (8 + doc_id % 12)::INT AS frame_h
        |FROM documents""".stripMargin,

    // sample count and decoded dimensions as arithmetic; every sample
    // must decode (the sample table is real, the samples are real JPEGs)
    "m10_mp4_frames" ->
      """SELECT doc_id,
        |  (1 + doc_id % 6)::INT AS n_frames,
        |  (1 + doc_id % 6)::INT AS frames_decoded,
        |  (8 + doc_id % 14)::INT AS frame_w,
        |  (8 + doc_id % 10)::INT AS frame_h
        |FROM documents""".stripMargin,

    // the generator writes constant-luma I_PCM frames, and I_PCM decode
    // is LOSSLESS — so the decoded full-plane mean luma is exactly the
    // generator's arithmetic, restated here
    "m11_h264_frames" ->
      """SELECT doc_id,
        |  (1 + doc_id % 5)::INT AS n_frames,
        |  (16 + 2 * (doc_id % 9))::INT AS frame_w,
        |  (16 + 2 * (doc_id % 7))::INT AS frame_h,
        |  ((doc_id * 5) % 200 + 28)::BIGINT AS y_mean_first
        |FROM documents""".stripMargin,

    // the CAVLC generator plants luma DC level ((id·7 + i·13) mod 15) − 7
    // in frame i at QP 28; the decoded plane is constant 128 + level, so
    // mean luma is exactly that arithmetic for the first and last frame
    "m12_h264_cavlc" ->
      """SELECT doc_id,
        |  (1 + doc_id % 3)::INT AS n_frames,
        |  (16 * (1 + doc_id % 3))::INT AS frame_w,
        |  (16 * (1 + doc_id % 2))::INT AS frame_h,
        |  (128 + (doc_id * 7) % 15 - 7)::BIGINT AS y_mean_first,
        |  (128 + (doc_id * 7 + (doc_id % 3) * 13) % 15 - 7)::BIGINT AS y_mean_last
        |FROM documents""".stripMargin,

    // the IDR plane is 128 + d0 (the m12 algebra); each coded (odd) P
    // frame adds exactly 4·c_t = 4·((id + t) % 5 − 2) to the constant
    // plane, skip frames copy it — frames = 2 + id % 3, so frame 1 is
    // always coded and frame 3 is coded only when id % 3 = 2
    "m13_h264_pframes" ->
      """SELECT doc_id,
        |  (2 + doc_id % 3)::INT AS n_frames,
        |  (16 * (1 + doc_id % 3))::INT AS frame_w,
        |  (16 * (1 + doc_id % 2))::INT AS frame_h,
        |  (128 + (doc_id * 7) % 15 - 7)::BIGINT AS y_mean_first,
        |  (128 + (doc_id * 7) % 15 - 7
        |     + 4 * ((doc_id + 1) % 5 - 2)
        |     + CASE WHEN doc_id % 3 = 2
        |            THEN 4 * ((doc_id + 3) % 5 - 2) ELSE 0 END
        |  )::BIGINT AS y_mean_last
        |FROM documents""".stripMargin,

    // GOP algebra: a = the m12 IDR plane; c1/c2 = the EVEN per-frame
    // deltas 2*((doc_id+t)%3 - 1); P adds 4c, B lands on the exact
    // bi-average a + 2c (see SyntheticMedia.h264BMp4Bytes)
    "m14_h264_bframes" ->
      """SELECT doc_id,
        |  (3 + doc_id % 3)::INT AS n_frames,
        |  (16 * (1 + doc_id % 3))::INT AS frame_w,
        |  (16 * (1 + doc_id % 2))::INT AS frame_h,
        |  (128 + (doc_id * 7) % 15 - 7)::BIGINT AS y_mean_first,
        |  (128 + (doc_id * 7) % 15 - 7
        |     + 2 * (2 * ((doc_id + 1) % 3 - 1)))::BIGINT AS y_mean_b1,
        |  (128 + (doc_id * 7) % 15 - 7
        |     + CASE doc_id % 3
        |         WHEN 0 THEN 2 * (2 * ((doc_id + 1) % 3 - 1))
        |         WHEN 1 THEN 4 * (2 * ((doc_id + 1) % 3 - 1))
        |                   + 4 * (2 * ((doc_id + 2) % 3 - 1))
        |         ELSE 4 * (2 * ((doc_id + 1) % 3 - 1))
        |                   + 2 * (2 * ((doc_id + 2) % 3 - 1))
        |       END)::BIGINT AS y_mean_last
        |FROM documents""".stripMargin,

    // the CABAC generator plants luma DC level ((id·11 + i·9) mod 15) − 7
    // in frame i at QP 28 (the m12 algebra under the arithmetic coder);
    // the decoded plane is constant 128 + level
    "m15_h264_cabac" ->
      """SELECT doc_id,
        |  (1 + doc_id % 4)::INT AS n_frames,
        |  (16 * (1 + doc_id % 2))::INT AS frame_w,
        |  (16 * (1 + doc_id % 3))::INT AS frame_h,
        |  (128 + (doc_id * 11) % 15 - 7)::BIGINT AS y_mean_first,
        |  (128 + (doc_id * 11 + (doc_id % 4) * 9) % 15 - 7)::BIGINT AS y_mean_last
        |FROM documents""".stripMargin,

    "x1_setops" ->
      s"""WITH $evSql,
        |e AS (SELECT * FROM ev WHERE ts_sec < ${1704067200L + 2 * 86400})
        |SELECT DISTINCT user_id FROM e WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT user_id FROM e WHERE event_type = 'view'
        |EXCEPT
        |SELECT DISTINCT user_id FROM e WHERE event_type = 'error'""".stripMargin,

    "x2_topk_users" ->
      """SELECT rank, user_id, total FROM (
        |  SELECT user_id, total,
        |    row_number() OVER (ORDER BY total DESC, user_id ASC) AS rank
        |  FROM (SELECT user_id, round(sum(value), 2) AS total FROM events GROUP BY 1))
        |WHERE rank <= 10""".stripMargin,

    "x3_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "x115_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin,

    // melt as three stacked slices — the naive statement the single
    // Expand must equal
    "x116_unpivot" ->
      s"""WITH $evSql,
        |wide AS (SELECT user_id,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS clicks,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS views,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS purchases
        |  FROM ev GROUP BY 1)
        |SELECT user_id, 'clicks' AS metric, clicks AS cnt FROM wide
        |UNION ALL SELECT user_id, 'views', views FROM wide
        |UNION ALL SELECT user_id, 'purchases', purchases FROM wide""".stripMargin,

    "x8_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "x4_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k_val
        |FROM events""".stripMargin,

    "x5_window_rank" ->
      """SELECT user_id, rnk, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id ASC) AS rnk
        |  FROM events)
        |WHERE rnk <= 3""".stripMargin,

    // disc-rule boundaries in pure integers; clamp then exact sums
    "x121_winsorize" ->
      s"""WITH $evSql,
        |v AS (SELECT event_type, round(value * 1000000)::BIGINT AS mu FROM ev),
        |h AS (SELECT event_type, mu, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
        |cm AS (SELECT event_type, mu, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY mu ASC)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
        |  FROM h),
        |b AS (SELECT event_type,
        |    min(CASE WHEN cum * 20 >= n THEN mu END)::BIGINT AS lo,
        |    min(CASE WHEN cum * 20 >= n * 19 THEN mu END)::BIGINT AS hi,
        |    first(n)::BIGINT AS n
        |  FROM cm GROUP BY 1),
        |w AS (SELECT v.event_type, b.n, b.lo, b.hi, v.mu,
        |    greatest(b.lo, least(b.hi, v.mu)) AS wmu
        |  FROM v JOIN b USING (event_type))
        |SELECT event_type, first(n)::BIGINT AS n,
        |  round(first(lo)::DOUBLE / 1e6, 6) AS p05,
        |  round(first(hi)::DOUBLE / 1e6, 6) AS p95,
        |  round(sum(mu)::DOUBLE / first(n) / 1e6, 6) AS mean_raw,
        |  round(sum(wmu)::DOUBLE / first(n) / 1e6, 6) AS mean_winsorized,
        |  sum(CASE WHEN mu <> wmu THEN 1 ELSE 0 END)::BIGINT AS n_clamped
        |FROM w GROUP BY 1""".stripMargin,

    // one sort serves every rank flavor; centi-value keys make ties real
    "x119_window_suite" ->
      """SELECT user_id, rn, event_id, cv, rnk, drnk, pr, cd, top_cv FROM (
        |  SELECT user_id, event_id, round(value * 100)::BIGINT AS cv,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY round(value * 100)::BIGINT ASC, event_id ASC) AS rn,
        |    rank() OVER wt AS rnk,
        |    dense_rank() OVER wt AS drnk,
        |    round(percent_rank() OVER wt, 6) AS pr,
        |    round(cume_dist() OVER wt, 6) AS cd,
        |    max(round(value * 100)::BIGINT)
        |      OVER (PARTITION BY user_id) AS top_cv
        |  FROM events
        |  WINDOW wt AS (PARTITION BY user_id
        |    ORDER BY round(value * 100)::BIGINT ASC))
        |WHERE rn <= 5""".stripMargin,

    "x120_skew_report" ->
      """WITH c AS (SELECT l_orderkey, count(*)::BIGINT AS c
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
        |  max(c)::BIGINT AS max_c,
        |  round(quantile_cont(c, 0.99), 4) AS p99_c,
        |  round(max(c)::DOUBLE * count(*)::DOUBLE / sum(c)::DOUBLE, 4)
        |    AS skew_factor
        |FROM c""".stripMargin,

    "x12_pivot" ->
      s"""WITH $evSql
        |SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS clicks,
        |  count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS views,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS purchases,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
        |    AS purchase_value
        |FROM ev GROUP BY 1""".stripMargin,

    "x11_running_sum" ->
      s"""WITH $evSql
        |SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        |  round(value - coalesce(lag(value, 1) OVER (
        |    PARTITION BY user_id ORDER BY ts_sec, event_id), 0), 2) AS delta_prev
        |FROM ev""".stripMargin,

    "x6_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin,

    "x7_asof_join" ->
      """WITH prev AS (
        |  SELECT o1.o_orderkey AS o_orderkey,
        |    arg_max(o2.o_orderkey,
        |            epoch(o2.o_orderdate)::BIGINT * 1000000 + o2.o_orderkey) AS prev_orderkey
        |  FROM orders o1 JOIN orders o2
        |    ON o1.o_custkey = o2.o_custkey AND o2.o_orderdate < o1.o_orderdate
        |  GROUP BY 1)
        |SELECT o.o_orderkey AS o_orderkey, prev.prev_orderkey AS prev_orderkey
        |FROM orders o LEFT JOIN prev ON o.o_orderkey = prev.o_orderkey""".stripMargin,

    "a6_custom_udaf" ->
      """SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS total_cents
        |FROM events GROUP BY 1""".stripMargin,

    "t7_repetition" ->
      s"""WITH $toksSql,
        |g AS (
        |  SELECT doc_id, t,
        |    CASE WHEN len(t) >= 2
        |      THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
        |      ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |      ELSE []::VARCHAR[] END AS g3
        |  FROM toks)
        |SELECT doc_id,
        |  round((len(t) - len(list_distinct(t)))::DOUBLE
        |        / greatest(len(t), 1)::DOUBLE, 4) AS dup_token_frac,
        |  round((len(g2) - len(list_distinct(g2)))::DOUBLE
        |        / greatest(len(g2), 1)::DOUBLE, 4) AS dup_bigram_frac,
        |  round((len(g3) - len(list_distinct(g3)))::DOUBLE
        |        / greatest(len(g3), 1)::DOUBLE, 4) AS dup_trigram_frac
        |FROM g""".stripMargin,

    "x20_quality_sample" ->
      s"""WITH $toksSql,
        |$qualitySql
        |SELECT doc_id, quality FROM q
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
        |      < floor(quality * 1000000)::BIGINT""".stripMargin,

    "x33_quality_tiers" ->
      s"""WITH $toksSql,
        |$qualitySql,
        |hist AS (SELECT quality, count(*) AS c FROM q GROUP BY 1),
        |cumt AS (
        |  SELECT quality,
        |    sum(c) OVER (ORDER BY quality
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM hist)
        |SELECT q.doc_id, q.quality, ceil(cumt.cum * 4.0 / cumt.n)::BIGINT AS tier
        |FROM q JOIN cumt USING (quality)""".stripMargin,

    "x19_source_mixture" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |    ((substr(source, 4)::INT % 3) + 1)::BIGINT AS w
        |  FROM documents GROUP BY 1),
        |tw AS (SELECT sum(w) AS sw FROM c),
        |r AS (
        |  SELECT source, least(1000000, (w * 200 * 1000000) // (sw * n)) AS p
        |  FROM c, tw)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON r.source = d.source
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 < p""".stripMargin,

    "x18_chunk" ->
      s"""WITH $toksSql,
        |c AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) <= 32 THEN 1
        |         ELSE 1 + ((len(t) - 32 + 23) // 24) END AS nchunks
        |  FROM toks WHERE len(t) > 0),
        |u AS (SELECT doc_id, t, n, unnest(range(0, nchunks)) AS i FROM c)
        |SELECT doc_id, i::BIGINT AS chunk_idx,
        |  len(t[i * 24 + 1 : least(i * 24 + 32, n)])::BIGINT AS n_tokens,
        |  md5(array_to_string(t[i * 24 + 1 : least(i * 24 + 32, n)], ' ')) AS fp
        |FROM u""".stripMargin,

    "c2_curation_v2" ->
      """WITH tokc AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 41 <> 0),
        |rep AS (
        |  SELECT doc_id FROM tokc
        |  WHERE round((len(t) - len(list_distinct(t)))::DOUBLE
        |              / greatest(len(t), 1)::DOUBLE, 4) <= 0.6),
        |sh5c AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM tokc),
        |tokb AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 41 = 0),
        |benchsh AS (
        |  SELECT DISTINCT md5(sh) AS shh FROM (
        |    SELECT unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |    FROM tokb)),
        |contam AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM (SELECT DISTINCT doc_id, md5(sh) AS shh FROM sh5c) c
        |  JOIN benchsh b ON b.shh = c.shh),
        |bi AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(t)),
        |            i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS u
        |        FROM tokc WHERE len(t) >= 2)),
        |cbi AS (SELECT w1, w2, count(*) AS cbi FROM bi GROUP BY 1, 2),
        |cw AS (SELECT w1, sum(cbi) AS cw FROM cbi GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT tok) AS v
        |          FROM (SELECT unnest(t) AS tok FROM tokc)),
        |fluent AS (
        |  SELECT b.doc_id
        |  FROM bi b
        |  JOIN cbi ON cbi.w1 = b.w1 AND cbi.w2 = b.w2
        |  JOIN cw ON cw.w1 = b.w1
        |  CROSS JOIN vocab
        |  GROUP BY 1
        |  HAVING round(avg(ln((cbi + 1)::DOUBLE / (cw + v)::DOUBLE)), 4) >= -3.42),
        |kept AS (
        |  SELECT r.doc_id, d.source FROM rep r
        |  JOIN fluent f ON f.doc_id = r.doc_id
        |  JOIN documents d ON d.doc_id = r.doc_id
        |  LEFT JOIN contam x ON x.doc_id = r.doc_id
        |  WHERE x.doc_id IS NULL),
        |c AS (SELECT source, count(*) AS n,
        |        ((substr(source, 4)::INT % 3) + 1)::BIGINT AS w
        |      FROM kept GROUP BY 1),
        |tw AS (SELECT sum(w) AS sw FROM c),
        |r2 AS (SELECT source, least(1000000, (w * 100 * 1000000) // (sw * n)) AS p
        |       FROM c, tw)
        |SELECT k.doc_id, k.source
        |FROM kept k JOIN r2 ON r2.source = k.source
        |WHERE ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 < p""".stripMargin,

    "d10_fuzzy_decontaminate" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 41 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 41 = 0),
        |${minhashCandSqlFor(12, 2)},
        |xc AS (SELECT a, b FROM cand WHERE (a < 1000000) <> (b < 1000000)),
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS i
        |  FROM xc p
        |  JOIN shd sa ON sa.doc_id = p.a
        |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT p.a,
        |    round(coalesce(i, 0)::DOUBLE / (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) AS jaccard
        |  FROM xc p
        |  JOIN sizes na ON na.doc_id = p.a
        |  JOIN sizes nb ON nb.doc_id = p.b
        |  LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b),
        |best AS (SELECT a AS doc_id, max(jaccard) AS best_jaccard FROM jac GROUP BY 1)
        |SELECT d.doc_id, coalesce(b.best_jaccard, 0.0) AS best_jaccard,
        |  coalesce(b.best_jaccard, 0.0) >= 0.35 AS contaminated
        |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
        |WHERE d.doc_id % 41 <> 0""".stripMargin,

    "d11_span_dup" ->
      s"""WITH $toksSql,
        |sh5 AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks),
        |shd AS (SELECT DISTINCT doc_id, md5(sh) AS shh FROM sh5),
        |totals AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |dupd AS (SELECT shh FROM shd GROUP BY shh HAVING count(*) >= 2),
        |dups AS (SELECT doc_id, count(*) AS dn FROM shd JOIN dupd USING (shh) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(t.n, 0)::BIGINT AS n_shingles,
        |  coalesce(u.dn, 0)::BIGINT AS dup_shingles,
        |  round(coalesce(u.dn, 0)::DOUBLE /
        |        greatest(coalesce(t.n, 0), 1)::DOUBLE, 6) AS dup_frac
        |FROM documents d
        |LEFT JOIN totals t ON t.doc_id = d.doc_id
        |LEFT JOIN dups u ON u.doc_id = d.doc_id""".stripMargin,

    // n=8 grams WITH positions (no short-doc fallback — ngrams, not
    // shingles); islands merge starts with gap ≤ 8; first row's NULL lag
    // comparison falls to ELSE 1 in both engines (new island)
    "d14_dup_spans" ->
      s"""WITH $toksSql,
        |pos0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
        |    i -> struct_pack(pos := i - 1,
        |                     shh := md5(array_to_string(t[i:i+7], ' '))))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |posf AS (SELECT doc_id, s.pos AS pos, s.shh AS shh FROM pos0),
        |dupd AS (SELECT shh FROM posf GROUP BY shh HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos FROM posf JOIN dupd USING (shh)),
        |mark AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM cov),
        |isl AS (
        |  SELECT doc_id, pos,
        |    (sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS span_idx
        |  FROM mark)
        |SELECT doc_id, span_idx, min(pos)::BIGINT AS span_start,
        |  count(*)::BIGINT AS n_starts,
        |  (max(pos) - min(pos) + 8)::BIGINT AS span_len
        |FROM isl GROUP BY 1, 2""".stripMargin,

    "d15_containment" ->
      s"""WITH $toksSql,
        |$minhashCandSql,
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS i
        |  FROM cand p
        |  JOIN shd sa ON sa.doc_id = p.a
        |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
        |  GROUP BY 1, 2)
        |SELECT p.a AS a, p.b AS b,
        |  round(coalesce(i, 0)::DOUBLE / least(na.n, nb.n)::DOUBLE, 6) AS containment
        |FROM cand p
        |JOIN sizes na ON na.doc_id = p.a
        |JOIN sizes nb ON nb.doc_id = p.b
        |LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b""".stripMargin,

    // the agreement sum is generated from the same 0..11 index range as
    // the Scala side, over minhashCandSql's mh CTE — constants can't fork
    "d16_minhash_calibration" -> {
      val agreeSql = (0 until 12)
        .map(i => s"(CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END)")
        .mkString("\n        + ")
      s"""WITH $toksSql,
        |$minhashCandSql,
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS i
        |  FROM cand p
        |  JOIN shd sa ON sa.doc_id = p.a
        |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.a AS a, p.b AS b,
        |    round(($agreeSql)::DOUBLE / 12.0, 6) AS est_jaccard,
        |    round(coalesce(i, 0)::DOUBLE /
        |          (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) AS exact_jaccard
        |  FROM cand p
        |  JOIN mh ma ON ma.doc_id = p.a
        |  JOIN mh mb ON mb.doc_id = p.b
        |  JOIN sizes na ON na.doc_id = p.a
        |  JOIN sizes nb ON nb.doc_id = p.b
        |  LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b)
        |SELECT a, b, est_jaccard, exact_jaccard,
        |  round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
        |FROM scored""".stripMargin
    },

    // prefix lengths replay the n − ⌈t·n⌉ + 1 rule over the same (df,
    // element) global order; verify is the d15/d16 distinct-overlap
    // shape at 3-gram shingle granularity (the decontOracleSql shingle
    // CASE, width 3)
    "d17_prefix_join" ->
      s"""WITH $toksSql,
        |sh3 AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS tok
        |  FROM toks),
        |tk AS (SELECT DISTINCT doc_id, tok FROM sh3),
        |dft AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
        |sized AS (
        |  SELECT tk.doc_id, tk.tok,
        |    row_number() OVER (PARTITION BY tk.doc_id ORDER BY df, tk.tok) AS rnk,
        |    count(*) OVER (PARTITION BY tk.doc_id) AS n
        |  FROM tk JOIN dft USING (tok)),
        |pfx AS (SELECT doc_id, tok FROM sized WHERE rnk <= n - ceil(n * 0.5) + 1),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM pfx l JOIN pfx r ON r.tok = l.tok AND l.doc_id < r.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY 1),
        |inter AS (
        |  SELECT c.a, c.b, count(*) AS i
        |  FROM cand c
        |  JOIN tk x ON x.doc_id = c.a
        |  JOIN tk y ON y.doc_id = c.b AND y.tok = x.tok
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT c.a AS a, c.b AS b,
        |    round(coalesce(i, 0)::DOUBLE /
        |          (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) AS jaccard
        |  FROM cand c
        |  JOIN sizes na ON na.doc_id = c.a
        |  JOIN sizes nb ON nb.doc_id = c.b
        |  LEFT JOIN inter ON inter.a = c.a AND inter.b = c.b)
        |SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,

    "d12_dedup_keep" ->
      s"""WITH RECURSIVE $ccReachSql,
        |clusters AS (
        |  SELECT node AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY 1)
        |SELECT c.doc_id, d.source, d.n_chars
        |FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        |WHERE c.doc_id = c.cluster_id""".stripMargin,

    // longest-survivor keep rule on the same recursive clusters
    "d26_keep_best" ->
      s"""WITH RECURSIVE $ccReachSql,
        |clusters AS (
        |  SELECT node AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY 1),
        |jm AS (SELECT c.cluster_id, c.doc_id, d.n_chars
        |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM jm)
        |SELECT cluster_id, n_members::BIGINT AS n_members,
        |  doc_id AS kept_doc, n_chars AS kept_chars
        |FROM rk WHERE rn = 1""".stripMargin,

    // the d12 keep decision rolled up to the per-source before/after
    // report; shares ccReachSql so the savings cannot describe a
    // different dedup than d12 ships
    "d19_dedup_savings" ->
      s"""WITH RECURSIVE $ccReachSql,
        |clusters AS (
        |  SELECT node AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY 1),
        |kept AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id),
        |bef AS (SELECT source, count(*) AS docs_before,
        |          sum(n_chars)::BIGINT AS chars_before
        |        FROM documents GROUP BY 1),
        |aft AS (SELECT source, count(*) AS docs_after,
        |          sum(n_chars)::BIGINT AS chars_after
        |        FROM documents JOIN kept USING (doc_id) GROUP BY 1)
        |SELECT source, docs_before,
        |  coalesce(docs_after, 0) AS docs_after,
        |  chars_before, coalesce(chars_after, 0) AS chars_after,
        |  round(1.0 - coalesce(chars_after, 0)::DOUBLE / chars_before, 6) AS savings
        |FROM bef LEFT JOIN aft USING (source)""".stripMargin,

    "t9_unigram_entropy" ->
      s"""WITH $toksSql,
        |$entropyCteSql
        |SELECT d.doc_id,
        |  coalesce(s.n, 0)::BIGINT AS n_tokens,
        |  coalesce(s.types, 0)::BIGINT AS n_types,
        |  round(coalesce(s.types::DOUBLE / s.n, 0), 6) AS ttr,
        |  round(coalesce(ln(s.n::DOUBLE) - s.clogc / s.n, 0), 6) AS entropy
        |FROM documents d LEFT JOIN ent s ON s.doc_id = d.doc_id""".stripMargin,

    "c3_corpus_report" ->
      s"""WITH $toksSql,
        |base AS (
        |  SELECT d.doc_id, d.source, len(t.t)::BIGINT AS n_toks,
        |    round(greatest(least(
        |      least(len(t.t)::DOUBLE / 20.0, 1.0) * 0.5
        |      + least(round(len(list_filter(t.t,
        |            x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))::DOUBLE
        |          / greatest(len(t.t)::DOUBLE, 1.0), 4) * 4, 1.0) * 0.5
        |      - round((length(t.text) - length(regexp_replace(t.text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
        |          / greatest(length(t.text)::DOUBLE, 1.0), 4),
        |      1.0), 0.0), 4) AS q,
        |    md5(regexp_replace(trim(lower(t.text)), '\\s+', ' ', 'g')) AS fp
        |  FROM documents d JOIN toks t ON t.doc_id = d.doc_id),
        |fc AS (SELECT fp, count(*) AS fc FROM base GROUP BY 1)
        |SELECT b.source, count(*)::BIGINT AS docs, sum(b.n_toks)::BIGINT AS tokens,
        |  sum(CASE WHEN fc.fc > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_docs,
        |  round(avg(b.q), 4) AS mean_quality
        |FROM base b JOIN fc ON fc.fp = b.fp
        |GROUP BY ROLLUP (b.source)""".stripMargin,

    "x24_global_ids" ->
      """SELECT doc_id,
        |  (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS sample_id
        |FROM documents""".stripMargin,

    "c4_training_assembly" ->
      s"""WITH $toksSql,
        |sh5 AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks),
        |shd AS (SELECT DISTINCT doc_id, md5(sh) AS shh FROM sh5),
        |dupd AS (SELECT shh FROM shd GROUP BY shh HAVING count(*) >= 2),
        |frac AS (
        |  SELECT s.doc_id,
        |    round(count(*) FILTER (WHERE d.shh IS NOT NULL)::DOUBLE /
        |          greatest(count(*), 1)::DOUBLE, 6) AS f
        |  FROM shd s LEFT JOIN dupd d ON d.shh = s.shh GROUP BY 1),
        |$entropyCteSql,
        |kept AS (
        |  SELECT e.doc_id, e.n AS n_tokens
        |  FROM ent e
        |  JOIN frac f ON f.doc_id = e.doc_id AND f.f <= 0.1
        |  WHERE round(ln(e.n::DOUBLE) - e.clogc / e.n, 6) >= 2.8),
        |b AS (SELECT doc_id, n_tokens,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
        |        md5(doc_id::VARCHAR) AS h
        |      FROM kept),
        |c AS (SELECT doc_id, bucket, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM b)
        |SELECT doc_id, bucket::INT AS bucket,
        |  ((cum - n_tokens) // 512)::BIGINT AS bin, n_tokens
        |FROM c""".stripMargin,

    // exact regime: sketch capacity (256) exceeds the corpus vocabulary,
    // so SpaceSaving counts equal true counts and err is 0
    "x26_heavy_hitters" ->
      s"""WITH $toksSql
        |SELECT w AS word, count(*) AS cnt, 0::BIGINT AS err
        |FROM (SELECT unnest(t) AS w FROM toks)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 15""".stripMargin,

    "x22_vocab_encode" ->
      s"""WITH $toksSql,
        |vocab AS (
        |  SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS id FROM (
        |    SELECT w, count(*) AS cnt
        |    FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        |    ORDER BY cnt DESC, w LIMIT 65536)),
        |tk AS (
        |  SELECT doc_id, u.pos AS pos, u.w AS w
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(t) + 1),
        |            i -> struct_pack(pos := i, w := t[i]))) AS u
        |        FROM toks))
        |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        |  md5(string_agg(coalesce(v.id, 0)::VARCHAR, ',' ORDER BY t.pos)) AS ids_digest
        |FROM tk t LEFT JOIN vocab v ON v.w = t.w
        |GROUP BY 1""".stripMargin,

    "x23_cdc_chunk" ->
      s"""WITH $toksSql,
        |tk AS (
        |  SELECT doc_id, u.pos AS pos, u.w AS w
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(t) + 1),
        |            i -> struct_pack(pos := i, w := t[i]))) AS u
        |        FROM toks)),
        |f AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN ('0x' || substr(md5(w), 1, 15))::BIGINT % 8 = 0
        |         THEN 1 ELSE 0 END AS b
        |  FROM tk),
        |c AS (
        |  SELECT doc_id, pos, w,
        |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS chunk
        |  FROM f)
        |SELECT doc_id, chunk, count(*)::BIGINT AS n_tokens,
        |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_digest
        |FROM c GROUP BY 1, 2""".stripMargin,

    "t10_source_kl" ->
      s"""WITH $toksSql,
        |sw AS (SELECT source, unnest(t) AS w FROM toks),
        |c AS (SELECT source, w, count(*) AS cs FROM sw GROUP BY 1, 2),
        |st AS (SELECT source, sum(cs)::BIGINT AS ns FROM c GROUP BY 1),
        |wt AS (SELECT w, sum(cs)::BIGINT AS cw FROM c GROUP BY 1),
        |tot AS (SELECT sum(cw)::BIGINT AS n FROM wt)
        |SELECT c.source, st.ns::BIGINT AS n_tokens,
        |  round(sum(c.cs::DOUBLE / st.ns *
        |        (ln(c.cs::DOUBLE / st.ns) - ln(wt.cw::DOUBLE / tot.n))), 6) AS kl
        |FROM c JOIN st ON st.source = c.source
        |JOIN wt ON wt.w = c.w CROSS JOIN tot
        |GROUP BY 1, 2""".stripMargin,

    // symmetric bounded twin of t10: source vs rest-of-corpus over the
    // full (source × vocab) grid; 0·ln 0 = 0 via CASE on both engines
    "t30_js_divergence" ->
      s"""WITH $toksSql,
        |sw AS (SELECT source, unnest(t) AS w FROM toks),
        |c AS (SELECT source, w, count(*)::BIGINT AS cs FROM sw GROUP BY 1, 2),
        |st AS (SELECT source, sum(cs)::BIGINT AS ns FROM c GROUP BY 1),
        |wt AS (SELECT w, sum(cs)::BIGINT AS cw FROM c GROUP BY 1),
        |tot AS (SELECT sum(cw)::BIGINT AS n FROM wt),
        |grid AS (
        |  SELECT st.source, st.ns, coalesce(c.cs, 0) AS cs,
        |    wt.cw - coalesce(c.cs, 0) AS cr, tot.n - st.ns AS nr
        |  FROM wt CROSS JOIN st CROSS JOIN tot
        |  LEFT JOIN c ON c.source = st.source AND c.w = wt.w)
        |SELECT source, ns AS n_tokens,
        |  round(sum(
        |    CASE WHEN cs > 0 THEN cs::DOUBLE / ns *
        |      (ln(cs::DOUBLE / ns)
        |       - ln((cs::DOUBLE / ns + cr::DOUBLE / nr) / 2)) ELSE 0 END +
        |    CASE WHEN cr > 0 THEN cr::DOUBLE / nr *
        |      (ln(cr::DOUBLE / nr)
        |       - ln((cs::DOUBLE / ns + cr::DOUBLE / nr) / 2)) ELSE 0 END
        |  ) / 2, 6) AS js
        |FROM grid GROUP BY 1, 2""".stripMargin,

    // same smoothed IDF as the t6 oracle — one formula, two surfaces
    "t11_tfidf_terms" ->
      s"""WITH $toksSql,
        |wc AS (
        |  SELECT doc_id, w, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM wc GROUP BY 1),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, wc.w AS term, tf,
        |    round(tf * ln((nd.nd + 1)::DOUBLE / (dfreq.df + 1)), 6) AS tfidf
        |  FROM wc JOIN dfreq ON dfreq.w = wc.w CROSS JOIN nd)
        |SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank,
        |  term, tf, tfidf
        |FROM scored
        |QUALIFY rank <= 3""".stripMargin,

    // constants mirror Retrieval.bm25Rank: k1=1.2 (k1+1 → 2.2), b=0.75
    // (1−b → 0.25); both engines evaluate the same double expressions and
    // round at 6, nine orders above double-sum noise
    "t14_bm25" ->
      s"""WITH $toksSql,
        |terms AS (SELECT doc_id, unnest(t) AS term, len(t)::BIGINT AS dl FROM toks),
        |tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM terms WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n_docs, avg(len(t)::DOUBLE) AS avgdl FROM toks),
        |contrib AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        |  FROM tf JOIN dfc USING (term) CROSS JOIN st),
        |scored AS (SELECT doc_id, round(sum(c), 6) AS score FROM contrib GROUP BY 1)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank, score
        |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the ε-graph replayed on exact integers; components via a
    // reachability fixpoint (WITH RECURSIVE ... UNION dedup) labeled by
    // min reachable core id — exactly the union-find/hash-min min-label
    // contract of the Spark side's connectedComponents
    "s16_dbscan" ->
      """WITH RECURSIVE q AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x * 1000)::BIGINT) AS qv
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_aggregate(list_transform(range(1, len(a.qv) + 1),
        |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])), 'sum') AS d2
        |  FROM q a JOIN q b ON a.vec_id < b.vec_id),
        |e AS (SELECT a, b FROM p WHERE d2 <= 1250000),
        |bidir AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |core AS (SELECT a AS node FROM bidir GROUP BY 1
        |  HAVING count(*) + 1 >= 4),
        |ce AS (SELECT bi.a, bi.b FROM bidir bi
        |  JOIN core x ON bi.a = x.node JOIN core y ON bi.b = y.node),
        |reach(a, b) AS (SELECT node, node FROM core
        |  UNION SELECT r.a, ce.b FROM reach r JOIN ce ON r.b = ce.a),
        |cl AS (SELECT a AS node, min(b) AS cid FROM reach GROUP BY 1),
        |bord AS (SELECT bi.a AS node, min(cl.cid) AS bcid
        |  FROM bidir bi JOIN cl ON bi.b = cl.node GROUP BY 1)
        |SELECT q.vec_id,
        |  CASE WHEN cl.cid IS NOT NULL THEN 'core'
        |    WHEN bord.bcid IS NOT NULL THEN 'border'
        |    ELSE 'noise' END AS role,
        |  coalesce(cl.cid, bord.bcid) AS cluster_id
        |FROM q LEFT JOIN cl ON q.vec_id = cl.node
        |LEFT JOIN bord ON q.vec_id = bord.node""".stripMargin,

    // s16's replay with the ε-graph restricted to sign-bucket cohabitants
    // (bucket bit i = qv[i] > 0 on the SAME quantized integers), then the
    // identical core/reach/border chain. `bits` is replayed by the same
    // INTEGER rule the Spark side derives: smallest b in [4, min(dim,40)]
    // with (512 << b) >= n — no floating log, so the engines agree at
    // every corpus size
    "s22_dbscan_blocked" ->
      """WITH RECURSIVE q AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x * 1000)::BIGINT) AS qv
        |  FROM embeddings),
        |params AS (SELECT count(*)::BIGINT AS n, min(len(qv))::INT AS d FROM q),
        |bitsel AS (SELECT greatest(4, least(least(p.d, 40),
        |    (SELECT min(t.i)::INT FROM range(4, 41) t(i)
        |     WHERE (512::BIGINT << t.i::INT) >= p.n))) AS bits
        |  FROM params p),
        |bk AS (SELECT vec_id, qv,
        |    list_aggregate(list_transform(
        |      range(1, (SELECT bits FROM bitsel) + 1),
        |      i -> CASE WHEN qv[i::INT] > 0
        |             THEN (1::BIGINT << (i - 1)::INT) ELSE 0::BIGINT END),
        |    'sum')::BIGINT AS bkt
        |  FROM q),
        |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_aggregate(list_transform(range(1, len(x.qv) + 1),
        |      i -> (x.qv[i] - y.qv[i]) * (x.qv[i] - y.qv[i])), 'sum') AS d2
        |  FROM bk x JOIN bk y ON x.bkt = y.bkt AND x.vec_id < y.vec_id),
        |e AS (SELECT a, b FROM p WHERE d2 <= 1250000),
        |bidir AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |core AS (SELECT a AS node FROM bidir GROUP BY 1
        |  HAVING count(*) + 1 >= 4),
        |ce AS (SELECT bi.a, bi.b FROM bidir bi
        |  JOIN core x ON bi.a = x.node JOIN core y ON bi.b = y.node),
        |reach(a, b) AS (SELECT node, node FROM core
        |  UNION SELECT r.a, ce.b FROM reach r JOIN ce ON r.b = ce.a),
        |cl AS (SELECT a AS node, min(b) AS cid FROM reach GROUP BY 1),
        |bord AS (SELECT bi.a AS node, min(cl.cid) AS bcid
        |  FROM bidir bi JOIN cl ON bi.b = cl.node GROUP BY 1)
        |SELECT q.vec_id,
        |  CASE WHEN cl.cid IS NOT NULL THEN 'core'
        |    WHEN bord.bcid IS NOT NULL THEN 'border'
        |    ELSE 'noise' END AS role,
        |  coalesce(cl.cid, bord.bcid) AS cluster_id
        |FROM q LEFT JOIN cl ON q.vec_id = cl.node
        |LEFT JOIN bord ON q.vec_id = bord.node""".stripMargin,

    // the t14 BM25 chain feeding rank-ordered cumulative gains; gains
    // rounded before the window sums so both engines fold identical
    // doubles in identical order; ndcg divides the two ROUNDED cums
    "s21_ndcg" ->
      s"""WITH $toksSql,
        |rels AS (SELECT doc_id,
        |    len(list_intersect(t, ['hash', 'join', 'merge']))::INT AS rel
        |  FROM toks),
        |terms AS (SELECT doc_id, unnest(t) AS term, len(t)::BIGINT AS dl FROM toks),
        |tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
        |  FROM terms WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n_docs, avg(len(t)::DOUBLE) AS avgdl FROM toks),
        |contrib AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        |  FROM tf JOIN dfc USING (term) CROSS JOIN st),
        |scored AS (SELECT doc_id, round(sum(c), 6) AS score FROM contrib GROUP BY 1),
        |sys AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 20),
        |sg AS (SELECT rank, s.doc_id, rel,
        |    round((pow(2, rel) - 1) / log2(rank + 1), 6) AS gain
        |  FROM sys s JOIN rels r ON s.doc_id = r.doc_id),
        |ideal AS (SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS rank, rel
        |  FROM rels ORDER BY rel DESC, doc_id LIMIT 20),
        |ig AS (SELECT rank,
        |    round((pow(2, rel) - 1) / log2(rank + 1), 6) AS igain
        |  FROM ideal),
        |cums AS (
        |  SELECT sg.rank, doc_id, rel, gain,
        |    round(sum(gain) OVER (ORDER BY sg.rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS dcg,
        |    round(sum(igain) OVER (ORDER BY sg.rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS idcg
        |  FROM sg JOIN ig ON sg.rank = ig.rank)
        |SELECT rank, doc_id, rel, gain, dcg, idcg,
        |  round(dcg / idcg, 6) AS ndcg
        |FROM cums""".stripMargin,

    "x29_inverted_index" ->
      s"""WITH $toksSql,
        |tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2)
        |SELECT term, (doc_id % 4)::INT AS shard, count(*)::BIGINT AS df,
        |  sum(tf)::BIGINT AS total_tf,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY 1, 2""".stripMargin,

    "s18_percolate" ->
      s"""WITH $toksSql,
        |qs AS (SELECT * FROM (VALUES
        |  ('q1', ['hash', 'join']),
        |  ('q2', ['table', 'scan']),
        |  ('q3', ['merge', 'sort', 'fast']),
        |  ('q4', ['hash', 'zzzmissing'])) AS v(query_id, qterms))
        |SELECT q.query_id, d.doc_id
        |FROM toks d CROSS JOIN qs q
        |WHERE list_has_all(d.t, q.qterms)""".stripMargin,

    // the ±1 matrix regenerated from the shared md5-parity formula;
    // everything after the milli-unit quantization is exact BIGINT
    "s19_jl_project" ->
      """WITH sm AS (
        |  SELECT list(sv ORDER BY j) AS S FROM (
        |    SELECT j, list_transform(generate_series(0, 63), i ->
        |        1 - 2 * (('0x' || substr(md5(i::VARCHAR || ':' || j::VARCHAR), 1, 15))::BIGINT % 2))
        |      AS sv
        |    FROM generate_series(0, 15) AS t(j))),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings WHERE len(embedding) = 64),
        |p AS (
        |  SELECT vec_id,
        |    list_transform(generate_series(1, 16), j ->
        |      list_aggregate(list_transform(generate_series(1, 64),
        |        i -> qv[i] * S[j][i]), 'sum')) AS proj
        |  FROM q, sm)
        |SELECT vec_id,
        |  md5(list_aggregate(list_transform(proj, v -> v::VARCHAR),
        |    'string_agg', ',')) AS proj_digest,
        |  list_aggregate(proj, 'sum')::BIGINT AS proj_sum,
        |  list_aggregate(list_transform(proj, v -> v * v), 'sum')::BIGINT AS proj_norm2
        |FROM p""".stripMargin,

    // the identical rank-equivalent decomposition as qlmRank: matched
    // term sum ln(1 + tf·|C|/(μ·cf)) + |q|·ln(μ/(dl+μ)), μ = 2000
    "s17_qlm_rank" ->
      s"""WITH $toksSql,
        |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |       FROM terms WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
        |cf AS (SELECT term, count(*)::BIGINT AS cf
        |       FROM terms WHERE term IN ('hash', 'join', 'merge') GROUP BY 1),
        |ct AS (SELECT sum(len(t))::DOUBLE AS ct FROM toks),
        |m AS (SELECT doc_id,
        |        sum(ln(1.0 + (tf::DOUBLE * ct) / (2000.0 * cf))) AS m
        |      FROM tf JOIN cf USING (term) CROSS JOIN ct GROUP BY 1),
        |dls AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
        |scored AS (
        |  SELECT d.doc_id,
        |    round(coalesce(m.m, 0.0) + 3.0 * ln(2000.0 / (d.dl + 2000.0)), 6)
        |      AS score
        |  FROM dls d LEFT JOIN m ON m.doc_id = d.doc_id)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank, score
        |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // deliberately the textbook dominance formulation, NOT the window
    // rewrite — the oracle must not share the query's shape
    "x44_pareto" ->
      """SELECT p_partkey, p_brand, p_retailprice, p_size
        |FROM part x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part y
        |  WHERE y.p_brand = x.p_brand
        |    AND y.p_retailprice <= x.p_retailprice
        |    AND y.p_size <= x.p_size
        |    AND (y.p_retailprice < x.p_retailprice OR y.p_size < x.p_size))""".stripMargin,

    "x43_funnel" ->
      s"""WITH $evSql,
        |v AS (SELECT user_id, min(ts_sec) AS t0 FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ts_sec) AS t1 FROM ev e
        |      JOIN v ON v.user_id = e.user_id AND e.ts_sec > v.t0
        |      WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts_sec) AS t2 FROM ev e
        |      JOIN c ON c.user_id = e.user_id AND e.ts_sec > c.t1
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |stages AS (
        |  SELECT '1_view' AS stage, count(*)::BIGINT AS n_users FROM v
        |  UNION ALL
        |  SELECT '2_click', count(*)::BIGINT FROM c
        |  UNION ALL
        |  SELECT '3_purchase', count(*)::BIGINT FROM p)
        |SELECT stage, n_users,
        |  coalesce(round(n_users::DOUBLE / lag(n_users) OVER (ORDER BY stage), 6),
        |           1.0::DOUBLE) AS conv_prev
        |FROM stages""".stripMargin,

    "x31_sessionize" ->
      s"""WITH $sessSql
        |SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
        |  min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
        |  round(sum(value), 2) AS total
        |FROM sess GROUP BY 1, 2""".stripMargin,

    // the general double-anti-join division (NOT EXISTS of NOT EXISTS)
    "j37_division" ->
      """WITH sup AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
        |d AS (SELECT DISTINCT o_orderpriority FROM sup),
        |cand AS (SELECT DISTINCT o_custkey FROM sup)
        |SELECT c.o_custkey AS custkey, cu.c_nationkey
        |FROM cand c JOIN customer cu ON cu.c_custkey = c.o_custkey
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d WHERE NOT EXISTS (
        |    SELECT 1 FROM sup
        |    WHERE sup.o_custkey = c.o_custkey
        |      AND sup.o_orderpriority = d.o_orderpriority))""".stripMargin,

    // sort-scan skyline; strict-skyline tie convention as in the code
    "x130_skyline" ->
      """WITH axes AS (SELECT l_partkey,
        |    min(round(l_extendedprice / l_quantity * 100)::BIGINT)
        |      AS price_cents,
        |    sum(round(l_quantity * 100)::BIGINT)::BIGINT AS demand
        |  FROM lineitem GROUP BY 1),
        |sc AS (SELECT *,
        |    max(demand) OVER (ORDER BY price_cents ASC, demand DESC,
        |      l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevmax
        |  FROM axes)
        |SELECT l_partkey, price_cents, demand FROM sc
        |WHERE prevmax IS NULL OR demand > prevmax""".stripMargin,

    "x131_new_returning" ->
      s"""WITH $evSql,
        |uw AS (SELECT DISTINCT user_id, ts_sec // 604800 AS week FROM ev),
        |cw AS (SELECT week,
        |         min(week) OVER (PARTITION BY user_id) AS cohort_week
        |       FROM uw)
        |SELECT week,
        |  sum(CASE WHEN week = cohort_week THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |  sum(CASE WHEN week = cohort_week THEN 0 ELSE 1 END)::BIGINT
        |    AS n_returning,
        |  round(sum(CASE WHEN week = cohort_week THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS new_share
        |FROM cw GROUP BY 1""".stripMargin,

    "x129_ship_sla" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
        |  round(quantile_cont(lat, 0.5), 4) AS p50_days,
        |  round(quantile_cont(lat, 0.9), 4) AS p90_days,
        |  max(lat)::BIGINT AS max_days
        |FROM (SELECT o.o_orderpriority,
        |    date_diff('day', o.o_orderdate::DATE, l.l_shipdate::DATE)::BIGINT
        |      AS lat
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |GROUP BY 1""".stripMargin,

    // CSN eq. 3.1 with d_min = 1; ln sum over the degree histogram
    "g12_degree_alpha" ->
      """WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM co UNION ALL SELECT b FROM co)
        |  GROUP BY 1),
        |h AS (SELECT d, count(*)::BIGINT AS c FROM deg GROUP BY 1)
        |SELECT sum(c)::BIGINT AS n_nodes, max(d)::BIGINT AS max_degree,
        |  round(1.0::DOUBLE + sum(c)::DOUBLE /
        |    nullif(sum(c::DOUBLE * ln(d::DOUBLE)), 0.0), 4) AS alpha
        |FROM h""".stripMargin,

    // same add-one-smoothed exact-product ratio, one division
    "x128_trending_parts" ->
      """WITH l AS (SELECT l_partkey, round(l_quantity * 100)::BIGINT AS q,
        |    l_shipdate >= TIMESTAMP '1997-07-01' AS h2
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'),
        |per AS (SELECT l_partkey,
        |    sum(CASE WHEN h2 THEN 0 ELSE q END)::BIGINT AS q1,
        |    sum(CASE WHEN h2 THEN q ELSE 0 END)::BIGINT AS q2
        |  FROM l GROUP BY 1),
        |tot AS (SELECT sum(q1)::BIGINT AS n1, sum(q2)::BIGINT AS n2 FROM per)
        |SELECT l_partkey, q1, q2,
        |  round((q2 + 1)::DOUBLE * n1::DOUBLE /
        |    ((q1 + 1)::DOUBLE * n2::DOUBLE), 6) AS share_ratio
        |FROM per CROSS JOIN tot
        |WHERE q2 >= 1000
        |ORDER BY share_ratio DESC, l_partkey ASC LIMIT 15""".stripMargin,

    "x127_stickiness" ->
      s"""WITH $evSql,
        |ud AS (SELECT DISTINCT user_id, ts_sec // 86400 AS day,
        |    ts_sec // 604800 AS week FROM ev),
        |dau AS (SELECT week, count(*)::BIGINT AS n_days,
        |    sum(dau)::BIGINT AS sum_dau
        |  FROM (SELECT week, day, count(DISTINCT user_id)::BIGINT AS dau
        |        FROM ud GROUP BY 1, 2)
        |  GROUP BY 1),
        |wau AS (SELECT week, count(DISTINCT user_id)::BIGINT AS wau
        |  FROM ud GROUP BY 1)
        |SELECT d.week, d.n_days, w.wau,
        |  round(d.sum_dau::DOUBLE / d.n_days, 4) AS avg_dau,
        |  round(d.sum_dau::DOUBLE / (d.n_days * w.wau)::DOUBLE, 6) AS stickiness
        |FROM dau d JOIN wau w USING (week)""".stripMargin,

    // entry type by (ts, event_id) argmin; bounce = 1-event session
    "x126_bounce" ->
      s"""WITH $sessSql,
        |ss AS (SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
        |    (max(ts_sec) - min(ts_sec))::BIGINT AS dwell_sec,
        |    min(struct_pack(ts_sec := ts_sec, event_id := event_id,
        |      event_type := event_type)).event_type AS entry_type
        |  FROM sess GROUP BY 1, 2)
        |SELECT entry_type, count(*)::BIGINT AS n_sessions,
        |  round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS bounce_rate,
        |  round(sum(dwell_sec)::DOUBLE / count(*), 4) AS mean_dwell_sec
        |FROM ss GROUP BY 1""".stripMargin,

    // x31's sessions (shared sessSql CTE) → ordered type paths → counts
    "x55_session_paths" ->
      s"""WITH $sessSql,
        |paths AS (
        |  SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY ts_sec, event_id) AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, count(*)::BIGINT AS n_sessions
        |FROM paths GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // variance from the rounded closed form BEFORE sqrt/divide — the
    // frame-sum ulp is absorbed where it is smallest (see the query
    // comment); z compared at its rounded 4 digits
    "x53_rolling_zscore" ->
      s"""WITH $evSql,
        |f AS (
        |  SELECT event_type, event_id, ts_sec, value,
        |    count(*) OVER w AS n, sum(value) OVER w AS sv,
        |    sum(value * value) OVER w AS sv2
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_sec, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT event_type, event_id, ts_sec, value, sv / 20 AS mean,
        |    round(sv2 / 20 - pow(sv / 20, 2), 6) AS varr
        |  FROM f WHERE n = 20)
        |SELECT event_type, event_id, ts_sec, value,
        |  round((value - mean) / sqrt(varr), 4) AS z
        |FROM s WHERE varr > 0
        |  AND abs(round((value - mean) / sqrt(varr), 4)) > 3""".stripMargin,

    // deliberately x53's EXACT oracle: the bucketed rewrite must
    // reproduce the full-timeline semantics to the bit
    "x89_zscore_bucketed" ->
      s"""WITH $evSql,
        |f AS (
        |  SELECT event_type, event_id, ts_sec, value,
        |    count(*) OVER w AS n, sum(value) OVER w AS sv,
        |    sum(value * value) OVER w AS sv2
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_sec, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT event_type, event_id, ts_sec, value, sv / 20 AS mean,
        |    round(sv2 / 20 - pow(sv / 20, 2), 6) AS varr
        |  FROM f WHERE n = 20)
        |SELECT event_type, event_id, ts_sec, value,
        |  round((value - mean) / sqrt(varr), 4) AS z
        |FROM s WHERE varr > 0
        |  AND abs(round((value - mean) / sqrt(varr), 4)) > 3""".stripMargin,

    "x54_markov_transitions" ->
      s"""WITH $evSql,
        |nx AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_sec, event_id) AS to_type
        |  FROM ev),
        |c AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |      FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c""".stripMargin,

    // integer milli-unit replay: per-cell sums rounded once (the only
    // float agg), the dense grid zero-filled, then every centered
    // product and both Σ are exact integer arithmetic (DuckDB sums
    // BIGINT into HUGEINT; Spark mirrors with DECIMAL(38,0)) — the
    // final divide sees bit-identical doubles in either engine
    "x56_acf" ->
      s"""WITH $evSql,
        |cells AS (SELECT event_type, ts_sec // 3600 AS hr,
        |    round(sum(value), 3) AS v3
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM cells),
        |g AS (SELECT et.event_type, u.hr
        |      FROM (SELECT DISTINCT event_type FROM cells) et, b,
        |        unnest(generate_series(b.h0, b.h1)) AS u(hr)),
        |dense AS (SELECT g.event_type, g.hr,
        |    round(coalesce(c.v3, 0.0) * 1000)::BIGINT AS m
        |  FROM g LEFT JOIN cells c USING (event_type, hr)),
        |mu AS (SELECT event_type, round(avg(m))::BIGINT AS mu
        |       FROM dense GROUP BY 1),
        |cent AS (SELECT d.event_type, d.hr, d.m - mu.mu AS c
        |         FROM dense d JOIN mu USING (event_type)),
        |lg AS (SELECT event_type, c,
        |    lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
        |    lag(c, 3) OVER w AS c3
        |  FROM cent WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        |    sum(c * c) AS den, sum(c * c1) AS n1,
        |    sum(c * c2) AS n2, sum(c * c3) AS n3
        |  FROM lg GROUP BY 1 HAVING sum(c * c) > 0)
        |SELECT event_type, n_hours,
        |  round(n1::DOUBLE / den::DOUBLE, 6) AS acf1,
        |  round(n2::DOUBLE / den::DOUBLE, 6) AS acf2,
        |  round(n3::DOUBLE / den::DOUBLE, 6) AS acf3
        |FROM a""".stripMargin,

    // Durbin-Levinson on the ROUNDED acf values (identical 6-decimal
    // starting points on both engines)
    "x117_pacf" ->
      s"""WITH $evSql,
        |cells AS (SELECT event_type, ts_sec // 3600 AS hr,
        |    round(sum(value), 3) AS v3
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM cells),
        |g AS (SELECT et.event_type, u.hr
        |      FROM (SELECT DISTINCT event_type FROM cells) et, b,
        |        unnest(generate_series(b.h0, b.h1)) AS u(hr)),
        |dense AS (SELECT g.event_type, g.hr,
        |    round(coalesce(c.v3, 0.0) * 1000)::BIGINT AS m
        |  FROM g LEFT JOIN cells c USING (event_type, hr)),
        |mu AS (SELECT event_type, round(avg(m))::BIGINT AS mu
        |       FROM dense GROUP BY 1),
        |cent AS (SELECT d.event_type, d.hr, d.m - mu.mu AS c
        |         FROM dense d JOIN mu USING (event_type)),
        |lg AS (SELECT event_type, c,
        |    lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
        |    lag(c, 3) OVER w AS c3
        |  FROM cent WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        |    sum(c * c) AS den, sum(c * c1) AS n1,
        |    sum(c * c2) AS n2, sum(c * c3) AS n3
        |  FROM lg GROUP BY 1 HAVING sum(c * c) > 0),
        |r AS (SELECT event_type, n_hours,
        |    round(n1::DOUBLE / den::DOUBLE, 6) AS r1,
        |    round(n2::DOUBLE / den::DOUBLE, 6) AS r2,
        |    round(n3::DOUBLE / den::DOUBLE, 6) AS r3
        |  FROM a),
        |p2 AS (SELECT *,
        |    (r2 - r1 * r1) / nullif(1.0::DOUBLE - r1 * r1, 0.0::DOUBLE) AS p22
        |  FROM r),
        |p3 AS (SELECT *, r1 * (1.0::DOUBLE - p22) AS p21 FROM p2)
        |SELECT event_type, n_hours, r1 AS pacf1, round(p22, 6) AS pacf2,
        |  round((r3 - p21 * r2 - p22 * r1) /
        |    nullif(1.0::DOUBLE - p21 * r1 - p22 * r2, 0.0::DOUBLE), 6) AS pacf3
        |FROM p3""".stripMargin,

    // two centered dense grids on the SHARED span; exact HUGEINT
    // numerators per lag, full-series normalization
    "x118_ccf" ->
      s"""WITH $evSql,
        |cells AS (SELECT event_type AS g, ts_sec // 3600 AS hr,
        |    round(sum(value), 3) AS v3
        |  FROM ev WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM cells),
        |grid AS (SELECT gg.g, u.hr
        |  FROM (SELECT DISTINCT g FROM cells) gg, b,
        |    unnest(generate_series(b.h0, b.h1)) AS u(hr)),
        |dense AS (SELECT grid.g, grid.hr,
        |    round(coalesce(c.v3, 0.0) * 1000)::BIGINT AS m
        |  FROM grid LEFT JOIN cells c USING (g, hr)),
        |mu AS (SELECT g, round(avg(m))::BIGINT AS mu FROM dense GROUP BY 1),
        |cg AS (SELECT d.g, d.hr, (d.m - mu.mu)::HUGEINT AS c
        |       FROM dense d JOIN mu USING (g)),
        |a AS (SELECT hr, c AS ca FROM cg WHERE g = 'click'),
        |bb AS (SELECT hr AS hrb, c AS cb FROM cg WHERE g = 'purchase'),
        |den AS (SELECT sa, sb
        |  FROM (SELECT sum(ca * ca) AS sa FROM a)
        |  CROSS JOIN (SELECT sum(cb * cb) AS sb FROM bb)),
        |lags AS (SELECT unnest(generate_series(-3, 3))::INT AS lag)
        |SELECT l.lag,
        |  round(sum(a.ca * bb.cb)::DOUBLE /
        |    sqrt(den.sa::DOUBLE * den.sb::DOUBLE), 6) AS ccf
        |FROM a CROSS JOIN lags l
        |JOIN bb ON bb.hrb = a.hr + l.lag
        |CROSS JOIN den
        |WHERE den.sa > 0 AND den.sb > 0
        |GROUP BY 1, den.sa, den.sb""".stripMargin,

    // the recursion is sequential, so its inputs are forced exact
    // (floor'd centi-unit BIGINT day sums) and the smoothing weights
    // are binary-representable — the recursive CTE then replays the
    // Spark fold's IEEE trajectory bit-for-bit (anchor = state after
    // y1: l=y1, b=y2−y1; step t consumes observation rn=t+1)
    "x87_holt_linear" ->
      s"""WITH RECURSIVE $evSql,
        |d AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    sum(floor(value * 100))::BIGINT AS mu
        |  FROM ev GROUP BY 1, 2),
        |r AS (SELECT event_type, mu::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |h AS (
        |  SELECT r1.event_type, 1::BIGINT AS t, r1.y AS l, r2.y - r1.y AS b, r1.n
        |  FROM r r1 JOIN r r2 ON r2.event_type = r1.event_type AND r2.rn = 2
        |  WHERE r1.rn = 1 AND r1.n >= 2
        |  UNION ALL
        |  SELECT h.event_type, h.t + 1,
        |    0.5 * r.y + 0.5 * (h.l + h.b),
        |    0.25 * ((0.5 * r.y + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b,
        |    h.n
        |  FROM h JOIN r ON r.event_type = h.event_type AND r.rn = h.t + 1)
        |SELECT event_type, n::BIGINT AS n_days, round(l / 100.0, 6) AS level,
        |  round(b / 100.0, 6) AS trend,
        |  round((l + b) / 100.0, 6) AS forecast
        |FROM h WHERE t = n""".stripMargin,

    // same one-window shape: the IGNORE NULLS last_value over the
    // unbounded-to-−1 frame carries the latest preceding non-purchase
    // (type, ts) forward; micro-unit value sums are exact BIGINT adds
    // same thresholds, same hash; HUGEINT sums cast back to BIGINT
    // before the one division per replicate (the dtype discipline)
    "x96_bootstrap_ci" ->
      s"""WITH $evSql,
        |base AS (SELECT event_type, event_id,
        |    round(value * 1e6)::BIGINT AS micro, r.rep
        |  FROM ev, (SELECT unnest(generate_series(0, 31)) AS rep) r),
        |u AS (SELECT event_type, rep, micro,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':' || (rep // 2)::VARCHAR),
        |      1 + 16 * (rep % 2)::INT, 15))::BIGINT AS u
        |  FROM base),
        |w AS (SELECT event_type, rep, micro,
        |    ((u >= 424136118829305344)::INT + (u >= 848272237658610688)::INT
        |     + (u >= 1060340297073263360)::INT + (u >= 1131029650211480960)::INT
        |     + (u >= 1148701988496035328)::INT + (u >= 1152236456152946176)::INT
        |     + (u >= 1152825534095764608)::INT)::BIGINT AS w
        |  FROM u),
        |r AS (SELECT event_type, rep,
        |    round((sum(w * micro)::BIGINT)::DOUBLE / (sum(w)::BIGINT)::DOUBLE,
        |      4) AS m
        |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0)
        |SELECT event_type, count(*)::BIGINT AS n_reps,
        |  (array_agg(m ORDER BY m))[2] AS lo_mean_micro,
        |  (array_agg(m ORDER BY m))[31] AS hi_mean_micro
        |FROM r GROUP BY 1""".stripMargin,

    // the one float op mirrors the Spark side exactly: BIGINT weight
    // and window sum, one rounded division per pair
    "x95_decay_attribution" ->
      s"""WITH $evSql,
        |conv AS (SELECT user_id AS cu, event_id AS conv_id, ts_sec AS cts
        |  FROM ev WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id AS tu, event_type AS channel, ts_sec AS tts
        |  FROM ev WHERE event_type <> 'purchase'),
        |p AS (SELECT conv_id, channel,
        |    (1::BIGINT << (30 - ((cts - tts) // 86400))::INT) AS w
        |  FROM conv JOIN touch ON cu = tu
        |  WHERE tts <= cts AND cts - tts < 2592000),
        |c AS (SELECT channel, w,
        |    sum(w) OVER (PARTITION BY conv_id)::BIGINT AS sw FROM p)
        |SELECT channel, count(*)::BIGINT AS n_touches,
        |  sum(round(w * 1000000 / sw)::BIGINT)::BIGINT AS total_credit_micro
        |FROM c GROUP BY 1""".stripMargin,

    "x57_attribution" ->
      s"""WITH $evSql,
        |pa AS (SELECT user_id, event_id, ts_sec, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS channel,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts_sec END
        |      IGNORE NULLS) OVER w AS src_ts
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT channel, count(*)::BIGINT AS n_purchases,
        |  sum(round(value * 10000)::BIGINT)::BIGINT AS attributed_micros
        |FROM pa
        |WHERE event_type = 'purchase' AND src_ts IS NOT NULL
        |  AND ts_sec - src_ts <= 604800
        |GROUP BY 1""".stripMargin,

    "x28_mix_chi2" ->
      """WITH obs AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o)::BIGINT AS rl FROM obs GROUP BY 1),
        |ct AS (SELECT source, sum(o)::BIGINT AS cs FROM obs GROUP BY 1),
        |tot AS (SELECT sum(o)::BIGINT AS n FROM obs)
        |SELECT round(sum(pow(o - e, 2) / e), 6) AS chi2,
        |  count(*)::BIGINT AS cells, max(n)::BIGINT AS n_docs
        |FROM (SELECT o, rl::DOUBLE * cs / n AS e, n
        |      FROM obs JOIN rt USING (lang) JOIN ct USING (source)
        |      CROSS JOIN tot)""".stripMargin,

    "x27_grouped_hitters" ->
      s"""WITH $toksSql,
        |sw AS (SELECT source, unnest(t) AS w FROM toks),
        |c AS (SELECT source, w AS word, count(*) AS cnt, 0::BIGINT AS err
        |      FROM sw GROUP BY 1, 2)
        |SELECT source,
        |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rank,
        |  word, cnt, err
        |FROM c QUALIFY rank <= 5""".stripMargin,

    "t20_readability" ->
      s"""WITH $toksSql,
        |base AS (
        |  SELECT doc_id,
        |    greatest(len(t), 1)::BIGINT AS n_words,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syllables
        |  FROM toks)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835::DOUBLE
        |    - 1.015::DOUBLE * n_words::DOUBLE / n_sentences
        |    - 84.6::DOUBLE * n_syllables::DOUBLE / n_words, 4) AS flesch
        |FROM base""".stripMargin,

    // the quantile rank uses the same IEEE-double ceil(n*q) on both
    // sides (q=0.9 is not exact binary; DECIMAL literals would diverge)
    "t12_length_quantiles" ->
      """WITH hist AS (
        |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c)::BIGINT AS n FROM hist GROUP BY 1),
        |cum AS (
        |  SELECT h.source, h.n_chars,
        |    sum(c) OVER (PARTITION BY h.source ORDER BY h.n_chars) AS cum, t.n
        |  FROM hist h JOIN tot t ON t.source = h.source),
        |qx AS (SELECT *, unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE,
        |                         0.9::DOUBLE]) AS q FROM cum)
        |SELECT source, q, min(n_chars)::BIGINT AS value
        |FROM qx WHERE cum >= ceil(n * q) GROUP BY 1, 2""".stripMargin,

    "t8_bigram_logprob" ->
      s"""WITH $toksSql,
        |bi AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(t)),
        |            i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS u
        |        FROM toks WHERE len(t) >= 2)),
        |cbi AS (SELECT w1, w2, count(*) AS cbi FROM bi GROUP BY 1, 2),
        |cw AS (SELECT w1, sum(cbi) AS cw FROM cbi GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT tok) AS v
        |          FROM (SELECT unnest(t) AS tok FROM toks))
        |SELECT b.doc_id,
        |  count(*)::BIGINT AS n_bigrams,
        |  round(avg(ln((cbi + 1)::DOUBLE / (cw + v)::DOUBLE)), 4) AS avg_logp
        |FROM bi b
        |JOIN cbi ON cbi.w1 = b.w1 AND cbi.w2 = b.w2
        |JOIN cw ON cw.w1 = b.w1
        |CROSS JOIN vocab
        |GROUP BY 1""".stripMargin,

    "d9_decontaminate" -> decontOracleSql,

    // d9's sh5/digest conventions + the c1 fingerprint mirror, split
    // base/incoming on doc_id % 10
    "d20_ingest_gate" ->
      s"""WITH $toksSql,
        |sh5 AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks),
        |incfp AS (
        |  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 10 = 0),
        |basefp AS (
        |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 10 <> 0),
        |incsh AS (SELECT DISTINCT doc_id, md5(sh) AS shh FROM sh5 WHERE doc_id % 10 = 0),
        |basesh AS (SELECT DISTINCT md5(sh) AS shh FROM sh5 WHERE doc_id % 10 <> 0),
        |hits AS (
        |  SELECT i.doc_id, count(*)::BIGINT AS n
        |  FROM incsh i JOIN basesh b USING (shh) GROUP BY 1)
        |SELECT f.doc_id, coalesce(h.n, 0)::BIGINT AS n_shared,
        |  CASE WHEN f.fp IN (SELECT fp FROM basefp) THEN 'exact'
        |       WHEN coalesce(h.n, 0) >= 3 THEN 'near'
        |       ELSE 'new' END AS verdict
        |FROM incfp f LEFT JOIN hits h ON h.doc_id = f.doc_id""".stripMargin,

    // the Bloom prune has zero false negatives, so x30's output is
    // d9's by construction — ONE oracle string keeps that claim honest
    "x30_bloom_decontaminate" -> decontOracleSql,

    "j13_full_band_join" ->
      s"""WITH $evSql,
        |c AS (SELECT user_id, event_id AS click_id, ts_sec AS ts1
        |      FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS buy_id, ts_sec AS ts2
        |      FROM ev WHERE event_type = 'purchase')
        |SELECT click_id, buy_id
        |FROM c FULL JOIN p ON c.user_id = p.user_id
        |  AND ts2 BETWEEN ts1 - 3600 AND ts1 + 3600""".stripMargin,

    // the theta join is declared directly — DuckDB's IEJoin handles it;
    // the Spark side must reproduce it through the bucketized equi-join
    "j15_interval_join" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |         epoch(l_shipdate)::BIGINT AS start_sec,
        |         epoch(l_shipdate)::BIGINT
        |           + ((floor(l_quantity)::BIGINT % 14) + 1) * 86400 AS end_sec
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |o AS (SELECT epoch(o_orderdate)::BIGINT AS p_sec
        |      FROM orders WHERE o_orderpriority LIKE '1%')
        |SELECT l_orderkey, l_linenumber, count(o.p_sec) AS n_orders
        |FROM li LEFT JOIN o ON o.p_sec BETWEEN li.start_sec AND li.end_sec
        |GROUP BY 1, 2""".stripMargin,

    // reuses entropyCteSql's shared `wc` (doc, word) counts — the same
    // definition t9/c4 read, so the hapax base cannot drift (`ent` is
    // simply unused here)
    "t21_hapax" ->
      s"""WITH $toksSql,
        |$entropyCteSql,
        |h AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS n_types,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM wc GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(n_types, 0) AS n_types,
        |  coalesce(n_hapax, 0) AS n_hapax,
        |  round(coalesce(n_hapax, 0)::DOUBLE
        |    / greatest(coalesce(n_types, 0), 1)::DOUBLE, 6) AS hapax_frac
        |FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id""".stripMargin,

    // same gaps-and-islands construction (1-based positions — the base
    // offset cancels inside the pos − row_number group key, so the
    // engines need not agree on indexing); phrase strings rebuilt with
    // an ORDER BY inside string_agg, scores rounded at 4 before the
    // deterministic (score, phrase) ranking
    "t22_rake" ->
      s"""WITH $toksSql,
        |pw AS (SELECT doc_id, u.pos::BIGINT AS pos, t[u.pos] AS w
        |       FROM toks, unnest(range(1, len(t) + 1)) AS u(pos)),
        |ns AS (SELECT doc_id, w, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM pw WHERE w NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')),
        |pl AS (SELECT doc_id, grp, count(*)::BIGINT AS plen,
        |    string_agg(w, ' ' ORDER BY pos) AS phrase
        |  FROM ns GROUP BY 1, 2),
        |wsc AS (SELECT ns.doc_id, ns.w,
        |    sum(pl.plen)::DOUBLE / count(*)::DOUBLE AS ws
        |  FROM ns JOIN pl USING (doc_id, grp) GROUP BY 1, 2),
        |psc AS (SELECT ns.doc_id, ns.grp, round(sum(wsc.ws), 4) AS score
        |  FROM ns JOIN wsc ON wsc.doc_id = ns.doc_id AND wsc.w = ns.w
        |  GROUP BY 1, 2),
        |ph AS (SELECT DISTINCT pl.doc_id, pl.phrase, psc.score
        |       FROM pl JOIN psc USING (doc_id, grp)),
        |rk AS (SELECT doc_id, phrase, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase) AS rk
        |  FROM ph)
        |SELECT doc_id, rk, phrase, score FROM rk WHERE rk <= 3""".stripMargin,

    // the decont 5-gram CASE (width 5), distinct per doc, then pure
    // integer counting — engine-exact up to the one rounded ratio
    "t23_ngram_novelty" ->
      s"""WITH $toksSql,
        |sh5 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks),
        |cnt AS (SELECT sh, count(*) AS docs FROM sh5 GROUP BY 1)
        |SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN c.docs = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  round(sum(CASE WHEN c.docs = 1 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*)::DOUBLE, 6) AS novelty
        |FROM sh5 s JOIN cnt c USING (sh)
        |GROUP BY 1""".stripMargin,

    // every ratio rounds at 4 over exact integer counts; the '...'
    // length-difference is a multiple of 3 so its double division is
    // exact; rule thresholds compare ALREADY-ROUNDED values, so the
    // boolean verdict cannot fork on an ulp
    "t25_gopher_rules" ->
      s"""WITH $toksSql,
        |g AS (
        |  SELECT doc_id, len(t)::BIGINT AS n_words,
        |    round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(t, x -> len(x)::DOUBLE)),
        |          (a, b) -> a + b) / greatest(len(t)::DOUBLE, 1.0), 4) AS mean_word_len,
        |    round((length(text) - length(replace(text, '#', '')))::DOUBLE
        |          / greatest(len(t)::DOUBLE, 1.0), 4) AS hash_ratio,
        |    round(((length(text) - length(replace(text, '...', ''))) / 3 +
        |           (length(text) - length(replace(text, '…', ''))))::DOUBLE
        |          / greatest(len(t)::DOUBLE, 1.0), 4) AS ellipsis_ratio,
        |    round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE
        |          / greatest(len(t)::DOUBLE, 1.0), 4) AS alpha_frac,
        |    len(list_distinct(list_filter(t,
        |        x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))))::BIGINT AS stop_kinds
        |  FROM toks)
        |SELECT *, (n_words BETWEEN 50 AND 100000
        |  AND mean_word_len BETWEEN 3 AND 10
        |  AND hash_ratio < 0.1 AND ellipsis_ratio < 0.1
        |  AND alpha_frac > 0.8
        |  AND stop_kinds >= 2) AS pass
        |FROM g""".stripMargin,

    // the t9 entropy closed form on the (user, type) count table;
    // Σ c·ln(c) is the only float sum, round-6 pinned
    "x59_behavior_entropy" ->
      s"""WITH $evSql,
        |c AS (SELECT user_id, event_type, count(*)::BIGINT AS c
        |      FROM ev GROUP BY 1, 2)
        |SELECT user_id, sum(c)::BIGINT AS n_events,
        |  count(*)::BIGINT AS n_types,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
        |  round(max(c)::DOUBLE / sum(c), 6) AS top_share
        |FROM c GROUP BY 1""".stripMargin,

    // x45's cohort key + exact micro-unit purchase sums; engine-exact
    // integer arithmetic end to end
    "x60_cohort_ltv" ->
      s"""WITH $evSql,
        |fw AS (SELECT user_id, min(ts_sec // 604800) AS cohort_week
        |       FROM ev GROUP BY 1),
        |p AS (SELECT user_id, count(*)::BIGINT AS np,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS micros
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT cohort_week, count(*)::BIGINT AS n_users,
        |  sum(coalesce(np, 0))::BIGINT AS n_purchases,
        |  sum(coalesce(micros, 0))::BIGINT AS ltv_micros
        |FROM fw LEFT JOIN p USING (user_id)
        |GROUP BY 1""".stripMargin,

    // unrolled replay of the exact 4-round BPE trajectory (the s7 kmeans
    // discipline): symbols as chr(31)-joined strings, textbook get_stats
    // pair counts (every adjacent position, word-frequency weighted),
    // argmax on (cnt DESC, a, b), and the same left-to-right
    // non-overlapping `replace` merge contract as the Spark side
    "x68_bpe_merges" -> {
      def pairs(src: String, out: String) =
        s"""$out AS (
           |  SELECT p[1] AS a, p[2] AS b, sum(wf)::BIGINT AS cnt
           |  FROM (SELECT unnest(list_zip(string_split(syms, chr(31)),
           |                               string_split(syms, chr(31))[2:])) AS p, wf
           |        FROM $src)
           |  WHERE p[2] IS NOT NULL GROUP BY 1, 2)"""
      def best(src: String, out: String) =
        s"$out AS (SELECT a, b, cnt FROM $src ORDER BY cnt DESC, a, b LIMIT 1)"
      def merge(src: String, m: String, out: String) =
        s"""$out AS (SELECT replace(syms, a || chr(31) || b, a || b) AS syms, wf
           |         FROM $src CROSS JOIN $m)"""
      s"""WITH $toksSql,
        |wf AS (SELECT term AS w, count(*)::BIGINT AS wf
        |       FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1),
        |s0 AS (SELECT array_to_string(string_split(w, ''), chr(31)) AS syms, wf FROM wf),
        |${pairs("s0", "p1")},
        |${best("p1", "m1")},
        |${merge("s0", "m1", "s1")},
        |${pairs("s1", "p2")},
        |${best("p2", "m2")},
        |${merge("s1", "m2", "s2")},
        |${pairs("s2", "p3")},
        |${best("p3", "m3")},
        |${merge("s2", "m3", "s3")},
        |${pairs("s3", "p4")},
        |${best("p4", "m4")}
        |SELECT 1 AS step, a AS lhs, b AS rhs, a || b AS merged, cnt FROM m1
        |UNION ALL SELECT 2, a, b, a || b, cnt FROM m2
        |UNION ALL SELECT 3, a, b, a || b, cnt FROM m3
        |UNION ALL SELECT 4, a, b, a || b, cnt FROM m4""".stripMargin
    },

    // x68's learned merges applied per word (same replace contract),
    // then per-doc token-instance and subword sums
    "x74_bpe_encode" -> {
      def pairs(src: String, out: String) =
        s"""$out AS (
           |  SELECT p[1] AS a, p[2] AS b, sum(wf)::BIGINT AS cnt
           |  FROM (SELECT unnest(list_zip(string_split(syms, chr(31)),
           |                               string_split(syms, chr(31))[2:])) AS p, wf
           |        FROM $src)
           |  WHERE p[2] IS NOT NULL GROUP BY 1, 2)"""
      def best(src: String, out: String) =
        s"$out AS (SELECT a, b, cnt FROM $src ORDER BY cnt DESC, a, b LIMIT 1)"
      def merge(src: String, m: String, out: String) =
        s"""$out AS (SELECT replace(syms, a || chr(31) || b, a || b) AS syms, wf
           |         FROM $src CROSS JOIN $m)"""
      s"""WITH $toksSql,
        |words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |wf AS (SELECT w, count(*)::BIGINT AS wf FROM words GROUP BY 1),
        |s0 AS (SELECT array_to_string(string_split(w, ''), chr(31)) AS syms, wf FROM wf),
        |${pairs("s0", "p1")},
        |${best("p1", "m1")},
        |${merge("s0", "m1", "s1")},
        |${pairs("s1", "p2")},
        |${best("p2", "m2")},
        |${merge("s1", "m2", "s2")},
        |${pairs("s2", "p3")},
        |${best("p3", "m3")},
        |${merge("s2", "m3", "s3")},
        |${pairs("s3", "p4")},
        |${best("p4", "m4")},
        |enc AS (
        |  SELECT d.w,
        |    len(string_split(
        |      replace(replace(replace(replace(
        |        array_to_string(string_split(d.w, ''), chr(31)),
        |        m1.a || chr(31) || m1.b, m1.a || m1.b),
        |        m2.a || chr(31) || m2.b, m2.a || m2.b),
        |        m3.a || chr(31) || m3.b, m3.a || m3.b),
        |        m4.a || chr(31) || m4.b, m4.a || m4.b),
        |      chr(31)))::BIGINT AS nsw
        |  FROM (SELECT DISTINCT w FROM words) d
        |  CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3 CROSS JOIN m4)
        |SELECT words.doc_id, count(*)::BIGINT AS n_words,
        |  sum(enc.nsw)::BIGINT AS n_subwords
        |FROM words JOIN enc ON enc.w = words.w
        |GROUP BY 1""".stripMargin
    },

    // the shared quality formula (t2's qualitySql) feeds the same
    // deterministic (quality DESC, doc_id) rank both engines cut at 10
    "x69_source_cap" ->
      s"""WITH $toksSql,
        |$qualitySql,
        |r AS (
        |  SELECT d.doc_id, d.source, q.quality,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY q.quality DESC, d.doc_id) AS rk
        |  FROM documents d JOIN q USING (doc_id))
        |SELECT doc_id, source, quality, rk::BIGINT AS rk
        |FROM r WHERE rk <= 10""".stripMargin,

    // integer-ppm sqrt weights: floor(sqrt(n)*1e6) then integer share —
    // both engines truncate identically, no float-division fork
    "x70_temperature_mix" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n
        |           FROM documents GROUP BY 1),
        |s AS (SELECT source, n, floor(sqrt(n::DOUBLE) * 1000000)::BIGINT AS sq FROM c),
        |t AS (SELECT sum(sq)::BIGINT AS tsq FROM s)
        |SELECT source, n, (sq * 1000000) // tsq AS w_ppm,
        |  ((sq * 1000000) // tsq) * 1000 // 1000000 AS expect_docs,
        |  round((((sq * 1000000) // tsq) * 1000 // 1000000)::DOUBLE / n, 6) AS epochs
        |FROM s, t""".stripMargin,

    // unrolled 3-round sync-LPA replay: per-round neighbor vote counts,
    // argmax by (c DESC, label) — the same deterministic tie rule
    "g6_lpa_communities" -> {
      def round(lbl: String, v: String, out: String) =
        s"""$v AS (SELECT s.u AS node, l.label, count(*) AS c
           |       FROM sym s JOIN $lbl l ON l.node = s.v GROUP BY 1, 2),
           |$out AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |  FROM $v) WHERE rn = 1)"""
      s"""WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sym AS (SELECT a AS u, b AS v FROM co
        |        UNION ALL SELECT b AS u, a AS v FROM co),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
        |${round("l0", "v1", "l1")},
        |${round("l1", "v2", "l2")},
        |${round("l2", "v3", "l3")}
        |SELECT node AS part, label AS community FROM l3""".stripMargin
    },

    // min-reachable-id per node via the recursive closure (the d7 rule)
    "g11_components" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS s, b AS d FROM co UNION SELECT b, a FROM co),
        |nodes AS (SELECT DISTINCT s AS node FROM sym),
        |reach AS (
        |  SELECT node, node AS r FROM nodes
        |  UNION
        |  SELECT e2.s, reach.r FROM sym e2 JOIN reach ON reach.node = e2.d)
        |SELECT node AS part, min(r)::BIGINT AS component_id
        |FROM reach GROUP BY 1""".stripMargin,

    // the g6 LPA replay + exact-integer modularity
    // (4m·Σe_c − Σd_c²)/4m² — one division, no float-order fork
    "g10_modularity" -> {
      def round(lbl: String, v: String, out: String) =
        s"""$v AS (SELECT s.u AS node, l.label, count(*) AS c
           |       FROM sym s JOIN $lbl l ON l.node = s.v GROUP BY 1, 2),
           |$out AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |  FROM $v) WHERE rn = 1)"""
      s"""WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sym AS (SELECT a AS u, b AS v FROM co
        |        UNION ALL SELECT b AS u, a AS v FROM co),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
        |${round("l0", "v1", "l1")},
        |${round("l1", "v2", "l2")},
        |${round("l2", "v3", "l3")},
        |deg AS (SELECT u AS node, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
        |cstat AS (SELECT l.label, count(*)::BIGINT AS n_nodes,
        |    sum(d.deg)::BIGINT AS d_c
        |  FROM deg d JOIN l3 l ON l.node = d.node GROUP BY 1),
        |ein AS (SELECT la.label, count(*)::BIGINT AS e_c
        |  FROM co JOIN l3 la ON la.node = co.a
        |  JOIN l3 lb ON lb.node = co.b AND lb.label = la.label
        |  GROUP BY 1),
        |m AS (SELECT count(*)::BIGINT AS m FROM co),
        |rows_ AS (SELECT c.label AS community, c.n_nodes, c.d_c,
        |    coalesce(e.e_c, 0)::BIGINT AS e_c, m.m
        |  FROM cstat c LEFT JOIN ein e ON e.label = c.label CROSS JOIN m),
        |tot AS (SELECT round(
        |    (4::HUGEINT * first(m) * sum(e_c) - sum(d_c::HUGEINT * d_c))::DOUBLE /
        |    (4.0 * first(m)::DOUBLE * first(m)::DOUBLE), 6) AS modularity
        |  FROM rows_)
        |SELECT community, n_nodes, e_c AS internal_edges, d_c AS degree_sum,
        |  round((4::HUGEINT * m * e_c - d_c::HUGEINT * d_c)::DOUBLE /
        |    (4.0 * m::DOUBLE * m::DOUBLE), 6) AS contribution,
        |  tot.modularity
        |FROM rows_ CROSS JOIN tot""".stripMargin
    },

    // d3's verified-pair chain + the x10 split rule; leakage = pairs
    // crossing split boundaries at jaccard >= 0.4
    "x72_split_leakage" ->
      s"""WITH $toksSql,
        |$minhashCandSql,
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS i
        |  FROM cand p
        |  JOIN shd sa ON sa.doc_id = p.a
        |  JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT p.a, p.b,
        |    round(coalesce(i, 0)::DOUBLE / (na.n + nb.n - coalesce(i, 0))::DOUBLE, 6) AS jaccard
        |  FROM cand p
        |  JOIN sizes na ON na.doc_id = p.a
        |  JOIN sizes nb ON nb.doc_id = p.b
        |  LEFT JOIN inter ON inter.a = p.a AND inter.b = p.b),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 15))::BIGINT % 100 < 80
        |         THEN 'train'
        |         WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 15))::BIGINT % 100 < 90
        |         THEN 'val' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT j.a, j.b, j.jaccard, sa.split AS split_a, sb.split AS split_b
        |FROM jac j
        |JOIN sp sa ON sa.doc_id = j.a
        |JOIN sp sb ON sb.doc_id = j.b
        |WHERE j.jaccard >= 0.4 AND sa.split <> sb.split""".stripMargin,

    // the naive statement of the rule: global (quality DESC, doc_id)
    // running token total, cut at the budget — the two-phase Spark plan
    // must equal it exactly
    // cum_tokens needs ::BIGINT — DuckDB widens sum(BIGINT) to HUGEINT,
    // which pandas reads as float64 and the hash compare forks on dtype
    "x73_token_budget" ->
      s"""WITH $toksSql,
        |$qualitySql
        |SELECT doc_id, quality, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, quality, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
        |  FROM q)
        |WHERE cum_tokens <= 6000""".stripMargin,

    // same md5-60-bit hash as x10's oracle, two independent salts
    "x71_epoch_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(doc_id::VARCHAR || ':e1'), 1, 15))::BIGINT % 8)::INT AS shard,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':o1'), 1, 15))::BIGINT % 1000000 AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)::BIGINT AS pos
        |FROM h""".stripMargin,

    // NTILE is SQL-standard (identical split rule both engines) and the
    // (value, event_id) order is total, so bins are engine-exact;
    // value bounds round at 4 (2-decimal source data — exact)
    "x58_equidepth_bins" ->
      s"""WITH $evSql,
        |b AS (SELECT event_type, event_id, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS bin
        |  FROM ev)
        |SELECT event_type, bin, count(*)::BIGINT AS n,
        |  round(min(value), 4) AS lo, round(max(value), 4) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    // deliberately x58's EXACT oracle: the range-parallel rank must
    // reproduce the ntile histogram row for row
    "x91_equidepth_parallel" ->
      s"""WITH $evSql,
        |b AS (SELECT event_type, event_id, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS bin
        |  FROM ev)
        |SELECT event_type, bin, count(*)::BIGINT AS n,
        |  round(min(value), 4) AS lo, round(max(value), 4) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    // same md5 candidate weights, argmax via greatest + CASE scanning
    // the HIGHER shard id first (Spark's struct-max tie order)
    "x92_hrw_shards" ->
      """WITH h AS (SELECT doc_id,
        |    md5(doc_id::VARCHAR || ':0') AS h0, md5(doc_id::VARCHAR || ':1') AS h1,
        |    md5(doc_id::VARCHAR || ':2') AS h2, md5(doc_id::VARCHAR || ':3') AS h3,
        |    md5(doc_id::VARCHAR || ':4') AS h4, md5(doc_id::VARCHAR || ':5') AS h5,
        |    md5(doc_id::VARCHAR || ':6') AS h6, md5(doc_id::VARCHAR || ':7') AS h7,
        |    md5(doc_id::VARCHAR || ':8') AS h8
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CASE greatest(h0, h1, h2, h3, h4, h5, h6, h7)
        |      WHEN h7 THEN 7 WHEN h6 THEN 6 WHEN h5 THEN 5 WHEN h4 THEN 4
        |      WHEN h3 THEN 3 WHEN h2 THEN 2 WHEN h1 THEN 1 ELSE 0 END AS s8,
        |    CASE greatest(h0, h1, h2, h3, h4, h5, h6, h7, h8)
        |      WHEN h8 THEN 8 WHEN h7 THEN 7 WHEN h6 THEN 6 WHEN h5 THEN 5
        |      WHEN h4 THEN 4 WHEN h3 THEN 3 WHEN h2 THEN 2 WHEN h1 THEN 1
        |      ELSE 0 END AS s9
        |  FROM h)
        |SELECT s8::BIGINT AS shard, count(*)::BIGINT AS docs,
        |  sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END)::BIGINT AS moved
        |FROM g GROUP BY 1""".stripMargin,

    "x94_rolling_range" ->
      s"""WITH $evSql
        |SELECT user_id, event_id,
        |  count(*) OVER w::BIGINT AS cnt_1h,
        |  sum(round(value * 1e6)::BIGINT) OVER w::BIGINT AS sum_micro_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    // ring successor linearized to one integer order: wrapFlag·2^61 + pos
    // (smallest position ≥ the key's, else smallest position overall)
    "x93_ring_shards" ->
      """WITH vn AS (SELECT (i // 4)::BIGINT AS s,
        |    ('0x' || substr(md5((i // 4)::VARCHAR || ':' || (i % 4)::VARCHAR),
        |      1, 15))::BIGINT AS pos
        |  FROM range(36) t(i)),
        |k AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS kpos
        |  FROM documents),
        |c AS (SELECT doc_id, s,
        |    ((CASE WHEN pos >= kpos THEN 0 ELSE 1 END)::BIGINT << 61) + pos AS ordv
        |  FROM k, vn),
        |a AS (SELECT doc_id,
        |    arg_min(s, ordv) FILTER (WHERE s < 8) AS s8,
        |    arg_min(s, ordv) AS s9
        |  FROM c GROUP BY 1)
        |SELECT s8::BIGINT AS shard, count(*)::BIGINT AS docs,
        |  sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END)::BIGINT AS moved
        |FROM a GROUP BY 1""".stripMargin,

    // mirrors the single-pass shape: one conditional-count histogram,
    // window totals over it, absent bins folded in closed form
    "x52_psi_drift" ->
      s"""WITH $evSql,
        |hist AS (
        |  SELECT event_type,
        |    least(greatest(floor(value / 20)::BIGINT, 0), 9) AS bin,
        |    sum(CASE WHEN ts_sec < $refCutoffSec THEN 1 ELSE 0 END)::BIGINT AS rc,
        |    sum(CASE WHEN ts_sec < $refCutoffSec THEN 0 ELSE 1 END)::BIGINT AS cc
        |  FROM ev GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, rc, cc,
        |    sum(rc) OVER (PARTITION BY event_type)::BIGINT AS rt,
        |    sum(cc) OVER (PARTITION BY event_type)::BIGINT AS ct,
        |    count(*) OVER (PARTITION BY event_type)::BIGINT AS nb
        |  FROM hist)
        |SELECT event_type, round(
        |  sum(((rc + 0.5) / (rt + 5.0) - (cc + 0.5) / (ct + 5.0))
        |      * ln(((rc + 0.5) / (rt + 5.0)) / ((cc + 0.5) / (ct + 5.0))))
        |  + (10 - max(nb))::DOUBLE
        |    * ((0.5 / (max(rt) + 5.0) - 0.5 / (max(ct) + 5.0))
        |       * ln((0.5 / (max(rt) + 5.0)) / (0.5 / (max(ct) + 5.0)))),
        |  6) AS psi
        |FROM tot GROUP BY 1""".stripMargin,

    "x51_weighted_median" ->
      s"""WITH $toksSql,
        |$qualitySql,
        |hist AS (
        |  SELECT d.source, q.quality AS qv, sum(d.n_chars)::BIGINT AS w
        |  FROM q JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, qv,
        |    sum(w) OVER (PARTITION BY source ORDER BY qv) AS cw,
        |    sum(w) OVER (PARTITION BY source) AS tw
        |  FROM hist)
        |SELECT source, min(qv) AS weighted_median_q
        |FROM cum WHERE cw * 2 >= tw GROUP BY 1""".stripMargin,

    // deliberately a FULL recompute (no split): checks that the Spark
    // side's base+delta algebraic merge reproduces the from-scratch
    // aggregate
    "x50_incremental_agg" ->
      s"""WITH $evSql
        |SELECT user_id, count(*) AS n, round(sum(value), 4) AS total,
        |  round(round(sum(value), 4) / count(*), 6) AS mean,
        |  round(min(value), 4) AS vmin, round(max(value), 4) AS vmax
        |FROM ev GROUP BY 1""".stripMargin,

    "x49_conversion_latency" ->
      s"""WITH $evSql,
        |v AS (SELECT user_id, min(ts_sec) AS t0 FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ts_sec) AS t1 FROM ev e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts_sec > t0 GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts_sec) AS t2 FROM ev e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_sec > t1 GROUP BY 1),
        |lat AS (SELECT p.user_id, t2 - t0 AS sec FROM p JOIN v USING (user_id))
        |SELECT count(*) AS n_converted, round(avg(sec), 4) AS mean_sec,
        |  round(quantile_cont(sec, 0.5), 4) AS p50_sec,
        |  round(quantile_cont(sec, 0.9), 4) AS p90_sec
        |FROM lat""".stripMargin,

    "x48_ab_lift" ->
      s"""WITH $evSql,
        |armed AS (SELECT event_type, value,
        |  CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 15))::BIGINT
        |            % 2 = 0
        |       THEN 'A' ELSE 'B' END AS arm FROM ev),
        |s AS (SELECT event_type, arm, count(*) AS n, sum(value) AS sv,
        |        sum(value * value) AS sv2
        |      FROM armed GROUP BY 1, 2),
        |a AS (SELECT event_type, n AS na, sv AS sva, sv2 AS sv2a FROM s WHERE arm = 'A'),
        |b AS (SELECT event_type, n AS nb, sv AS svb, sv2 AS sv2b FROM s WHERE arm = 'B')
        |SELECT event_type, na, nb,
        |  round(sva / na, 6) AS mean_a,
        |  round(svb / nb, 6) AS mean_b,
        |  round((svb / nb - sva / na) / nullif(sva / na, 0), 6) AS lift,
        |  round((svb / nb - sva / na) /
        |    nullif(sqrt((sv2a / na - pow(sva / na, 2)) / na
        |       + (sv2b / nb - pow(svb / nb, 2)) / nb), 0), 4) AS z
        |FROM a JOIN b USING (event_type)""".stripMargin,

    // exact integer bps split: 4000/4000 ends, middles 2000 div (n−2)
    // with the remainder to the earliest
    "x123_ushape_attribution" ->
      s"""WITH $evSql,
        |conv AS (SELECT user_id AS cu, event_id AS conv_id, ts_sec AS cts
        |  FROM ev WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id AS tu, event_type AS channel,
        |    ts_sec AS tts, event_id AS tid
        |  FROM ev WHERE event_type <> 'purchase'),
        |j AS (SELECT c.conv_id, t.channel, t.tts, t.tid
        |  FROM conv c JOIN touch t ON t.tu = c.cu
        |  WHERE t.tts <= c.cts AND c.cts - t.tts < ${30L * 86400}),
        |o AS (SELECT *, row_number() OVER (PARTITION BY conv_id
        |    ORDER BY tts ASC, tid ASC) AS idx,
        |    count(*) OVER (PARTITION BY conv_id) AS n
        |  FROM j)
        |SELECT channel, count(*)::BIGINT AS n_touches,
        |  sum(CASE WHEN n = 1 THEN 10000
        |    WHEN n = 2 THEN 5000
        |    WHEN idx = 1 OR idx = n THEN 4000
        |    ELSE 2000 // (n - 2)
        |      + (CASE WHEN idx - 2 < 2000 % (n - 2) THEN 1 ELSE 0 END)
        |    END)::BIGINT AS total_bps
        |FROM o GROUP BY 1""".stripMargin,

    // θ from exact HUGEINT sums; per-arm CUPED means closed-form
    "x124_cuped" ->
      s"""WITH $evSql,
        |per AS (SELECT user_id,
        |    sum(CASE WHEN ts_sec < ${1704067200L + 10 * 86400}
        |      THEN round(value * 1000000)::BIGINT ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN ts_sec >= ${1704067200L + 10 * 86400}
        |      THEN round(value * 1000000)::BIGINT ELSE 0 END)::BIGINT AS y,
        |    CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 15))::BIGINT
        |              % 2 = 0
        |         THEN 'A' ELSE 'B' END AS arm
        |  FROM ev GROUP BY user_id),
        |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x::HUGEINT * y) AS sxy,
        |    sum(x::HUGEINT * x) AS sxx
        |  FROM per),
        |th AS (SELECT n, sx,
        |    (n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE /
        |    (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE AS theta
        |  FROM g)
        |SELECT p.arm, count(*)::BIGINT AS n_users,
        |  round(sum(p.y)::DOUBLE / count(*) / 1e6, 6) AS mean_raw,
        |  round((sum(p.y)::DOUBLE / count(*) -
        |    th.theta * (sum(p.x)::DOUBLE / count(*) - th.sx::DOUBLE / th.n))
        |    / 1e6, 6) AS mean_cuped,
        |  round(th.theta, 6) AS theta
        |FROM per p CROSS JOIN th
        |GROUP BY p.arm, th.theta, th.sx, th.n""".stripMargin,

    // χ² flag via integer cross-multiplication (3.841459 scaled ×10⁶)
    "x122_ab_srm" ->
      s"""WITH $evSql,
        |armed AS (SELECT DISTINCT user_id,
        |  CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 15))::BIGINT
        |            % 2 = 0
        |       THEN 'A' ELSE 'B' END AS arm FROM ev),
        |c AS (SELECT
        |    sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS nb
        |  FROM armed)
        |SELECT na, nb,
        |  round((na - nb)::DOUBLE * (na - nb)::DOUBLE / (na + nb)::DOUBLE, 6)
        |    AS chi2,
        |  (na - nb) * (na - nb) * 1000000 > 3841459 * (na + nb) AS srm_flag
        |FROM c""".stripMargin,

    // same sufficient statistics as x48; SAMPLE (n−1) variances feed
    // both t and the Welch–Satterthwaite df
    "x110_welch_t" ->
      s"""WITH $evSql,
        |armed AS (SELECT event_type, value,
        |  CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 15))::BIGINT
        |            % 2 = 0
        |       THEN 'A' ELSE 'B' END AS arm FROM ev),
        |s AS (SELECT event_type, arm, count(*) AS n, sum(value) AS sv,
        |        sum(value * value) AS sv2
        |      FROM armed GROUP BY 1, 2),
        |a AS (SELECT event_type, n AS na, sv AS sva, sv2 AS sv2a FROM s WHERE arm = 'A'),
        |b AS (SELECT event_type, n AS nb, sv AS svb, sv2 AS sv2b FROM s WHERE arm = 'B'),
        |j AS (SELECT event_type, na, nb, sva / na AS ma, svb / nb AS mb,
        |        ((sv2a - na * (sva / na) * (sva / na)) / nullif(na - 1, 0)) / na AS ra,
        |        ((sv2b - nb * (svb / nb) * (svb / nb)) / nullif(nb - 1, 0)) / nb AS rb
        |      FROM a JOIN b USING (event_type))
        |SELECT event_type, na::BIGINT AS na, nb::BIGINT AS nb,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((mb - ma) / nullif(sqrt(ra + rb), 0), 4) AS t,
        |  round((ra + rb) * (ra + rb) /
        |    nullif(ra * ra / nullif(na - 1, 0) + rb * rb / nullif(nb - 1, 0), 0),
        |    2) AS df
        |FROM j""".stripMargin,

    // SSB in sum form (Σsvᵢ²/nᵢ − (Σsv)²/n): no grand-mean second pass
    "x111_anova_f" ->
      s"""WITH $evSql,
        |g AS (SELECT event_type, count(*) AS n, sum(value) AS sv,
        |        sum(value * value) AS sv2
        |      FROM ev GROUP BY 1),
        |r AS (SELECT count(*) AS k, sum(n) AS n, sum(sv * sv / n) AS sbn,
        |        sum(sv) AS svt, sum(sv2) AS svt2
        |      FROM g)
        |SELECT k::BIGINT AS k, n::BIGINT AS n,
        |  round((sbn - svt * svt / n) / nullif(k - 1, 0), 4) AS ms_between,
        |  round((svt2 - sbn) / nullif(n - k, 0), 4) AS ms_within,
        |  round(((sbn - svt * svt / n) / nullif(k - 1, 0)) /
        |    nullif((svt2 - sbn) / nullif(n - k, 0), 0), 4) AS f,
        |  (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2
        |FROM r""".stripMargin,

    // exact HUGEINT numerator decides the argmax; gain/means divide once
    "x112_changepoint" ->
      s"""WITH $evSql,
        |cells AS (SELECT event_type, ts_sec // 86400 AS day,
        |    round(sum(value), 3) AS v3 FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM cells),
        |grid AS (
        |  SELECT g.event_type, d.day, round(coalesce(c.v3, 0) * 1000)::BIGINT AS m
        |  FROM (SELECT DISTINCT event_type FROM cells) g
        |  CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day FROM b) d
        |  LEFT JOIN cells c ON c.event_type = g.event_type AND c.day = d.day),
        |pre AS (
        |  SELECT event_type, day,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    sum(m) OVER (PARTITION BY event_type ORDER BY day) AS st,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(m) OVER (PARTITION BY event_type) AS sn
        |  FROM grid),
        |sc AS (
        |  SELECT *,
        |    (n::HUGEINT * st - t::HUGEINT * sn)::DOUBLE *
        |    (n::HUGEINT * st - t::HUGEINT * sn)::DOUBLE /
        |    (t * (n - t) * n)::DOUBLE AS gain
        |  FROM pre WHERE t < n)
        |SELECT event_type, n::BIGINT AS n_days, day AS cp_day,
        |  (((2 * st + t) // (2 * t))::DOUBLE / 1000.0) AS mean_before,
        |  (((2 * (sn - st) + (n - t)) // (2 * (n - t)))::DOUBLE / 1000.0)
        |    AS mean_after,
        |  round(gain / 1e6, 4) AS gain
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY gain DESC, t ASC) AS rk FROM sc)
        |WHERE rk = 1""".stripMargin,

    // unnormalized Haar pyramid: five explicit halving stages, every
    // coefficient an exact integer; rank (|detail| desc, level, pos)
    "x132_haar" ->
      s"""WITH $evSql,
        |cells AS (SELECT event_type, ts_sec // 86400 AS day,
        |    round(sum(value), 3) AS v3 FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0 FROM cells),
        |s0 AS (
        |  SELECT g.event_type, d.pos,
        |    round(coalesce(c.v3, 0) * 1000)::BIGINT AS m
        |  FROM (SELECT DISTINCT event_type FROM cells) g
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS pos) d
        |  LEFT JOIN (SELECT event_type, day - (SELECT d0 FROM b) AS pos, v3
        |             FROM cells) c
        |    ON c.event_type = g.event_type AND c.pos = d.pos),
        |l1 AS (SELECT event_type, pos // 2 AS pos,
        |    sum(CASE WHEN pos % 2 = 0 THEN m ELSE -m END)::BIGINT AS detail,
        |    sum(m)::BIGINT AS m FROM s0 GROUP BY 1, 2),
        |l2 AS (SELECT event_type, pos // 2 AS pos,
        |    sum(CASE WHEN pos % 2 = 0 THEN m ELSE -m END)::BIGINT AS detail,
        |    sum(m)::BIGINT AS m FROM l1 GROUP BY 1, 2),
        |l3 AS (SELECT event_type, pos // 2 AS pos,
        |    sum(CASE WHEN pos % 2 = 0 THEN m ELSE -m END)::BIGINT AS detail,
        |    sum(m)::BIGINT AS m FROM l2 GROUP BY 1, 2),
        |l4 AS (SELECT event_type, pos // 2 AS pos,
        |    sum(CASE WHEN pos % 2 = 0 THEN m ELSE -m END)::BIGINT AS detail,
        |    sum(m)::BIGINT AS m FROM l3 GROUP BY 1, 2),
        |l5 AS (SELECT event_type, pos // 2 AS pos,
        |    sum(CASE WHEN pos % 2 = 0 THEN m ELSE -m END)::BIGINT AS detail,
        |    sum(m)::BIGINT AS m FROM l4 GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, 1 AS level, pos, detail FROM l1 UNION ALL
        |  SELECT event_type, 2, pos, detail FROM l2 UNION ALL
        |  SELECT event_type, 3, pos, detail FROM l3 UNION ALL
        |  SELECT event_type, 4, pos, detail FROM l4 UNION ALL
        |  SELECT event_type, 5, pos, detail FROM l5)
        |SELECT event_type, rank, level, pos::INT AS pos, detail
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(detail) DESC, level ASC, pos ASC) AS rank
        |      FROM d)
        |WHERE rank <= 5""".stripMargin,

    // μ/σ² and frame means from exact integer sums; quartile alphabet
    "x113_sax" ->
      s"""WITH $evSql,
        |cells AS (SELECT event_type, ts_sec // 86400 AS day,
        |    round(sum(value), 3) AS v3 FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM cells),
        |grid AS (
        |  SELECT g.event_type, d.day - (SELECT d0 FROM b) AS i,
        |    round(coalesce(c.v3, 0) * 1000)::BIGINT AS m
        |  FROM (SELECT DISTINCT event_type FROM cells) g
        |  CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS day FROM b) d
        |  LEFT JOIN cells c ON c.event_type = g.event_type AND c.day = d.day),
        |stats AS (SELECT event_type, count(*) AS n, sum(m)::BIGINT AS s,
        |    sum(m::HUGEINT * m) AS s2 FROM grid GROUP BY 1),
        |paa AS (
        |  SELECT g.event_type, st.n, floor(g.i * 8 / st.n)::INT AS seg,
        |    count(*) AS cnt, sum(g.m)::BIGINT AS sm,
        |    first(st.s) AS s, first(st.s2) AS s2
        |  FROM grid g JOIN stats st USING (event_type)
        |  WHERE st.s2::DOUBLE / st.n - (st.s::DOUBLE / st.n) * (st.s::DOUBLE / st.n) > 0
        |  GROUP BY 1, 2, 3),
        |sym AS (
        |  SELECT event_type, n, seg,
        |    CASE WHEN pz < -0.6745 THEN 'a' WHEN pz < 0.0 THEN 'b'
        |         WHEN pz < 0.6745 THEN 'c' ELSE 'd' END AS sym
        |  FROM (SELECT *,
        |      (sm::DOUBLE / cnt - s::DOUBLE / n) /
        |      sqrt(s2::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)) AS pz
        |    FROM paa))
        |SELECT event_type, n::BIGINT AS n_days,
        |  string_agg(sym, '' ORDER BY seg) AS sax
        |FROM sym GROUP BY 1, 2""".stripMargin,

    // the identical double expression tree (z and z² as the same
    // literals, same parenthesization), round-6 pinned
    "x75_wilson" ->
      s"""WITH $evSql,
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |        sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)::BIGINT AS pos
        |      FROM ev GROUP BY 1)
        |SELECT event_type, n, pos,
        |  round(pos::DOUBLE / n::DOUBLE, 6) AS rate,
        |  round(((pos::DOUBLE / n::DOUBLE) + (1.959964 * 1.959964) / (2.0 * n::DOUBLE)
        |         - 1.959964 * sqrt(((pos::DOUBLE / n::DOUBLE) * (1.0 - pos::DOUBLE / n::DOUBLE)
        |                            + (1.959964 * 1.959964) / (4.0 * n::DOUBLE)) / n::DOUBLE))
        |        / (1.0 + (1.959964 * 1.959964) / n::DOUBLE), 6) AS wilson_lo,
        |  round(((pos::DOUBLE / n::DOUBLE) + (1.959964 * 1.959964) / (2.0 * n::DOUBLE)
        |         + 1.959964 * sqrt(((pos::DOUBLE / n::DOUBLE) * (1.0 - pos::DOUBLE / n::DOUBLE)
        |                            + (1.959964 * 1.959964) / (4.0 * n::DOUBLE)) / n::DOUBLE))
        |        / (1.0 + (1.959964 * 1.959964) / n::DOUBLE), 6) AS wilson_hi
        |FROM a""".stripMargin,

    "t28_winnow" ->
      s"""WITH $toksSql,
        |$winnowFfSql
        |SELECT doc_id, len(g)::BIGINT AS n_grams, len(fps)::BIGINT AS n_fps,
        |  md5(array_to_string(list_transform(fps, x -> x::VARCHAR), ',')) AS fp_digest
        |FROM ff""".stripMargin,

    // deliberately the self-join formulation (the query uses the
    // set-explosion shape); fr rows are per-doc distinct by construction
    "d22_winnow_pairs" ->
      s"""WITH $toksSql,
        |$winnowFfSql,
        |$winnowPairSql
        |SELECT a, b, shared FROM wp""".stripMargin,

    // the d7 recursive-reach replay over the SHARED winnow pair rule,
    // seeded from pair members only
    "d23_winnow_clusters" ->
      s"""WITH RECURSIVE $toksSql,
        |$winnowFfSql,
        |$winnowPairSql,
        |edges AS (SELECT a AS s2, b AS d2 FROM wp UNION SELECT b, a FROM wp),
        |members AS (SELECT DISTINCT s2 AS node FROM edges),
        |reach AS (
        |  SELECT node, node AS r FROM members
        |  UNION
        |  SELECT e.s2, reach.r FROM edges e JOIN reach ON reach.node = e.d2)
        |SELECT node AS doc_id, min(r)::BIGINT AS cluster_id
        |FROM reach GROUP BY 1""".stripMargin,

    // the same closed forms over the same double literals
    "d24_lsh_planner" ->
      """SELECT b, (120 // b)::BIGINT AS r,
        |  round(pow(1.0 / b, 1.0 / (120 // b)), 6) AS s50,
        |  round(1 - pow(1 - pow(0.8, 120 // b), b), 6) AS p_at_t,
        |  round(1 - pow(1 - pow(0.6, 120 // b), b), 6) AS p_below,
        |  round(1 - pow(1 - pow(0.9, 120 // b), b), 6) AS p_above
        |FROM generate_series(1, 120) t(b) WHERE 120 % b = 0""".stripMargin,

    "t27_burstiness" ->
      s"""WITH $toksSql,
        |wcx AS (SELECT doc_id, w, count(*) AS c
        |        FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2)
        |SELECT w, sum(c)::BIGINT AS cf, count(*)::BIGINT AS df,
        |  round(sum(c)::DOUBLE / count(*), 6) AS burstiness
        |FROM wcx GROUP BY 1 HAVING sum(c) >= 5""".stripMargin,

    // the Bellman-Ford recurrence unrolled (the t18 iteration idiom):
    // r_{k} = min(r_{k-1}, min over edges of r_{k-1}(u) + cost)
    "g8_sssp" -> {
      val rounds = (1 to 4).map { k =>
        s"""rel$k AS (
           |  SELECT e.b AS node, min(r${k - 1}.cost + e.cost) AS cost
           |  FROM r${k - 1} JOIN ec e ON e.a = r${k - 1}.node GROUP BY 1),
           |r$k AS (
           |  SELECT node, min(cost)::BIGINT AS cost FROM (
           |    SELECT node, cost FROM r${k - 1}
           |    UNION ALL SELECT node, cost FROM rel$k) GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH $toksSql,
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgf AS (SELECT a, b FROM bg WHERE a <> b),
        |ew AS (SELECT a, b, count(*)::DOUBLE AS w FROM
        |    (SELECT a, b FROM bgf UNION ALL SELECT b AS a, a AS b FROM bgf)
        |  GROUP BY 1, 2),
        |ec AS (SELECT a, b, 1000000 // w::BIGINT AS cost FROM ew),
        |wdeg AS (SELECT a, sum(w) AS wd FROM ew GROUP BY 1),
        |hub AS (SELECT a AS node FROM wdeg ORDER BY wd DESC, a LIMIT 1),
        |r0 AS (SELECT node, 0::BIGINT AS cost FROM hub),
        |$rounds
        |SELECT node, cost FROM r4""".stripMargin
    },

    // recursive-CTE replay of the frontier BFS: UNION dedups (node, d)
    // rows, depth strictly increases so the recursion is bounded, and
    // min(d) = first-seen level = the BFS depth
    // the two register-merge rounds unrolled; estimate constants are
    // m=16, w=56 (2^57 = 144115188075855872, 2.5m = 40) in exactly the
    // x39 literal/op order
    "g9_hyperball" ->
      s"""WITH $toksSql,
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgf AS (SELECT a, b FROM bg WHERE a <> b),
        |ew AS (SELECT a, b, count(*)::DOUBLE AS w FROM
        |    (SELECT a, b FROM bgf UNION ALL SELECT b AS a, a AS b FROM bgf)
        |  GROUP BY 1, 2),
        |nh AS (SELECT node, ('0x' || substr(md5(node), 1, 15))::BIGINT AS h
        |  FROM (SELECT DISTINCT a AS node FROM ew)),
        |r0 AS (SELECT node, h % 16 AS b,
        |    CASE WHEN (h >> 4) = 0 THEN 57
        |         ELSE 57 - length(bin(h >> 4)) END AS m
        |  FROM nh),
        |r1 AS (SELECT node, b, max(m) AS m FROM (
        |    SELECT node, b, m FROM r0
        |    UNION ALL
        |    SELECT e.a AS node, r0.b, r0.m FROM ew e JOIN r0 ON r0.node = e.b
        |  ) GROUP BY 1, 2),
        |r2 AS (SELECT node, b, max(m) AS m FROM (
        |    SELECT node, b, m FROM r1
        |    UNION ALL
        |    SELECT e.a AS node, r1.b, r1.m FROM ew e JOIN r1 ON r1.node = e.b
        |  ) GROUP BY 1, 2),
        |s AS (SELECT node, count(*)::BIGINT AS c,
        |    sum(1::BIGINT << (57 - m))::BIGINT AS sl FROM r2 GROUP BY 1),
        |est AS (SELECT node, c,
        |    0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 16.0::DOUBLE)
        |      * 16.0::DOUBLE * 16.0::DOUBLE * 144115188075855872.0::DOUBLE
        |      / (sl + (16 - c) * (1::BIGINT << 57))::DOUBLE AS raw
        |  FROM s)
        |SELECT node, c AS n_regs,
        |  round(CASE WHEN raw <= 40.0::DOUBLE AND c < 16
        |    THEN 16.0::DOUBLE * ln(16.0::DOUBLE / (16 - c)::DOUBLE)
        |    ELSE raw END, 4) AS est_ball2
        |FROM est""".stripMargin,

    "g7_bfs_hops" ->
      s"""WITH RECURSIVE $toksSql,
        |bg AS (SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgf AS (SELECT a, b FROM bg WHERE a <> b),
        |ew AS (SELECT a, b, count(*)::DOUBLE AS w FROM
        |    (SELECT a, b FROM bgf UNION ALL SELECT b AS a, a AS b FROM bgf)
        |  GROUP BY 1, 2),
        |wdeg AS (SELECT a, sum(w) AS wd FROM ew GROUP BY 1),
        |hub AS (SELECT a AS node FROM wdeg ORDER BY wd DESC, a LIMIT 1),
        |bfs AS (
        |  SELECT node, 0 AS d FROM hub
        |  UNION
        |  SELECT e.b AS node, bfs.d + 1 AS d
        |  FROM bfs JOIN ew e ON e.a = bfs.node WHERE bfs.d < 4)
        |SELECT node, min(d)::INT AS depth FROM bfs GROUP BY 1""".stripMargin,

    // xent = ln(T) − Σ c·ln(C_w)/n under the corpus unigram model; the
    // ntile runs over (round-6 xent, doc_id) — rounding BEFORE the sort
    // keeps the bucket split engine-exact
    "t26_ppl_bucket" ->
      s"""WITH $toksSql,
        |wcx AS (SELECT doc_id, w, count(*) AS c
        |        FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |vocab AS (SELECT w, sum(c)::BIGINT AS cw FROM wcx GROUP BY 1),
        |tot AS (SELECT sum(cw)::DOUBLE AS tt FROM vocab),
        |pd AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |         sum(c::DOUBLE * ln(cw::DOUBLE)) AS clogcw
        |       FROM wcx JOIN vocab USING (w) GROUP BY 1),
        |x AS (SELECT doc_id, n_tokens,
        |        round(ln(tt) - clogcw / n_tokens, 6) AS xent FROM pd, tot)
        |SELECT x.doc_id, d.source, x.n_tokens, x.xent,
        |  CASE ntile(3) OVER (PARTITION BY d.source ORDER BY x.xent, x.doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM x JOIN documents d ON d.doc_id = x.doc_id""".stripMargin,

    // deliberately t26's EXACT oracle: the range-parallel rank must
    // reproduce the per-group ntile semantics row for row
    "x90_ppl_parallel" ->
      s"""WITH $toksSql,
        |wcx AS (SELECT doc_id, w, count(*) AS c
        |        FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |vocab AS (SELECT w, sum(c)::BIGINT AS cw FROM wcx GROUP BY 1),
        |tot AS (SELECT sum(cw)::DOUBLE AS tt FROM vocab),
        |pd AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |         sum(c::DOUBLE * ln(cw::DOUBLE)) AS clogcw
        |       FROM wcx JOIN vocab USING (w) GROUP BY 1),
        |x AS (SELECT doc_id, n_tokens,
        |        round(ln(tt) - clogcw / n_tokens, 6) AS xent FROM pd, tot)
        |SELECT x.doc_id, d.source, x.n_tokens, x.xent,
        |  CASE ntile(3) OVER (PARTITION BY d.source ORDER BY x.xent, x.doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM x JOIN documents d ON d.doc_id = x.doc_id""".stripMargin,

    // features = unigrams + space-joined bigrams, hashed with the
    // corpus-standard md5-60-bit bucket (the x71 idiom); Laplace-smoothed
    // 512-bucket models, log-ratio summed per raw doc, round-6 pinned
    "x76_dsir" ->
      s"""WITH $toksSql,
        |ft AS (SELECT doc_id, source IN ('src0', 'src1') AS tgt,
        |         unnest(list_concat(t,
        |           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS f
        |       FROM toks),
        |fb AS (SELECT doc_id, tgt,
        |         ('0x' || substr(md5(f), 1, 15))::BIGINT % 512 AS b FROM ft),
        |pdc AS (SELECT doc_id, tgt, b, count(*) AS c FROM fb GROUP BY 1, 2, 3),
        |model AS (SELECT b,
        |            sum(CASE WHEN tgt THEN c ELSE 0 END)::BIGINT AS ct,
        |            sum(CASE WHEN tgt THEN 0 ELSE c END)::BIGINT AS cr
        |          FROM pdc GROUP BY 1),
        |tots AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM model),
        |lrs AS (SELECT b, ln((ct + 1)::DOUBLE / (tt + 512))
        |               - ln((cr + 1)::DOUBLE / (tr + 512)) AS lr
        |        FROM model, tots)
        |SELECT doc_id, sum(c)::BIGINT AS n_feats,
        |  round(sum(c::DOUBLE * lr), 6) AS logw,
        |  round(sum(c::DOUBLE * lr), 6) > 0 AS selected
        |FROM pdc JOIN lrs USING (b) WHERE NOT tgt GROUP BY doc_id""".stripMargin,

    // same 5-gram + whole-doc-fallback shingle rule as the d9 oracle
    "d21_source_overlap" ->
      s"""WITH $toksSql,
        |sh5 AS (
        |  SELECT source,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks),
        |ss AS (SELECT DISTINCT source, md5(sh) AS shh FROM sh5)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*)::BIGINT AS shared
        |FROM ss a JOIN ss b ON a.shh = b.shh AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // x39's register/estimate pipeline per source + per-bucket MAX
    // union; inclusion-exclusion with the 0-clamp
    "d25_hll_overlap" ->
      s"""WITH $toksSql,
        |sh5 AS (
        |  SELECT source,
        |    unnest(CASE WHEN len(t) >= 5
        |      THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS sh
        |  FROM toks),
        |h AS (SELECT source,
        |    ('0x' || substr(md5(md5(sh)), 1, 15))::BIGINT AS h
        |  FROM sh5),
        |r AS (SELECT source, h % 1024 AS b,
        |    CASE WHEN (h >> 10) = 0 THEN 51
        |         ELSE 51 - length(bin(h >> 10)) END AS rho
        |  FROM h),
        |m AS (SELECT source, b, max(rho) AS mx FROM r GROUP BY 1, 2),
        |est AS (SELECT source,
        |    round(CASE WHEN raw <= 2560.0::DOUBLE AND c < 1024
        |      THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / (1024 - c)::DOUBLE)
        |      ELSE raw END, 4) AS e
        |  FROM (SELECT source, count(*)::BIGINT AS c,
        |      0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
        |        * 1024.0::DOUBLE * 1024.0::DOUBLE * 2251799813685248.0::DOUBLE
        |        / (sum(1::BIGINT << (51 - mx))::BIGINT
        |           + (1024 - count(*)) * (1::BIGINT << 51))::DOUBLE AS raw
        |    FROM m GROUP BY 1)),
        |um AS (SELECT a.source AS ga, bb.source AS gb, mm.b, max(mm.mx) AS mx
        |  FROM (SELECT DISTINCT source FROM m) a
        |  JOIN (SELECT DISTINCT source FROM m) bb ON a.source < bb.source
        |  JOIN m mm ON mm.source = a.source OR mm.source = bb.source
        |  GROUP BY 1, 2, 3),
        |ue AS (SELECT ga, gb,
        |    round(CASE WHEN raw <= 2560.0::DOUBLE AND c < 1024
        |      THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / (1024 - c)::DOUBLE)
        |      ELSE raw END, 4) AS est_union
        |  FROM (SELECT ga, gb, count(*)::BIGINT AS c,
        |      0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
        |        * 1024.0::DOUBLE * 1024.0::DOUBLE * 2251799813685248.0::DOUBLE
        |        / (sum(1::BIGINT << (51 - mx))::BIGINT
        |           + (1024 - count(*)) * (1::BIGINT << 51))::DOUBLE AS raw
        |    FROM um GROUP BY 1, 2))
        |SELECT ue.ga AS source_a, ue.gb AS source_b,
        |  ea.e AS est_a, eb.e AS est_b, ue.est_union,
        |  round(greatest(0.0::DOUBLE, ea.e + eb.e - ue.est_union), 4)
        |    AS est_shared,
        |  round(greatest(0.0::DOUBLE, ea.e + eb.e - ue.est_union) / ue.est_union,
        |    6) AS est_jaccard
        |FROM ue JOIN est ea ON ea.source = ue.ga
        |JOIN est eb ON eb.source = ue.gb""".stripMargin,

    "x77_zipf_slope" ->
      s"""WITH $toksSql,
        |wc AS (SELECT source, w, count(*) AS c
        |       FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |rk AS (SELECT source, c,
        |         row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS r
        |       FROM wc),
        |pt AS (SELECT source, ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y
        |       FROM rk WHERE r <= 100),
        |ag AS (SELECT source, count(*)::BIGINT AS n_terms,
        |         sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |       FROM pt GROUP BY 1)
        |SELECT source, n_terms,
        |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
        |    AS zipf_slope
        |FROM ag""".stripMargin,

    // identical parenthesization to classKlFromCorpus:
    // (c/ns) · ln((c·T)/(ns·C_w)), round-6 pinned
    "x78_source_kl" ->
      s"""WITH $toksSql,
        |swc AS (SELECT source, w, count(*) AS c
        |        FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |ns AS (SELECT source, sum(c)::BIGINT AS ns FROM swc GROUP BY 1),
        |vocab AS (SELECT w, sum(c)::BIGINT AS cw FROM swc GROUP BY 1),
        |tot AS (SELECT sum(cw)::DOUBLE AS tt FROM vocab)
        |SELECT s.source, max(n.ns)::BIGINT AS n_tokens,
        |  round(sum((s.c::DOUBLE / n.ns) *
        |    ln((s.c::DOUBLE * tot.tt) / (n.ns::DOUBLE * v.cw))), 6) AS kl
        |FROM swc s JOIN vocab v USING (w) JOIN ns n USING (source), tot
        |GROUP BY 1""".stripMargin,

    // score(d, s) = Σ c_dw·ln(c_sw + 1) − n_d·ln(n_s + V); absent
    // (doc, class) word terms are ln 1 = 0 so the shared-word join
    // suffices; argmax over (round-6 score desc, source asc)
    "x79_nb_source_attr" ->
      s"""WITH $toksSql,
        |dwc AS (SELECT doc_id, w, count(*) AS c
        |        FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |model AS (SELECT source, w, count(*) AS csw
        |          FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |ns AS (SELECT source, sum(csw)::BIGINT AS ns FROM model GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w)::BIGINT AS v FROM model),
        |nd AS (SELECT doc_id, sum(c)::BIGINT AS nd FROM dwc GROUP BY 1),
        |t1 AS (SELECT d.doc_id, m.source AS cand,
        |         sum(d.c::DOUBLE * ln((m.csw + 1)::DOUBLE)) AS t1
        |       FROM dwc d JOIN model m USING (w) GROUP BY 1, 2),
        |grid AS (SELECT nd.doc_id, ns.source AS cand,
        |           round(coalesce(t1.t1, 0.0) -
        |             nd.nd::DOUBLE * ln((ns.ns + vv.v)::DOUBLE), 6) AS score
        |         FROM nd CROSS JOIN ns CROSS JOIN vv
        |         LEFT JOIN t1 ON t1.doc_id = nd.doc_id AND t1.cand = ns.source),
        |best AS (SELECT doc_id, cand AS predicted, score,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, cand) AS rn
        |         FROM grid)
        |SELECT d.doc_id, d.source, b.predicted, b.score,
        |  b.predicted = d.source AS correct
        |FROM best b JOIN documents d ON d.doc_id = b.doc_id
        |WHERE b.rn = 1""".stripMargin,

    "x86_type_corr" ->
      s"""WITH $evSql,
        |daily AS (SELECT event_type, ts_sec // 86400 AS day,
        |            count(*)::DOUBLE AS c
        |          FROM ev GROUP BY 1, 2),
        |ag AS (SELECT l.event_type AS ta, r.event_type AS tb,
        |         count(*)::BIGINT AS n,
        |         sum(l.c) AS sx, sum(r.c) AS sy, sum(l.c * r.c) AS sxy,
        |         sum(l.c * l.c) AS sxx, sum(r.c * r.c) AS syy
        |       FROM daily l JOIN daily r
        |         ON l.day = r.day AND l.event_type < r.event_type
        |       GROUP BY 1, 2)
        |SELECT ta, tb, n,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
        |FROM ag""".stripMargin,

    "t29_heaps_fit" ->
      s"""WITH $toksSql,
        |sv AS (SELECT ln(count(*)::DOUBLE) AS x,
        |         ln(count(DISTINCT w)::DOUBLE) AS y
        |       FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY source),
        |ag AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |       FROM sv)
        |SELECT n AS n_sources,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS ln_k
        |FROM ag""".stripMargin,

    // deliberately the NOT EXISTS formulation (the query uses LEFT ANTI)
    "j16_no_orders" ->
      """SELECT n_name, count(*)::BIGINT AS n_customers,
        |  round(sum(c_acctbal), 4) AS total_acctbal
        |FROM customer c JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin,

    "x85_seasonal_residual" ->
      s"""WITH $evSql,
        |daily AS (SELECT event_type, ts_sec // 86400 AS day, sum(value) AS v
        |          FROM ev GROUP BY 1, 2)
        |SELECT d.event_type, d.day, round(d.v, 6) AS v,
        |  round(b.v, 6) AS v_base, round(d.v - b.v, 6) AS residual
        |FROM daily d LEFT JOIN daily b
        |  ON b.event_type = d.event_type AND b.day = d.day - 7""".stripMargin,

    // quantile_cont and Spark's exact percentile share the definition
    // pos = p·(n−1), linear interpolation between floor/ceil neighbors
    "x81_percentile_slo" ->
      s"""WITH $evSql
        |SELECT event_type, count(*)::BIGINT AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM ev GROUP BY 1""".stripMargin,

    "x82_table_checksum" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        |  bit_xor(('0x' || substr(md5(
        |    l_orderkey || '|' || l_partkey || '|' || l_suppkey || '|' ||
        |    l_linenumber || '|' || l_returnflag || '|' || l_linestatus),
        |    1, 15))::BIGINT) AS checksum
        |FROM lineitem GROUP BY 1""".stripMargin,

    "x83_value_trend" ->
      s"""WITH $evSql,
        |ag AS (SELECT event_type, count(*)::BIGINT AS n,
        |         sum(ts_sec::DOUBLE) AS sx, sum(value) AS sy,
        |         sum(ts_sec::DOUBLE * value) AS sxy,
        |         sum(ts_sec::DOUBLE * ts_sec::DOUBLE) AS sxx
        |       FROM ev GROUP BY 1)
        |SELECT event_type, n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope_per_sec
        |FROM ag""".stripMargin,

    "x84_type_value_mi" ->
      s"""WITH $evSql,
        |cell AS (SELECT event_type, value > 100 AS pos, count(*) AS c
        |         FROM ev GROUP BY 1, 2),
        |rowm AS (SELECT event_type, sum(c)::BIGINT AS ci FROM cell GROUP BY 1),
        |colm AS (SELECT pos, sum(c)::BIGINT AS cj FROM cell GROUP BY 1),
        |tot AS (SELECT sum(c)::DOUBLE AS tt FROM cell)
        |SELECT round(sum((c / tt) * ln((c * tt) / (ci::DOUBLE * cj))), 9) AS mi
        |FROM cell JOIN rowm USING (event_type) JOIN colm USING (pos), tot""".stripMargin,

    "x47_time_grid" ->
      s"""WITH $evSql,
        |w AS (SELECT event_type, ts_sec // 604800 AS week FROM ev),
        |c AS (SELECT event_type, week, count(*) AS n FROM w GROUP BY 1, 2),
        |b AS (SELECT min(week) AS w0, max(week) AS w1 FROM w),
        |g AS (SELECT et.event_type, u.week
        |      FROM (SELECT DISTINCT event_type FROM w) et, b,
        |        unnest(generate_series(b.w0, b.w1)) AS u(week))
        |SELECT g.event_type, g.week, coalesce(c.n, 0) AS n
        |FROM g LEFT JOIN c USING (event_type, week)""".stripMargin,

    "x45_retention_cohorts" ->
      s"""WITH $evSql,
        |uw AS (SELECT DISTINCT user_id, ts_sec // 604800 AS week FROM ev),
        |cw AS (SELECT week,
        |         min(week) OVER (PARTITION BY user_id) AS cohort_week
        |       FROM uw)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM cw GROUP BY 1, 2""".stripMargin,

    // x83's five-sum closed form on ln(retention), offsets >= 1
    "x125_retention_fit" ->
      s"""WITH $evSql,
        |uw AS (SELECT DISTINCT user_id, ts_sec // 604800 AS week FROM ev),
        |cw AS (SELECT week,
        |         min(week) OVER (PARTITION BY user_id) AS cohort_week
        |       FROM uw),
        |base AS (SELECT count(*)::BIGINT AS n0 FROM cw WHERE week = cohort_week),
        |offs AS (SELECT (week - cohort_week)::DOUBLE AS k,
        |    ln(count(*)::DOUBLE / (SELECT n0 FROM base)::DOUBLE) AS lr
        |  FROM cw WHERE week - cohort_week >= 1 GROUP BY week - cohort_week),
        |s AS (SELECT count(*)::BIGINT AS n, sum(k) AS sk, sum(lr) AS sl,
        |    sum(k * lr) AS skl, sum(k * k) AS skk FROM offs)
        |SELECT n AS n_offsets,
        |  round((n * skl - sk * sl) / nullif(n * skk - sk * sk, 0.0), 6)
        |    AS decay_rate,
        |  round((sl - ((n * skl - sk * sl) / nullif(n * skk - sk * sk, 0.0))
        |      * sk) / nullif(n::DOUBLE, 0.0), 6)
        |    AS intercept,
        |  round(-ln(2.0::DOUBLE) /
        |    nullif((n * skl - sk * sl) / nullif(n * skk - sk * sk, 0.0), 0.0),
        |    4) AS half_life_weeks
        |FROM s""".stripMargin,

    "t15_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, length(text)::BIGINT AS n_raw,
        |    regexp_replace(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
        |                   '[^a-z0-9 ]', '', 'g') AS clean
        |  FROM documents)
        |SELECT doc_id, md5(clean) AS norm_digest, n_raw,
        |  length(clean)::BIGINT AS n_clean
        |FROM n""".stripMargin,

    // explicit OLS sums (not regr_slope) so both engines evaluate the
    // same closed form; sums of ≤1000 doubles round safely at 6
    "t16_zipf" ->
      s"""WITH $toksSql,
        |wc AS (SELECT w, count(*) AS c
        |       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |top AS (SELECT c, w FROM wc ORDER BY c DESC, w LIMIT 1000),
        |ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM top),
        |pts AS (SELECT ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y FROM ranked),
        |s AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts)
        |SELECT n AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
        |    AS intercept
        |FROM s""".stripMargin,

    "x9_skew_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    "j11_q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,

    // identical result contract to j7 — the bucketed layout must not
    // change the answer, only the plan
    "j12_bucketed_join" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,

    "x17_bigram_stats" ->
      s"""WITH $toksSql
        |SELECT bigram, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM toks WHERE len(t) >= 2)
        |GROUP BY 1
        |ORDER BY cnt DESC, bigram ASC
        |LIMIT 20""".stripMargin,

    "x16_seq_pack" ->
      s"""WITH $toksSql,
        |t AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
        |        md5(doc_id::VARCHAR) AS h
        |      FROM toks),
        |c AS (SELECT doc_id, bucket, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT doc_id, bucket::INT AS bucket,
        |  ((cum - n_tokens) // 512)::BIGINT AS bin, n_tokens
        |FROM c""".stripMargin,

    "x15_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS hx
        |           FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, hx,
        |        row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn
        |      FROM h),
        |agg AS (SELECT event_type, count(*)::BIGINT AS n,
        |          max(CASE WHEN rn = 64 THEN hx END) AS kth
        |        FROM r GROUP BY 1)
        |SELECT event_type,
        |  round(CASE WHEN n < 64 THEN n::DOUBLE
        |    ELSE 63.0 / (('0x' || substr(kth, 1, 15))::BIGINT::DOUBLE / 1152921504606846976.0)
        |  END, 4) AS est_users
        |FROM agg""".stripMargin,

    // HLL registers replayed bit-for-bit: rho via length(bin(rest)) and
    // the register sum as the exact BIGINT Σ 2^(51−M); every float
    // literal is ::DOUBLE (DuckDB parses bare decimals as DECIMAL, whose
    // arithmetic would fork from IEEE), op order mirrors hllDistinct
    "x39_hll_distinct" ->
      """WITH h AS (SELECT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, h % 1024 AS b,
        |    CASE WHEN (h >> 10) = 0 THEN 51
        |         ELSE 51 - length(bin(h >> 10)) END AS rho
        |  FROM h),
        |m AS (SELECT event_type, b, max(rho) AS mx FROM r GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*)::BIGINT AS c,
        |    sum(1::BIGINT << (51 - mx))::BIGINT AS sl FROM m GROUP BY 1),
        |e AS (SELECT event_type, c,
        |    0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
        |      * 1024.0::DOUBLE * 1024.0::DOUBLE * 2251799813685248.0::DOUBLE
        |      / (sl + (1024 - c) * (1::BIGINT << 51))::DOUBLE AS raw
        |  FROM s)
        |SELECT event_type, c AS n_regs,
        |  round(CASE WHEN raw <= 2560.0::DOUBLE AND c < 1024
        |    THEN 1024.0::DOUBLE * ln(1024.0::DOUBLE / (1024 - c)::DOUBLE)
        |    ELSE raw END, 4) AS est_users
        |FROM e""".stripMargin,

    // same (hash+1)/2^60 uniform, same pow/round shape; the rounded-key
    // order with id tie-break is the t11 ranking convention
    "x40_weighted_reservoir" ->
      """WITH h AS (SELECT event_id, value,
        |    (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT + 1)::DOUBLE
        |      / 1152921504606846976.0::DOUBLE AS u
        |  FROM events WHERE value > 0),
        |k AS (SELECT event_id,
        |    round(pow(u, 1.0::DOUBLE / value), 9) AS skey FROM h)
        |SELECT event_id AS id FROM (
        |  SELECT event_id,
        |    row_number() OVER (ORDER BY skey DESC, event_id ASC) AS rn
        |  FROM k)
        |WHERE rn <= 100""".stripMargin,

    // digest cells joined on chr(1) with chr(0) NULL markers — matches
    // the Spark side's U+0001 separator / U+0000 marker byte-for-byte
    "x42_grouped_reservoir" ->
      """WITH h AS (SELECT event_type, event_id, value,
        |    (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT + 1)::DOUBLE
        |      / 1152921504606846976.0::DOUBLE AS u
        |  FROM events WHERE value > 0),
        |k AS (SELECT event_type, event_id,
        |    round(pow(u, 1.0::DOUBLE / value), 9) AS skey FROM h)
        |SELECT event_type, rank, event_id AS id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY skey DESC, event_id ASC) AS rank
        |  FROM k)
        |WHERE rank <= 20""".stripMargin,

    "x41_snapshot_diff" ->
      """WITH oldt AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |      coalesce(text, chr(0)), coalesce(lang, chr(0)),
        |      coalesce(source, chr(0)))) AS d
        |  FROM documents WHERE doc_id % 7 <> 0),
        |newt AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |      coalesce(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |               ELSE text END, chr(0)),
        |      coalesce(lang, chr(0)), coalesce(source, chr(0)))) AS d
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.d <> n.d THEN 'changed' END AS change
        |  FROM oldt o FULL OUTER JOIN newt n ON n.doc_id = o.doc_id)
        |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin,

    // x41's snapshot pair, reconciled at bucket grain: XOR of md5-60 row
    // digests per hash bucket, differing buckets only
    "x88_merkle_diff" ->
      """WITH o AS (SELECT doc_id, text, lang, source FROM documents
        |  WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source
        |  FROM documents WHERE doc_id % 5 <> 0),
        |oa AS (
        |  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 32 AS bucket,
        |    count(*)::BIGINT AS old_rows,
        |    bit_xor(('0x' || substr(md5(
        |      doc_id || '|' || text || '|' || lang || '|' || source), 1, 15))::BIGINT)
        |      AS old_checksum
        |  FROM o GROUP BY 1),
        |na AS (
        |  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 32 AS bucket,
        |    count(*)::BIGINT AS new_rows,
        |    bit_xor(('0x' || substr(md5(
        |      doc_id || '|' || text || '|' || lang || '|' || source), 1, 15))::BIGINT)
        |      AS new_checksum
        |  FROM n GROUP BY 1)
        |SELECT coalesce(oa.bucket, na.bucket) AS bucket,
        |  coalesce(old_rows, 0)::BIGINT AS old_rows,
        |  coalesce(new_rows, 0)::BIGINT AS new_rows,
        |  old_checksum, new_checksum
        |FROM oa FULL OUTER JOIN na ON oa.bucket = na.bucket
        |WHERE old_rows IS DISTINCT FROM new_rows
        |   OR old_checksum IS DISTINCT FROM new_checksum""".stripMargin,

    "x14_balanced_sample" ->
      """SELECT event_type, rank, event_id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY md5(event_id::VARCHAR) ASC, event_id ASC) AS rank
        |  FROM events)
        |WHERE rank <= 50""".stripMargin,

    "x13_stratified_sample" ->
      """WITH h AS (
        |  SELECT event_id, user_id, event_type,
        |    ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
        |  FROM events)
        |SELECT event_id, user_id, event_type FROM h
        |WHERE b < CASE event_type WHEN 'click' THEN 10 WHEN 'view' THEN 5
        |          WHEN 'error' THEN 0 WHEN 'purchase' THEN 100 ELSE 25 END""".stripMargin,

    "x34_mad_outliers" ->
      s"""WITH $evSql,
        |med AS (SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |        FROM ev GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |    round(quantile_cont(abs(round(value - med, 4)), 0.5), 4) AS mad,
        |    max(med) AS med
        |  FROM ev e JOIN med USING (event_type) GROUP BY 1)
        |SELECT e.event_type, max(m.med) AS med, max(m.mad) AS mad,
        |  count(*)::BIGINT AS n,
        |  count(CASE WHEN abs(round(value - m.med, 4)) > m.mad * 3 THEN 1 END)::BIGINT
        |    AS n_outliers
        |FROM ev e JOIN mad m USING (event_type)
        |GROUP BY 1""".stripMargin,

    // the interleave is generated from the same (i, j) index ranges as
    // ZOrder.zValue so bit positions cannot fork between engines
    "x38_zorder_key" -> {
      val zTerms = (for {
        (d, i) <- Seq("du", "dv").zipWithIndex
        j <- 0 until 10
      } yield s"((($d >> $j) & 1) << ${j * 2 + i})").mkString(" + ")
      s"""WITH e AS (SELECT event_id,
        |    ((user_id % 1024) + 1024) % 1024 AS du,
        |    ((floor(value * 100)::BIGINT % 1024) + 1024) % 1024 AS dv
        |  FROM events)
        |SELECT event_id, du, dv, ($zTerms) AS zkey FROM e""".stripMargin
    },

    "x37_dq_report" ->
      """WITH m AS (SELECT
        |    avg(CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0.0 END)::DOUBLE AS m0,
        |    (count(*) - count(DISTINCT event_id))::DOUBLE AS m1,
        |    sum(CASE WHEN event_type NOT IN ('click','view','error','purchase')
        |        THEN 1 ELSE 0 END)::DOUBLE AS m2,
        |    min(value)::DOUBLE AS m3,
        |    min(user_id)::DOUBLE AS m4
        |  FROM events)
        |SELECT 'value_complete' AS check_name, round(m0, 6) AS metric,
        |       m0 = 1.0 AS passed FROM m
        |UNION ALL SELECT 'event_id_unique', round(m1, 6), m1 = 0.0 FROM m
        |UNION ALL SELECT 'type_in_domain', round(m2, 6), m2 = 0.0 FROM m
        |UNION ALL SELECT 'value_nonnegative', round(m3, 6), m3 >= 0.0 FROM m
        |UNION ALL SELECT 'user_id_lower_bound', round(m4, 6), m4 >= 0.0 FROM m""".stripMargin,

    "x35_group_stats" ->
      """WITH e AS (SELECT event_type, value,
        |    json_extract_string(props, '$.k')::DOUBLE AS k FROM events)
        |SELECT event_type, count(*)::BIGINT AS n,
        |  round(corr(value, k), 6) AS corr_vk,
        |  round(covar_samp(value, k), 6) AS covar_vk,
        |  round(stddev_samp(value), 6) AS sd_value,
        |  round(avg(k), 6) AS avg_k
        |FROM e GROUP BY 1""".stripMargin,

    "x36_ewma_decay" ->
      s"""WITH $evSql,
        |r AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM ev)
        |SELECT user_id, count(*)::BIGINT AS n_events,
        |  round(sum(value * pow(0.9, cnt - rn)), 4) AS decayed_sum,
        |  max(CASE WHEN rn = cnt THEN value END) AS last_value
        |FROM r GROUP BY 1""".stripMargin,

    "t17_pii_scrub" ->
      """WITH c AS (SELECT c_custkey,
        |    concat_ws(' ', c_name, c_mktsegment,
        |      abs(floor(c_acctbal * 100))::BIGINT::VARCHAR) AS line
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(line,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{5,}', '<ID>', 'g') AS clean,
        |  len(regexp_extract_all(line, '[0-9]{5,}'))::INT AS n_ids
        |FROM c""".stripMargin,

    "t19_compress_ratio" ->
      """SELECT d.doc_id,
        |  greatest(length(d.text) - 3, 0)::BIGINT AS n_grams,
        |  coalesce(r.nd, 0)::BIGINT AS n_distinct
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, count(DISTINCT substr(text, i, 4))::BIGINT AS nd
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 3, 0) + 1)) AS i
        |        FROM documents)
        |  GROUP BY doc_id) r USING (doc_id)""".stripMargin,

    "t5_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY 1""".stripMargin,

    "t6_tfidf" ->
      s"""WITH $toksSql,
        |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln((n_docs + 1)::DOUBLE / (df + 1)::DOUBLE), 6) AS tfidf
        |  FROM tf JOIN dfc USING (term) CROSS JOIN nd),
        |best AS (SELECT doc_id, max(tfidf) AS tfidf FROM scored GROUP BY 1)
        |SELECT s.doc_id, min(s.term) AS top_term, max(s.tfidf) AS tfidf
        |FROM scored s JOIN best b ON s.doc_id = b.doc_id AND s.tfidf = b.tfidf
        |GROUP BY s.doc_id""".stripMargin,

    "c1_curation" ->
      s"""WITH $toksSql,
        |$qualitySql,
        |en AS (
        |  SELECT doc_id, text, quality FROM q
        |  WHERE quality >= 0.5
        |    AND (CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]') THEN 'other'
        |              WHEN len(list_filter(t,
        |                     x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) > 0 THEN 'en'
        |              ELSE 'und' END) = 'en'),
        |reps AS (
        |  SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
        |    min(doc_id)::BIGINT AS doc_id, min_by(quality, doc_id) AS quality
        |  FROM en GROUP BY 1)
        |SELECT doc_id, quality FROM reps
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 50""".stripMargin,

    // c1's stages restated as a first-drop CASE — same scorer CTEs, same
    // rep rule, so 'kept' here is c1's output by construction
    "c6_provenance" ->
      s"""WITH $toksSql,
        |$qualitySql,
        |sc AS (
        |  SELECT doc_id, quality,
        |    (CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]') THEN 'other'
        |          WHEN len(list_filter(t,
        |                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) > 0 THEN 'en'
        |          ELSE 'und' END) AS lang,
        |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        |  FROM q),
        |reps AS (
        |  SELECT fp, min(doc_id)::BIGINT AS rep_id FROM sc
        |  WHERE lang = 'en' AND quality >= 0.5 GROUP BY 1)
        |SELECT doc_id,
        |  CASE WHEN lang <> 'en' THEN 'lang'
        |       WHEN quality < 0.5 THEN 'quality'
        |       WHEN doc_id <> rep_id THEN 'duplicate'
        |       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 >= 50
        |         THEN 'sampled_out'
        |       ELSE 'kept' END AS stage
        |FROM sc LEFT JOIN reps USING (fp)""".stripMargin,

    "x10_hash_sample" ->
      """WITH h AS (
        |  SELECT event_id, user_id, event_type,
        |    ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 100 AS b,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':split'), 1, 15))::BIGINT % 100 AS sb
        |  FROM events)
        |SELECT event_id, user_id, event_type,
        |  CASE WHEN sb < 80 THEN 'train' WHEN sb < 90 THEN 'val' ELSE 'test' END AS split
        |FROM h WHERE b < 10""".stripMargin,

    // ---- round-8 batch 2 ------------------------------------------------

    // DuckDB's damerau_levenshtein is the same UNRESTRICTED variant as
    // the graft expression (both fuzz-verified against a BFS ground
    // truth); blocking is part of the match semantics on both sides
    "x61_fuzzy_match" ->
      """WITH dict AS (
        |  SELECT p_name AS name, count(*)::BIGINT AS n,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b, a.n AS n_a, b.n AS n_b,
        |  levenshtein(a.name, b.name)::INT AS lev,
        |  damerau_levenshtein(a.name, b.name)::INT AS dl
        |FROM dict a JOIN dict b ON a.blk = b.blk AND a.name < b.name
        |WHERE damerau_levenshtein(a.name, b.name) <= 3""".stripMargin,

    // integer co/degree counts; one final division per pair
    "g5_part_jaccard" ->
      """WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |deg AS (SELECT l_partkey, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |co AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*)::BIGINT AS co
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, co, da.deg AS deg_a, db.deg AS deg_b,
        |  round(co::DOUBLE / (da.deg + db.deg - co), 6) AS jaccard
        |FROM co
        |JOIN deg da ON part_a = da.l_partkey
        |JOIN deg db ON part_b = db.l_partkey""".stripMargin,

    // NTILE over a (value, user_id) total order is SQL-standard and
    // engine-exact; micro-unit monetary sums are exact BIGINTs
    "x62_rfm" ->
      s"""WITH $evSql,
        |p AS (
        |  SELECT user_id, max(ts_sec) AS last_ts, count(*)::BIGINT AS freq,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS micros
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1),
        |nw AS (SELECT max(ts_sec) AS now_ts FROM ev),
        |sc AS (
        |  SELECT user_id, (now_ts - last_ts) // 86400 AS recency_days,
        |    freq, micros,
        |    CAST(ntile(5) OVER (ORDER BY last_ts, user_id) AS INT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY freq, user_id) AS INT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY micros, user_id) AS INT) AS m_score
        |  FROM p CROSS JOIN nw)
        |SELECT user_id, recency_days, freq, micros, r_score, f_score, m_score,
        |  r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
        |FROM sc""".stripMargin,

    // exact integer numerator/denominator (DuckDB sums in HUGEINT, the
    // Spark side in int64 — identical values at harness scale), ONE
    // double division at the end
    "x63_gini" ->
      """WITH ct AS (
        |  SELECT c_nationkey AS nationkey, c_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT nationkey, cents,
        |    row_number() OVER (PARTITION BY nationkey
        |      ORDER BY cents, c_custkey) AS rk
        |  FROM ct)
        |SELECT nationkey, count(*)::BIGINT AS n_cust,
        |  sum(cents)::BIGINT AS total_cents,
        |  round((2 * sum(rk * cents) - (count(*) + 1) * sum(cents))::DOUBLE /
        |    (count(*) * sum(cents))::DOUBLE, 6) AS gini
        |FROM rk GROUP BY 1""".stripMargin,

    // first digit from the STRING form of exact integer cents; log10 and
    // an explicit square mirror the Spark expression's double sequence
    "x64_benford" ->
      """WITH o AS (
        |  SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |dg AS (SELECT substr(cents::VARCHAR, 1, 1)::INT AS d FROM o),
        |g AS (SELECT d, count(*)::BIGINT AS n FROM dg GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n_tot FROM o)
        |SELECT d, n,
        |  round(n::DOUBLE / n_tot, 6) AS obs_p,
        |  round(log10(1.0::DOUBLE + 1.0::DOUBLE / d), 6) AS exp_p,
        |  round((n::DOUBLE / n_tot - log10(1.0::DOUBLE + 1.0::DOUBLE / d)) *
        |      (n::DOUBLE / n_tot - log10(1.0::DOUBLE + 1.0::DOUBLE / d)) /
        |      log10(1.0::DOUBLE + 1.0::DOUBLE / d) * n_tot, 6) AS chi2_part
        |FROM g CROSS JOIN t""".stripMargin,

    // daily totals are exact BIGINT micro-units; Σx² in HUGEINT (the
    // Spark side uses decimal(38,0) — both exact); both engines
    // standardize identical integers, and the one ordered double
    // accumulation is the day-ordered cumulative window
    "x100_theil_sen" ->
      s"""WITH $evSql,
        |daily AS (SELECT event_type, ts_sec // 86400 AS day,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS rev
        |  FROM ev GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    (b.rev - a.rev)::DOUBLE / (b.day - a.day)::DOUBLE AS slope
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day),
        |g AS (SELECT event_type, count(*)::BIGINT AS n_pairs,
        |    array_agg(slope ORDER BY slope) AS sl
        |  FROM p GROUP BY 1)
        |SELECT event_type, n_pairs,
        |  round(CASE WHEN n_pairs % 2 = 1 THEN sl[((n_pairs + 1) // 2)::INT]
        |    ELSE (sl[(n_pairs // 2)::INT] + sl[(n_pairs // 2 + 1)::INT]) / 2
        |    END, 4) AS sen_slope
        |FROM g""".stripMargin,

    // DuckDB's jaro_winkler_similarity is the same classic
    // parameterization as the graft expression (probe-verified on the
    // boost-threshold / prefix-cap / empty edges); both sides filter on
    // the ROUNDED score so the gate itself can't fork on a last ulp
    "x101_jaro_winkler" ->
      """WITH dict AS (
        |  SELECT p_name AS name, count(*)::BIGINT AS n,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b, a.n AS n_a, b.n AS n_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
        |FROM dict a JOIN dict b ON a.blk = b.blk AND a.name < b.name
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.88""".stripMargin,

    // the SAME lrCtes fit trajectory as s13/c5; mean scores via exact
    // micro-unit integer sums, one division per bucket at the end
    "c7_calibration" ->
      s"""WITH ${lrCtes(LrIters, LrStep)},
        |b AS (SELECT least(floor(s.score * 10), 9)::INT AS bucket,
        |    s.score, v.y
        |  FROM scored s JOIN v ON v.vid = s.vec_id)
        |SELECT bucket, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
        |  round(sum(round(score * 1000000)::BIGINT) / 1000000.0 / count(*), 6)
        |    AS mean_score,
        |  round(sum(y) / count(*)::DOUBLE, 6) AS pos_rate
        |FROM b GROUP BY 1""".stripMargin,

    // PAVA via the minimax identity: iso(k) = max_{i≤k} min_{j≥k} of
    // the interval mean — interval means from exact prefix sums
    "c8_isotonic" ->
      s"""WITH ${lrCtes(LrIters, LrStep)},
        |b AS (SELECT least(floor(s.score * 10), 9)::INT AS bucket, v.y
        |  FROM scored s JOIN v ON v.vid = s.vec_id),
        |stats AS (SELECT bucket, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
        |  FROM b GROUP BY 1),
        |pre AS (SELECT bucket, n, pos,
        |    sum(pos) OVER (ORDER BY bucket)::BIGINT AS cp,
        |    sum(n) OVER (ORDER BY bucket)::BIGINT AS cn
        |  FROM stats),
        |iv AS (SELECT i.bucket AS bi, j.bucket AS bj,
        |    (j.cp - i.cp + i.pos)::DOUBLE / (j.cn - i.cn + i.n)::DOUBLE AS mean_ij
        |  FROM pre i JOIN pre j ON i.bucket <= j.bucket),
        |inner_ AS (SELECT iv.bi, k.bucket AS bk, min(mean_ij) AS mn
        |  FROM iv JOIN pre k ON iv.bi <= k.bucket AND iv.bj >= k.bucket
        |  GROUP BY 1, 2),
        |iso AS (SELECT bk AS bucket, max(mn) AS iso FROM inner_ GROUP BY 1)
        |SELECT s.bucket, s.n, s.pos,
        |  round(s.pos::DOUBLE / s.n::DOUBLE, 6) AS pos_rate,
        |  round(iso.iso, 6) AS iso_rate
        |FROM stats s JOIN iso USING (bucket)""".stripMargin,

    // descending-score cumulative shares over the 10-row bucket table
    "c11_gains" ->
      s"""WITH ${lrCtes(LrIters, LrStep)},
        |b AS (SELECT least(floor(s.score * 10), 9)::INT AS bucket,
        |    count(*)::BIGINT AS n, sum(v.y)::BIGINT AS pos
        |  FROM scored s JOIN v ON v.vid = s.vec_id GROUP BY 1),
        |c AS (SELECT bucket, n, pos,
        |    sum(n) OVER (ORDER BY bucket DESC)::BIGINT AS cum_n,
        |    sum(pos) OVER (ORDER BY bucket DESC)::BIGINT AS cum_pos,
        |    sum(n) OVER ()::BIGINT AS tot_n,
        |    sum(pos) OVER ()::BIGINT AS tot_pos
        |  FROM b)
        |SELECT bucket, n, pos, cum_n, cum_pos,
        |  round(cum_n::DOUBLE / tot_n, 6) AS pop_share,
        |  round(cum_pos::DOUBLE / tot_pos, 6) AS gain,
        |  round(cum_pos::DOUBLE * tot_n / (cum_n::DOUBLE * tot_pos), 6) AS lift
        |FROM c""".stripMargin,

    // rank-sum AUC on the doubled-rank histogram; exact ints, one division
    "c10_auc" ->
      s"""WITH ${lrCtes(LrIters, LrStep)},
        |r0 AS (SELECT round(s.score * 1000000)::BIGINT AS su, v.y
        |  FROM scored s JOIN v ON v.vid = s.vec_id),
        |h AS (SELECT su, sum(y)::BIGINT AS c1, sum(1 - y)::BIGINT AS c0
        |  FROM r0 GROUP BY 1),
        |rk AS (SELECT c1, c0,
        |    2 * (sum(c1 + c0) OVER (ORDER BY su ASC) - c1 - c0)
        |      + (c1 + c0) + 1 AS dr
        |  FROM h)
        |SELECT sum(c1)::BIGINT AS n1, sum(c0)::BIGINT AS n0,
        |  round((sum(c1::HUGEINT * dr)::DOUBLE
        |      - sum(c1)::DOUBLE * (sum(c1) + 1)::DOUBLE) /
        |    (2.0 * sum(c1)::DOUBLE * sum(c0)::DOUBLE), 6) AS auc
        |FROM rk""".stripMargin,

    // Brier from exact micro-unit squares; ECE numerator telescoped to
    // the exact integer |pos·10⁶ − Σsu| per bucket
    "c9_brier_ece" ->
      s"""WITH ${lrCtes(LrIters, LrStep)},
        |rows_ AS (SELECT least(floor(s.score * 10), 9)::INT AS bucket,
        |    round(s.score * 1000000)::BIGINT AS su, v.y
        |  FROM scored s JOIN v ON v.vid = s.vec_id),
        |b AS (SELECT bucket, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
        |    sum(su)::BIGINT AS ssu,
        |    sum((su - y * 1000000)::HUGEINT * (su - y * 1000000)) AS sq
        |  FROM rows_ GROUP BY 1)
        |SELECT sum(n)::BIGINT AS n,
        |  round(sum(sq)::DOUBLE / sum(n)::DOUBLE / 1e12, 6) AS brier,
        |  round(sum(abs(pos * 1000000 - ssu))::DOUBLE / sum(n)::DOUBLE / 1e6,
        |    6) AS ece
        |FROM b""".stripMargin,

    // exact integer at-risk/event/censor counts; factor logs rounded at
    // 9 before the duration-ordered cumulative sum; the all-remaining-
    // churn last step pins S to exact 0 instead of folding ln(0)
    "x103_kaplan_meier" ->
      s"""WITH $evSql,
        |u AS (SELECT user_id, min(ts_sec // 86400) AS fd,
        |    max(ts_sec // 86400) AS ld
        |  FROM ev GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |life AS (SELECT (ld - fd)::BIGINT AS duration,
        |    (ld <= md - 7)::INT AS churn
        |  FROM u CROSS JOIN mx),
        |gr AS (SELECT duration, sum(churn)::BIGINT AS d,
        |    sum(1 - churn)::BIGINT AS c
        |  FROM life GROUP BY 1),
        |tot AS (SELECT sum(d + c)::BIGINT AS n FROM gr),
        |rk AS (SELECT duration, d, c,
        |    (n - coalesce(sum(d + c) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS at_risk
        |  FROM gr CROSS JOIN tot)
        |SELECT duration, at_risk, d, c,
        |  CASE WHEN sum((d = at_risk)::INT) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0 THEN 0.0
        |    ELSE round(exp(sum(CASE WHEN d < at_risk
        |      THEN round(ln((at_risk - d)::DOUBLE / at_risk), 9)
        |      ELSE 0.0 END) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |  END AS surv
        |FROM rk""".stripMargin,

    // both hashes are the shared md5 discipline — DuckDB replays them
    // verbatim; weights are exact signed-integer sums
    "x102_feature_hashing" ->
      s"""WITH $toksSql,
        |tok AS (SELECT doc_id, unnest(t) AS term FROM toks)
        |SELECT doc_id,
        |  (('0x' || substr(md5(term), 1, 15))::BIGINT % 256)::INT AS feat,
        |  sum(1 - 2 * (('0x' || substr(md5(term || ':sign'), 1, 15))::BIGINT % 2))::BIGINT
        |    AS weight
        |FROM tok GROUP BY 1, 2
        |HAVING sum(1 - 2 * (('0x' || substr(md5(term || ':sign'), 1, 15))::BIGINT % 2)) <> 0""".stripMargin,

    "x99_kendall_tau" ->
      s"""WITH $evSql,
        |daily AS (SELECT event_type, ts_sec // 86400 AS day,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS rev,
        |    count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |s0 AS (SELECT a.event_type,
        |    sum(sign(b.rev - a.rev) * sign(b.cnt - a.cnt))::BIGINT AS s_stat
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day
        |  GROUP BY 1),
        |n AS (SELECT event_type, count(*)::BIGINT AS n_days FROM daily GROUP BY 1),
        |t1 AS (SELECT event_type, sum(t * (t - 1) // 2)::BIGINT AS t_rev
        |  FROM (SELECT event_type, rev, count(*)::BIGINT AS t
        |        FROM daily GROUP BY 1, 2) GROUP BY 1),
        |t2 AS (SELECT event_type, sum(t * (t - 1) // 2)::BIGINT AS t_cnt
        |  FROM (SELECT event_type, cnt, count(*)::BIGINT AS t
        |        FROM daily GROUP BY 1, 2) GROUP BY 1)
        |SELECT s0.event_type, n_days, s_stat,
        |  round(s_stat::DOUBLE / sqrt(
        |    ((n_days * (n_days - 1) // 2 - t_rev)
        |      * (n_days * (n_days - 1) // 2 - t_cnt))::BIGINT::DOUBLE), 4)
        |    AS tau_b
        |FROM s0 JOIN n ON s0.event_type = n.event_type
        |JOIN t1 ON s0.event_type = t1.event_type
        |JOIN t2 ON s0.event_type = t2.event_type""".stripMargin,

    // the sketch replayed cell-for-cell on the shared md5 hash; probes
    // are the deterministic (count desc, word) top 5
    "x109_countmin" ->
      s"""WITH $toksSql,
        |tok AS (SELECT unnest(t) AS w FROM toks),
        |cms AS (SELECT j,
        |    ('0x' || substr(md5(w || ':cms' || j::VARCHAR), 1, 15))::BIGINT % 64
        |      AS bucket,
        |    count(*)::BIGINT AS counter
        |  FROM tok CROSS JOIN generate_series(0, 3) s(j) GROUP BY 1, 2),
        |exact AS (SELECT w, count(*)::BIGINT AS true_count FROM tok GROUP BY 1),
        |probes AS (SELECT w, true_count FROM exact
        |  ORDER BY true_count DESC, w LIMIT 5),
        |est AS (SELECT p.w, p.true_count, min(c.counter)::BIGINT AS cms_estimate
        |  FROM probes p CROSS JOIN generate_series(0, 3) s(j)
        |  JOIN cms c ON c.j = s.j AND c.bucket =
        |    ('0x' || substr(md5(p.w || ':cms' || s.j::VARCHAR), 1, 15))::BIGINT % 64
        |  GROUP BY 1, 2)
        |SELECT w, true_count, cms_estimate,
        |  (cms_estimate - true_count)::BIGINT AS overestimate
        |FROM est""".stripMargin,

    // ±1 sign from the same md5 discipline (salt :ams, sketch row j);
    // quantile_cont(0.5) interpolation = the two-middle average
    "x114_ams_f2" ->
      s"""WITH $toksSql,
        |tok AS (SELECT unnest(t) AS w FROM toks),
        |z AS (SELECT j,
        |    sum(1 - 2 * (('0x' || substr(md5(w || ':ams' || j::VARCHAR), 1, 15))
        |      ::BIGINT % 2))::BIGINT AS z
        |  FROM tok CROSS JOIN generate_series(0, 7) s(j) GROUP BY 1),
        |est AS (SELECT count(*)::BIGINT AS n_sketches,
        |    quantile_cont(z * z, 0.5) AS m FROM z),
        |tru AS (SELECT sum(f * f)::BIGINT AS true_f2
        |  FROM (SELECT w, count(*)::BIGINT AS f FROM tok GROUP BY 1))
        |SELECT n_sketches, true_f2, m::DOUBLE AS est_median,
        |  round((m::DOUBLE - true_f2::DOUBLE) / true_f2::DOUBLE, 6) AS rel_err
        |FROM est, tru""".stripMargin,

    // Σc² in HUGEINT (Spark: DECIMAL(38,0)) — both exact; one division
    "x108_hhi" ->
      """WITH oc AS (SELECT c.c_nationkey AS nation, o.o_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2)
        |SELECT nation, count(*)::BIGINT AS n_customers,
        |  sum(cents)::BIGINT AS tot,
        |  round(sum(cents * cents)::DOUBLE /
        |    (sum(cents)::DOUBLE * sum(cents)::DOUBLE), 6) AS hhi
        |FROM oc GROUP BY 1""".stripMargin,

    // one frequency-of-frequencies pass; exact integers, one division
    // per estimator
    "t34_vocab_richness" ->
      s"""WITH $toksSql,
        |wc AS (SELECT source, w, count(*)::BIGINT AS c
        |  FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |g AS (SELECT source, count(*)::BIGINT AS vocab,
        |    sum(c)::BIGINT AS n_tokens,
        |    sum((c = 1)::INT)::BIGINT AS f1, sum((c = 2)::INT)::BIGINT AS f2
        |  FROM wc GROUP BY 1)
        |SELECT source, vocab, n_tokens, f1, f2,
        |  round(vocab + (f1 * (f1 - 1))::DOUBLE / (2.0 * (f2 + 1)::DOUBLE), 4)
        |    AS chao1,
        |  round(f1::DOUBLE / n_tokens, 6) AS p_unseen
        |FROM g""".stripMargin,

    // doubled average ranks from the value histogram; tie-corrected
    // variance exact-integer until one division
    "x106_mann_whitney" ->
      s"""WITH $evSql,
        |h AS (SELECT round(value * 10000)::BIGINT AS micro,
        |    sum((event_type = 'purchase')::INT)::BIGINT AS c1,
        |    sum((event_type = 'click')::INT)::BIGINT AS c2
        |  FROM ev WHERE event_type IN ('purchase', 'click') GROUP BY 1),
        |w AS (SELECT c1, c2,
        |    coalesce(sum(c1 + c2) OVER (ORDER BY micro
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS p
        |  FROM h),
        |g AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
        |    sum(c1 * (2 * p + c1 + c2 + 1))::BIGINT AS r1x2,
        |    sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))::BIGINT AS tie
        |  FROM w)
        |SELECT n1, n2,
        |  round((r1x2 - n1 * (n1 + 1))::DOUBLE / 2.0, 1) AS u1,
        |  round(((r1x2 - n1 * (n1 + 1))::DOUBLE / 2.0
        |      - (n1 * n2)::DOUBLE / 2.0) /
        |    nullif(sqrt((n1 * n2)::DOUBLE / 12.0 * ((n1 + n2 + 1)::DOUBLE
        |      - tie::DOUBLE / nullif(((n1 + n2) * (n1 + n2 - 1))::DOUBLE, 0.0))),
        |      0.0), 4) AS z
        |FROM g""".stripMargin,

    // exact integer ECDF-difference maximum; rounded d and threshold
    // decide the verdict identically in both engines
    "x107_ks_test" ->
      s"""WITH $evSql,
        |h AS (SELECT round(value * 10000)::BIGINT AS micro,
        |    sum((event_type = 'purchase')::INT)::BIGINT AS c1,
        |    sum((event_type = 'click')::INT)::BIGINT AS c2
        |  FROM ev WHERE event_type IN ('purchase', 'click') GROUP BY 1),
        |w AS (SELECT
        |    sum(c1) OVER (ORDER BY micro
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum1,
        |    sum(c2) OVER (ORDER BY micro
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum2
        |  FROM h),
        |t AS (SELECT max(cum1)::BIGINT AS n1, max(cum2)::BIGINT AS n2 FROM w),
        |g AS (SELECT max(abs(t.n2 * w.cum1 - t.n1 * w.cum2))::BIGINT AS num,
        |    max(t.n1) AS n1, max(t.n2) AS n2
        |  FROM w CROSS JOIN t)
        |SELECT n1, n2,
        |  round(num::DOUBLE / nullif((n1 * n2)::DOUBLE, 0.0), 6) AS d,
        |  round(1.358 * sqrt((n1 + n2)::DOUBLE
        |    / nullif((n1 * n2)::DOUBLE, 0.0)), 6) AS crit_05,
        |  round(num::DOUBLE / nullif((n1 * n2)::DOUBLE, 0.0), 6)
        |    > round(1.358 * sqrt((n1 + n2)::DOUBLE
        |      / nullif((n1 * n2)::DOUBLE, 0.0)), 6)
        |    AS reject_05
        |FROM g""".stripMargin,

    // doubled average ranks keep tie averaging exact-integer; Pearson
    // over doubled ranks is the same ρ (affine invariance)
    "x104_spearman" ->
      s"""WITH $evSql,
        |daily AS (SELECT event_type, ts_sec // 86400 AS day,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS rev,
        |    count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |rk AS (SELECT event_type,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY rev)
        |      + count(*) OVER (PARTITION BY event_type, rev) - 1 AS dx,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY cnt)
        |      + count(*) OVER (PARTITION BY event_type, cnt) - 1 AS dy
        |  FROM daily),
        |g AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
        |    sum(dx * dy)::BIGINT AS sxy, sum(dx * dx)::BIGINT AS sxx,
        |    sum(dy * dy)::BIGINT AS syy
        |  FROM rk GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy)::DOUBLE /
        |      sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
        |  END AS rho
        |FROM g""".stripMargin,

    // Pearson over directed-edge endpoint degrees; the graph is the
    // same basket-bounded co ≥ 3 candidate core as x46/g5
    "g13_assortativity" ->
      """WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |d2 AS (SELECT a, b FROM co UNION ALL SELECT b, a FROM co),
        |deg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM d2 GROUP BY 1),
        |dd AS (SELECT da.deg AS da, db.deg AS db FROM d2
        |  JOIN deg da ON d2.a = da.node JOIN deg db ON d2.b = db.node),
        |g AS (SELECT count(*)::BIGINT AS m, sum(da)::BIGINT AS sa,
        |    sum(db)::BIGINT AS sb, sum(da * db)::BIGINT AS sab,
        |    sum(da * da)::BIGINT AS saa, sum(db * db)::BIGINT AS sbb
        |  FROM dd)
        |SELECT (m // 2)::BIGINT AS n_edges,
        |  CASE WHEN m * saa - sa * sa > 0 AND m * sbb - sb * sb > 0
        |    THEN round((m * sab - sa * sb)::DOUBLE /
        |      sqrt((m * saa - sa * sa)::DOUBLE * (m * sbb - sb * sb)::DOUBLE), 6)
        |  END AS assortativity
        |FROM g""".stripMargin,

    // exact total order (cents, orderkey) decides the trim identically
    // in both engines; kept cents sum exactly, one division
    "x105_trimmed_mean" ->
      """WITH o AS (SELECT c.c_mktsegment AS segment,
        |    round(o_totalprice * 100)::BIGINT AS cents, o_orderkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (SELECT segment, cents,
        |    row_number() OVER (PARTITION BY segment ORDER BY cents, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY segment) AS n
        |  FROM o)
        |SELECT segment, count(*)::BIGINT AS n_kept,
        |  round(sum(cents)::DOUBLE / 100.0 / count(*), 6) AS trimmed_mean
        |FROM r WHERE rn > n // 10 AND rn <= n - n // 10
        |GROUP BY 1""".stripMargin,

    "x98_capture_recapture" ->
      s"""WITH $evSql,
        |p AS (SELECT event_type, user_id,
        |    max(CASE WHEN ts_sec < $refCutoffSec THEN 1 ELSE 0 END)::BIGINT AS ia,
        |    max(CASE WHEN ts_sec >= $refCutoffSec THEN 1 ELSE 0 END)::BIGINT AS ib
        |  FROM ev GROUP BY 1, 2)
        |SELECT event_type, sum(ia)::BIGINT AS n_a, sum(ib)::BIGINT AS n_b,
        |  sum(ia * ib)::BIGINT AS m, count(*)::BIGINT AS actual,
        |  round(((sum(ia) + 1) * (sum(ib) + 1))::BIGINT::DOUBLE
        |    / (sum(ia * ib) + 1)::BIGINT::DOUBLE - 1, 4) AS chapman
        |FROM p GROUP BY 1""".stripMargin,

    // integer S and tie-corrected variance numerator; one division and
    // an IEEE sqrt are the only float ops
    "x97_mann_kendall" ->
      s"""WITH $evSql,
        |daily AS (SELECT event_type, ts_sec // 86400 AS day,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS micros
        |  FROM ev GROUP BY 1, 2),
        |s0 AS (SELECT a.event_type,
        |    sum(sign(b.micros - a.micros))::BIGINT AS s_stat
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day
        |  GROUP BY 1),
        |n AS (SELECT event_type, count(*)::BIGINT AS n_days
        |  FROM daily GROUP BY 1),
        |ties AS (SELECT event_type,
        |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_corr
        |  FROM (SELECT event_type, micros, count(*)::BIGINT AS t
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (SELECT s0.event_type, n_days, s_stat,
        |    ((n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr)::BIGINT)::DOUBLE
        |      / 18.0::DOUBLE AS vr
        |  FROM s0 JOIN n ON s0.event_type = n.event_type
        |  JOIN ties ON s0.event_type = ties.event_type)
        |SELECT event_type, n_days, s_stat,
        |  round(CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(vr)
        |             WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(vr)
        |             ELSE 0.0::DOUBLE END, 4) AS z
        |FROM j""".stripMargin,

    "x65_cusum" ->
      s"""WITH $evSql,
        |daily AS (
        |  SELECT ts_sec // 86400 AS day,
        |    sum(round(value * 10000)::BIGINT)::BIGINT AS micros
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1),
        |st AS (
        |  SELECT count(*)::BIGINT AS nd, sum(micros) AS tot,
        |    sum(micros::HUGEINT * micros) AS sq
        |  FROM daily),
        |dv AS (
        |  SELECT day, micros,
        |    micros - tot::DOUBLE / nd AS dev,
        |    sqrt((sq::DOUBLE - tot::DOUBLE * tot / nd) / nd) AS sigma
        |  FROM daily CROSS JOIN st)
        |SELECT day, micros,
        |  round(sum(dev) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / sigma, 6) AS s
        |FROM dv""".stripMargin,

    // the x46/g5 candidate core with the basket total as a scalar CTE
    "x66_assoc_rules" ->
      """WITH e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM e),
        |deg AS (SELECT l_partkey, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |co AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*)::BIGINT AS co
        |  FROM e a JOIN e b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, co,
        |  round(co::DOUBLE / da.deg, 6) AS conf_ab,
        |  round(co::DOUBLE / db.deg, 6) AS conf_ba,
        |  round((co * n_orders)::DOUBLE / (da.deg * db.deg), 6) AS lift
        |FROM co
        |JOIN deg da ON part_a = da.l_partkey
        |JOIN deg db ON part_b = db.l_partkey
        |CROSS JOIN n""".stripMargin,

    // integer-second gaps from a user-partitioned lag; one rounded avg
    "x67_purchase_cadence" ->
      s"""WITH $evSql,
        |g AS (
        |  SELECT user_id,
        |    ts_sec - lag(ts_sec, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_sec, event_id) AS gap
        |  FROM ev WHERE event_type = 'purchase')
        |SELECT user_id, count(*)::BIGINT AS n_gaps,
        |  min(gap) AS min_gap, max(gap) AS max_gap,
        |  round(sum(gap)::DOUBLE / count(*), 6) AS avg_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // every count is length-difference integer arithmetic (replace /
    // translate — no regex, whose dialects diverge between engines);
    // is_code compares the ROUNDED density on both sides
    "t24_code_detect" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    (length(text) - length(replace(text, chr(10), '')) + 1)::INT AS n_lines,
        |    (length(text) - length(replace(text, ';', '')))::INT AS n_semi,
        |    (length(text) - length(translate(text, '{}', '')))::INT AS n_braces,
        |    ((length(text) - length(replace(text, 'def ', ''))) // 4
        |     + (length(text) - length(replace(text, 'return', ''))) // 6
        |     + (length(text) - length(replace(text, 'import', ''))) // 6
        |     + (length(text) - length(replace(text, 'void ', ''))) // 5
        |     + (length(text) - length(replace(text, 'function', ''))) // 8
        |    )::BIGINT AS kw_hits,
        |    round(((length(text) - length(replace(text, ';', '')))
        |      + (length(text) - length(translate(text, '{}', '')))
        |      + (length(text) - length(replace(text, '=', '')))
        |      + (length(text) - length(translate(text, '()', ''))))::DOUBLE
        |      / greatest(length(text), 1), 6) AS symbol_density
        |  FROM documents)
        |SELECT doc_id, n_lines, n_semi, n_braces, kw_hits, symbol_density,
        |  (symbol_density > 0.015 OR kw_hits >= 3) AS is_code
        |FROM c""".stripMargin,

    // first 10 per source in doc_id order, 1-based rank
    "x133_quota_admission" ->
      """SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id)::BIGINT AS rank
        |FROM documents QUALIFY rank <= 10""".stripMargin,

    // live changelog rows (k2's latest-per-user minus tombstones)
    // re-grouped by the key-derived group; exact integer cents
    "x134_view_maintenance" ->
      s"""WITH $latestSql
        |SELECT 'g' || (user_id % 7)::VARCHAR AS grp,
        |  count(*) AS n_keys,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS total
        |FROM latest WHERE event_type <> 'error' GROUP BY 1""".stripMargin,

    // brute (doc × standing query) containment over the ONE tokenizer
    "x135_percolate_alerts" ->
      s"""WITH $toksSql,
        |qs AS (SELECT * FROM (VALUES
        |    ('q_hash_join', ['hash', 'join']),
        |    ('q_merge', ['merge']),
        |    ('q_sort_window', ['sort', 'window'])) v(query_id, qterms))
        |SELECT query_id, doc_id::VARCHAR AS key, doc_id::BIGINT AS ts
        |FROM toks JOIN qs ON list_has_all(t, qterms)""".stripMargin,

    // the changelog replay (latest per key in seq = doc_id order, NULL
    // text = tombstone), then per-term stats over the live texts
    "x136_incr_index" ->
      """WITH ch AS (SELECT (doc_id % 150)::VARCHAR AS key,
        |    CASE WHEN doc_id % 17 = 0 THEN NULL ELSE text END AS value,
        |    doc_id AS seq FROM documents),
        |live AS (SELECT key, value FROM (SELECT key, value,
        |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        |  FROM ch) WHERE rn = 1 AND value IS NOT NULL),
        |terms AS (SELECT key, unnest(list_filter(
        |    regexp_split_to_array(lower(value), '\W+'), x -> x <> '')) AS term
        |  FROM live)
        |SELECT term, count(DISTINCT key)::BIGINT AS df,
        |  count(*)::BIGINT AS total_tf
        |FROM terms GROUP BY 1""".stripMargin
  )
}
