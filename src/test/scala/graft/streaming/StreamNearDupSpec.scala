package graft.streaming

import graft.SparkSpec
import graft.functions.DedupOps
import graft.streaming.StreamNearDup.CandidatePair
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Streaming MinHash-LSH near-dup: distinct candidate pairs must equal
  * the batch `minhashLsh` chain on in-horizon data (same signature
  * expression, same band layout — stream ≡ batch is structural), and
  * entries must die once the watermark passes them. */
class StreamNearDupSpec extends SparkSpec {

  private val base = 1700000000L
  private def ts(off: Long) = new Timestamp((base + off) * 1000)
  case class Doc(doc_id: Long, text: String, ets: Timestamp)

  private def run(batches: Seq[Seq[Doc]], horizon: String): Set[(Long, Long)] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Doc]
    val name = s"sneardup${System.nanoTime()}"
    val q = StreamNearDup.candidatePairs(in.toDF(), "doc_id", "text", "ets", horizon)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[CandidatePair].collect().map(p => (p.a, p.b)).toSet
    } finally q.stop()
  }

  // near-dup family (one token changed), plus unrelated docs
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"),
    (4L, "completely different words about spark shuffles and partitions here"),
    (5L, "completely different words about spark shuffles and partitions here"),
    (6L, "nothing in common with anything else whatsoever in this corpus"))

  test("distinct stream pairs ≡ batch minhashLsh candidates on in-horizon data") {
    val s = spark
    import s.implicits._
    val docs = corpus.map { case (id, t) => Doc(id, t, ts(id)) }
    val got = run(Seq(docs.take(3), docs.drop(3)), horizon = "10 minutes")
    val want = DedupOps.minhashLsh(
      corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "batch fixture produced no candidates — vacuous")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("est_jaccard equals the batch signature estimator for every emitted pair") {
    val s = spark
    import s.implicits._
    val docs = corpus.map { case (id, t) => Doc(id, t, ts(id)) }
    // batch signatures → per-doc component vector (the d16 estimator)
    val sigs = DedupOps.minhashSignatures(
      corpus.toDF("doc_id", "text"), "doc_id", "text", numHashes = 12)
      .collect().map(r => r.getLong(0) ->
        (1 to 12).map(i => r.getLong(i)).toVector).toMap
    // re-run the stream keeping scores this time
    implicit val sql = s.sqlContext
    withRocksDB {
      val in = MemoryStream[Doc]
      val q = StreamNearDup.candidatePairs(in.toDF(), "doc_id", "text", "ets", "10 minutes")
        .writeStream.format("memory").queryName("sndscore").outputMode("append").start()
      try {
        in.addData(docs); q.processAllAvailable()
        val got = s.table("sndscore").as[CandidatePair].collect()
        assert(got.nonEmpty)
        got.foreach { p =>
          val want = sigs(p.a).zip(sigs(p.b)).count { case (x, y) => x == y } / 12.0
          assert(p.est_jaccard == want, s"(${p.a},${p.b}): ${p.est_jaccard} vs $want")
        }
        // the true near-dup family scores high; it must beat any
        // incidental low-overlap pair
        val fam = got.filter(p => Set(p.a, p.b).subsetOf(Set(1L, 2L, 3L)))
        assert(fam.nonEmpty && fam.forall(_.est_jaccard >= 0.5), got.toSeq)
      } finally q.stop()
    }
  }

  test("pairs only form within the watermark horizon; stale entries evict") {
    val a = Doc(1L, corpus.head._2, ts(0))
    // advance the watermark far past doc 1 with an unrelated doc...
    val pusher = Doc(6L, corpus(5)._2, ts(3600))
    // ...then a late twin of doc 1: its bucket partner is dead
    val twin = Doc(3L, corpus.head._2, ts(3610))
    val got = run(Seq(Seq(a), Seq(pusher), Seq(twin)), horizon = "10 minutes")
    assert(got.isEmpty, got)
    // same three docs inside one horizon DO pair
    val tight = run(Seq(Seq(a.copy(ets = ts(0)), pusher.copy(ets = ts(10)),
      twin.copy(ets = ts(20)))), horizon = "10 minutes")
    assert(tight == Set((1L, 3L)), tight)
  }

  test("a re-sent doc_id neither self-pairs nor duplicates bucket state") {
    val d = Doc(7L, corpus.head._2, ts(0))
    val got = run(Seq(Seq(d), Seq(d.copy(ets = ts(5)))), horizon = "10 minutes")
    assert(got.isEmpty, got)
  }
}
