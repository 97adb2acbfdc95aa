package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamEmbeddingNearDup.{cosine, srpSignature, VecPair}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Streaming embedding near-dup: distinct stream pairs must equal an
  * independent plain-Scala replay of the detection contract (signatures
  * agree on ≥ 1 band AND exact cosine ≥ threshold) over in-horizon
  * data; emitted cosines are the true values; planted near-dups are
  * found; watermark eviction ends pairing. */
class StreamEmbeddingNearDupSpec extends SparkSpec {

  private val base = 1700000000L
  private def ts(off: Long) = new Timestamp((base + off) * 1000)
  case class Vec(doc_id: Long, embedding: Seq[Float], ets: Timestamp)

  private val Bits = 16
  private val MaxDiff = 3
  private val Threshold = 0.9

  /** The detection contract, replayed independently. */
  private def expectedPairs(rows: Seq[Vec]): Set[(Long, Long)] = {
    val numBands = MaxDiff + 1
    val w = Bits / numBands
    def bands(sig: Long): Seq[Long] = (0 until numBands).map { b =>
      val hi = if (b == numBands - 1) Bits else (b + 1) * w
      val mask = if (hi - b * w == 64) -1L else (1L << (hi - b * w)) - 1L
      (b.toLong << 32) | ((sig >>> (b * w)) & mask)
    }
    val sigs = rows.map(r => r.doc_id -> bands(srpSignature(r.embedding, Bits))).toMap
    (for {
      a <- rows; b <- rows
      if a.doc_id < b.doc_id
      if sigs(a.doc_id).toSet.intersect(sigs(b.doc_id).toSet).nonEmpty
      if cosine(a.embedding, b.embedding) >= Threshold
    } yield (a.doc_id, b.doc_id)).toSet
  }

  private def run(batches: Seq[Seq[Vec]]): Seq[VecPair] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Vec]
    val name = s"svecdup${System.nanoTime()}"
    val q = StreamEmbeddingNearDup.pairs(in.toDF(), "doc_id", "embedding",
        "ets", "10 minutes", Threshold, Bits, MaxDiff)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[VecPair].collect().toSeq
    } finally q.stop()
  }

  /** Unit vector from a seed; `jitter` rotates it slightly (cosine stays
    * near 1), a different seed gives an unrelated direction. */
  private def unit(seed: Int, dim: Int = 32, jitter: Double = 0.0): Seq[Float] = {
    val rng = new scala.util.Random(seed)
    val v = Array.fill(dim)(rng.nextGaussian())
    val j = new scala.util.Random(seed * 7919 + 13)
    val perturbed = v.map(x => x + jitter * j.nextGaussian())
    val n = math.sqrt(perturbed.map(x => x * x).sum)
    perturbed.map(x => (x / n).toFloat).toSeq
  }

  private def corpus: Seq[Vec] = {
    // 6 planted near-dup pairs (tiny jitter → cosine ≈ 0.995) + 8 loners
    val pairs = (0 until 6).flatMap { g =>
      Seq(Vec(2 * g, unit(g), ts(2 * g)),
        Vec(2 * g + 1, unit(g, jitter = 0.05), ts(2 * g + 1)))
    }
    val loners = (0 until 8).map(i => Vec(100 + i, unit(1000 + i), ts(20 + i)))
    pairs ++ loners
  }

  test("distinct stream pairs ≡ the independent contract replay; planted dups found") {
    val docs = corpus
    val got = run(Seq(docs.take(7), docs.drop(7)))
    val want = expectedPairs(docs)
    assert(got.map(p => (p.a, p.b)).toSet == want,
      s"missing=${want -- got.map(p => (p.a, p.b)).toSet} " +
        s"extra=${got.map(p => (p.a, p.b)).toSet -- want}")
    // every planted pair is detected (jitter 0.05 → cosine ≈ 0.999,
    // signatures nearly identical → banded recall)
    (0 until 6).foreach { g =>
      assert(want.contains((2L * g, 2L * g + 1)), s"planted pair $g missed")
    }
    // emitted cosines are the true values
    val byPair = docs.map(d => d.doc_id -> d.embedding).toMap
    got.foreach { p =>
      val c = math.floor(cosine(byPair(p.a), byPair(p.b)) * 1e6 + 0.5) / 1e6
      assert(p.cosine == c && p.cosine >= Threshold, p)
    }
  }

  test("an out-of-horizon near-dup pairs with nothing (watermark eviction)") {
    val early = Vec(0L, unit(42), ts(0))
    val push = Vec(99L, unit(7777), new Timestamp((base + 7200) * 1000))
    val late = Vec(1L, unit(42, jitter = 0.05), ts(60))
    val got = run(Seq(Seq(early), Seq(push), Seq(late)))
    assert(!got.exists(p => p.a == 0L && p.b == 1L),
      s"evicted entry still paired: $got")
  }
}
