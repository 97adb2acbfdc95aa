package graft.streaming

import graft.SparkSpec
import graft.multimodal.{MediaRecord, PerceptualHash, SyntheticMedia}
import graft.streaming.StreamImageNearDup.ImagePair
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Streaming image near-dup: distinct stream pairs must equal the batch
  * `nearDupImagePairs` chain on in-horizon data (same pHash, same band
  * layout — stream ≡ batch is structural), emitted distances are exact,
  * entries die once the watermark passes, and junk bytes emit nothing. */
class StreamImageNearDupSpec extends SparkSpec {

  private val base = 1700000000L
  private def ts(off: Long) = new Timestamp((base + off) * 1000)
  case class Img(doc_id: Long, content: Array[Byte], ets: Timestamp)

  // brightness-rescaled pattern pairs (2g, 2g+1) — the m5 corpus shape —
  // plus two unrelated patterns and one junk row
  private def corpus: Seq[Img] = {
    val pairs = (0L until 4L).flatMap { g =>
      Seq(Img(2 * g, SyntheticMedia.bmpPatternBytes(g, 4, 128), ts(2 * g)),
        Img(2 * g + 1, SyntheticMedia.bmpPatternBytes(g, 3, 140), ts(2 * g + 1)))
    }
    pairs :+ Img(100L, SyntheticMedia.bmpPatternBytes(100, 4, 128), ts(9)) :+
      Img(101L, Array[Byte](1, 2, 3), ts(10)) // undecodable
  }

  private def run(batches: Seq[Seq[Img]], horizon: String,
                  maxDist: Int): Seq[ImagePair] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Img]
    val name = s"simgdup${System.nanoTime()}"
    val q = StreamImageNearDup.pairs(in.toDF(), "doc_id", "content", "ets",
        horizon, maxDist)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[ImagePair].collect().toSeq
    } finally q.stop()
  }

  test("distinct stream pairs ≡ batch nearDupImagePairs on in-horizon data") {
    val s = spark
    import s.implicits._
    val docs = corpus
    val got = run(Seq(docs.take(5), docs.drop(5)), "10 minutes", maxDist = 2)
      .map(p => (p.a, p.b)).toSet
    val batch = PerceptualHash.nearDupImagePairs(
        s.createDataset(docs.map(d => MediaRecord(d.doc_id, null, d.content))),
        maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "batch fixture produced no pairs — vacuous")
    assert(got == batch, s"missing=${batch -- got} extra=${got -- batch}")
    // the brightness pairs are all present with distance 0
    assert((0L until 4L).forall(g => got.contains((2 * g, 2 * g + 1))))
  }

  test("emitted Hamming distances are exact (match a direct pHash XOR)") {
    val docs = corpus
    val hashOf = docs.flatMap { d =>
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(d.content))
        catch { case scala.util.control.NonFatal(_) => null }
      Option(img).map(i => d.doc_id -> PerceptualHash.phash64(i))
    }.toMap
    run(Seq(docs), "10 minutes", maxDist = 2).foreach { p =>
      assert(p.hamming == java.lang.Long.bitCount(hashOf(p.a) ^ hashOf(p.b)))
      assert(p.hamming <= 2)
    }
  }

  test("nonzero distances ride the bands: a Hamming-2 pattern pair is found at maxDist 2, not 0") {
    // masks {0..30} (g = 0: offset 0, step 1) and {1..31} (g = 190:
    // offset 190 % 63 = 1, step pick(190 % 5 = 0) = 1) differ in exactly
    // positions {0, 31} → pHash Hamming distance exactly 2
    val a = Img(1L, SyntheticMedia.bmpPatternBytes(0), ts(1))
    val b = Img(2L, SyntheticMedia.bmpPatternBytes(190), ts(2))
    assert(java.lang.Long.bitCount(
      SyntheticMedia.maskHash(0) ^ SyntheticMedia.maskHash(190)) == 2)
    val at2 = run(Seq(Seq(a, b)), "10 minutes", maxDist = 2)
    assert(at2.map(p => (p.a, p.b, p.hamming)).toSet == Set((1L, 2L, 2)), at2)
    val at0 = run(Seq(Seq(a, b)), "10 minutes", maxDist = 0)
    assert(at0.isEmpty, s"distance-2 pair must not pass maxDist 0: $at0")
    // and the batch chain agrees at both settings
    val s = spark
    import s.implicits._
    val recs = s.createDataset(Seq(a, b).map(d => MediaRecord(d.doc_id, null, d.content)))
    assert(PerceptualHash.nearDupImagePairs(recs, maxDist = 2).count() == 1)
    assert(PerceptualHash.nearDupImagePairs(recs, maxDist = 0).count() == 0)
  }

  test("an out-of-horizon copy pairs with nothing (watermark eviction)") {
    // g=0 pair split across the horizon: the second rendering arrives
    // after the watermark (advanced by a far-future row) passed the first
    val early = Img(0L, SyntheticMedia.bmpPatternBytes(0, 4, 128), ts(0))
    val push = Img(50L, SyntheticMedia.bmpPatternBytes(50, 4, 128),
      new Timestamp((base + 7200) * 1000)) // +2 h advances the watermark
    val late = Img(1L, SyntheticMedia.bmpPatternBytes(0, 3, 140), ts(60))
    val got = run(Seq(Seq(early), Seq(push), Seq(late)), "10 minutes",
      maxDist = 0)
    assert(!got.exists(p => p.a == 0L && p.b == 1L),
      s"evicted entry still paired: $got")
  }
}
