package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamKlDrift.{KlPoint, TokDoc}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming KL drift: every emission equals a plain-Scala prefix
  * replay of the batch x78 definition, a vocabulary shift alarms, and
  * an on-baseline stream stays quiet. */
class StreamKlDriftSpec extends SparkSpec {

  private def run(batches: Seq[Seq[TokDoc]], baseline: Map[String, Double],
                  oovProb: Double, threshold: Double = 0.5): Seq[KlPoint] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[TokDoc]
    val name = s"skl${System.nanoTime()}"
    val q = StreamKlDrift.monitor(in.toDS(), baseline, oovProb, threshold)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[KlPoint].collect().toSeq
    } finally q.stop()
  }

  private def toks(t: String): Seq[String] =
    t.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty).toSeq

  private def baselineOf(texts: Seq[String]): Map[String, Double] = {
    val ws = texts.flatMap(toks)
    val n = ws.size.toDouble
    ws.groupBy(identity).map { case (w, o) => w -> o.size / n }
  }

  test("every emission equals the plain-Scala prefix replay, across batches") {
    val texts = Seq(
      "the cat sat on the mat", "the dog sat", "a cat and a dog",
      "the mat sat on the cat", "a dog on a mat")
    val base = baselineOf(texts)
    val docs = texts.zipWithIndex.map { case (t, i) =>
      TokDoc("g", i.toLong, (i + 1) * 1000L, toks(t)) }
    val got = run(Seq(docs.take(2), docs.slice(2, 4), docs.drop(4)),
      base, oovProb = 1e-6)
      .sortBy(_.seq_id)

    // replay: after each doc, KL over the full prefix counts
    var counts = Map.empty[String, Long]
    var total = 0L
    val want = docs.map { d =>
      d.tokens.foreach(w => counts = counts.updated(w, counts.getOrElse(w, 0L) + 1L))
      total += d.tokens.size
      val kl = StreamKlDrift.klOf(counts, total, base, 1e-6)
      (d.seq_id, total,
        BigDecimal(kl).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got.map(p => (p.seq_id, p.n_tokens, p.kl)) == want)
    // the stream IS the baseline corpus, so divergence ends near zero
    assert(math.abs(got.last.kl) < 0.05, got.last.toString)
    assert(got.forall(!_.alarm))
  }

  test("a vocabulary shift raises KL past the threshold and alarms") {
    val base = baselineOf(Seq("the cat sat on the mat", "the dog sat"))
    // doc 1 is sampled from the baseline itself: small-sample KL only
    val onDist = TokDoc("g", 1L, 1000L, toks("the cat sat on the mat"))
    val drifted = TokDoc("g", 2L, 2000L,
      toks("zeta xi omicron upsilon zeta xi omicron upsilon"))
    val got = run(Seq(Seq(onDist), Seq(drifted)), base,
      oovProb = 1e-6, threshold = 0.5).sortBy(_.seq_id)
    assert(!got.head.alarm, got.head.toString)
    assert(got(1).alarm && got(1).kl > 0.5, got(1).toString)
  }

  test("state survives a query restart: the trajectory continues, not restarts") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kl_restart").toString
    val base = baselineOf(Seq("the cat sat on the mat", "the dog sat"))
    val d1 = TokDoc("g", 1L, 1000L, toks("the cat sat"))
    val d2 = TokDoc("g", 2L, 2000L, toks("the dog on the mat"))
    // memory sinks refuse checkpoint recovery; foreachBatch resumes.
    // Each leg's fresh MemoryStream must repopulate the offset space the
    // checkpoint already committed (offsets identify POSITIONS, not
    // records): already-committed offsets are skipped, so only the
    // genuinely new doc processes — which is exactly the claim under
    // test (skipped replay + carried state, not recomputation).
    StreamKlDriftSpec.collected.clear()
    def leg(docs: Seq[TokDoc]): Unit = {
      val in = MemoryStream[TokDoc]
      val q = StreamKlDrift.monitor(in.toDS(), base, oovProb = 1e-6)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[KlPoint], _: Long) =>
          StreamKlDriftSpec.collected.synchronized {
            StreamKlDriftSpec.collected ++= b.collect()
          }; ()
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try { docs.foreach(in.addData(_)); q.processAllAvailable() } finally q.stop()
    }
    withRocksDB {
      leg(Seq(d1))
      leg(Seq(d1, d2)) // fresh query, SAME checkpoint: counts carry over
      val got = StreamKlDriftSpec.collected.synchronized {
        StreamKlDriftSpec.collected.toSeq }.sortBy(_.seq_id)
      // replay over the FULL prefix — a restarted-from-zero operator
      // would compute d2's KL from d2's tokens alone
      var counts = Map.empty[String, Long]
      var total = 0L
      val want = Seq(d1, d2).map { d =>
        d.tokens.foreach(w => counts = counts.updated(w, counts.getOrElse(w, 0L) + 1L))
        total += d.tokens.size
        (d.seq_id, total, BigDecimal(StreamKlDrift.klOf(counts, total, base, 1e-6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      assert(got.map(p => (p.seq_id, p.n_tokens, p.kl)).toSeq == want)
      assert(got(1).n_tokens == 8L) // 3 + 5: leg-1 state carried over
    }
  }

  test("groups are independent: one group's drift never alarms another") {
    val base = baselineOf(Seq("the cat sat on the mat"))
    val got = run(Seq(Seq(
      TokDoc("ok", 1L, 1000L, toks("the cat sat")),
      TokDoc("bad", 2L, 1000L, toks("qqq www eee rrr qqq www")))),
      base, oovProb = 1e-6, threshold = 0.5)
    val byGroup = got.groupBy(_.group)
    assert(!byGroup("ok").exists(_.alarm))
    assert(byGroup("bad").forall(_.alarm))
  }
}

/** Executor-visible alert buffer for the restart leg (a spec-class
  * member would drag the suite into the foreachBatch closure). */
object StreamKlDriftSpec {
  val collected: scala.collection.mutable.ArrayBuffer[StreamKlDrift.KlPoint] =
    scala.collection.mutable.ArrayBuffer.empty
}
