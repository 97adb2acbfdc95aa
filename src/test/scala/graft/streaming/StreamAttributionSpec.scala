package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamAttribution.{ActivityEvent, Attribution}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming last-touch attribution: per-user latest-preceding-source
  * credit with a lookback horizon, state carried across micro-batches,
  * intra-batch (ts, event_id) ordering, and exact agreement with an
  * independent in-memory replay of the batch (x57) semantics. */
class StreamAttributionSpec extends SparkSpec {

  private def run(batches: Seq[Seq[ActivityEvent]],
                  lookbackSec: Long = 604800L): Seq[Attribution] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[ActivityEvent]
    val name = s"sattr${System.nanoTime()}"
    val q = StreamAttribution.lastTouch(in.toDS(), lookbackSec)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[Attribution].collect().toSeq
    } finally q.stop()
  }

  test("credits the latest preceding source; purchases never shift the state") {
    val out = run(Seq(Seq(
      ActivityEvent(1, 10, 100, "view", 0.0),
      ActivityEvent(1, 11, 200, "click", 0.0),
      ActivityEvent(1, 12, 300, "purchase", 50.0),
      ActivityEvent(1, 13, 400, "purchase", 70.0), // same source re-credited
      ActivityEvent(2, 20, 100, "purchase", 9.0)))) // no source at all
    assert(out.map(a => (a.event_id, a.channel, a.src_ts, a.value)).sorted ==
      Seq((12L, "click", 200L, 50.0), (13L, "click", 200L, 70.0)))
  }

  test("lookback horizon excludes stale sources; state survives batches") {
    val out = run(Seq(
      Seq(ActivityEvent(1, 1, 1000, "view", 0.0)),
      Seq(ActivityEvent(1, 2, 1000 + 604800, "purchase", 5.0)), // exactly at horizon: in
      Seq(ActivityEvent(1, 3, 1000 + 604801, "purchase", 6.0))) // one past: out
    )
    assert(out.map(_.event_id) == Seq(2L))
  }

  test("intra-batch disorder folds in (ts, event_id) order") {
    val out = run(Seq(Seq( // arrival order scrambled vs event time
      ActivityEvent(1, 12, 300, "purchase", 50.0),
      ActivityEvent(1, 10, 100, "error", 0.0),
      ActivityEvent(1, 11, 200, "view", 0.0))))
    assert(out.map(a => (a.event_id, a.channel)) == Seq((12L, "view")))
  }

  test("a late purchase never credits a source that follows it in event time") {
    // cross-batch disorder: the click (ts 1000) is in state when a
    // LATE purchase (ts 100) arrives — crediting it would emit a
    // self-contradictory row (src_ts > ts_sec) the batch frame can
    // never produce
    val out = run(Seq(
      Seq(ActivityEvent(1, 1, 1000, "click", 0.0)),
      Seq(ActivityEvent(1, 2, 100, "purchase", 5.0)),
      Seq(ActivityEvent(1, 3, 1100, "purchase", 7.0)))) // in-order: credited
    assert(out.map(_.event_id) == Seq(3L), out)
  }

  test("agrees exactly with an in-memory replay on randomized per-user streams") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val types = Seq("view", "click", "error", "purchase")
    val gen = Gen.listOfN(80, for {
      u <- Gen.choose(1L, 6L); t <- Gen.choose(0L, 2000L)
      ty <- Gen.oneOf(types); v <- Gen.choose(1, 99)
    } yield (u, t, ty, v.toDouble))
    (1 to 4).foreach { seed =>
      val raw = gen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"gen failed for seed $seed"))
        .zipWithIndex.map { case ((u, t, ty, v), i) =>
          ActivityEvent(u, i.toLong, t, ty, v) }
      // replay: per user, fold in (ts, event_id) order with a 500 s lookback
      val expected = raw.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
        var last: Option[(String, Long)] = None
        es.sortBy(e => (e.ts_sec, e.event_id)).flatMap { e =>
          if (e.event_type != "purchase") { last = Some((e.event_type, e.ts_sec)); None }
          else last.collect { case (ch, st) if e.ts_sec - st <= 500L =>
            (e.event_id, ch, st, e.value) }
        }
      }.toSet
      // stream the same rows ordered by event time, split across 3 batches
      val ordered = raw.sortBy(e => (e.ts_sec, e.event_id))
      val (b1, rest) = ordered.splitAt(ordered.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      val got = run(Seq(b1, b2, b3), lookbackSec = 500L)
        .map(a => (a.event_id, a.channel, a.src_ts, a.value)).toSet
      assert(got == expected, s"seed=$seed")
    }
  }
}
