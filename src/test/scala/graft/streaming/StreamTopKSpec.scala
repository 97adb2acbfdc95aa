package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamTopK.{RankedEntry, UserEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Bounded-state streaming top-k: the k-entry leaderboard equals the
  * batch top-k of final totals — including across evictions and
  * re-entries — because per-user totals are monotone and every change
  * re-feeds the board. */
class StreamTopKSpec extends SparkSpec {

  private def run(batches: Seq[Seq[UserEvent]], k: Int): Seq[RankedEntry] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[UserEvent]
    val name = s"stopk${System.nanoTime()}"
    val q = StreamTopK.topK(in.toDS(), k)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[RankedEntry].collect().toSeq
    } finally q.stop()
  }

  /** The batch contract: top-k of per-user micro-cent totals under
    * (total desc, user_id asc) — the x2_topk_users shape on the cents
    * discipline. */
  private def replay(events: Seq[UserEvent], k: Int): Seq[(Int, Long, Long)] =
    events.groupBy(_.user_id).view
      .mapValues(_.map(e => math.round(e.value * 100)).sum).toSeq
      .sortBy { case (u, c) => (-c, u) }.take(k)
      .zipWithIndex.map { case ((u, c), i) => (i + 1, u, c) }

  private def lastSnapshot(out: Seq[RankedEntry]): Seq[(Int, Long, Long)] = {
    val v = out.map(_.version).max
    out.filter(_.version == v).sortBy(_.rank)
      .map(e => (e.rank, e.user_id, e.total_cents))
  }

  test("evicted user re-enters when later traffic lifts it back in") {
    // k=2: u3 enters, is evicted by u1/u2 growth, then re-takes rank 1.
    val out = run(Seq(
      Seq(UserEvent(3, 1, 1, 5.0)),                              // board: u3
      Seq(UserEvent(1, 2, 2, 8.0), UserEvent(2, 3, 3, 7.0)),     // u3 evicted
      Seq(UserEvent(3, 4, 4, 11.0))),                            // u3 back, rank 1
      k = 2)
    assert(lastSnapshot(out) == Seq((1, 3L, 1600L), (2, 1L, 800L)))
    // intermediate snapshot (version 2) had u3 out
    assert(out.filter(_.version == 2).sortBy(_.rank)
      .map(e => (e.rank, e.user_id)) == Seq((1, 1L), (2, 2L)))
  }

  test("boundary ties break by user_id asc, matching the batch order") {
    val out = run(Seq(
      Seq(UserEvent(7, 1, 1, 3.0), UserEvent(2, 2, 2, 3.0),
        UserEvent(5, 3, 3, 3.0))), k = 2)
    assert(lastSnapshot(out) == Seq((1, 2L, 300L), (2, 5L, 300L)))
  }

  test("leaderboard equals the batch top-k replay on random traffic") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(120,
      Gen.zip(Gen.choose(1L, 15L), Gen.choose(1, 999)))
    (1 to 4).foreach { seed =>
      val raw = gen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"gen failed for seed $seed"))
        .zipWithIndex.map { case ((u, v), i) =>
          UserEvent(u, i.toLong, i.toLong, v / 100.0) }
      val out = run(Seq(raw.take(40), raw.slice(40, 80), raw.drop(80)), k = 5)
      assert(lastSnapshot(out) == replay(raw, 5), s"seed=$seed")
    }
  }
}
