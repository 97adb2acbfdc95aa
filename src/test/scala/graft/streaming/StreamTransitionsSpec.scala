package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamTransitions.{Transition, UserEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming transition extraction: adjacent pairs per user across
  * batches, and the aggregated matrix equals the batch x54 lead()-
  * window shape replayed in memory. */
class StreamTransitionsSpec extends SparkSpec {

  private def run(batches: Seq[Seq[UserEvent]]): Seq[Transition] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[UserEvent]
    val name = s"strans${System.nanoTime()}"
    val q = StreamTransitions.transitions(in.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[Transition].collect().toSeq
    } finally q.stop()
  }

  test("pairs chain across batches; the first event of a user emits nothing") {
    val out = run(Seq(
      Seq(UserEvent(1, 1, 10, "view"), UserEvent(1, 2, 20, "click")),
      Seq(UserEvent(1, 3, 30, "purchase"), UserEvent(2, 4, 15, "view"))))
    assert(out.map(t => (t.from_type, t.to_type, t.to_event_id)).sortBy(_._3) ==
      Seq(("view", "click", 2L), ("click", "purchase", 3L)))
  }

  test("aggregated matrix equals the batch lead()-window replay") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val types = Seq("view", "click", "error", "purchase")
    val gen = Gen.listOfN(100, Gen.zip(Gen.choose(1L, 7L), Gen.oneOf(types)))
    (1 to 4).foreach { seed =>
      val raw = gen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"gen failed for seed $seed"))
        .zipWithIndex.map { case ((u, t), i) => UserEvent(u, i.toLong, i.toLong, t) }
      // batch x54 shape: per user ordered by (ts, event_id), lead() pairs
      val expected = raw.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e.ts_sec, e.event_id))
        sorted.zip(sorted.drop(1)).map { case (a, b) => (a.event_type, b.event_type) }
      }.groupBy(identity).view.mapValues(_.size).toMap
      val got = run(Seq(raw.take(30), raw.slice(30, 70), raw.drop(70)))
        .groupBy(t => (t.from_type, t.to_type)).view.mapValues(_.size).toMap
      assert(got == expected, s"seed=$seed")
    }
  }
}
