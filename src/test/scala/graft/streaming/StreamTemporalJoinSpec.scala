package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import scala.util.Random

/** Event-time temporal join: events must join the dim version valid at
  * their EVENT time under any arrival interleaving the watermark admits —
  * including a dim update that arrives after the event it back-dates
  * (the case arrival-order enrichment cannot get right). Ground truth is
  * a plain-Scala as-of replay over the merged (ts, seq)-sorted history. */
class StreamTemporalJoinSpec extends SparkSpec {

  import StreamTemporalJoin.TemporalJoined

  /** Drive batches of (dims, events); a far-future dim sentinel (emits
    * nothing) closes the watermark so every buffered event drains. */
  private def drive(batches: Seq[(Seq[Rec], Seq[Rec])],
                    delay: String = "5 seconds"): List[TemporalJoined] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val dims = MemoryStream[Rec]
    val events = MemoryStream[Rec]
    val name = s"tj${System.nanoTime()}"
    val q = StreamTemporalJoin.joinAsOf(events.toDS(), dims.toDS(), delay)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { case (d, e) =>
        if (d.nonEmpty) dims.addData(d)
        if (e.nonEmpty) events.addData(e)
        q.processAllAvailable()
      }
      dims.addData(Rec("__sentinel", "x", 10_000_000L, 999999))
      q.processAllAvailable()
      // one more batch so the advanced watermark fires the timers
      dims.addData(Rec("__sentinel", "x", 10_000_001L, 1000000))
      q.processAllAvailable()
      s.table(name).as[TemporalJoined].collect().toList
        .sortBy(t => (t.key, t.event_ts, t.event_seq))
    } finally q.stop()
  }

  /** The as-of rule, replayed directly: latest dim (ts, seq) <= event ts. */
  private def replay(dims: Seq[Rec], events: Seq[Rec]): List[TemporalJoined] =
    events.groupBy(_.key).toList.flatMap { case (k, evs) =>
      val vs = dims.filter(_.key == k).sortBy(r => (r.ts, r.seq))
      evs.map { e =>
        val v = vs.takeWhile(_.ts <= e.ts).lastOption
        TemporalJoined(k, e.value, e.ts, e.seq,
          v.map(_.value).orNull, v.map(_.ts).getOrElse(-1L))
      }
    }.sortBy(t => (t.key, t.event_ts, t.event_seq))

  test("back-dated dim arriving AFTER the event still wins") {
    val out = drive(Seq(
      (Nil, Seq(Rec("k", "order", 5000, 10))),          // event first
      (Seq(Rec("k", "v1", 1000, 1)), Nil)               // dim back-dates it
    ))
    assert(out == List(TemporalJoined("k", "order", 5000, 10, "v1", 1000)))
  }

  test("half-open validity: same-ts dim applies; seq breaks same-ts ties") {
    val out = drive(Seq(
      (Seq(Rec("k", "v1", 1000, 1), Rec("k", "v1b", 1000, 2),
           Rec("k", "v2", 3000, 3)),
       Seq(Rec("k", "e0", 500, 10),   // before any version → null dim
           Rec("k", "e1", 1000, 11),  // same-ts: v1b (higher seq at 1000)
           Rec("k", "e2", 2999, 12),  // still v1b
           Rec("k", "e3", 3000, 13))) // v2 applies at its own ts
    ))
    assert(out == List(
      TemporalJoined("k", "e0", 500, 10, null, -1L),
      TemporalJoined("k", "e1", 1000, 11, "v1b", 1000),
      TemporalJoined("k", "e2", 2999, 12, "v1b", 1000),
      TemporalJoined("k", "e3", 3000, 13, "v2", 3000)))
  }

  test("randomized interleaving equals the as-of replay") {
    val rnd = new Random(11)
    val keys = Seq("a", "b", "c")
    var seq = 0L
    def next(): Long = { seq += 1; seq }
    val dims = for (k <- keys; i <- 1 to 6)
      yield Rec(k, s"$k-v$i", rnd.between(0L, 50L) * 100, next())
    val events = for (k <- keys; i <- 1 to 12)
      yield Rec(k, s"$k-e$i", rnd.between(0L, 60L) * 100, next())
    // shuffle everything into 5 random batches, dims and events mixed —
    // a huge delay keeps every out-of-order row inside the watermark
    val slots = rnd.shuffle(dims.map(Left(_)) ++ events.map(Right(_)))
    val batches = slots.grouped((slots.size + 4) / 5).map { g =>
      (g.collect { case Left(d) => d }, g.collect { case Right(e) => e })
    }.toSeq
    val out = drive(batches, delay = "2 hours")
    assert(out == replay(dims, events))
  }

  test("buffered events, versions and watermark survive a query restart") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tj_restart").toString
    StreamTemporalJoinSpec.collected.clear()
    // memory sinks refuse checkpoint recovery; foreachBatch resumes. A
    // fresh MemoryStream per leg must repopulate the offset space the
    // checkpoint committed (offsets are positions): replayed batches
    // skip, new ones process against the CARRIED state.
    def leg(adds: Seq[(Seq[Rec], Seq[Rec])]): Unit = {
      val dims = MemoryStream[Rec]
      val events = MemoryStream[Rec]
      val q = StreamTemporalJoin.joinAsOf(events.toDS(), dims.toDS(), "2 seconds")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[TemporalJoined], _: Long) =>
          StreamTemporalJoinSpec.collected.synchronized {
            StreamTemporalJoinSpec.collected ++= b.collect()
          }; ()
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        adds.foreach { case (d, e) =>
          if (d.nonEmpty) dims.addData(d)
          if (e.nonEmpty) events.addData(e)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    withRocksDB {
      val v1 = Seq(Rec("k", "v1", 1000, 1))
      val e1 = Seq(Rec("k", "order", 5000, 10))
      leg(Seq((v1, Nil), (Nil, e1))) // e1 buffers; nothing emitted yet
      assert(StreamTemporalJoinSpec.collected.isEmpty)
      // restart: replay the committed prefix, then a BACK-DATED dim
      // between v1 and the buffered event, then close the watermark
      leg(Seq((v1, Nil), (Nil, e1),
        (Seq(Rec("k", "v2", 4000, 2)), Nil),
        (Seq(Rec("__s", "x", 10_000_000L, 99)), Nil),
        (Seq(Rec("__s", "x", 10_000_001L, 100)), Nil)))
      val got = StreamTemporalJoinSpec.collected.synchronized {
        StreamTemporalJoinSpec.collected.toList }
      // the buffered event drains against the post-restart version: a
      // restarted-from-zero operator would have lost the buffer (no
      // row) or the version list (v1/null instead of v2)
      assert(got == List(TemporalJoined("k", "order", 5000, 10, "v2", 4000)))
    }
  }

  test("agrees with point-in-time lookups over the batch SCD2 history") {
    // cross-operator consistency: the stream's as-of value at each event
    // equals the k5-style half-open lookup over Changelog.scd2 built
    // from the SAME dim changes (run-collapse makes valid_from differ
    // for equal-value runs, so values — not version ts — are compared)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new Random(7)
    var seq = 0L
    def next(): Long = { seq += 1; seq }
    val dims = for (k <- Seq("a", "b"); i <- 1 to 8)
      yield Rec(k, s"v${rnd.between(0, 3)}", rnd.between(1L, 40L) * 100, next())
    // ts ≥ 100: a row at EXACTLY the initial watermark (ts = 0 = wm)
    // falls to the engine's late-row filter — the grace-rule boundary
    val events = for (k <- Seq("a", "b"); i <- 1 to 10)
      yield Rec(k, s"e$i", rnd.between(1L, 45L) * 100, next())
    val out = drive(Seq((dims, Nil), (Nil, events)), delay = "2 hours")

    val hist = graft.operators.Changelog.scd2(dims.toDF(), Seq("key"),
        col("value"), col("ts"), Seq(col("ts"), col("seq")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
    events.foreach { e =>
      val want = hist.collectFirst {
        case (k, v, from, to) if k == e.key && from <= e.ts && to > e.ts => v
      }.orNull
      val got = out.find(t => t.key == e.key && t.event_seq == e.seq).get
      assert(got.dim_value == want, s"event $e: got ${got.dim_value}, want $want")
    }
  }

  test("multi-epoch waves: versions compacted between waves stay correct") {
    // wave 1 resolves under v1/v2; the watermark then passes far beyond
    // them (compacting to the latest), and wave-2 events still join the
    // surviving version — then a NEWER version takes over
    val out = drive(Seq(
      (Seq(Rec("k", "v1", 1000, 1), Rec("k", "v2", 2000, 2)),
       Seq(Rec("k", "w1", 1500, 10), Rec("k", "w1b", 2500, 11))),
      (Seq(Rec("__tick", "tick", 200000, 3)), Nil), // advance the watermark
      (Seq(Rec("k", "v3", 300000, 4)),
       Seq(Rec("k", "w2", 250000, 12), Rec("k", "w2b", 300500, 13)))
    ), delay = "1 second")
    assert(out == List(
      TemporalJoined("k", "w1", 1500, 10, "v1", 1000),
      TemporalJoined("k", "w1b", 2500, 11, "v2", 2000),
      TemporalJoined("k", "w2", 250000, 12, "v2", 2000),
      TemporalJoined("k", "w2b", 300500, 13, "v3", 300000)))
  }
}

object StreamTemporalJoinSpec {
  /** Shared sink buffer for the restart legs (foreachBatch closures
    * must reach state that outlives each query). */
  val collected: scala.collection.mutable.ArrayBuffer[StreamTemporalJoin.TemporalJoined] =
    scala.collection.mutable.ArrayBuffer.empty
}
