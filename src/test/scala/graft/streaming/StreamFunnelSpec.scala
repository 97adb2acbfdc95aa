package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamFunnel.{FunnelEvent, StageReached}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming funnel: ordered-replay equality with the batch x43 stage
  * counts, strict-ordering fixtures, and cross-batch state carry. */
class StreamFunnelSpec extends SparkSpec {

  private def run(batches: Seq[Seq[FunnelEvent]]): Seq[StageReached] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[FunnelEvent]
    val name = s"sfn${System.nanoTime()}"
    val q = StreamFunnel.stages(in.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[StageReached].collect().toSeq
    } finally q.stop()
  }

  test("ordered multi-batch replay of the harness events == batch x43 stage counts") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val want = graft.SparkEntry.queries("x43_funnel")(s, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val evs = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_sec"), col("event_id"))
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(e => (e.ts_sec, e.event_id))
    val batches = evs.grouped(math.max(1, evs.length / 4)).map(_.toSeq).toSeq
    val got = run(batches).groupBy(_.stage).view.mapValues(_.size.toLong).toMap
    assert(got == want, s"stream $got != batch $want")
    assert(want.values.sum > 0)
  }

  test("strict ordering: pre-view clicks and same-second clicks do not advance") {
    val out = run(Seq(Seq(
      FunnelEvent(1L, "click", 5L, 1),    // before any view — ignored
      FunnelEvent(1L, "view", 10L, 2),
      FunnelEvent(1L, "click", 10L, 3),   // same second as the view: NOT > t0
      FunnelEvent(1L, "click", 11L, 4),   // advances
      FunnelEvent(1L, "purchase", 11L, 5) // same second as the click: NOT > t1
    )))
    assert(out.map(r => (r.stage, r.ts_sec)).toSet ==
      Set(("1_view", 10L), ("2_click", 11L)), out)
  }

  test("stages complete across batches; repeats never re-emit") {
    val b1 = Seq(FunnelEvent(7L, "view", 1L, 1), FunnelEvent(7L, "view", 2L, 2))
    val b2 = Seq(FunnelEvent(7L, "click", 3L, 3), FunnelEvent(7L, "click", 4L, 4))
    val b3 = Seq(FunnelEvent(7L, "purchase", 5L, 5))
    val out = run(Seq(b1, b2, b3))
    assert(out.map(r => (r.stage, r.ts_sec)).toSet ==
      Set(("1_view", 1L), ("2_click", 3L), ("3_purchase", 5L)), out)
  }
}
