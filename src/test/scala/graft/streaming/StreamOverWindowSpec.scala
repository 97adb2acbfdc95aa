package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming OVER-window must equal the batch x94 RANGE frame row
  * for every event under the ordering contract (time-ordered batches,
  * same-second peers delivered together). */
class StreamOverWindowSpec extends SparkSpec {

  import StreamOverWindow.FrameAgg

  private def drive(batches: Seq[Seq[(Long, Long, Long, Long)]]): Seq[FrameAgg] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[(Long, Long, Long, Long)]
    val name = s"ow${System.nanoTime()}"
    val q = StreamOverWindow.rollingTotals(in.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[FrameAgg].collect().toSeq
    } finally q.stop()
  }

  test("frame fixture: peers, horizon edge, eviction") {
    val out = drive(Seq(
      Seq((1L, 1L, 1000L, 10L), (1L, 2L, 1000L, 20L)),   // same-second peers
      Seq((1L, 3L, 4600L, 5L)),                          // 1000 = 4600-3600 still IN
      Seq((1L, 4L, 4601L, 7L))                           // peers at 1000 evicted
    )).map(f => f.event_id -> (f.cnt, f.sum_micro)).toMap
    assert(out(1L) == (2L, 30L)) // RANGE frame includes its same-ts peer
    assert(out(2L) == (2L, 30L))
    assert(out(3L) == (3L, 35L)) // inclusive horizon edge
    assert(out(4L) == (2L, 12L)) // the two peers fell out of the frame
  }

  test("the horizon buffer survives a query restart") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ow_restart").toString
    StreamOverWindowSpec.collected.clear()
    def leg(adds: Seq[Seq[(Long, Long, Long, Long)]]): Unit = {
      val in = MemoryStream[(Long, Long, Long, Long)]
      val q = StreamOverWindow.rollingTotals(in.toDS())
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[FrameAgg], _: Long) =>
          StreamOverWindowSpec.collected.synchronized {
            StreamOverWindowSpec.collected ++= b.collect()
          }; ()
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try { adds.foreach { b => in.addData(b); q.processAllAvailable() } }
      finally q.stop()
    }
    withRocksDB {
      val first = Seq((1L, 1L, 1000L, 10L))
      leg(Seq(first))
      // restart: the committed batch replays (skipped), the new event's
      // frame must still see the pre-restart event — a restarted-from-
      // zero operator would report (cnt 1, sum 5)
      leg(Seq(first, Seq((1L, 2L, 2000L, 5L))))
      val got = StreamOverWindowSpec.collected.synchronized {
        StreamOverWindowSpec.collected.toList }.sortBy(_.event_id)
      assert(got == List(
        FrameAgg(1L, 1L, 1000L, 1L, 10L),
        FrameAgg(1L, 2L, 2000L, 2L, 15L)))
    }
  }

  test("harness replay equals the batch x94 RANGE frame exactly") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val want = graft.SparkEntry.queries("x94_rolling_range")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val evs = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        round(col("value") * 1e6, 0).cast("long").as("micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(e => (e._3, e._2))
    // time-ordered batches split only at second boundaries, so per-key
    // order holds and same-second peers ride together
    val cuts = evs.map(_._3).distinct.sorted
    val bounds = cuts.grouped(math.max(1, cuts.length / 5 + 1)).map(_.last).toSeq
    val batches = bounds.foldLeft((Seq.empty[Seq[(Long, Long, Long, Long)]], 0L)) {
      case ((acc, lo), hi) =>
        (acc :+ evs.filter(e => e._3 > lo && e._3 <= hi).toSeq, hi)
    }._1.filter(_.nonEmpty)
    val got = drive(batches)
      .map(f => (f.user_id, f.event_id) -> (f.cnt, f.sum_micro)).toMap
    assert(got.size == want.size)
    assert(got == want)
  }
}

object StreamOverWindowSpec {
  /** Shared sink buffer for the restart legs. */
  val collected: scala.collection.mutable.ArrayBuffer[StreamOverWindow.FrameAgg] =
    scala.collection.mutable.ArrayBuffer.empty
}
