package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Timer-driven emit-on-close (reference `TopologiesTest.scala:294-333`):
  * nothing is emitted while a window is open; advancing stream time past
  * window end + grace yields exactly one final count per window, and the
  * result agrees with the built-in append-mode window aggregate. */
class TimerWindowsSpec extends SparkSpec {

  import TimerWindows.WindowCount

  private def drive(feed: Seq[Rec]): List[WindowCount] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Rec]
    val q = TimerWindows.tumblingCountsOnClose(in.toDS(), 10000L, "0 seconds")
      .writeStream.format("memory").queryName("timer_win")
      .outputMode("append").start()
    try {
      feed.foreach { r => in.addData(r); q.processAllAvailable() }
      s.table("timer_win").as[WindowCount].collect()
        .sortBy(w => (w.win_start, w.key)).toList
    } finally q.stop()
  }

  test("one emission per window, only at close; open windows stay silent") {
    val out = drive(Seq(
      Rec("hmida", "1", 1000, 1),   // window [0, 10s)
      Rec("hmida", "1", 5000, 2),
      Rec("lambda", "1", 6000, 3),
      Rec("hmida", "1", 12000, 4),  // watermark → 12s: closes [0, 10s)
      Rec("hmida", "1", 100000, 5)  // closes [10s, 20s)
    ))
    // [0,10s) emitted once per key with final counts; [10s,20s) closed with 1;
    // the 100s window is still open → absent
    assert(out == List(
      WindowCount("hmida", 0, 2), WindowCount("lambda", 0, 1),
      WindowCount("hmida", 10000, 1)))
  }

  test("agrees with the built-in append-mode window aggregate") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val feed = Seq(
      Rec("a", "1", 1000, 1), Rec("b", "1", 2000, 2), Rec("a", "1", 9000, 3),
      Rec("a", "1", 15000, 4), Rec("b", "1", 99000, 5))
    val timer = drive(feed).map(w => (w.key, w.win_start, w.cnt)).toSet

    val in = MemoryStream[Rec]
    val agg = in.toDS().withColumn("ets", timestamp_millis(col("ts")))
      .withWatermark("ets", "0 seconds")
      .groupBy(window(col("ets"), "10 seconds"), col("key"))
      .count()
      .select(col("key"), (col("window.start").cast("long") * 1000).as("win_start"),
        col("count").as("cnt"))
    val q = agg.writeStream.format("memory").queryName("append_win")
      .outputMode("append").start()
    val builtin = try {
      feed.foreach { r => in.addData(r); q.processAllAvailable() }
      s.table("append_win").as[(String, Long, Long)].collect().toSet
    } finally q.stop()
    assert(timer == builtin)
  }
}
