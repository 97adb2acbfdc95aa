package graft.state

import graft.SparkSpec
import graft.streaming.WindowedStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** The four interactive state-query shapes of SURVEY.md §2.9 over a real
  * streaming checkpoint (reference `IQueriesService.java` endpoints;
  * in-process window scan `TopologiesTest.scala:60-70`). */
class StateQueriesSpec extends SparkSpec {

  private val base = 1700000000L
  private def ts(off: Long) = new Timestamp((base + off) * 1000)
  case class Ev(key: String, value: Int, ts: Timestamp)

  test("point/all/range/windowed reads over a windowed-count checkpoint") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_state").toString
    val in = MemoryStream[Ev]
    // 1h grace = long retention: closed windows stay in the store (the
    // reference's window-store retention; 0s grace would evict [0,10) the
    // moment the watermark passes it)
    val agg = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour",
      col("key"))
    val q = agg.select(col("window.start").cast("long").as("win"), col("key"), col("count"))
      .writeStream.format("memory").queryName("state_src")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      in.addData(Ev("hmida", 1, ts(0)), Ev("hmida", 1, ts(0)), Ev("hmida", 1, ts(1)),
        Ev("lambda", 1, ts(11)), Ev("hmida", 1, ts(12)))
      q.processAllAvailable()
    } finally q.stop()

    // the state store now holds per-(key, window) counts
    val st = StateQueries.flattened(s, ckpt)
      .select(col("key_key").as("key"),
        col("key_window.start").cast("long").as("win_start"),
        col("value_count").as("cnt"))

    // all
    val allRows = StateQueries.all(st).as[(String, Long, Long)].collect().toSet
    assert(allRows == Set(
      ("hmida", base, 3L), ("hmida", base + 10, 1L), ("lambda", base + 10, 1L)))

    // point
    val pt = StateQueries.point(st, col("key") === "lambda")
      .as[(String, Long, Long)].collect().toSet
    assert(pt == Set(("lambda", base + 10, 1L)))

    // key range (inclusive both ends; "h".."l" spans both keys)
    val rg = StateQueries.range(st, col("key"), "h", "lz")
      .as[(String, Long, Long)].collect().toSet
    assert(rg == allRows)

    // windowed fetch with the reference's key@start rendering
    val wf = StateQueries.windowedFetch(st, col("key"), col("win_start"),
        "hmida", base, base + 9)
      .select("rendered_key", "cnt").as[(String, Long)].collect().toSet
    assert(wf == Set((s"hmida@$base", 3L)))
  }

  test("metadata lists the checkpoint's stateful operator and store") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_meta_state").toString
    val in = MemoryStream[Ev]
    val agg = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour",
      col("key"))
    val q = agg.select(col("key"), col("count"))
      .writeStream.format("memory").queryName("meta_state_src")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      in.addData(Ev("hmida", 1, ts(0)))
      q.processAllAvailable()
    } finally q.stop()

    val meta = StateQueries.metadata(s, ckpt)
      .select("operatorName", "stateStoreName", "numPartitions")
      .as[(String, String, Int)].collect()
    // the streaming aggregation registers as the stateStoreSave operator
    // with the "default" store, partitioned like the shuffle
    assert(meta.toSeq == Seq(("stateStoreSave", "default", 2)), meta.mkString(", "))
  }

  test("point/all/range reads over a transformWithState checkpoint") {
    import graft.streaming.StreamZScore
    import graft.streaming.StreamZScore.TypedValue
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_tws_state").toString
    // TWS keeps each state variable in its own column family — RocksDB
    // provider only (HDFSBacked rejects multiple column families)
    withRocksDB {
      val in = MemoryStream[TypedValue]
      val q = StreamZScore.anomalies(in.toDS(), windowSize = 3)
        .writeStream.format("memory").queryName("tws_state_src")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        in.addData(
          TypedValue("a", 1L, base, 1.0), TypedValue("a", 2L, base + 1, 2.0),
          TypedValue("a", 3L, base + 2, 3.0), TypedValue("a", 4L, base + 3, 4.0),
          TypedValue("b", 5L, base + 4, 10.0))
        q.processAllAvailable()
      } finally q.stop()
    }

    // the named ListState variable "buf" (StreamZScore's ring buffer),
    // flattened to one row per element — exactly the shape point/all/
    // range filter. The size-3 ring must have evicted a's first value.
    val raw = StateQueries.twsStore(s, ckpt, "buf")
    // single-field structs: the grouping key and the primitive list
    // element both arrive encoder-wrapped ({value: string}/{value: double})
    val keyField = raw.select("key.*").columns.head
    val elemField = raw.select("list_element.*").columns.head
    val st = raw.select(col("key").getField(keyField).as("key"),
      col("list_element").getField(elemField).as("v"))

    val allRows = StateQueries.all(st).as[(String, Double)].collect()
    assert(allRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap ==
      Map("a" -> Set(2.0, 3.0, 4.0), "b" -> Set(10.0)))

    val pt = StateQueries.point(st, col("key") === "b")
      .as[(String, Double)].collect().toSet
    assert(pt == Set(("b", 10.0)))

    val rg = StateQueries.range(st, col("key"), "a", "a")
      .as[(String, Double)].collect().map(_._2).toSet
    assert(rg == Set(2.0, 3.0, 4.0))
  }
}
