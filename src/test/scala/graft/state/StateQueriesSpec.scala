package graft.state

import graft.SparkSpec
import graft.streaming.WindowedStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** The four interactive state-query shapes of SURVEY.md §2.9 over a real
  * streaming checkpoint (reference `IQueriesService.java` endpoints;
  * in-process window scan `TopologiesTest.scala:60-70`), and the
  * per-commit memo behind the reads: one resolution per commit, a new
  * commit or a rewritten checkpoint resolved again, no entry shared
  * between reads with different options, one entry for every spelling of
  * a path, no memo without a commit log. */
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

  // ------------------------------------------------------------------
  // the per-commit memo

  private def counts(): (Long, Long) = {
    val m = CommitMemo.of(spark)
    (m.resolves.get, m.reuses.get)
  }

  /** (resolves, reuses) of the session's memo while `body` runs. */
  private def memoDuring[A](body: => A): (A, Long, Long) = {
    val (r0, u0) = counts()
    val a = body
    val (r1, u1) = counts()
    (a, r1 - r0, u1 - u0)
  }

  /** Writes a windowed count over `batches` (one micro-batch each) into a
    * checkpoint at `ckpt`, then stops the query. */
  private def windowedCounts(ckpt: String, batches: Seq[Seq[Ev]]): Unit = {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Ev]
    val q = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour", col("key"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  private def keyCounts(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] = {
    val s = spark
    import s.implicits._
    df.select(col("key_key"), col("value_count")).as[(String, Long)].collect().toSet
  }

  private def batchOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    StateReplica.batchIds(StateReplica.versionOf(df).stateTables)

  test("20 reads of an unchanged checkpoint resolve the state source once") {
    val ckpt = Files.createTempDirectory("graft_memo_once").toString
    windowedCounts(ckpt, Seq(Seq(Ev("a", 1, ts(0)), Ev("b", 1, ts(1)))))
    val (dfs, resolves, reuses) = memoDuring((1 to 20).map(_ => StateQueries.flattened(spark, ckpt)))
    assert(resolves == 1 && reuses == 19, s"resolves $resolves, reuses $reuses")
    assert(dfs.forall(_ eq dfs.head))
    assert(keyCounts(dfs.last) == Set(("a", 1L), ("b", 1L)))
  }

  test("a batch committed by a running query shows on the next read, at a new batch id") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_memo_commit").toString
    val in = MemoryStream[Ev]
    val q = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour", col("key"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      in.addData(Ev("a", 1, ts(0)))
      q.processAllAvailable()
      val v1 = StateQueries.flattened(s, ckpt)
      assert(StateQueries.flattened(s, ckpt) eq v1)
      assert(keyCounts(v1) == Set(("a", 1L)))
      in.addData(Ev("a", 1, ts(1)), Ev("b", 1, ts(2)))
      q.processAllAvailable()
      val (v2, resolves, _) = memoDuring(StateQueries.flattened(s, ckpt))
      assert(resolves == 1 && !(v2 eq v1))
      assert(batchOf(v2).head > batchOf(v1).head, s"${batchOf(v1)} then ${batchOf(v2)}")
      assert(keyCounts(v2) == Set(("a", 2L), ("b", 1L)))
    } finally q.stop()
  }

  test("a checkpoint deleted and rewritten at the same path is resolved again, at the same, a later or an earlier batch id") {
    val dir = Files.createTempDirectory("graft_memo_rewrite")
    val ckpt = dir.toString
    windowedCounts(ckpt, Seq(Seq(Ev("a", 1, ts(0)))))
    val v1 = StateQueries.flattened(spark, ckpt)
    assert(keyCounts(v1) == Set(("a", 1L)))
    deleteTree(dir)
    windowedCounts(ckpt, Seq(Seq(Ev("z", 1, ts(0)), Ev("z", 1, ts(1)))))
    val (v2, resolves, reuses) = memoDuring(StateQueries.flattened(spark, ckpt))
    assert(batchOf(v2) == batchOf(v1), "the rewrite ends at the same batch")
    assert(resolves == 1 && reuses == 0, s"resolves $resolves, reuses $reuses")
    assert(keyCounts(v2) == Set(("z", 2L)))
    // rewritten with more batches, then with fewer again
    deleteTree(dir)
    windowedCounts(ckpt, Seq(Seq(Ev("y", 1, ts(0))), Seq(Ev("y", 1, ts(1)))))
    val v3 = StateQueries.flattened(spark, ckpt)
    assert(batchOf(v3).head > batchOf(v1).head && keyCounts(v3) == Set(("y", 2L)))
    deleteTree(dir)
    windowedCounts(ckpt, Seq(Seq(Ev("x", 1, ts(0)))))
    val v4 = StateQueries.flattened(spark, ckpt)
    assert(batchOf(v4) == batchOf(v1) && keyCounts(v4) == Set(("x", 1L)))
  }

  test("reads of two TWS variables keep their own entries") {
    import graft.streaming.StreamKlDrift
    import graft.streaming.StreamKlDrift.TokDoc
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_memo_tws").toString
    withRocksDB {
      val in = MemoryStream[TokDoc]
      val q = StreamKlDrift.monitor(in.toDS(), Map("the" -> 0.5, "cat" -> 0.5), oovProb = 1e-6)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        in.addData(TokDoc("g1", 1L, 1000L, Seq("the", "cat", "the")))
        q.processAllAvailable()
        in.addData(TokDoc("g1", 2L, 2000L, Seq("cat")))
        q.processAllAvailable()
      } finally q.stop()
    }
    val (dfs, resolves, reuses) = memoDuring(Seq("counts", "total", "counts", "total")
      .map(v => StateQueries.flattenedTws(s, ckpt, v)))
    val Seq(c1, t1, c2, t2) = dfs
    assert(resolves == 2 && reuses == 2, s"resolves $resolves, reuses $reuses")
    assert((c2 eq c1) && (t2 eq t1) && !(c1 eq t1))
    assert(c1.columns.toSeq == Seq("key", "map_key", "value") && t1.columns.toSeq == Seq("key", "value"))
    assert(c1.select("map_key", "value").as[(String, Long)].collect().toMap == Map("the" -> 2L, "cat" -> 2L))
    assert(t1.select("value").as[Long].collect().toSeq == Seq(4L))
  }

  test("spellings of one checkpoint path share one entry") {
    val ckpt = Files.createTempDirectory("graft_memo_spelling").toString
    windowedCounts(ckpt, Seq(Seq(Ev("a", 1, ts(0)))))
    val (dfs, resolves, reuses) = memoDuring(
      Seq(ckpt, ckpt + "/", new java.io.File(ckpt).toURI.toString).map(StateQueries.flattened(spark, _)))
    assert(resolves == 1 && reuses == 2, s"resolves $resolves, reuses $reuses")
    assert(dfs.forall(_ eq dfs.head))
  }

  test("a directory without a usable commit log is resolved on every call, as without the memo") {
    import org.apache.spark.sql.execution.datasources.v2.state.StateDataSourceException
    val dir = Files.createTempDirectory("graft_memo_nocommits")
    val ckpt = dir.toString
    // no commits/ yet: the source's own error, on every call
    val (_, _, u0) = memoDuring((1 to 2).foreach(_ =>
      intercept[StateDataSourceException](StateQueries.flattened(spark, ckpt))))
    assert(u0 == 0)
    // the same directory once a query has committed into it reads
    windowedCounts(ckpt, Seq(Seq(Ev("a", 1, ts(0)))))
    val v = StateQueries.flattened(spark, ckpt)
    assert(keyCounts(v) == Set(("a", 1L)))
    assert(StateQueries.flattened(spark, ckpt) eq v)
    // a commit log gone again is not answered from the memo: each call
    // fails as the source does
    deleteTree(dir.resolve("commits"))
    val (_, _, u1) = memoDuring((1 to 2).foreach(_ =>
      intercept[StateDataSourceException](StateQueries.flattened(spark, ckpt))))
    assert(u1 == 0)
  }
}
