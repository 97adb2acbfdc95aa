package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.Timestamp

/** Streaming correctness gate — the STREAMCHECK artifact.
  *
  * `Verify` certifies the 300+ batch queries against the DuckDB oracle;
  * this main extends that hard gate to the engine's *defining* surface:
  * every streaming twin replays the sf events/documents tables through
  * real Structured Streaming micro-batches (MemoryStream, state carried
  * across batches, RocksDB state store) and its final output is
  * hash-compared against the corresponding ORACLE-GATED batch query from
  * `SparkEntry.queries` — so stream ≡ batch chains through the DuckDB
  * oracle to a cross-engine guarantee.
  *
  * Replay contract (the reference engine's own ordering semantics,
  * SURVEY.md §2.4): records are fed in event-time order `(ts, id)`, split
  * into several micro-batches, so cross-batch state carry is exercised on
  * every twin. Where the batch query's output needs a finishing readout
  * that is not itself the twin under test (e.g. grouping streamed funnel
  * emissions into stage counts), the readout runs as a batch step over
  * the STREAMED output and is disclosed in the artifact's `projection`
  * field; `projection: "full"` means whole rows were compared.
  *
  * Emit-on-close twins (windowed aggregations) are driven in append mode
  * and flushed by a far-future sentinel record that advances the
  * watermark past every real window — the sentinel's own windows are
  * excluded by timestamp, never by content.
  *
  * Usage: `runMain graft.StreamVerify <sfDir> <outJson>`; optional
  * `SPARK_GRAFT_STREAM_ONLY=id1,id2` filters twins for iteration.
  */
object StreamVerify {

  // ---- replay input shapes (top-level for Encoder derivation) ----------

  /** One harness event with both timestamp flavors: `ts` is the exact
    * (microsecond) event time, `tss` the whole-second `ts_sec` as a
    * timestamp (what the session/band queries window on). */
  case class WEv(user_id: Long, event_id: Long, event_type: String,
                 ts_sec: Long, value: Double, ts: Timestamp, tss: Timestamp)

  /** A keyed join-side row for stream-stream band joins. */
  case class JEv(key: String, value: String, ts: Timestamp)

  /** A document row for the dedup/decontaminate twins. */
  case class DocRow(doc_id: Long, text: String, ts: Timestamp)

  /** A synthetic image row (the m5 fixture shape). */
  case class ImgRow(doc_id: Long, content: Array[Byte], ts: Timestamp)

  /** An embedding row for the semantic near-dup twin. */
  case class VecRow(doc_id: Long, vec: Seq[Float], ts: Timestamp)

  private val qid = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- micro-batch replay drivers --------------------------------------

  /** Replay `chunks` through a streaming transformation built over one
    * MemoryStream, one micro-batch per chunk (append mode, memory sink),
    * and return the sink contents detached from the stopped query. */
  private def replay[T: Encoder](spark: SparkSession, chunks: Seq[Seq[T]],
      outputMode: String = "append")(
      build: Dataset[T] => DataFrame): DataFrame = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[T]
    val name = s"sv${qid.incrementAndGet()}"
    val q = build(in.toDS()).writeStream.format("memory")
      .queryName(name).outputMode(outputMode).start()
    try {
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      detach(spark, spark.table(name))
    } finally q.stop()
  }

  /** Two-input variant: chunk i of both sides is fed, then one
    * micro-batch runs — the cross-topic interleave of a real consumer. */
  private def replay2[A: Encoder, B: Encoder](
      spark: SparkSession, left: Seq[Seq[A]], right: Seq[Seq[B]])(
      build: (Dataset[A], Dataset[B]) => DataFrame): DataFrame = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val l = MemoryStream[A]
    val r = MemoryStream[B]
    val name = s"sv${qid.incrementAndGet()}"
    val q = build(l.toDS(), r.toDS()).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      val n = math.max(left.size, right.size)
      (0 until n).foreach { i =>
        if (i < left.size && left(i).nonEmpty) l.addData(left(i))
        if (i < right.size && right(i).nonEmpty) r.addData(right(i))
        q.processAllAvailable()
      }
      detach(spark, spark.table(name))
    } finally q.stop()
  }

  /** Copy a memory-sink table into a standalone local DataFrame so it
    * survives the query being stopped and composes with batch plans. */
  private def detach(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def chunksOf[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = math.max(1, (xs.size + n - 1) / n)
    xs.grouped(size).map(_.toSeq).toSeq
  }

  // ---- comparison ------------------------------------------------------

  final case class Cmp(streamRows: Long, batchRows: Long, rowsMatch: Boolean,
                       schemaMatch: Boolean, hashMatch: Boolean)

  /** Canonical compare: columns sorted by name and cast to string,
    * rows sorted, md5 over the whole set — the driver's hash-compare
    * discipline, applied to both sides identically. */
  private def compare(streamed: DataFrame, batch: DataFrame): Cmp = {
    def schemaOf(df: DataFrame): Seq[(String, String)] =
      df.schema.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
    def canon(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect()
        .map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString)
          .mkString("\t"))
        .sorted.toSeq
    }
    def md5hex(rows: Seq[String]): String = {
      val md = MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update(r.getBytes("UTF-8")))
      md.digest().map(b => f"$b%02x").mkString
    }
    val s = canon(streamed)
    val b = canon(batch)
    Cmp(s.size.toLong, b.size.toLong, s.size == b.size,
      schemaOf(streamed) == schemaOf(batch), md5hex(s) == md5hex(b))
  }

  // ---- shared sf-data prep --------------------------------------------

  private def eventsSorted(spark: SparkSession, dir: String): Array[WEv] =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_sec"), col("value"), col("ts"),
        timestamp_seconds(col("ts_sec")).as("tss"))
      .collect()
      .map(r => WEv(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getTimestamp(5), r.getTimestamp(6)))
      .sortBy(e => (e.ts_sec, e.event_id))

  /** events → Rec changelog (key = user, seq = event-time rank). */
  private def eventRecs(evs: Array[WEv])(value: WEv => String): Seq[Rec] =
    evs.zipWithIndex.map { case (e, i) =>
      Rec(e.user_id.toString, value(e), e.ts_sec * 1000, i + 1L)
    }.toSeq

  /** Materialize a streamed [[Change]] log to its final live view. */
  private def liveView(spark: SparkSession, changes: DataFrame): DataFrame =
    graft.operators.Changelog
      .latestByKey(changes, Seq("key"), Seq(col("seq")))
      .filter(col("value").isNotNull)

  /** Materialize a streamed [[FkJoinChange]]/[[JoinChange]] log. */
  private def liveJoinView(spark: SparkSession, changes: DataFrame,
                           keyCol: String): DataFrame =
    graft.operators.Changelog
      .latestByKey(changes, Seq(keyCol), Seq(col("seq")))
      .filter(!col("deleted"))

  private def sentinelTs(maxSec: Long): Timestamp =
    new Timestamp((maxSec + 40L * 86400) * 1000)

  // ---- the twin registry ----------------------------------------------

  final case class TwinResult(batchId: String, projection: String,
                              cmp: Option[Cmp], err: Option[String])

  /** Each twin returns (streamed readout, batch reference) — compared
    * canonically by the harness. */
  def twins: Seq[(String, String, String, (SparkSession, String) => (DataFrame, DataFrame))] = Seq(

    // ---- KTable family -------------------------------------------------

    ("k1_ktable", "k1_latest_per_key", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val recs = eventRecs(evs)(e => s"${e.event_id}|${e.event_type}|${e.ts_sec}")
        val changes = replay(s, chunksOf(recs, 4))(in =>
          KTableStream.changes(in).toDF())
        val out = liveView(s, changes)
          .select(split(col("value"), "\\|").as("p"), col("key"))
          .select(col("key").cast("long").as("user_id"),
            col("p").getItem(0).cast("long").as("event_id"),
            col("p").getItem(1).as("event_type"),
            col("p").getItem(2).cast("long").as("ts_sec"))
        (out, SparkEntry.queries("k1_latest_per_key")(s, dir))
      }),

    ("k2_tombstone", "k2_upsert_tombstone", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val recs = eventRecs(evs)(e =>
          if (e.event_type == "error") null else e.event_id.toString)
        val changes = replay(s, chunksOf(recs, 4))(in =>
          KTableStream.changes(in).toDF())
        val out = liveView(s, changes)
          .select(col("key").cast("long").as("user_id"),
            col("value").cast("long").as("event_id"))
        (out, SparkEntry.queries("k2_upsert_tombstone")(s, dir))
      }),

    ("k3_table_reagg", "k3_table_reagg",
      "adder/subtractor fold over the STREAMED changelog",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val recs = eventRecs(evs)(e =>
          s"${e.event_type}|${math.round(e.value * 100)}")
        val changes = replay(s, chunksOf(recs, 4))(in =>
          KTableStream.changes(in).toDF())
        val out = TableAggregate.sumByGroup(changes.as[Change],
            v => v.split('|')(0), v => v.split('|')(1).toLong)
          .select(col("grp").as("event_type"),
            col("total").as("total_cents"), col("n_keys").as("n_users"))
        (out, SparkEntry.queries("k3_table_reagg")(s, dir))
      }),

    // ---- windowed aggregations (emit-on-close via sentinel flush) ------

    ("w1_tumbling", "w1_tumbling_count", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val sent = WEv(-1L, -1L, "view", maxSec + 40 * 86400, 0.0,
          sentinelTs(maxSec), sentinelTs(maxSec))
        val streamed = replay(s, chunksOf(evs.toSeq, 4) :+ Seq(sent))(in =>
          WindowedStreams.tumblingCounts(in.toDF(), "ts", "1 hour", "1 hour",
            col("event_type")))
        val out = streamed
          .select(col("window.start").cast("long").as("win_start"),
            col("event_type"), col("count").as("cnt"))
          .filter(col("win_start") <= maxSec)
        (out, SparkEntry.queries("w1_tumbling_count")(s, dir))
      }),

    ("w2_tumbling_sum", "w2_tumbling_sum", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val sent = WEv(-1L, -1L, "view", maxSec + 40 * 86400, 0.0,
          sentinelTs(maxSec), sentinelTs(maxSec))
        val streamed = replay(s, chunksOf(evs.toSeq, 4) :+ Seq(sent))(in =>
          WindowedStreams.tumblingSum(in.toDF(), "ts", "1 day", "1 hour",
            "value", col("user_id")))
        val out = streamed
          .select(col("window.start").cast("long").as("win_start"),
            col("user_id"), round(col("total"), 2).as("total"))
          .filter(col("win_start") <= maxSec && col("user_id") =!= -1L)
        (out, SparkEntry.queries("w2_tumbling_sum")(s, dir))
      }),

    ("w3_session", "w3_session", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val sent = WEv(-1L, -1L, "view", maxSec + 40 * 86400, 0.0,
          sentinelTs(maxSec), sentinelTs(maxSec))
        val streamed = replay(s, chunksOf(evs.toSeq, 4) :+ Seq(sent))(in =>
          WindowedStreams.sessionCounts(in.toDF(), "tss", "6 hours", "1 hour",
            col("user_id")))
        val out = streamed
          .filter(col("user_id") =!= -1L)
          .select(col("user_id"),
            col("session_window.start").cast("long").as("sess_start"),
            col("session_window.end").cast("long").as("sess_end"),
            col("count").as("cnt"))
        (out, SparkEntry.queries("w3_session")(s, dir))
      }),

    ("w4_sliding", "w4_sliding_count", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val sent = WEv(-1L, -1L, "view", maxSec + 40 * 86400, 0.0,
          sentinelTs(maxSec), sentinelTs(maxSec))
        val streamed = replay(s, chunksOf(evs.toSeq, 4) :+ Seq(sent))(in =>
          WindowedStreams.slidingCounts(in.toDF(), "ts", "2 hours", "1 hour",
            "1 hour"))
        val out = streamed
          .select(col("window.start").cast("long").as("win_start"),
            col("count").as("cnt"))
          .filter(col("win_start") <= maxSec)
        (out, SparkEntry.queries("w4_sliding_count")(s, dir))
      }),

    ("w5_session_dynamic", "w5_session_dynamic", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val sent = WEv(-1L, -1L, "view", maxSec + 40 * 86400, 0.0,
          sentinelTs(maxSec), sentinelTs(maxSec))
        val gap = when(col("event_type") === "click",
            expr("make_interval(0,0,0,0,2,0,0)"))
          .otherwise(expr("make_interval(0,0,0,0,6,0,0)"))
        val streamed = replay(s, chunksOf(evs.toSeq, 4) :+ Seq(sent))(in =>
          WindowedStreams.dynamicSessionCounts(in.toDF(), "tss", gap, "1 hour",
            col("user_id")))
        val out = streamed
          .filter(col("user_id") =!= -1L)
          .select(col("user_id"),
            col("session_window.start").cast("long").as("sess_start"),
            col("session_window.end").cast("long").as("sess_end"),
            col("count").as("cnt"))
        (out, SparkEntry.queries("w5_session_dynamic")(s, dir))
      }),

    ("x55_session_paths", "x55_session_paths",
      "path frequency count over the STREAMED closed sessions",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val sent = WEv(-1L, -1L, "view", maxSec + 40 * 86400, 0.0,
          sentinelTs(maxSec), sentinelTs(maxSec))
        val streamed = replay(s, chunksOf(evs.toSeq, 4) :+ Seq(sent))(in =>
          WindowedStreams.sessionPaths(in.toDF(), "tss", "5 minutes", "1 hour",
            "user_id", "event_type", "ts_sec", "event_id"))
        val out = streamed
          .filter(col("user_id") =!= -1L)
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .filter(col("n_sessions") >= 2)
        (out, SparkEntry.queries("x55_session_paths")(s, dir))
      }),

    // ---- joins ---------------------------------------------------------

    ("j1_band_inner", "j1_band_join", "full",
      (s: SparkSession, dir: String) => {
        val out = bandPairs(s, dir)
          .filter(col("left_id") =!= col("right_id"))
          .select("left_id", "right_id")
        (out, SparkEntry.queries("j1_band_join")(s, dir))
      }),

    ("j2_left_band_count", "j2_left_band_count",
      "per-left match count over the STREAMED pairs, zero-completed from the key set",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val matched = bandPairs(s, dir)
          .filter(col("left_id") =!= col("right_id"))
          .groupBy(col("left_id").as("event_id"))
          .agg(count(lit(1)).as("match_cnt"))
        val out = Tables.events(s, dir).select("event_id").distinct()
          .join(matched, Seq("event_id"), "left_outer")
          .select(col("event_id"),
            coalesce(col("match_cnt"), lit(0L)).as("match_cnt"))
        (out, SparkEntry.queries("j2_left_band_count")(s, dir))
      }),

    ("j13_full_band", "j13_full_band_join", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        def side(t: String) = evs.filter(_.event_type == t)
          .map(e => JEv(e.user_id.toString, e.event_id.toString, e.tss)).toSeq
        val sent = JEv("zz-sentinel", "-1", sentinelTs(maxSec))
        val lcs = chunksOf(side("click"), 4) :+ Seq(sent)
        val rcs = chunksOf(side("purchase"), 4) :+ Seq(sent)
        val streamed = replay2(s, lcs, rcs)((l, r) =>
          StreamJoins.bandJoin(l.toDF(), r.toDF(), 3600L, "0 seconds",
            "full_outer"))
        val out = streamed
          .filter((col("l_value").isNull || col("l_value") =!= "-1") &&
            (col("r_value").isNull || col("r_value") =!= "-1"))
          .select(col("l_value").cast("long").as("click_id"),
            col("r_value").cast("long").as("buy_id"))
        (out, SparkEntry.queries("j13_full_band_join")(s, dir))
      }),

    ("j3_enrich", "j3_enrich", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val custs = Tables.customer(s, dir)
          .select("c_custkey", "c_name", "c_mktsegment").collect()
          .zipWithIndex.map { case (r, i) =>
            Rec(r.getLong(0).toString,
              s"${r.getString(1)}\t${r.getString(2)}", 0L, i + 1L)
          }.toSeq
        val base = custs.size.toLong
        val evRecs = evs.zipWithIndex.map { case (e, i) =>
          Rec(e.user_id.toString, e.event_id.toString, e.ts_sec * 1000,
            base + i + 1L)
        }.toSeq
        val streamed = replay2(s, Seq(custs), chunksOf(evRecs, 4))((t, e) =>
          StreamTableJoin.enrich(e, t, "inner").toDF())
        val out = streamed
          .select(col("leftValue").cast("long").as("event_id"),
            col("key").cast("long").as("user_id"),
            split(col("rightValue"), "\t").as("p"))
          .select(col("event_id"), col("user_id"),
            col("p").getItem(0).as("c_name"),
            col("p").getItem(1).as("c_mktsegment"))
        (out, SparkEntry.queries("j3_enrich")(s, dir))
      }),

    ("j4_pk_join", "j4_ktable_join", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val custs = Tables.customer(s, dir)
          .select("c_custkey", "c_name").collect()
          .zipWithIndex.map { case (r, i) =>
            Rec(r.getLong(0).toString, r.getString(1), 0L, i + 1L)
          }.toSeq
        val base = custs.size.toLong
        val evRecs = evs.zipWithIndex.map { case (e, i) =>
          Rec(e.user_id.toString, s"${e.event_type}\t${e.value}",
            e.ts_sec * 1000, base + i + 1L)
        }.toSeq
        val streamed = replay2(s, chunksOf(evRecs, 4), Seq(custs))((l, r) =>
          PkJoinStream.join(l, r, "inner").toDF())
        val out = liveJoinView(s, streamed, "key")
          .select(col("key").cast("long").as("user_id"),
            split(col("leftValue"), "\t").as("p"), col("rightValue"))
          .select(col("user_id"), col("p").getItem(0).as("last_type"),
            col("p").getItem(1).cast("double").as("last_val"),
            col("rightValue").as("c_name"))
        (out, SparkEntry.queries("j4_ktable_join")(s, dir))
      }),

    ("j5_pk_self", "j5_table_self_join", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        def side(t: String) = evs.zipWithIndex.collect {
          case (e, i) if e.event_type == t =>
            Rec(e.user_id.toString, e.event_id.toString, e.ts_sec * 1000, i + 1L)
        }.toSeq
        val streamed = replay2(s, chunksOf(side("click"), 4),
            chunksOf(side("purchase"), 4))((l, r) =>
          PkJoinStream.join(l, r, "inner").toDF())
        val out = liveJoinView(s, streamed, "key")
          .select(col("key").cast("long").as("user_id"),
            col("leftValue").cast("long").as("click_event_id"),
            col("rightValue").cast("long").as("purchase_event_id"))
        (out, SparkEntry.queries("j5_table_self_join")(s, dir))
      }),

    ("j6_fk_left", "j6_fk_left_join", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val orders = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val custs = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_name").collect()
          .zipWithIndex.map { case (r, i) =>
            Rec(r.getLong(0).toString, r.getString(1), 0L, i + 1L) }.toSeq
        val base = 1000000L
        val ordRecs = orders.zipWithIndex.map { case ((ok, ck), i) =>
          Rec(ok.toString, ck.toString, 0L, base + i + 1L) }.toSeq
        val streamed = replay2(s, Seq(custs), chunksOf(ordRecs, 3))((r, l) =>
          FkJoinStream.join(l, r, identity[String], "left").toDF())
        val out = liveJoinView(s, streamed, "leftKey")
          .select(col("leftKey").cast("long").as("o_orderkey"),
            col("rightValue").as("c_name"))
        (out, SparkEntry.queries("j6_fk_left_join")(s, dir))
      }),

    ("j7_fk_inner_chain", "j7_fk_inner_join", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
          .collect()
          .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3)))
          .sortBy(r => (r._1, r._2))
        val parts = Tables.part(s, dir).select("p_partkey", "p_name").collect()
          .zipWithIndex.map { case (r, i) =>
            Rec(r.getLong(0).toString, r.getString(1), 0L, i + 1L) }.toSeq
        val supps = Tables.supplier(s, dir).select("s_suppkey", "s_name").collect()
          .zipWithIndex.map { case (r, i) =>
            Rec(r.getLong(0).toString, r.getString(1), 0L, i + 1L) }.toSeq
        val base = 1000000L
        // the harness lineitem repeats (l_orderkey, l_linenumber) pairs,
        // so the changelog PK carries the row index as a uniquifier —
        // dropped again in the readout
        val liRecs = li.zipWithIndex.map { case ((ok, ln, pk, sk), i) =>
          Rec(s"$ok|$ln|$i", s"$pk\t$sk", 0L, base + i + 1L) }.toSeq
        // stage 1: lineitem ⋈ part on l_partkey — the streamed change
        // log's final state feeds stage 2 as its left changelog (the
        // through-a-topic chaining of the reference's FK join)
        val st1 = replay2(s, Seq(parts), chunksOf(liRecs, 3))((r, l) =>
          FkJoinStream.join(l, r, v => v.split('\t')(0), "inner").toDF())
        val stage1 = liveJoinView(s, st1, "leftKey")
          .select(col("leftKey"),
            split(col("leftPayload"), "\t").getItem(1).as("suppkey"),
            col("rightValue").as("p_name"))
          .collect()
          .zipWithIndex.map { case (r, i) =>
            Rec(r.getString(0), s"${r.getString(1)}\t${r.getString(2)}",
              0L, base + i + 1L) }.toSeq
        val st2 = replay2(s, Seq(supps), chunksOf(stage1, 3))((r, l) =>
          FkJoinStream.join(l, r, v => v.split('\t')(0), "inner").toDF())
        val out = liveJoinView(s, st2, "leftKey")
          .select(split(col("leftKey"), "\\|").as("k"),
            split(col("leftPayload"), "\t").getItem(1).as("p_name"),
            col("rightValue").as("s_name"))
          .select(col("k").getItem(0).cast("long").as("l_orderkey"),
            col("k").getItem(1).cast("int").as("l_linenumber"),
            col("p_name"), col("s_name"))
        (out, SparkEntry.queries("j7_fk_inner_join")(s, dir))
      }),

    // ---- x-family twins ------------------------------------------------

    ("x2_topk", "x2_topk_users", "final leaderboard snapshot (exact-cents contract)",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val ues = evs.map(e =>
          StreamTopK.UserEvent(e.user_id, e.event_id, e.ts_sec, e.value)).toSeq
        val streamed = replay(s, chunksOf(ues, 4))(in =>
          StreamTopK.topK(in, 10).toDF())
        val latest = streamed.agg(max("version")).collect()(0).getLong(0)
        val out = streamed.filter(col("version") === latest)
          .select(col("rank"), col("user_id"),
            (col("total_cents") / 100.0).as("total"))
        (out, SparkEntry.queries("x2_topk_users")(s, dir))
      }),

    ("x39_hll", "x39_hll_distinct", "single-window estimate (shared sketch)",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val win = 1L << 41 // one tumbling window covering every real event
        val recs = evs.zipWithIndex.map { case (e, i) =>
          Rec(e.event_type, e.user_id.toString, e.ts_sec * 1000, i + 1L) }.toSeq
        val sent = Rec("view", "1", win + 40L * 86400000L, recs.size + 1L)
        // registers stream (emit-on-close); the estimate finalization is
        // a constant-size batch readout over the emitted registers
        val regs = replay(s, chunksOf(recs, 4) :+ Seq(sent))(in =>
          StreamHllDistinct.windowedRegisters(in, win, "1 second"))
        val out = StreamHllDistinct.estimates(regs)
          .filter(col("win_start") === 0L)
          .select(col("key").as("event_type"), col("n_regs"),
            col("est_distinct").as("est_users"))
        (out, SparkEntry.queries("x39_hll_distinct")(s, dir))
      }),

    // The last three sketch faces: each streams its corpus through the
    // SAME bounded aggregator the gated batch query uses (the UDAF
    // buffer IS the state-store state, folded across micro-batches) in
    // update mode; the final emission — identified by a monotone
    // running count — gets the batch query's own finalization readout.
    // All three sketches are exact on the sf corpora (vocab/users below
    // the sketch bound), so the estimates are order-independent and
    // hash-gate cleanly.

    ("x15_kmv", "x15_kmv_distinct",
      "kmvEstimate (the shared finalizer expression) over the LAST update emission per event_type",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val pairs = evs.map(e => (e.event_type, e.user_id)).toSeq
        val pick = udaf(graft.functions.Aggregators.topKByKey(64),
          Encoders.product[graft.functions.KeyedHit])
        val streamed = replay(s, chunksOf(pairs, 4), outputMode = "update")(in =>
          in.toDF("event_type", "user_id")
            .groupBy("event_type")
            .agg(pick(md5(col("user_id").cast("string")), lit(0L)).as("tk"),
              count(lit(1)).as("n_seen")))
        val latest = streamed.withColumn("rk", row_number().over(
            Window.partitionBy("event_type").orderBy(col("n_seen").desc)))
          .filter(col("rk") === 1)
        val out = latest.select(col("event_type"),
          graft.functions.Sketches.kmvEstimate(col("tk"), 64).as("est_users"))
        (out, SparkEntry.queries("x15_kmv_distinct")(s, dir))
      }),

    ("t12_quantiles", "t12_length_quantiles",
      "type-1 quantiles read off the STREAMED running histogram (final count per (source, n_chars) = max across update emissions)",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val rows = Tables.documents(s, dir)
          .select(col("source"), col("n_chars"))
          .as[(String, Long)].collect().sorted.toSeq
        val streamed = replay(s, chunksOf(rows, 4), outputMode = "update")(in =>
          in.toDF("source", "n_chars")
            .groupBy("source", "n_chars").agg(count(lit(1)).as("c")))
        // per-key counts only grow, so the final histogram is max(c)
        val hist = streamed.groupBy("source", "n_chars").agg(max("c").as("c"))
        // the batch query's own readout, over the STREAMED histogram
        val cum = hist
          .withColumn("cum", sum("c").over(
            Window.partitionBy("source").orderBy("n_chars")))
          .withColumn("n", sum("c").over(Window.partitionBy("source")))
        val out = cum.select(col("source"), col("n_chars"), col("cum"),
            col("n"),
            explode(array(Seq(0.25, 0.5, 0.75, 0.9).map(lit): _*)).as("q"))
          .filter(col("cum") >= ceil(col("n") * col("q")))
          .groupBy("source", "q").agg(min("n_chars").as("value"))
        (out, SparkEntry.queries("t12_length_quantiles")(s, dir))
      }),

    ("x26_heavy", "x26_heavy_hitters",
      "top-15 readout over the LAST update emission of the streamed SpaceSaving sketch",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t0 = new Timestamp(1700000000000L)
        val docs = Tables.documents(s, dir).select("doc_id", "text").collect()
          .map(r => DocRow(r.getLong(0), r.getString(1), t0)).sortBy(_.doc_id)
        val hh = udaf(graft.functions.Aggregators.spaceSaving(256),
          Encoders.STRING)
        val streamed = replay(s, chunksOf(docs.toSeq, 4), outputMode = "update")(in =>
          in.toDF()
            .select(explode(
              graft.functions.TextAnalysis.tokens(col("text"))).as("w"))
            .agg(hh(col("w")).as("sk"), count(lit(1)).as("n_tok")))
        val latest = streamed.orderBy(col("n_tok").desc).limit(1)
        val out = latest
          .select(explode(col("sk.hits")).as("h"))
          .select(col("h.item").as("word"), col("h.cnt").as("cnt"),
            col("h.err").as("err"))
          .orderBy(col("cnt").desc, col("word"))
          .limit(15)
        (out, SparkEntry.queries("x26_heavy_hitters")(s, dir))
      }),

    ("x43_funnel", "x43_funnel",
      "stage counts + conversion over the STREAMED stage completions",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val fes = evs.map(e =>
          StreamFunnel.FunnelEvent(e.user_id, e.event_type, e.ts_sec,
            e.event_id)).toSeq
        val streamed = replay(s, chunksOf(fes, 4))(in =>
          StreamFunnel.stages(in).toDF())
        val counts = streamed.groupBy("stage").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val rows = Seq("1_view", "2_click", "3_purchase")
          .map(st => (st, counts.getOrElse(st, 0L)))
        val out = rows.toDF("stage", "n_users")
          .withColumn("conv_prev",
            coalesce(round(col("n_users").cast("double") /
              lag("n_users", 1).over(Window.orderBy("stage")), 6), lit(1.0)))
        (out, SparkEntry.queries("x43_funnel")(s, dir))
      }),

    ("x53_zscore", "x53_rolling_zscore", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val tvs = evs.map(e =>
          StreamZScore.TypedValue(e.event_type, e.event_id, e.ts_sec,
            e.value)).toSeq
        val streamed = replay(s, chunksOf(tvs, 4))(in =>
          StreamZScore.anomalies(in).toDF())
        val out = streamed.select("event_type", "event_id", "ts_sec",
          "value", "z")
        (out, SparkEntry.queries("x53_rolling_zscore")(s, dir))
      }),

    ("x54_transitions", "x54_markov_transitions",
      "matrix aggregation over the STREAMED transition pairs",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val ues = evs.map(e =>
          StreamTransitions.UserEvent(e.user_id, e.event_id, e.ts_sec,
            e.event_type)).toSeq
        val streamed = replay(s, chunksOf(ues, 4))(in =>
          StreamTransitions.transitions(in).toDF())
        val out = streamed
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", round(col("n").cast("double") /
            sum("n").over(Window.partitionBy("from_type")), 6))
        (out, SparkEntry.queries("x54_markov_transitions")(s, dir))
      }),

    ("x57_attribution", "x57_attribution",
      "channel rollup over the STREAMED credited purchases",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val aes = evs.map(e =>
          StreamAttribution.ActivityEvent(e.user_id, e.event_id, e.ts_sec,
            e.event_type, e.value)).toSeq
        val streamed = replay(s, chunksOf(aes, 4))(in =>
          StreamAttribution.lastTouch(in).toDF())
        val out = streamed.groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"),
            sum(round(col("value") * 10000).cast("long"))
              .as("attributed_micros"))
        (out, SparkEntry.queries("x57_attribution")(s, dir))
      }),

    ("x65_cusum", "x65_cusum", "frozen (μ,σ) baseline from the daily series",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val daily = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy(expr("ts_sec div 86400").as("day"))
          .agg(sum(round(col("value") * 10000).cast("long")).as("micros"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        // refit (μ, σ) with the batch aggregate's exact operation order
        val nd = daily.length.toLong
        val tot = daily.map(_._2).sum
        val sq = daily.map(r => BigInt(r._2) * BigInt(r._2)).sum
        val totD = tot.toDouble
        val mu = totD / nd
        val sigma = math.sqrt((sq.toDouble - totD * totD / nd) / nd)
        val pts = daily.map { case (day, micros) =>
          StreamCusum.Point("daily", day, day * 86400, micros.toDouble) }.toSeq
        val streamed = replay(s, chunksOf(pts, 3))(in =>
          StreamCusum.monitor(in, Map("daily" -> (mu, sigma))).toDF())
        val out = streamed.select(col("seq_id").as("day"),
          col("value").cast("long").as("micros"), col("s"))
        (out, SparkEntry.queries("x65_cusum")(s, dir))
      }),

    ("x94_overwindow", "x94_rolling_range", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            round(col("value") * 1e6, 0).cast("long").as("micro"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(e => (e._3, e._2))
        // batches split only at second boundaries so same-second peers
        // ride together (the ordering contract of the RANGE frame)
        val cuts = evs.map(_._3).distinct.sorted
        val bounds = cuts.grouped(math.max(1, cuts.length / 5 + 1))
          .map(_.last).toSeq
        val batches = bounds.foldLeft(
            (Seq.empty[Seq[(Long, Long, Long, Long)]], Long.MinValue)) {
          case ((acc, lo), hi) =>
            (acc :+ evs.filter(e => e._3 > lo && e._3 <= hi).toSeq, hi)
        }._1.filter(_.nonEmpty)
        val streamed = replay(s, batches)(in =>
          StreamOverWindow.rollingTotals(in).toDF())
        val out = streamed.select(col("user_id"), col("event_id"),
          col("cnt").as("cnt_1h"), col("sum_micro").as("sum_micro_1h"))
        (out, SparkEntry.queries("x94_rolling_range")(s, dir))
      }),

    ("x30_decontaminate", "x30_bloom_decontaminate",
      "(doc_id, contaminated) verdicts; the hits count stays batch-side",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 41 === 0)
        val t0 = new Timestamp(1700000000000L)
        val corpus = docs.filter(col("doc_id") % 41 =!= 0)
          .select("doc_id", "text").collect()
          .map(r => DocRow(r.getLong(0), r.getString(1), t0))
          .sortBy(_.doc_id)
        val streamed = replay(s, chunksOf(corpus.toSeq, 3))(in =>
          StreamDecontaminate.contaminatedIds(in.toDF(), bench,
            "doc_id", "text", "ts", "30 days", shingleN = 5))
        val flagged = streamed.select(col("doc_id"), lit(true).as("hit"))
        val out = docs.filter(col("doc_id") % 41 =!= 0).select("doc_id")
          .join(flagged, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("hit"), lit(false)).as("contaminated"))
        (out, SparkEntry.queries("x30_bloom_decontaminate")(s, dir)
          .select("doc_id", "contaminated"))
      }),

    // ---- d-family / media twins ---------------------------------------

    ("d1_dedup", "d1_exact_dedup",
      "(fp, rep_id) survivors under doc_id-ordered replay; dup_cnt stays batch-side",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t0 = new Timestamp(1700000000000L)
        val docs = Tables.documents(s, dir).select("doc_id", "text").collect()
          .map(r => DocRow(r.getLong(0), r.getString(1), t0))
          .sortBy(_.doc_id)
        val streamed = replay(s, chunksOf(docs.toSeq, 4))(in =>
          StreamDedup.firstPerFingerprint(in.toDF(), "text", "ts", "30 days"))
        val out = streamed.select(col("fp"), col("doc_id").as("rep_id"))
        (out, SparkEntry.queries("d1_exact_dedup")(s, dir)
          .select("fp", "rep_id"))
      }),

    ("d2_neardup", "d2_minhash_lsh", "distinct candidate pairs",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t0 = new Timestamp(1700000000000L)
        val docs = Tables.documents(s, dir).select("doc_id", "text").collect()
          .map(r => DocRow(r.getLong(0), r.getString(1), t0))
          .sortBy(_.doc_id)
        val streamed = replay(s, chunksOf(docs.toSeq, 4))(in =>
          StreamNearDup.candidatePairs(in.toDF(), "doc_id", "text", "ts",
            "30 days").toDF())
        val out = streamed.select("a", "b").distinct()
        (out, SparkEntry.queries("d2_minhash_lsh")(s, dir))
      }),

    ("m5_image_neardup", "m5_phash_neardup", "distinct (a, b, hamming) pairs",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t0 = new Timestamp(1700000000000L)
        val imgs = Tables.documents(s, dir).select("doc_id").as[Long]
          .collect().filter(_ < 630L).sorted
          .map { id =>
            val (amp, base) = if (id % 2 == 0) (4, 128) else (3, 140)
            ImgRow(id,
              graft.multimodal.SyntheticMedia.bmpPatternBytes(id / 2, amp, base),
              t0)
          }
        val streamed = replay(s, chunksOf(imgs.toSeq, 4))(in =>
          StreamImageNearDup.pairs(in.toDF(), "doc_id", "content", "ts",
            "30 days", maxDist = 0).toDF())
        val out = streamed.select("a", "b", "hamming").distinct()
        (out, SparkEntry.queries("m5_phash_neardup")(s, dir))
      }),

    ("k4_scd2_stream", "k4_scd2", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        // valid_from = ts_sec; seq = the batch operator's (ts, event_id)
        // rank, so same-second orderings cannot fork
        val recs = evs.zipWithIndex.map { case (e, i) =>
          Rec(e.user_id.toString, e.event_type, e.ts_sec, i + 1L)
        }.toSeq
        val table = java.nio.file.Files.createTempDirectory("sv_scd2").toString + "/table"
        val ckpt = java.nio.file.Files.createTempDirectory("sv_scd2_ck").toString
        implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
        val in = MemoryStream[Rec]
        val q = StreamScd2.start(in.toDS(), table, ckpt)
        try chunksOf(recs, 4).foreach { c => in.addData(c); q.processAllAvailable() }
        finally q.stop()
        val out = StreamScd2.table(s, table).toDF()
          .select(col("key").cast("long").as("user_id"),
            col("value").as("event_type"),
            col("valid_from"), col("valid_to").cast("long").as("valid_to"),
            col("is_current"))
        (out, SparkEntry.queries("k4_scd2")(s, dir))
      }),

    ("x45_retention", "x45_retention_cohorts",
      "cell-delta sums over the STREAMED signed deltas",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val uws = evs.map(e =>
          StreamRetention.UserWeek(e.user_id, e.ts_sec / 604800L)).toSeq
        val streamed = replay(s, chunksOf(uws, 4))(in =>
          StreamRetention.cellDeltas(in).toDF())
        val out = streamed.groupBy("cohort_week", "week_offset")
          .agg(sum("delta").as("n_users"))
          .filter(col("n_users") =!= 0L)
        (out, SparkEntry.queries("x45_retention_cohorts")(s, dir))
      }),

    ("w1_timer_close", "w1_tumbling_count",
      "event-time-timer emit-on-close variant of the w1 window",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val maxSec = evs.last.ts_sec
        val recs = evs.zipWithIndex.map { case (e, i) =>
          Rec(e.event_type, "", e.ts_sec * 1000, i + 1L) }.toSeq
        val sent = Rec("view", "", (maxSec + 40L * 86400) * 1000, recs.size + 1L)
        val streamed = replay(s, chunksOf(recs, 4) :+ Seq(sent))(in =>
          TimerWindows.tumblingCountsOnClose(in, 3600L * 1000, "1 hour").toDF())
        val out = streamed
          .select((col("win_start") / 1000).cast("long").as("win_start"),
            col("key").as("event_type"), col("cnt"))
          .filter(col("win_start") <= maxSec)
        (out, SparkEntry.queries("w1_tumbling_count")(s, dir))
      }),

    ("k5_temporal_asof", "k5_scd2_asof",
      "one as-of probe per user at the k5 cutoff against the streamed change log",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val cutoff = 1704067200L + 10 * 86400 // the k5 probe instant
        // dim stream = the per-user VALUE-CHANGE rows (the scd2 change
        // detect, computed here so dim_from is the run's valid_from)
        val changes = evs.groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
          val sorted = es.sortBy(e => (e.ts_sec, e.event_id))
          sorted.zip(None +: sorted.map(e => Some(e.event_type)))
            .collect { case (e, prev) if !prev.contains(e.event_type) => e }
        }.sortBy(e => (e.ts_sec, e.event_id))
        val dimRecs = changes.zipWithIndex.map { case (e, i) =>
          Rec(e.user_id.toString, e.event_type, e.ts_sec * 1000, i + 1L) }
        val (before, after) = dimRecs.partition(_.ts <= cutoff * 1000)
        val users = evs.map(_.user_id).distinct.sorted
        val probes = users.zipWithIndex.map { case (u, i) =>
          Rec(u.toString, "probe", cutoff * 1000, 1000000L + i) }.toSeq
        val sentinel = Rec("zz-sentinel", "v", (cutoff + 400L * 86400) * 1000,
          2000000L)
        val streamed = replay2(s,
          chunksOf(before, 3) ++ Seq(Seq.empty[Rec], after :+ sentinel),
          Seq(Seq.empty[Rec], Seq.empty[Rec], Seq.empty[Rec], probes))(
          (d, e) => StreamTemporalJoin.joinAsOf(e, d, "1 second").toDF())
        val out = streamed
          .filter(col("key") =!= "zz-sentinel" && col("dim_value").isNotNull)
          .select(col("key").cast("long").as("user_id"),
            col("dim_value").as("event_type"),
            (col("dim_from") / 1000).cast("long").as("valid_from"))
        (out, SparkEntry.queries("k5_scd2_asof")(s, dir))
      }),

    ("x112_daily_cells", "x112_changepoint",
      "the shared changepoint readout over the STREAM-MAINTAINED cell table",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val rows = evs.map(e =>
          (e.event_type, e.ts_sec, math.round(e.value * 1000))).toSeq
        val table = java.nio.file.Files.createTempDirectory("sv_cells").toString + "/t"
        val ckpt = java.nio.file.Files.createTempDirectory("sv_cells_ck").toString
        implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
        val in = MemoryStream[(String, Long, Long)]
        val q = StreamDailyCells.start(
          in.toDF().toDF("g", "ts_sec", "milli"), table, ckpt)
        try chunksOf(rows, 4).foreach { c => in.addData(c); q.processAllAvailable() }
        finally q.stop()
        // the view ≡ recompute theorem, machine-checked: the BATCH
        // readout function over the maintained cells must equal the
        // oracle query over the raw events
        val out = graft.functions.TimeSeries.changepointFromCells(
          StreamDailyCells.cells(s, table)
            .select(col("g").as("event_type"), col("day"), col("m")),
          "event_type")
        (out, SparkEntry.queries("x112_changepoint")(s, dir))
      }),

    ("x78_kl_drift", "x78_source_kl",
      "final per-source KL against the frozen corpus baseline (x65's frozen-fit contract)",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            graft.functions.TextAnalysis.tokens(col("text")).as("toks"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2)))
          .sortBy(_._2)
        // frozen baseline q = the corpus unigram model (C_w / T), the
        // same reference distribution the batch x78 divides by
        val cw = scala.collection.mutable.Map.empty[String, Long]
        docs.foreach(_._3.foreach(w => cw(w) = cw.getOrElse(w, 0L) + 1L))
        val t = cw.values.sum.toDouble
        val baseline = cw.map { case (w, c) => w -> c / t }.toMap
        val tds = docs.map { case (src, id, toks) =>
          StreamKlDrift.TokDoc(src, id, id, toks) }.toSeq
        val streamed = replay(s, chunksOf(tds, 4))(in =>
          StreamKlDrift.monitor(in, baseline, oovProb = 1e-9).toDF())
        // the LAST emission per source is the full-prefix KL = batch x78
        val out = graft.operators.Changelog
          .latestByKey(streamed, Seq("group"), Seq(col("ts_sec"), col("seq_id")))
          .select(col("group").as("source"), col("n_tokens"), col("kl"))
        (out, SparkEntry.queries("x78_source_kl")(s, dir))
      }),

    ("a2_wordcount_dsl", "a2_wordcount",
      "the reference WordCount topology via the dsl facade (update-mode changelog; latest count per word)",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        import graft.streaming.dsl._
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.tokens(col("text")).as("toks"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList)
          .sortBy(_._1)
        val tokMap = docs.toMap
        val recs = docs.map { case (id, _) =>
          Rec(id.toString, id.toString, 0L, id) }.toSeq
        // the reference WordCount, ported via the facade: flatMapValues
        // split -> selectKey(word) -> groupBy(key).count (update mode,
        // the continuous changelog; counts are monotone so the final
        // value per word is the max the sink saw)
        val streamed = replay(s, chunksOf(recs, 4), outputMode = "update")(in =>
          in.flatMapValues(v => tokMap(v.toLong))
            .selectKey((_, w) => w)
            .toDF().groupBy(col("key")).count())
        val out = streamed.groupBy(col("key").as("word"))
          .agg(max("count").as("cnt"))
        (out, SparkEntry.queries("a2_wordcount")(s, dir))
      }),

    ("emb_neardup", "(derived: SRP band-agree AND cosine >= 0.9)",
      "distinct pairs vs an exhaustive batch recomputation of the twin's contract",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t0 = new Timestamp(1700000000000L)
        val baseVecs = Tables.embeddings(s, dir).select("vec_id", "embedding")
          .collect()
          .map(r => VecRow(r.getLong(0), r.getSeq[Float](1), t0))
          .sortBy(_.doc_id)
        // the harness embeddings are near-orthogonal (max pairwise cosine
        // ≈ 0.51), so plant deterministic near-duplicates: every 5th
        // vector gets a lightly-perturbed copy at id+10⁶ — both sides
        // see the same augmented corpus, and the expected pair set is
        // non-empty instead of vacuously equal
        val vecs = (baseVecs ++ baseVecs.filter(_.doc_id % 5 == 0).map { v =>
          VecRow(v.doc_id + 1000000L,
            v.vec.zipWithIndex.map { case (x, i) =>
              if (i < 4) x + 0.01f else x }, t0)
        }).sortBy(_.doc_id)
        val streamed = replay(s, chunksOf(vecs.toSeq, 4))(in =>
          StreamEmbeddingNearDup.pairs(in.toDF(), "doc_id", "vec", "ts",
            "30 days").toDF())
        val out = streamed.select("a", "b", "cosine").distinct()
        // exhaustive reference: every pair that agrees on ≥1 of the 4
        // SRP bands AND has exact cosine ≥ 0.9, rounded as the twin does
        val sigs = vecs.map(v =>
          (v.doc_id, v.vec, StreamEmbeddingNearDup.srpSignature(v.vec, 16)))
        def bandKeys(sig: Long): Seq[(Int, Long)] =
          (0 until 4).map(b => (b, (sig >>> (b * 4)) & 0xfL))
        val want = for {
          i <- sigs.indices
          j <- (i + 1) until sigs.length
          if bandKeys(sigs(i)._3).zip(bandKeys(sigs(j)._3))
            .exists { case (x, y) => x == y }
          c = StreamEmbeddingNearDup.cosine(sigs(i)._2, sigs(j)._2)
          if c >= 0.9
        } yield (math.min(sigs(i)._1, sigs(j)._1),
          math.max(sigs(i)._1, sigs(j)._1),
          math.floor(c * 1e6 + 0.5) / 1e6)
        (out, want.toDF("a", "b", "cosine"))
      }),

    // ---- round-15: the four previously-ungated streaming operators ----

    ("x133_quota", "x133_quota_admission",
      "admitted (source, doc_id, rank); ts_sec is the replay clock, not compared",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val arrivals = Tables.documents(s, dir).select("source", "doc_id")
          .collect()
          .map(r => StreamQuota.Arrival(r.getString(0), r.getLong(1),
            r.getLong(1)))
          .sortBy(_.doc_id)
        val streamed = replay(s, chunksOf(arrivals.toSeq, 4))(in =>
          StreamQuota.admit(in, cap = 10).toDF())
        val out = streamed.select(col("source"), col("doc_id"), col("rank"))
        (out, SparkEntry.queries("x133_quota_admission")(s, dir))
      }),

    ("x134_incr_view", "x134_view_maintenance",
      "maintained (grp, n_keys, total) view read back after the final swap",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val evs = eventsSorted(s, dir)
        val recs = eventRecs(evs)(e =>
          if (e.event_type == "error") null
          else math.round(e.value * 100).toString)
        val table = Files.createTempDirectory("sv_iview").toString + "/table"
        val ckpt = Files.createTempDirectory("sv_iview_ck").toString
        implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
        val in = MemoryStream[Rec]
        val q = IncrementalView.start(KTableStream.changes(in.toDS()),
          k => "g" + (k.toLong % 7), _.toLong, table, ckpt)
        try chunksOf(recs, 4).foreach { c => in.addData(c); q.processAllAvailable() }
        finally q.stop()
        val out = IncrementalView.view(s, table).toDF()
          .select(col("group").as("grp"), col("n_keys"), col("total"))
        (detach(s, out), SparkEntry.queries("x134_view_maintenance")(s, dir))
      }),

    ("x135_percolate", "x135_percolate_alerts", "full",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select("doc_id", "text")
          .collect()
          .map(r => Rec(r.getLong(0).toString, r.getString(1), r.getLong(0),
            r.getLong(0) + 1L))
          .sortBy(_.ts)
        val streamed = replay(s, chunksOf(docs.toSeq, 4))(in =>
          StreamPercolate.alerts(in, SparkEntry.percolateQueries).toDF())
        (streamed, SparkEntry.queries("x135_percolate_alerts")(s, dir))
      }),

    ("x136_incr_index", "x136_incr_index",
      "maintained (term, df, total_tf) index read back after the final swap",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        val recs = docs.map { case (id, text) =>
          Rec((id % 150).toString,
            if (id % 17 == 0) null else text, 0L, id + 1L)
        }.toSeq
        val table = Files.createTempDirectory("sv_iidx").toString + "/table"
        val ckpt = Files.createTempDirectory("sv_iidx_ck").toString
        implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
        val in = MemoryStream[Rec]
        val q = IncrementalIndex.start(KTableStream.changes(in.toDS()),
          table, ckpt)
        try chunksOf(recs, 4).foreach { c => in.addData(c); q.processAllAvailable() }
        finally q.stop()
        val out = IncrementalIndex.index(s, table).toDF()
        (detach(s, out), SparkEntry.queries("x136_incr_index")(s, dir))
      })
  )

  /** Shared j1/j2 streamed band join (computed once, both readouts). */
  private val memo = scala.collection.mutable.Map.empty[String, DataFrame]
  private def bandPairs(s: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate(s"band:$dir", {
      import s.implicits._
      val evs = eventsSorted(s, dir)
      val side = evs.map(e =>
        JEv(e.user_id.toString, e.event_id.toString, e.tss)).toSeq
      val streamed = replay2(s, chunksOf(side, 4), chunksOf(side, 4))((l, r) =>
        StreamJoins.bandJoin(l.toDF(), r.toDF(), 86400L, "0 seconds", "inner"))
      // the batch band is one-sided [0, 86400]; the symmetric streamed
      // band is cut down to it here (each pair appears once)
      detach(s, streamed
        .filter(col("r_ts") >= col("l_ts"))
        .select(col("l_value").cast("long").as("left_id"),
          col("r_value").cast("long").as("right_id")))
    })

  // ---- main ------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", 8)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, TwinResult]
    twins.filter(t => keep(t._1)).foreach { case (id, batchId, projection, run) =>
      val t0 = System.nanoTime()
      val res =
        try {
          val (streamed, batch) = run(spark, sfDir)
          TwinResult(batchId, projection, Some(compare(streamed, batch)), None)
        } catch {
          case e: Throwable =>
            TwinResult(batchId, projection, None,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val verdict = res.cmp match {
        case Some(c) if c.rowsMatch && c.schemaMatch && c.hashMatch => "OK"
        case Some(_) => "MISMATCH"
        case None => "ERR"
      }
      System.err.println(f"[streamverify] $id%-22s $verdict%-8s ${secs}%6.1fs " +
        res.cmp.map(c => s"rows=${c.streamRows}/${c.batchRows} " +
          s"schema=${c.schemaMatch} hash=${c.hashMatch}").getOrElse(
          res.err.getOrElse("")))
      results(id) = res
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = results.map { case (id, r) =>
      val body = r.cmp match {
        case Some(c) =>
          s"""${q("batch_id")}: ${q(r.batchId)}, ${q("projection")}: ${q(r.projection)}, """ +
          s"""${q("rows_match")}: ${c.rowsMatch}, ${q("schema_match")}: ${c.schemaMatch}, """ +
          s"""${q("hash_match")}: ${c.hashMatch}, ${q("stream_rows")}: ${c.streamRows}, """ +
          s"""${q("batch_rows")}: ${c.batchRows}, ${q("err")}: null"""
        case None =>
          s"""${q("batch_id")}: ${q(r.batchId)}, ${q("projection")}: ${q(r.projection)}, """ +
          s"""${q("rows_match")}: false, ${q("schema_match")}: false, """ +
          s"""${q("hash_match")}: false, ${q("stream_rows")}: 0, """ +
          s"""${q("batch_rows")}: 0, ${q("err")}: ${q(r.err.getOrElse("?"))}"""
      }
      s"${q(id)}: {$body}"
    }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(outPath), json)
    val ok = results.values.count(r =>
      r.cmp.exists(c => c.rowsMatch && c.schemaMatch && c.hashMatch))
    System.err.println(s"[streamverify] $ok/${results.size} twins green → $outPath")
    spark.stop()
  }
}
