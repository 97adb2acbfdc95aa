package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.kafka.{MiniBroker, MiniKafkaClient}
import graft.kafka.Wire.WireRecord
import graft.streaming.{KafkaEdges, Rec, WindowedStreams}

/** `stream_windowed`: the reference's two stateful apps fed over the Kafka
  * wire in a closed loop. Each chunk is produced through the wire client,
  * then both queries run `processAllAvailable`; the chunk's latency is that
  * whole round. See README.md for the input make-up. */
object StreamWindowed {

  val Partitions = 4
  val WindowMs = 10000L
  val GraceMs = 5000L
  /** Event time one chunk advances the stream clock by. */
  val SpanMs = 1000L
  val BaseMs = 1700000000000L // window-aligned epoch ms
  val WindowKeys = 500
  val LeftKeys = 2000
  val RightKeys = 100
  val ZipfS = 1.1
  val OutOfOrderShare = 0.10
  val LateShare = 0.02

  /** Records per chunk, and chunk counts: `warmupChunks` after the first
    * count in `cold_cpu_s`, `settleChunks` more run untimed (chunks keep getting
    * faster through them while the JIT compiles), then at least `minChunks`
    * are timed. */
  final case class Sizes(windowed: Int, left: Int, right: Int, warmupChunks: Int, settleChunks: Int,
                         minChunks: Int)
  val Full = Sizes(windowed = 300, left = 40, right = 10, warmupChunks = 1, settleChunks = 3, minChunks = 6)
  val Small = Sizes(windowed = 50, left = 10, right = 4, warmupChunks = 1, settleChunks = 0, minChunks = 3)

  /** Zipf(s) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The seeded input generator and the expected results it implies.
    *
    * Windowed records: in-order records fall in the chunk's own span; the
    * out-of-order ones lie up to `GraceMs - SpanMs` behind it, which keeps
    * them on time under any split of the chunk into batches; the late ones
    * sit in windows that end at or before the watermark two chunks back,
    * which makes them late under any split. Late records of one chunk have
    * distinct (key, window), so dropped groups equal dropped records.
    *
    * FK side: within one chunk a left key changes at most once, a right key
    * at most once, and no right key that changes is the old or new FK of a
    * left change in the same chunk, so each left key gets at most one
    * upsert per chunk and its final row is well defined from the output. */
  final class Gen(seed: Long, sizes: Sizes) {
    private val r = new SplittableRandom(seed)
    private val keyZipf = new Zipf(WindowKeys, ZipfS)
    private val fkZipf = new Zipf(RightKeys, ZipfS)
    private var chunk = 0
    private var maxEt = Long.MinValue
    private val maxEtByChunk = mutable.ArrayBuffer.empty[Long]

    val counts = mutable.Map.empty[(String, Long), Long] // (key, window start s) -> on-time records
    var produced, late = 0L
    val left = mutable.Map.empty[String, String] // pk -> "fk|vN"
    val right = mutable.Map.empty[String, String] // fk -> value
    private var version = 0L

    def wkey(i: Int) = f"k$i%04d"
    def lkey(i: Int) = f"p$i%04d"
    def rkey(i: Int) = f"c$i%03d"

    /** Next chunk: (windowed records, left records, right records), each
      * (key, value, event-time ms); a null value is a tombstone. */
    def next(): (Seq[(String, String, Long)], Seq[(String, String, Long)], Seq[(String, String, Long)]) = {
      val t = BaseMs + chunk * SpanMs
      val safeWm = if (chunk >= 2) Some(maxEtByChunk(chunk - 2) - GraceMs) else None
      val lateSeen = mutable.Set.empty[(String, Long)]
      val w = (0 until sizes.windowed).map { _ =>
        val k = wkey(keyZipf.draw(r))
        val u = r.nextDouble()
        val lateBound = safeWm.map(wm => Math.floorDiv(wm, WindowMs) * WindowMs)
        lateBound.filter(_ => u < LateShare).flatMap { lb =>
          // a window ending at or before lb, (key, window) unused this chunk
          Iterator.continually {
            val kk = wkey(keyZipf.draw(r))
            val ts = lb - 1 - r.nextLong(3 * WindowMs)
            (kk, ts)
          }.take(50).find { case (kk, ts) => !lateSeen((kk, Math.floorDiv(ts, WindowMs))) }
        } match {
          case Some((kk, ts)) =>
            lateSeen += ((kk, Math.floorDiv(ts, WindowMs)))
            late += 1
            (kk, "1", ts)
          case None =>
            val ts =
              if (u < LateShare + OutOfOrderShare) t - 1 - r.nextLong(GraceMs - SpanMs)
              else t + r.nextLong(SpanMs)
            maxEt = math.max(maxEt, ts)
            counts((k, Math.floorDiv(ts, WindowMs) * WindowMs / 1000)) =
              counts.getOrElse((k, Math.floorDiv(ts, WindowMs) * WindowMs / 1000), 0L) + 1
            (k, "1", ts)
        }
      }
      produced += w.size
      maxEtByChunk += maxEt

      val touchedLeft = mutable.Set.empty[String]
      val touchedFk = mutable.Set.empty[String]
      val l = (0 until sizes.left).flatMap { _ =>
        val pk = lkey(r.nextInt(LeftKeys))
        if (touchedLeft(pk)) None
        else {
          touchedLeft += pk
          version += 1
          val old = left.get(pk)
          old.foreach(v => touchedFk += v.takeWhile(_ != '|'))
          val value =
            if (old.isDefined && r.nextDouble() < 0.1) null
            else {
              val fk =
                if (old.isDefined && r.nextDouble() < 0.7) old.get.takeWhile(_ != '|')
                else rkey(fkZipf.draw(r))
              touchedFk += fk
              s"$fk|v$version"
            }
          if (value == null) left.remove(pk) else left(pk) = value
          Some((pk, value, t))
        }
      }
      val touchedRight = mutable.Set.empty[String]
      val rr = (0 until sizes.right).flatMap { _ =>
        Iterator.continually(rkey(fkZipf.draw(r))).take(20)
          .find(k => !touchedFk(k) && !touchedRight(k)).map { ck =>
            touchedRight += ck
            version += 1
            val value = if (right.contains(ck) && r.nextDouble() < 0.15) null else s"name-$ck-v$version"
            if (value == null) right.remove(ck) else right(ck) = value
            (ck, value, t)
          }
      }
      chunk += 1
      (w, l, rr)
    }
  }

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    import spark.implicits._
    import graft.streaming.dsl._
    val sizes = if (a.small) Small else Full
    val gen = new Gen(a.seed, sizes)
    val broker = new MiniBroker(numPartitions = Partitions)
    val client = new MiniKafkaClient("localhost", broker.port)
    val bs = broker.bootstrapServers
    var queries = List.empty[StreamingQuery]
    try {
      Seq("wg-in", "wg-out", "fk-in", "fk-out").foreach(client.partitionsFor)
      val src = KafkaEdges.source(spark, bs, "wg-in", format = "graft-kafka")
      val counts = WindowedStreams.tumblingCounts(
          src.toDF().withColumn("ets", timestamp_millis(col("ts"))),
          "ets", s"${WindowMs / 1000} seconds", s"${GraceMs / 1000} seconds", col("key"))
        .select(concat(col("key"), lit("@"), col("window.start").cast("long").cast("string")).as("key"),
          col("count").cast("string").as("value"), lit(0L).as("ts"), lit(0L).as("seq"))
        .as[Rec]
      val qWin = KafkaEdges.sink(counts, bs, "wg-out", Paths.get(a.work, "ckpt-windowed").toString,
          format = "graft-kafka")
        .outputMode("update").queryName("windowed").start()
      queries ::= qWin
      // both tables' changelogs share one topic (products keyed "p…",
      // categories "c…"), so one produce call delivers a chunk whole
      val fkSrc = KafkaEdges.source(spark, bs, "fk-in", format = "graft-kafka")
      val leftSrc = fkSrc.filter(col("key").startsWith("p"))
      val rightSrc = fkSrc.filter(col("key").startsWith("c"))
      val joined = leftSrc.fkJoin(rightSrc, v => v.substring(0, v.indexOf('|')), "left")
        .select(col("leftKey").as("key"),
          when(col("deleted"), lit(null).cast("string"))
            .otherwise(to_json(struct(col("leftPayload"), col("rightValue")))).as("value"),
          lit(0L).as("ts"), lit(0L).as("seq"))
        .as[Rec]
      val qFk = KafkaEdges.sink(joined, bs, "fk-out", Paths.get(a.work, "ckpt-fk").toString,
          format = "graft-kafka")
        .outputMode("append").queryName("fk_join").start()
      queries ::= qFk

      // output offsets of fk-out at each chunk's end: the chunk groups the
      // FK check materializes by
      val fkEnds = mutable.ArrayBuffer.empty[Seq[Long]]
      var produceNs, producedBytes = 0L
      def produce(topic: String, part: Int, rows: Seq[(String, String, Long)]): Unit = {
        val recs = rows.map { case (k, v, ts) =>
          WireRecord(0L, ts, k.getBytes(StandardCharsets.UTF_8),
            if (v == null) null else v.getBytes(StandardCharsets.UTF_8))
        }
        producedBytes += recs.map(r => r.key.length + (if (r.value == null) 0 else r.value.length)).sum
        client.produce(topic, part, recs)
      }
      /** Block until the query has finished the chunk. After the data batch
        * that `processAllAvailable` waits for, a watermark advance makes the
        * query run one more batch with no data (eviction); it starts right
        * away and belongs to the chunk, so wait until no trigger is active
        * and the batch id holds still over two polls. */
      def settle(q: StreamingQuery): Unit = {
        q.processAllAvailable()
        var last = -2L
        var stable = 0
        while (stable < 2) {
          Thread.sleep(5)
          val id = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          stable = if (!q.status.isTriggerActive && id == last) stable + 1 else 0
          last = id
        }
      }
      /** One closed-loop round: produce the chunk, one produce call per
        * topic into one partition (rotating), so a batch never sees half a
        * chunk; then let each query finish it. The two topologies take
        * turns so neither's batches queue behind the other's. */
      def chunk(i: Int): (Long, Long, Int) = {
        val (w, l, r) = gen.next()
        val part = i % Partitions
        val t0 = System.nanoTime()
        produce("wg-in", part, w)
        var pNs = System.nanoTime() - t0
        settle(qWin)
        val t1 = System.nanoTime()
        produce("fk-in", part, l ++ r)
        pNs += System.nanoTime() - t1
        settle(qFk)
        val t2 = System.nanoTime()
        fkEnds += (0 until Partitions).map(p => broker.logEnd("fk-out", p))
        res.attempted += 1
        (t2 - t0, pNs, w.size + l.size + r.size)
      }

      // the cold round: the first chunk (query start-up, first codegen)
      // and the warm-up chunks after it
      Machine.collect()
      res.markFirstOp()
      val (coldNs, coldCpu) = Machine.cpu((0 to sizes.warmupChunks).map(chunk(_)._1).sum)
      (1 to sizes.settleChunks).foreach(j => chunk(sizes.warmupChunks + j))
      Machine.collect()
      val firstTimedBatch = queries.map(q => q.id -> (q.lastProgress.batchId + 1)).toMap
      produceNs = 0L; producedBytes = 0L
      val lat = mutable.ArrayBuffer.empty[Double]
      var records = 0L
      val tStart = System.nanoTime()
      val deadline = tStart + (a.seconds * 1e9).toLong
      var i = sizes.warmupChunks + sizes.settleChunks + 1
      Machine.around(res, lat.size) {
        while (System.nanoTime() < deadline || lat.size < sizes.minChunks) {
          val (ns, pNs, n) = chunk(i)
          lat += ns / 1e6; produceNs += pNs; records += n; i += 1
        }
      }
      val wall = (System.nanoTime() - tStart) / 1e9

      res.e2e("cold_cpu_s") = coldCpu
      res.summary("stream_cold_s") = coldNs / 1e9
      res.summary("stream_records_per_s") = records / wall
      res.summary("stream_batch_p50_ms") = Stats.median(lat.toSeq)
      res.summary("stream_batch_p90_ms") = Stats.quantile(lat.toSeq, 0.9)
      res.summary("timed_chunks") = lat.size

      queries.foreach(_.stop())
      val progress = queries.map(q => q.name -> q.recentProgress.toSeq).toMap
      val timed = queries.map(q => q.name -> progress(q.name).filter(_.batchId >= firstTimedBatch(q.id))).toMap

      // --- layers ---
      def med(ps: Seq[StreamingQueryProgress], f: StreamingQueryProgress => Double) =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
      Seq("windowed" -> timed("windowed"), "fk_join" -> timed("fk_join")).foreach { case (t, ps) =>
        val data = ps.filter(_.numInputRows > 0)
        def dur(k: String)(p: StreamingQueryProgress) =
          p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
        Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
            "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms",
            "commitOffsets" -> "commit_offsets_ms", "triggerExecution" -> "trigger_execution_ms",
            "addBatch" -> "add_batch_ms").foreach { case (k, name) =>
          res.layers(s"stream.$t.$name") = med(data, dur(k))
        }
        res.layers(s"stream.$t.state_commit_ms") = med(data, _.stateOperators.map(_.commitTimeMs).sum.toDouble)
        val last = progress(t).last
        res.layers(s"stream.$t.state_rows_total") = last.stateOperators.map(_.numRowsTotal).sum.toDouble
        res.layers(s"stream.$t.state_memory_used_bytes") = last.stateOperators.map(_.memoryUsedBytes).sum.toDouble
        res.layers(s"stream.$t.state_rows_updated") = ps.map(_.stateOperators.map(_.numRowsUpdated).sum).sum.toDouble
        res.layers(s"stream.$t.rows_dropped_by_watermark") =
          ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
        res.layers(s"stream.$t.batches") = ps.size
        res.layers(s"stream.$t.no_data_batches") = ps.count(_.numInputRows == 0)
      }
      val n = lat.size.toDouble
      res.layers("kafka.produce_ms") = produceNs / 1e6 / n
      res.layers("kafka.produced_bytes") = producedBytes / n
      val outEnd = (0 until Partitions).map(p => broker.logEnd("wg-out", p)).sum
      res.layers("kafka.output_records") = outEnd

      // --- checks ---
      val all = progress("windowed")
      val droppedByEngine = all.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      val outRows = all.map(_.sink.numOutputRows).sum
      val finalCounts = mutable.Map.empty[String, Long]
      (0 until Partitions).foreach { p =>
        client.fetchAll("wg-out", p).foreach { rec =>
          val k = new String(rec.key, StandardCharsets.UTF_8)
          val v = new String(rec.value, StandardCharsets.UTF_8).toLong
          finalCounts(k) = math.max(finalCounts.getOrElse(k, 0L), v)
        }
      }
      var expected = gen.counts.map { case ((k, w), c) => s"$k@$w" -> c }.toMap
      if (a.breakCheck) expected = expected.updated(expected.keys.min, expected(expected.keys.min) + 1)
      val wrong = (expected.keySet ++ finalCounts.keySet).toSeq.sorted
        .filter(k => expected.get(k) != finalCounts.get(k))
      res.check("windowed: final count per (key, window) equals the generator's",
        wrong.isEmpty, s"${wrong.size} differ, e.g. " + wrong.take(5).map(k =>
          s"$k engine=${finalCounts.get(k)} expected=${expected.get(k)}").mkString("; "))
      res.check("windowed: counted + dropped records equal produced records",
        finalCounts.values.sum + droppedByEngine == gen.produced,
        s"counted ${finalCounts.values.sum} + dropped $droppedByEngine != produced ${gen.produced}")
      res.check("windowed: expected late records equal numRowsDroppedByWatermark",
        gen.late == droppedByEngine, s"generator ${gen.late} vs engine $droppedByEngine")
      res.check("windowed: output logEnd equals summed numOutputRows",
        outEnd == outRows, s"logEnd $outEnd vs numOutputRows $outRows")

      // FK: materialize per chunk group; one upsert per left key per group
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val fkRecs = (0 until Partitions).map(p => client.fetchAll("fk-out", p))
      val table = mutable.Map.empty[String, (String, String)]
      var ambiguous = List.empty[String]
      var prev = Seq.fill(Partitions)(0L)
      fkEnds.foreach { ends =>
        val group = (0 until Partitions).flatMap(p =>
          fkRecs(p).filter(r => r.offset >= prev(p) && r.offset < ends(p)))
        group.groupBy(r => new String(r.key, StandardCharsets.UTF_8)).foreach { case (k, rs) =>
          val ups = rs.filter(_.value != null).map(r => new String(r.value, StandardCharsets.UTF_8)).distinct
          if (ups.size > 1) ambiguous ::= k
          else if (ups.size == 1) {
            val j = mapper.readTree(ups.head)
            def f(n: String) = Option(j.get(n)).filter(!_.isNull).map(_.asText).orNull
            table(k) = (f("leftPayload"), f("rightValue"))
          } else table.remove(k)
        }
        prev = ends.toSeq
      }
      val want = gen.left.map { case (pk, v) => pk -> (v, gen.right.get(v.takeWhile(_ != '|')).orNull) }.toMap
      val fkWrong = (want.keySet ++ table.keySet).toSeq.sorted.filter(k => want.get(k) != table.get(k))
      res.check("fk_join: final joined rows equal the join of the final tables",
        fkWrong.isEmpty && ambiguous.isEmpty,
        s"${fkWrong.size} differ, ${ambiguous.size} ambiguous, e.g. " + fkWrong.take(5).map(k =>
          s"$k engine=${table.get(k)} expected=${want.get(k)}").mkString("; "))
      res.summary("windowed_keys_windows") = expected.size
      res.summary("late_records") = gen.late
      res.summary("fk_rows") = want.size
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      client.close()
      broker.close()
    }
  }
}
