package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One replayed document row (top-level: Spark's codegen needs an
  * outer-free constructor for the product encoder). */
case class StreamBenchDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

/** One replayed image row (binary BMP bytes). */
case class StreamBenchImg(doc_id: Long, content: Array[Byte],
                          ets: java.sql.Timestamp)

/** One replayed embedding row. */
case class StreamBenchVec(vec_id: Long, embedding: Seq[Float],
                          ets: java.sql.Timestamp)

/** One keyed + timestamped row for window/join streams. */
case class StreamBenchKv(key: String, value: String, ts: java.sql.Timestamp)

/** Streaming throughput harness → the STREAMBENCH artifact.
  *
  * Replays the sf tables through thirteen representative streaming
  * operators (stateless percolation through chained-stateful FK joins)
  * and writes one JSON artifact — the streaming counterpart of
  * `graft.Bench`, wired into the per-round freeze protocol as
  * `STREAMBENCH_r{N}.json`. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *   SPARK_GRAFT_STREAM_OUT=STREAMBENCH_r16.json \
  *   sbt "Test/runMain graft.StreamBench"
  *
  * Method: MemoryStream input (the spec harness), chunked adds, wall
  * time from first add to last processAllAvailable.
  *
  * THE CHUNK-SIZE DECADE (the SCALE.md discipline applied to
  * micro-batches): a single rows/s number conflates per-micro-batch
  * fixed cost (state-store commits, sink swaps, planning) with per-row
  * cost (the actual operator work). Each stream therefore runs at
  * three micro-batch granularities — rows/20, rows/5, and
  * all-rows-in-one-batch — and the artifact carries the least-squares
  * fit of `sec_min = fixed_sec_per_batch · batches + per_row_us · rows`
  * per stream (r² included; the batch-count spread is 20/5/1 so the
  * two costs separate cleanly). A stream whose throughput is
  * fixed-cost-bound at the headline chunk is visible as such, and the
  * per-row term is the number that scales to a real cluster's
  * seconds-long triggers.
  *
  * Headline metrics (rows/s, norms, `norm_ratio_vs_prev`) come from
  * the same absolute chunk as the previous round (default 2000,
  * capped at the stream's row count — identical batch shapes r15/r16),
  * repeated `SPARK_GRAFT_BENCH_REPEAT` (default 3) times with fresh
  * state/checkpoints; non-headline decade points repeat one fewer.
  * The artifact carries min and p50 seconds, suite-median-normalized
  * ratios, and `norm_ratio_vs_prev` (min- AND p50-based) against the
  * previous round's artifact. `SPARK_GRAFT_STREAM_ONLY=a,b` filters
  * streams for iteration. */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val primaryChunk =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNK", "2000").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT",
      "target/streambench.json")
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    val decadeRepeat = sys.env.get("SPARK_GRAFT_STREAM_DECADE_REPEAT")
      .flatMap(_.trim.toIntOption).getOrElse(math.max(1, repeat - 1))
    val only = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_STREAM_SHUFFLE overrides the state-partition count
    // (streaming state partitioning = shuffle partitions at first run).
    // DEFAULT (round 17): derived from the trigger volume per the
    // SCALE.md knob study — small micro-batches pay a per-PARTITION
    // commit fee per state store, so partitions are sized to ~250 rows
    // each at the headline chunk (2000 → 8 partitions), floored at 4
    // and capped at the core count. Rounds ≤ 16 ran a fixed 32; the
    // artifact records `state_partitions` so the shift is explicit.
    val shuffle = sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE")
      .flatMap(_.trim.toIntOption)
      .getOrElse(math.max(4, math.min(GraftSession.cores, primaryChunk / 250)))
    val spark = GraftSession.builder(s"local[${GraftSession.cores}]", shuffle).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sql = spark.sqlContext

    def stateRows(q: StreamingQuery): Long = {
      val p = q.lastProgress
      if (p == null || p.stateOperators == null) -1L
      else p.stateOperators.map(_.numRowsTotal).sum
    }

    final case class ChunkRes(chunk: Int, batches: Long, secs: List[Double])
    // `rows` = total rows processed (headline throughput); `fitRows` =
    // the CHUNKED side only — a two-input stream's dim side is fed once
    // and does not vary with the decade, so the per-row fit term must
    // divide by the rows that actually scale with it
    final case class Res(rows: Long, fitRows: Long, headline: ChunkRes,
                         decade: List[ChunkRes], stateRows: Long)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Res]

    /** rows/20, rows/5, rows — the 20/5/1-batch decade — plus the
      * prev-round-comparable absolute headline chunk. */
    def chunksFor(rows: Int): (Int, Seq[Int]) = {
      val headline = math.min(primaryChunk, rows)
      val decade = Seq(
        math.max(1, (rows + 19) / 20), math.max(1, (rows + 4) / 5), rows)
      (headline, (decade :+ headline).distinct.sorted)
    }

    /** One (stream, chunk) measurement: `reps` fresh-state runs. The
      * optional dim side is fed in full with the first micro-batch. */
    def measure[T, D](rows: Seq[T], dim: Seq[D], chunk: Int, reps: Int)
                     (start: (MemoryStream[T], MemoryStream[D]) => StreamingQuery)
                     (implicit e1: org.apache.spark.sql.Encoder[T],
                      e2: org.apache.spark.sql.Encoder[D]): (List[Double], Long) = {
      var secs = List.empty[Double]
      var st = -1L
      for (_ <- 1 to reps) {
        val in = MemoryStream[T]
        val dm = MemoryStream[D]
        val q = start(in, dm)
        val t0 = System.nanoTime()
        var first = true
        rows.grouped(chunk).foreach { b =>
          if (first && dim.nonEmpty) dm.addData(dim)
          first = false
          in.addData(b); q.processAllAvailable()
        }
        secs ::= (System.nanoTime() - t0) / 1e9
        st = stateRows(q)
        q.stop()
      }
      (secs, st)
    }

    def runWithDim[T, D](name: String, rows: Seq[T], dim: Seq[D])
              (start: (MemoryStream[T], MemoryStream[D]) => StreamingQuery)
              (implicit e1: org.apache.spark.sql.Encoder[T],
               e2: org.apache.spark.sql.Encoder[D]): Unit = {
      if (only.exists(!_.contains(name))) return
      val total = rows.size + dim.size
      val (headlineChunk, chunks) = chunksFor(rows.size)
      var headline: ChunkRes = null
      var st = -1L
      val decade = chunks.map { c =>
        val reps = if (c == headlineChunk) repeat else decadeRepeat
        val (secs, s) = measure(rows, dim, c, reps)(start)
        val cr = ChunkRes(c, (rows.size + c - 1) / c, secs)
        if (c == headlineChunk) { headline = cr; st = s }
        System.err.println(f"[streambench] $name%-20s chunk=$c%-6d " +
          f"batches=${cr.batches}%-3d min=${secs.min}%.3fs " +
          f"rows/s=${(total / secs.min).toLong} reps=$reps")
        cr
      }.toList
      results(name) = Res(total.toLong, rows.size.toLong, headline, decade, st)
    }

    def run[T](name: String, rows: Seq[T])
              (start: MemoryStream[T] => StreamingQuery)
              (implicit enc: org.apache.spark.sql.Encoder[T]): Unit =
      runWithDim[T, String](name, rows, Seq.empty)((in, _) => start(in))

    // shared input: the events table, ordered by time (arrival ~ event
    // order, the realistic replay), collected once
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_sec"),
        col("event_type"), col("value"), col("props"))
      .orderBy("ts_sec", "event_id")
      .collect()
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id").collect()

    // ---- default (HDFS-backed) state-store streams ----------------------

    // 1. daily-cell maintainer: update-mode agg + absolute-value upsert
    run[(String, Long, Long)]("daily_cells",
      ev.toSeq.map(r => (r.getString(3), r.getLong(2),
        math.round(r.getDouble(4) * 1000)))) { in =>
      val dir = Files.createTempDirectory("sb_cells").toString
      streaming.StreamDailyCells.start(
        in.toDS().toDF("g", "ts_sec", "milli"),
        dir + "/table", dir + "/ckpt")
    }

    // 2. exact dedup at ingest: fingerprint + dropDuplicatesWithinWatermark
    //    (props as the document text: realistic near-unique payloads)
    run[StreamBenchDoc]("dedup_fingerprint",
      ev.toSeq.map(r => StreamBenchDoc(r.getLong(0), r.getString(5),
        new java.sql.Timestamp(r.getLong(2) * 1000)))) { in =>
      streaming.StreamDedup
        .firstPerFingerprint(in.toDS().toDF(), "text", "ts", "1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_dedup").toString)
        .outputMode("append").start()
    }

    // 3. tumbling-window count per event type (W1): the canonical
    //    watermarked windowed aggregation, update-mode emission
    run[(String, java.sql.Timestamp)]("tumbling_window",
      ev.toSeq.map(r => (r.getString(3),
        new java.sql.Timestamp(r.getLong(2) * 1000)))) { in =>
      streaming.WindowedStreams
        .tumblingCounts(in.toDS().toDF("k", "tss"), "tss", "1 hour",
          "0 seconds", col("k"))
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_tumble").toString)
        .outputMode("update").start()
    }

    // 4. session windows per user (W3): merging session state, the
    //    heaviest built-in window kind
    run[(Long, java.sql.Timestamp)]("session_window",
      ev.toSeq.map(r => (r.getLong(1),
        new java.sql.Timestamp(r.getLong(2) * 1000)))) { in =>
      streaming.WindowedStreams
        .sessionCounts(in.toDS().toDF("u", "tss"), "tss", "30 minutes",
          "1 hour", col("u"))
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_sess").toString)
        .outputMode("append").start()
    }

    // 5. stream-stream band join (J1): symmetric hash join, both sides
    //    buffered under the watermark — the events stream self-joined
    //    on user within ±5 minutes
    runWithDim[StreamBenchKv, StreamBenchKv]("band_join",
      ev.toSeq.map(r => StreamBenchKv(r.getLong(1).toString,
        r.getString(3), new java.sql.Timestamp(r.getLong(2) * 1000))),
      ev.toSeq.map(r => StreamBenchKv(r.getLong(1).toString,
        r.getLong(0).toString,
        new java.sql.Timestamp(r.getLong(2) * 1000)))) { (l, r) =>
      streaming.StreamJoins
        .bandJoin(l.toDS().toDF(), r.toDS().toDF(), 300L, "1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_band").toString)
        .outputMode("append").start()
    }

    // 6. KTable FK join (J6): the chained two-state-hop operator —
    //    events (fk = user) against a user dimension changelog
    runWithDim[streaming.Rec, streaming.Rec]("fk_join",
      ev.toSeq.zipWithIndex.map { case (r, i) =>
        streaming.Rec(r.getLong(0).toString, r.getLong(1).toString,
          r.getLong(2) * 1000, i + 1L) },
      ev.map(_.getLong(1)).distinct.sorted.zipWithIndex.map { case (u, i) =>
        streaming.Rec(u.toString, "user" + u, 0L, 1000000L + i) }.toSeq) {
      (l, r) =>
      streaming.FkJoinStream.join(l.toDS(), r.toDS(), v => v, "inner")
        .toDF()
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_fk").toString)
        .outputMode("append").start()
    }

    // 7. KTable changelog (S2): per-key latest-value state emitting
    //    (new, old) change pairs — the table-duality primitive
    run[streaming.Rec]("ktable_changes",
      ev.toSeq.zipWithIndex.map { case (r, i) =>
        streaming.Rec(r.getLong(1).toString,
          math.round(r.getDouble(4) * 100).toString,
          r.getLong(2) * 1000, i + 1L) }) { in =>
      streaming.KTableStream.changes(in.toDS()).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_ktab").toString)
        .outputMode("append").start()
    }

    // 8. stateless percolation baseline: standing-query containment
    //    over the document stream — zero state rows by design, so its
    //    fixed cost is pure planning/sink overhead (the floor every
    //    stateful stream's fixed cost should be read against)
    run[streaming.Rec]("percolate",
      docRows.toSeq.zipWithIndex.map { case (r, i) =>
        streaming.Rec(r.getLong(0).toString, r.getString(1),
          1700000000000L + i, i + 1L) }) { in =>
      streaming.StreamPercolate.alerts(in.toDS(),
        Seq(("q1", Seq("data", "model")), ("q2", Seq("training")),
          ("q3", Seq("quality", "source")))).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_perc").toString)
        .outputMode("append").start()
    }

    // ---- transformWithState streams (RocksDB provider: column
    // families; scoped here — the agg streams above run the default
    // HDFS store, and a global RocksDB setting makes them fight over
    // instance locks under processAllAvailable) ------------------------
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (sys.env.get("SPARK_GRAFT_ROCKSDB_CHANGELOG").contains("1"))
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

    // 9. transformWithState top-k: per-user totals + global leaderboard
    run[streaming.StreamTopK.UserEvent]("topk_leaderboard",
      ev.toSeq.map(r => streaming.StreamTopK.UserEvent(
        r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(4)))) { in =>
      streaming.StreamTopK.topK(in.toDS(), k = 10)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_topk").toString)
        .outputMode("append").start()
    }

    // 10. transformWithState arrival-order quota (the x133-gated op):
    //     per-source admission counters, state = one long per source
    run[streaming.StreamQuota.Arrival]("quota_admit",
      ev.toSeq.map(r => streaming.StreamQuota.Arrival(
        r.getString(3), r.getLong(0), r.getLong(2)))) { in =>
      streaming.StreamQuota.admit(in.toDS(), cap = 500)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_quota").toString)
        .outputMode("append").start()
    }

    // 11. incrementally-maintained view (the x134-gated op): KTable
    //     change feed folded into a swap-committed per-group aggregate
    //     (one parquet swap per micro-batch — the measured cost of the
    //     crash-safe materialization)
    run[streaming.Rec]("incr_view",
      ev.toSeq.zipWithIndex.map { case (r, i) =>
        streaming.Rec(r.getLong(1).toString,
          math.round(r.getDouble(4) * 100).toString, r.getLong(2), i + 1L)
      }) { in =>
      val dir = Files.createTempDirectory("sb_iview").toString
      streaming.IncrementalView.start(
        streaming.KTableStream.changes(in.toDS()),
        k => "g" + (k.toLong % 7), _.toLong,
        dir + "/table", dir + "/ckpt")
    }

    // 12. streaming image near-dup: map-side decode + pHash, banded
    //    bucket state (10,000 synthetic BMPs, m5 corpus shape: 5,000
    //    brightness-rescaled pairs — every row decodes a real image)
    run[StreamBenchImg]("image_neardup",
      (0L until 10000L).map { id =>
        val (amp, base) = if (id % 2 == 0) (4, 128) else (3, 140)
        StreamBenchImg(id,
          graft.multimodal.SyntheticMedia.bmpPatternBytes(id / 2, amp, base),
          new java.sql.Timestamp((1700000000L + id) * 1000))
      }) { in =>
      streaming.StreamImageNearDup
        .pairs(in.toDF(), "doc_id", "content", "ets", "1 hour", maxDist = 0)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_imgdup").toString)
        .outputMode("append").start()
    }

    // 13. streaming embedding near-dup: map-side SRP signature + banded
    //    bucket state with exact cosine verification (the sf embeddings
    //    table replayed; every row computes a 16-bit SRP over 64 dims)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
    run[StreamBenchVec]("embedding_neardup",
      emb.toSeq.zipWithIndex.map { case (r, i) =>
        StreamBenchVec(r.getLong(0), r.getSeq[Float](1),
          new java.sql.Timestamp((1700000000L + i) * 1000))
      }) { in =>
      streaming.StreamEmbeddingNearDup
        .pairs(in.toDF(), "vec_id", "embedding", "ets", "1 hour",
          threshold = 0.9)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("sb_vecdup").toString)
        .outputMode("append").start()
    }

    // ---- artifact (the Bench discipline: min + p50, suite-median norms,
    // cross-round ratios from the previous artifact, real JSON parse) ----
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    def p50of(xs: List[Double]): Double = {
      val s = xs.sorted; s((s.length - 1) / 2)
    }
    val mins = results.view.mapValues(_.headline.secs.min).toMap
    val p50s = results.view.mapValues(r => p50of(r.headline.secs)).toMap
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s((s.length - 1) / 2) }
    val medMin = median(mins.values.toSeq)
    val medP50 = median(p50s.values.toSeq)

    // per-stream NON-NEGATIVE least squares ([[StreamFit]], contract
    // pinned by StreamFitSpec): sec_min(chunk) = F·batches + W with
    // F, W ≥ 0 — F = fixed cost per micro-batch, W/rows = per-row
    // cost. The round-16 artifact published negative per-row costs
    // from the unconstrained fit; the NNLS projection and the residRel
    // column (honest where r² saturates) are the fix.
    final case class Fit(fixedSecPerBatch: Double, perRowUs: Double,
                         r2: Double, residRel: Double)
    val fits: Map[String, Option[Fit]] = results.map { case (name, r) =>
      val pts = r.decade.map(c => (c.batches.toDouble, c.secs.min))
      name -> StreamFit.fit(pts).map(f =>
        Fit(f.fixedSecPerBatch, f.perRowTotalSec / r.fitRows * 1e6,
          f.r2, f.residRel))
    }.toMap

    val outName = Paths.get(outPath).getFileName.toString
    val prevPath = sys.env.get("SPARK_GRAFT_STREAM_PREV").orElse {
      val rx = "STREAMBENCH_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).toSeq.flatten
        .filter(_.getName != outName)
        .flatMap(f => f.getName match {
          case rx(n) => Some((n.toInt, f.getPath)); case _ => None })
        .sortBy(-_._1).headOption.map(_._2)
    }
    val prevTree = prevPath.flatMap { path =>
      try Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)))
      catch { case _: Throwable => None }
    }
    def prevMap(field: String): Map[String, Double] = prevTree.flatMap { t =>
      Option(t.get(field)).filter(_.isObject).map { node =>
        val it = node.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += (e.getKey -> e.getValue.asDouble())
        }
        b.result()
      }
    }.getOrElse(Map.empty)
    val prevNorm = prevMap("norm")
    val prevNormP50 = prevMap("norm_p50")

    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\]", " ") + "\""
    def obj(f: String => Option[Double]): String =
      results.keys.map(k => jstr(k) + ":" +
        f(k).map(v => r4(v).toString).getOrElse("null"))
        .mkString("{", ",", "}")
    val streamsJson = results.map { case (k, r) =>
      jstr(k) + s""":{"rows":${r.rows},"sec_min":${r4(r.headline.secs.min)},""" +
        s""""sec_p50":${r4(p50of(r.headline.secs))},""" +
        s""""rows_per_sec":${(r.rows / r.headline.secs.min).toLong},""" +
        s""""chunk":${r.headline.chunk},""" +
        s""""micro_batches":${r.headline.batches},"state_rows":${r.stateRows}}"""
    }.mkString("{", ",", "}")
    val decadeJson = results.map { case (k, r) =>
      jstr(k) + ":" + r.decade.map { c =>
        s"""{"chunk":${c.chunk},"batches":${c.batches},""" +
          s""""sec_min":${r4(c.secs.min)},"sec_p50":${r4(p50of(c.secs))},""" +
          s""""rows_per_sec":${(r.rows / c.secs.min).toLong}}"""
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fitJson = results.keys.map { k =>
      jstr(k) + ":" + fits(k).map(f =>
        s"""{"fixed_sec_per_batch":${r4(f.fixedSecPerBatch)},""" +
          s""""per_row_us":${r4(f.perRowUs)},"r2":${r4(f.r2)},""" +
          s""""resid_rel":${r4(f.residRel)}}""")
        .getOrElse("null")
    }.mkString("{", ",", "}")
    val norms = obj(k => if (medMin > 0) Some(mins(k) / medMin) else None)
    val normsP50 = obj(k => if (medP50 > 0) Some(p50s(k) / medP50) else None)
    val vsPrev = obj(k => for {
      c <- if (medMin > 0) Some(mins(k) / medMin) else None
      p <- prevNorm.get(k) if p > 0
    } yield c / p)
    val vsPrevP50 = obj(k => for {
      c <- if (medP50 > 0) Some(p50s(k) / medP50) else None
      p <- prevNormP50.get(k) if p > 0
    } yield c / p)
    val prevField = prevPath.filter(_ => prevNorm.nonEmpty || prevNormP50.nonEmpty)
      .map(jstr).getOrElse("null")
    val total = r4(mins.values.sum)
    val json =
      s"""{"metric":"stream_total","value":$total,"unit":"sec","repeat":$repeat,""" +
      s""""chunk":$primaryChunk,"state_partitions":$shuffle,""" +
      s""""suite_median_sec":${r4(medMin)},""" +
      s""""suite_median_p50_sec":${r4(medP50)},"prev_detail":$prevField,""" +
      s""""streams":$streamsJson,"decade":$decadeJson,"fit":$fitJson,""" +
      s""""norm":$norms,"norm_p50":$normsP50,""" +
      s""""norm_ratio_vs_prev":$vsPrev,"norm_ratio_vs_prev_p50":$vsPrevP50,""" +
      s""""sf":"$sfDir"}"""
    val p = Paths.get(outPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, (json + "\n").getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
