package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kafka.{MiniBroker, MiniKafkaClient}
import graft.kafka.Wire.WireRecord
import graft.state.{StateHttpServer, StateQueries}
import graft.streaming.{KafkaEdges, WindowedStreams}

/** `state_lookups`: serving reads from a windowed-count checkpoint built in
  * set-up, through two routed `StateHttpServer`s that each register their
  * own key slice. A closed loop of client threads issues a seeded mix of
  * point, windowed and range GETs; nothing writes state while timed. */
object StateLookups {

  val Keys = 1000
  val Windows = 10
  val WindowS = 10L
  val BaseS = 1700000000L
  val SourcePartitions = 4
  val Clients = 2
  /** One round of the timed mix: 40% point, 40% windowed, 20% range, in a
    * seeded order. A run issues whole rounds, so every run asks the same
    * mix. */
  val Round: Seq[String] = Seq.fill(4)("point") ++ Seq.fill(4)("windowed") ++ Seq.fill(2)("range")
  /** Untimed rounds of the mix between the cold round and the timed ones. */
  val WarmupRounds = 2
  /** A run times at least this many rounds, so that a run on a busy host
    * times as many lookups as one on a quiet host. */
  val MinRounds = 5
  /** The cold round: the first lookups of each kind after set-up. */
  val ColdRound: Seq[String] = Seq("point", "windowed", "range", "point", "windowed", "range")
  /** Keys per range lookup. */
  val RangeWidth = 20
  val SmallKeys = 100

  def key(i: Int) = f"k$i%05d"

  /** One lookup as the client sees it. `instance` is the server asked (for
    * a range, both are asked). */
  final case class Lookup(kind: String, path: String, instance: Int)
  final case class Done(l: Lookup, ms: Double, bodies: Seq[(Int, Int, String)])

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val keys = if (a.small) SmallKeys else Keys
    val r = new SplittableRandom(a.seed)
    // expected state: count per (key, window start s), 1..5 records each
    val expected = (for (k <- 0 until keys; w <- 0 until Windows)
      yield (key(k), BaseS + w * WindowS) -> (1 + r.nextInt(5)).toLong).toMap

    val ckpt = Paths.get(a.work, "ckpt-counts").toString
    buildState(spark, expected, ckpt)

    val servers = Seq(new StateHttpServer(spark), new StateHttpServer(spark))
    try {
      val ports = servers.map(_.start())
      val ring = ports.map(p => ("127.0.0.1", p))
      servers.zipWithIndex.foreach { case (s, i) =>
        s.enableRouting(ring, i, numPartitions = SourcePartitions, assignment = _ % 2)
      }
      val owner = expected.keySet.map(_._1).map(k => k -> servers.head.ownerOf(k)).toMap
      servers.zipWithIndex.foreach { case (s, i) =>
        val slice = owner.collect { case (k, o) if o == i => k }.toSeq.sorted
        s.registerView("counts", () => view(spark, ckpt).filter(col("key").isin(slice: _*)),
          "key", Some("window_start"))
      }

      // the seeded plan: whole rounds, each kind's lookups in a seeded order
      def lookup(kind: String): Lookup = {
        val k = key(r.nextInt(keys))
        val inst = r.nextInt(2)
        if (kind == "point") Lookup("point", s"/state/keyvalue/counts/$k", inst)
        else if (kind == "windowed") {
          val from = BaseS + r.nextInt(Windows) * WindowS
          val to = from + r.nextInt(4) * WindowS
          Lookup("windowed", s"/state/windowed/counts/$k/$from/$to", inst)
        } else {
          val lo = r.nextInt(keys)
          val hi = math.min(keys - 1, lo + RangeWidth - 1)
          Lookup("range", s"/state/keyvalues/counts/range/${key(lo)}/${key(hi)}", -1)
        }
      }
      /** (HTTP status, body); status -1 when the request itself failed. */
      def get(inst: Int, path: String): (Int, String) = {
        val c = new URI(s"http://127.0.0.1:${ports(inst)}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setConnectTimeout(5000); c.setReadTimeout(60000)
        try {
          val code = c.getResponseCode
          val is = if (code >= 400) c.getErrorStream else c.getInputStream
          (code, if (is == null) "" else new String(is.readAllBytes(), StandardCharsets.UTF_8))
        } catch {
          case e: java.io.IOException => (-1, e.toString)
        } finally c.disconnect()
      }
      def issue(l: Lookup): Done = {
        val t0 = System.nanoTime()
        val bodies =
          if (l.kind == "range") Seq(0, 1).map { i => val (c, b) = get(i, l.path); (i, c, b) }
          else { val (c, b) = get(l.instance, l.path); Seq((l.instance, c, b)) }
        val t1 = System.nanoTime()
        Done(l, (t1 - t0) / 1e6, bodies)
      }

      def round(kinds: Seq[String]): Seq[Lookup] = {
        val ks = kinds.toArray
        for (i <- ks.indices.reverse) { val j = r.nextInt(i + 1); val t = ks(i); ks(i) = ks(j); ks(j) = t }
        ks.toSeq.map(lookup)
      }

      // the cold round, on one thread
      Machine.collect()
      res.markFirstOp()
      val coldT0 = System.nanoTime()
      val (warm, coldCpu) = Machine.cpu(round(ColdRound).map(issue))
      res.e2e("cold_cpu_s") = coldCpu
      res.summary("lookup_cold_s") = (System.nanoTime() - coldT0) / 1e9

      val clients = if (a.trace) 1 else Clients
      val plan = Iterator.continually(round(Round)).flatten
      /** Issues the plan's lookups on the client threads, each taking whole
        * lookups from the shared seeded plan, and stops at the first round
        * boundary where `more(lookups issued)` is false. */
      def drive(more: Long => Boolean): Seq[Done] = {
        val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
        val issued = new AtomicLong
        val threads = (0 until clients).map { _ =>
          new Thread(() => {
            var go = true
            while (go) {
              val l = plan.synchronized {
                val n = issued.get()
                if (n == 0 || n % Round.size != 0 || more(n)) {
                  issued.incrementAndGet(); Some(plan.next())
                } else None
              }
              l match {
                case Some(x) => done.add(issue(x))
                case None => go = false
              }
            }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        import scala.jdk.CollectionConverters._
        done.asScala.toSeq
      }

      // untimed warm-up: lookups keep getting faster through the first
      // rounds while the JIT compiles the read path
      val warmup = drive(_ < WarmupRounds * Round.size)
      Machine.collect()

      val trace = if (a.trace) Some(new Trace(spark).start()) else None
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val tStart = System.nanoTime()
      var ds = Seq.empty[Done]
      Machine.around(res, ds.size.toLong) {
        ds = drive(n => n < MinRounds * Round.size || System.nanoTime() < deadline)
      }
      val wall = (System.nanoTime() - tStart) / 1e9
      res.attempted += warm.size + warmup.size + ds.size
      val failedCodes = (warm ++ warmup ++ ds).count(_.bodies.exists(_._2 != 200))
      res.failed += failedCodes

      def p50(kind: String, keep: Done => Boolean = _ => true) =
        Stats.median(ds.filter(d => d.l.kind == kind && keep(d)).map(_.ms))
      res.summary("lookups_per_s") = ds.size / wall
      res.summary("lookup_p50_ms") = Stats.median(ds.map(_.ms))
      res.summary("lookup_point_p50_ms") = p50("point")
      res.summary("lookup_windowed_p50_ms") = p50("windowed")
      res.summary("lookup_range_p50_ms") = p50("range")
      res.summary("lookup_point_p90_ms") = Stats.quantile(ds.filter(_.l.kind == "point").map(_.ms), 0.9)
      res.summary("timed_lookups") = ds.size

      trace.foreach { t =>
        val local = (d: Done) => owner(keyOf(d.l.path)) == d.l.instance
        res.layers("state.point_local_p50_ms") = p50("point", local)
        res.layers("state.point_forwarded_p50_ms") = p50("point", d => !local(d))
        val c = t.snapshot().withDefaultValue(0L)
        t.stop()
        val returned = ds.map(d => d.bodies.map(b => countRows(b._3)).sum).sum
        res.layers("state.jobs_per_lookup") = c("jobs").toDouble / ds.size
        res.layers("state.tasks_per_lookup") = c("tasks").toDouble / ds.size
        res.layers("state.rows_scanned_per_row_returned") = c("input_records").toDouble / math.max(1, returned)
        directReads(spark, ckpt, r, keys, res)
      }

      // checks, after timing: bodies against the generator's state
      checkBodies(warm ++ warmup ++ ds, expected, owner, a.breakCheck, res)
      // the same key asked of either instance returns the same body
      val sameKey = (0 until 3).map(_ => key(r.nextInt(keys))).distinct
      val mismatched = sameKey.filter { k =>
        val p = s"/state/keyvalue/counts/$k"
        get(0, p) != get(1, p)
      }
      res.check("lookups: either instance returns the same body for a key", mismatched.isEmpty,
        s"differ for ${mismatched.mkString(",")}")
    } finally servers.foreach(_.stop())
  }

  private def keyOf(path: String): String = path.split("/")(4)

  /** The served view: one row per (key, window) with the window start in
    * epoch seconds. */
  def view(spark: SparkSession, ckpt: String): DataFrame =
    StateQueries.flattened(spark, ckpt).select(col("key_key").as("key"),
      col("key_window.start").cast("long").as("window_start"), col("value_count").as("count"))

  /** Write the expected counts through the Kafka wire into a windowed-count
    * query (no eviction: the grace exceeds the data's span) and stop it,
    * leaving its checkpoint as the served state. */
  private def buildState(spark: SparkSession, expected: Map[(String, Long), Long], ckpt: String): Unit = {
    val broker = new MiniBroker(numPartitions = SourcePartitions)
    val client = new MiniKafkaClient("localhost", broker.port)
    try {
      val recs = expected.toSeq.sorted.flatMap { case ((k, w), n) =>
        Seq.fill(n.toInt)((k, w * 1000 + 1))
      }
      val n = client.partitionsFor("counts-in")
      recs.groupBy { case (k, _) => graft.kafka.Wire.partitionFor(k.getBytes(StandardCharsets.UTF_8), n) }
        .foreach { case (p, rs) =>
          client.produce("counts-in", p, rs.map { case (k, ts) =>
            WireRecord(0L, ts, k.getBytes(StandardCharsets.UTF_8), "1".getBytes(StandardCharsets.UTF_8)) })
        }
      val src = KafkaEdges.source(spark, broker.bootstrapServers, "counts-in", format = "graft-kafka")
      val counts = WindowedStreams.tumblingCounts(
        src.toDF().withColumn("ets", timestamp_millis(col("ts"))),
        "ets", s"$WindowS seconds", "3650 days", col("key"))
      val q = counts.writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      client.close()
      broker.close()
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def countRows(body: String): Int =
    if (body.isEmpty) 0 else scala.util.Try(mapper.readTree(body).size).getOrElse(0)

  private def rows(body: String): Seq[(String, Long, Long, Option[String])] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(body).elements().asScala.map { n =>
      (n.get("key").asText, n.get("window_start").asLong, n.get("count").asLong,
        Option(n.get("rendered_key")).map(_.asText))
    }.toSeq
  }

  private def checkBodies(ds: Seq[Done], expected: Map[(String, Long), Long],
                          owner: Map[String, Int], breakCheck: Boolean, res: Result): Unit = {
    val byKey = expected.groupBy(_._1._1)
    var bad = List.empty[String]
    var planted = breakCheck
    ds.foreach { d =>
      val parts = d.l.path.split("/")
      val codes = d.bodies.map(_._2)
      if (codes.exists(_ != 200)) bad ::= s"${d.l.path}: HTTP ${codes.mkString(",")}"
      else {
        val got = d.bodies.flatMap(b => rows(b._3)).sorted
        var want: Seq[(String, Long, Long, Option[String])] = d.l.kind match {
          case "point" =>
            byKey.getOrElse(parts(4), Map.empty).toSeq.map { case ((k, w), c) => (k, w, c, None) }
          case "windowed" =>
            val (from, to) = (parts(5).toLong, parts(6).toLong)
            byKey.getOrElse(parts(4), Map.empty).toSeq.collect {
              case ((k, w), c) if w >= from && w <= to => (k, w, c, Some(s"$k@$w")) }
          case _ =>
            val (lo, hi) = (parts(5), parts(6))
            expected.toSeq.collect { case ((k, w), c) if k >= lo && k <= hi => (k, w, c, None) }
        }
        if (planted && want.nonEmpty) { want = want.tail; planted = false }
        if (got != want.sorted) bad ::= s"${d.l.path}: ${got.size} rows vs expected ${want.size}"
        // a scatter-gathered range holds exactly the range's keys, each from its owner
        if (d.l.kind == "range") {
          val misplaced = d.bodies.flatMap(b => rows(b._3).map(_._1).filter(k => owner(k) != b._1))
          if (misplaced.nonEmpty) bad ::= s"${d.l.path}: keys served by a non-owner ${misplaced.take(3)}"
        }
      }
    }
    res.check("lookups: every response body equals the generator's state", bad.isEmpty,
      s"${bad.size} bad, e.g. ${bad.take(5).mkString("; ")}")
  }

  /** The same reads collected in process through `StateQueries`, no HTTP:
    * medians over a few repetitions of each. */
  private def directReads(spark: SparkSession, ckpt: String, r: SplittableRandom,
                          keys: Int, res: Result): Unit = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val reps = 15
    res.layers("state.view_build_ms") = Stats.median((0 until reps).map(_ => time(view(spark, ckpt))))
    val v = view(spark, ckpt)
    def k() = key(r.nextInt(keys))
    res.layers("state.point_direct_ms") = Stats.median((0 until reps).map(_ =>
      time(StateQueries.point(v, col("key") === k()).collect())))
    res.layers("state.windowed_direct_ms") = Stats.median((0 until reps).map { _ =>
      val from = BaseS + r.nextInt(Windows) * WindowS
      time(StateQueries.windowedFetch(v, col("key"), col("window_start"), k(), from, from + 30).collect())
    })
    res.layers("state.range_direct_ms") = Stats.median((0 until reps).map { _ =>
      val lo = r.nextInt(keys)
      time(StateQueries.range(v, col("key"), key(lo), key(math.min(keys - 1, lo + RangeWidth - 1))).collect())
    })
  }
}
