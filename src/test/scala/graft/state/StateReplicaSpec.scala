package graft.state

import graft.SparkSpec
import graft.streaming.WindowedStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import scala.io.Source
import scala.jdk.CollectionConverters._

/** `StateHttpServer`'s per-commit replica: once built, lookups on an
  * unchanged checkpoint start no Spark job, a new commit and a checkpoint
  * rewritten at the same path show on the next request, views that cannot
  * be reused are re-read, concurrent requests build once, a replica is never replaced by an earlier commit's, a store
  * over the heap budget is paged by per-request reads, and every body and
  * paging header equals what the former in-Spark rendering (`to_json` →
  * `orderBy(key, json)` → `offset`/`limit + 1`, kept below as the oracle)
  * produced. */
class StateReplicaSpec extends SparkSpec {

  private val base = 1700000000L
  private def ts(off: Long) = new Timestamp((base + off) * 1000)
  case class Ev(key: String, ts: Timestamp)

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def get(port: Int, path: String): (Int, String, Map[String, String]) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is, "UTF-8").mkString
    val headers = Seq("X-Graft-Truncated", "X-Graft-Next-Offset")
      .flatMap(h => Option(conn.getHeaderField(h)).map(h -> _)).toMap
    conn.disconnect()
    (code, body, headers)
  }

  private def metrics(port: Int): Map[String, com.fasterxml.jackson.databind.JsonNode] = {
    val (c, b, _) = get(port, "/state/metrics")
    assert(c == 200, b)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(b).get("stores")
      .elements().asScala.map(n => n.get("store").asText -> n).toMap
  }

  /** A windowed-count checkpoint over `evs`, and its served view. */
  private def windowedCheckpoint(name: String, evs: Seq[Ev]): (String, () => DataFrame) = {
    val ckpt = Files.createTempDirectory(name).toString
    writeWindowed(ckpt, evs)
    (ckpt, () => windowView(ckpt))
  }

  /** Commits one batch of a windowed count over `evs` into `ckpt`. */
  private def writeWindowed(ckpt: String, evs: Seq[Ev]): Unit = {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Ev]
    val q = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour", col("key"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      in.addData(evs)
      q.processAllAvailable()
    } finally q.stop()
  }

  private def windowView(ckpt: String): DataFrame =
    StateQueries.flattened(spark, ckpt).select(col("key_key").as("key"),
      col("key_window.start").cast("long").as("win_start"), col("value_count").as("cnt"))

  // ------------------------------------------------------------------
  // The oracle: the rendering StateHttpServer used before replicas, one
  // sorted Spark plan per request.

  private case class Oracle(body: String, truncated: Boolean, nextOffset: Int)

  private def oracleRender(df: DataFrame, keyCol: String, limit: Int, offset: Int): Oracle = {
    val json = df
      .select(col(keyCol).cast("string").as("__k"),
        to_json(struct(df.columns.map(col): _*)).as("__j"))
      .orderBy("__k", "__j")
      .select("__j")
      .offset(offset)
      .limit(limit + 1)
    val it = json.toLocalIterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext && rows.length < limit) rows += it.next().getString(0)
    Oracle(rows.mkString("[", ",", "]"), it.hasNext, offset + rows.length)
  }

  private sealed trait Req { def path(store: String): String }
  private case class Point(key: String) extends Req {
    def path(store: String) = s"/state/keyvalue/$store/${enc(key)}"
  }
  private case object All extends Req {
    def path(store: String) = s"/state/keyvalues/$store/all"
  }
  private case class Range(from: String, to: String) extends Req {
    def path(store: String) = s"/state/keyvalues/$store/range/${enc(from)}/${enc(to)}"
  }
  private case class Windowed(key: String, from: Long, to: Long) extends Req {
    def path(store: String) = s"/state/windowed/$store/${enc(key)}/$from/$to"
  }

  private def oracle(view: DataFrame, keyCol: String, ws: String, req: Req,
                     limit: Int, offset: Int): Oracle = {
    val df = req match {
      case Point(k)    => StateQueries.point(view, col(keyCol).cast("string") === k)
      case All         => StateQueries.all(view)
      case Range(f, t) => StateQueries.range(view, col(keyCol).cast("string"), f, t)
      case Windowed(k, f, t) =>
        StateQueries.windowedFetch(view, col(keyCol), col(ws), k, f, t)
    }
    oracleRender(df, keyCol, limit, offset)
  }

  /** Every request with every page shape, served against the oracle:
    * body, truncation header and next offset. */
  private def assertParity(port: Int, store: String, view: DataFrame, keyCol: String,
                           ws: String, reqs: Seq[Req], maxRows: Int): Unit = {
    val pages = Seq(None, Some((1, 0)), Some((1, 1)), Some((2, 1)), Some((3, 2)),
      Some((2, 5)), Some((maxRows + 5, 0)), Some((1, 1000)))
    for (req <- reqs; pg <- pages) {
      val (limit, offset) = pg.getOrElse((maxRows, 0))
      val q = pg.fold("") { case (l, o) => s"?limit=$l&offset=$o" }
      val want = oracle(view, keyCol, ws, req, math.min(limit, maxRows), offset)
      val (c, body, h) = get(port, req.path(store) + q)
      val where = s"$req $q"
      assert(c == 200, s"$where: $body")
      assert(body == want.body, s"$where:\n got  $body\n want ${want.body}")
      assert(h.get("X-Graft-Truncated").contains("true") == want.truncated, s"$where: $h")
      assert(h.get("X-Graft-Next-Offset") == (if (want.truncated) Some(want.nextOffset.toString) else None),
        s"$where: $h")
    }
  }

  // Keys whose UTF-8 order differs from their UTF-16 order: U+FF5E
  // (EF BD 9E) sorts before U+1D11E (F0 9D 84 9E) in UTF-8 but after its
  // surrogate pair (D834 DD1E) in UTF-16.
  private val fullwidth = "～"
  private val clef = new String(Character.toChars(0x1D11E))
  private val keys = Seq("alpha", "a", "café", "cafe", fullwidth, clef, s"x$clef", "zed")

  private def requests(ks: Seq[String]): Seq[Req] =
    (ks :+ "missing").map(Point) ++ Seq(All) ++
      Seq(("a", "b"), ("", "￿"), ("cafe", fullwidth), (fullwidth, clef), (clef, "zzz"),
        ("b", "a"), ("alpha", "alpha")).map { case (f, t) => Range(f, t) } ++
      ks.flatMap(k => Seq(Windowed(k, base, base + 100), Windowed(k, base + 10, base + 10)))

  test("a version's first GET is read, the second builds the replica, later ones start no Spark job") {
    val (_, view) = windowedCheckpoint("graft_replica_jobs",
      Seq(Ev("hmida", ts(0)), Ev("hmida", ts(1)), Ev("lambda", ts(11)), Ev("hmida", ts(12))))
    val srv = new StateHttpServer(spark)
      .registerView("w", view, keyCol = "key", winStartCol = Some("win_start"))
    val port = srv.start()
    try {
      Seq(1, 2).foreach { i =>
        val jobs = jobsDuring(assert(get(port, "/state/keyvalue/w/hmida")._1 == 200))
        assert(jobs >= 1, s"lookup $i reads the store")
      }
      val m0 = metrics(port)("w")
      assert(m0.get("served_by_reread").asLong == 1 && m0.get("replica_builds").asLong == 1, m0)
      val paths = Seq("/state/keyvalue/w/hmida", "/state/keyvalue/w/lambda",
        "/state/keyvalues/w/all", "/state/keyvalues/w/range/a/z",
        s"/state/windowed/w/hmida/$base/${base + 20}")
      var bodies = Map.empty[String, String]
      val later = jobsDuring {
        (0 until 20).foreach { i =>
          val p = paths(i % paths.size)
          val (c, b, _) = get(port, p)
          assert(c == 200, b)
          assert(bodies.getOrElse(p, b) == b, s"$p changed between reads")
          bodies += p -> b
        }
      }
      assert(later == 0, s"$later Spark jobs for 20 lookups on an unchanged checkpoint")
      assert(bodies("/state/keyvalue/w/lambda") == s"""[{"key":"lambda","win_start":${base + 10},"cnt":1}]""")
      val m = metrics(port)("w")
      assert(m.get("replica_builds").asLong == 1 && m.get("served_from_replica").asLong == 21 &&
        m.get("served_by_reread").asLong == 1 && m.get("replica_rows").asLong == 3, m)
    } finally srv.stop()
  }

  test("a new committed batch shows on the very next GET") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_replica_fresh").toString
    val in = MemoryStream[Ev]
    val q = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour", col("key"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val srv = new StateHttpServer(s)
      .registerView("w", () => windowView(ckpt), keyCol = "key", winStartCol = Some("win_start"))
    val port = srv.start()
    try {
      in.addData(Ev("k", ts(0)))
      q.processAllAvailable()
      Seq(1, 2).foreach(_ =>
        assert(get(port, "/state/keyvalue/w/k")._2 == s"""[{"key":"k","win_start":$base,"cnt":1}]"""))
      val m1 = metrics(port)("w")
      assert(m1.get("replica_builds").asLong == 1 && m1.get("replica_rows").asLong == 1, m1)
      in.addData(Ev("k", ts(1)), Ev("j", ts(2)))
      q.processAllAvailable()
      // every GET after the commit sees it, whether read or served from a
      // replica; the new version is replicated once its reads have cost
      // as long as the last build
      var n = 0
      while (metrics(port)("w").get("replica_builds").asLong < 2) {
        assert(n < 50, metrics(port)("w"))
        assert(get(port, "/state/keyvalue/w/k")._2 == s"""[{"key":"k","win_start":$base,"cnt":2}]""")
        assert(get(port, "/state/keyvalue/w/j")._2 == s"""[{"key":"j","win_start":$base,"cnt":1}]""")
        n += 1
      }
      assert(get(port, "/state/keyvalue/w/k")._2 == s"""[{"key":"k","win_start":$base,"cnt":2}]""")
      val m = metrics(port)("w")
      assert(m.get("replica_rows").asLong == 2, m)
      assert(m1.get("state_batch_ids").size == 1 && m.get("state_batch_ids").size == 1 &&
        m.get("state_batch_ids").get(0).asLong > m1.get("state_batch_ids").get(0).asLong, m)
    } finally { srv.stop(); q.stop() }
  }

  test("a checkpoint deleted and rewritten at the same path and batch id shows on the next GET") {
    val (ckpt, view) = windowedCheckpoint("graft_replica_rewrite", Seq(Ev("a", ts(0))))
    val srv = new StateHttpServer(spark)
      .registerView("w", view, keyCol = "key", winStartCol = Some("win_start"))
    val port = srv.start()
    val all = "/state/keyvalues/w/all"
    try {
      (1 to 3).foreach(_ => assert(get(port, all)._2 == s"""[{"key":"a","win_start":$base,"cnt":1}]"""))
      val m1 = metrics(port)("w")
      assert(m1.get("replica_builds").asLong == 1 && m1.get("served_from_replica").asLong == 2, m1)
      deleteTree(java.nio.file.Paths.get(ckpt))
      writeWindowed(ckpt, Seq(Ev("z", ts(0)), Ev("z", ts(1))))
      val z = s"""[{"key":"z","win_start":$base,"cnt":2}]"""
      // read until the rewritten checkpoint's replica is built, then
      // served from it
      var n = 0
      while (metrics(port)("w").get("replica_builds").asLong < 2) {
        assert(n < 50, metrics(port)("w"))
        assert(get(port, all)._2 == z)
        n += 1
      }
      val served = metrics(port)("w").get("served_from_replica").asLong
      assert(get(port, all)._2 == z)
      val m = metrics(port)("w")
      assert(m.get("state_batch_ids") == m1.get("state_batch_ids"), "the rewrite ends at the same batch")
      assert(m.get("served_from_replica").asLong == served + 1, m)
    } finally srv.stop()
  }

  test("a view over a parquet table is re-read on every request") {
    val s = spark
    import s.implicits._
    val table = Files.createTempDirectory("graft_replica_parquet").toString + "/t"
    Seq(("a", 1L), ("b", 2L)).toDF("key", "cnt").write.parquet(table)
    val srv = new StateHttpServer(s).registerView("t", () => s.read.parquet(table), "key")
    val port = srv.start()
    try {
      Seq(1, 2).foreach { _ =>
        val jobs = jobsDuring(assert(get(port, "/state/keyvalue/t/a")._2 == """[{"key":"a","cnt":1}]"""))
        assert(jobs >= 1, "a parquet view is read for each request")
      }
      Seq(("a", 5L)).toDF("key", "cnt").write.mode("overwrite").parquet(table)
      assert(get(port, "/state/keyvalue/t/a")._2 == """[{"key":"a","cnt":5}]""")
      val m = metrics(port)("t")
      assert(m.get("served_by_reread").asLong == 3 && m.get("replica_builds").asLong == 0 &&
        m.get("replica_rows").asLong == 0 && m.get("state_batch_ids").size == 0, m)
    } finally srv.stop()
  }

  test("two concurrent GETs that find the replica due try one build, over the budget or not") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("key", "cnt")
    for (fits <- Seq(true, false)) {
      val both = new CyclicBarrier(2)
      @volatile var paired = false
      val srv = new StateHttpServer(s)
      if (!fits) srv.replicaBudget.limitBytes = 100
      srv.registerView("c", () => { if (paired) both.await(30, TimeUnit.SECONDS); df }, "key")
      val port = srv.start()
      try {
        // the version's first GET is read; it makes the next ones build
        assert(get(port, "/state/keyvalue/c/a")._2 == """[{"key":"a","cnt":1},{"key":"a","cnt":3}]""")
        paired = true
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        val callers = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(callers)
        val got = try Await.result(Future.sequence(Seq.fill(2)(Future(get(port, "/state/keyvalue/c/a")))),
          60.seconds) finally callers.shutdown()
        got.foreach(g => assert(g._1 == 200 && g._2 == """[{"key":"a","cnt":1},{"key":"a","cnt":3}]""", g))
        val m = metrics(port)("c")
        if (fits) assert(m.get("replica_builds").asLong == 1 && m.get("served_from_replica").asLong == 2 &&
          m.get("served_by_reread").asLong == 1, m)
        else assert(m.get("replica_builds").asLong == 0 && m.get("builds_over_budget").asLong == 1 &&
          m.get("served_by_reread").asLong == 3, m)
      } finally srv.stop()
    }
  }

  test("bodies and paging headers equal the former in-Spark rendering, replica and re-read alike") {
    val s = spark
    import s.implicits._
    // multi-row keys (counts 1 and 12 make one row's json a prefix of the
    // other's), a null key, and keys whose UTF-8 and UTF-16 orders differ
    val rows: Seq[(String, Option[Long], Long, String)] =
      keys.zipWithIndex.flatMap { case (k, i) =>
        val w = Some(base + 10L * (i % 3))
        Seq((k, w, 1L, "t"), (k, w, 12L, "t"), (k, Some(base + 10), i.toLong, s"u$i"))
      } ++ Seq((null, Some(base), 7L, "null-key"), ("zed", None, 4L, "no-window"))
    val local = rows.toDF("key", "win_start", "cnt", "tag")
    val table = Files.createTempDirectory("graft_replica_parity").toString + "/t"
    local.write.parquet(table)
    val maxRows = 4
    val srv = new StateHttpServer(s, maxRows = maxRows)
      .registerView("local", () => local, "key", Some("win_start"))
      .registerView("parquet", () => s.read.parquet(table), "key", Some("win_start"))
    val port = srv.start()
    try {
      val reqs = requests(keys)
      assertParity(port, "local", local, "key", "win_start", reqs, maxRows)
      assertParity(port, "parquet", s.read.parquet(table), "key", "win_start", reqs, maxRows)
      val m = metrics(port)
      // the first request was read, every later one served from the replica
      assert(m("local").get("served_by_reread").asLong == 1 && m("local").get("replica_builds").asLong == 1, m)
      assert(m("parquet").get("served_from_replica").asLong == 0, m)
      // the null key is listed, first, by `all`
      assert(get(port, "/state/keyvalues/local/all?limit=1")._2.contains("null-key"))
    } finally srv.stop()
  }

  test("bodies over a windowed state checkpoint equal the former rendering") {
    val evs = keys.zipWithIndex.flatMap { case (k, i) =>
      Seq.tabulate(1 + i % 3)(j => Ev(k, ts(j * 10L + i))) :+ Ev(k, ts(1))
    } ++ Seq(Ev(null, ts(3)), Ev(null, ts(4)))
    val (_, view) = windowedCheckpoint("graft_replica_parity_state", evs)
    val maxRows = 3
    val srv = new StateHttpServer(spark, maxRows = maxRows)
      .registerView("w", view, keyCol = "key", winStartCol = Some("win_start"))
    val port = srv.start()
    try assertParity(port, "w", view(), "key", "win_start", requests(keys), maxRows)
    finally srv.stop()
  }

  test("windowed fetch on an integer-keyed view matches the key as a string") {
    val s = spark
    import s.implicits._
    val view = Seq((5, base, 3L), (5, base + 10, 1L), (50, base, 2L)).toDF("id", "win", "cnt")
    val table = Files.createTempDirectory("graft_replica_int").toString + "/t"
    view.write.parquet(table)
    val srv = new StateHttpServer(s).registerView("i", () => view, "id", Some("win"))
      .registerView("p", () => s.read.parquet(table), "id", Some("win"))
    val port = srv.start()
    try {
      val w = Windowed("5", base, base + 10)
      val want = oracle(view, "id", "win", w, 100, 0)
      // read (the version's first request), then from the replica, then re-read
      Seq("i", "i", "p").foreach(st => assert(get(port, w.path(st))._2 == want.body, st))
      assert(want.body == s"""[{"id":5,"win":$base,"cnt":3,"rendered_key":"5@$base"},""" +
        s"""{"id":5,"win":${base + 10},"cnt":1,"rendered_key":"5@${base + 10}"}]""")
      // the former typed comparison (`id = '05'`) coerced the key to a
      // number and matched id 5; the replica compares `cast(id as string)`
      // with the key, as the point lookup always has, so "05" matches
      // nothing on either endpoint, from a replica or re-read
      assert(oracle(view, "id", "win", Windowed("05", base, base + 10), 100, 0).body == want.body)
      Seq("i", "p").foreach { st =>
        assert(get(port, Windowed("05", base, base + 10).path(st)) == ((200, "[]", Map.empty)), st)
        assert(get(port, Point("05").path(st)) == ((200, "[]", Map.empty)), st)
      }
      val m = metrics(port)
      assert(m("i").get("served_from_replica").asLong == 3 && m("p").get("served_from_replica").asLong == 0, m)
    } finally srv.stop()
  }

  test("GET /state/metrics reports each store's served batches, replica and request counts") {
    val (_, view) = windowedCheckpoint("graft_replica_metrics", Seq(Ev("a", ts(0)), Ev("b", ts(11))))
    val s = spark
    import s.implicits._
    val srv = new StateHttpServer(s)
      .registerView("w", view, "key", Some("win_start"))
      .registerView("typed", () => view().as[(String, Long, Long)].filter(_._3 > 0)
        .toDF("key", "win_start", "cnt"), "key")
    val port = srv.start()
    try {
      val (c0, b0, _) = get(port, "/state/metrics")
      // the session's memo counts what earlier tests read too
      val memo = CommitMemo.of(s)
      assert(c0 == 200 && b0 ==
        """{"stores":[{"store":"typed","state_batch_ids":[],"replica_rows":0,"replica_builds":0,""" +
        """"builds_over_budget":0,"last_build_ms":0.0,"served_from_replica":0,"served_by_reread":0,""" +
        """"view_eval_ms":0.0},""" +
        """{"store":"w","state_batch_ids":[],"replica_rows":0,"replica_builds":0,""" +
        """"builds_over_budget":0,"last_build_ms":0.0,"served_from_replica":0,"served_by_reread":0,""" +
        s""""view_eval_ms":0.0}],"state_source_resolves":${memo.resolves.get},""" +
        s""""state_source_reuses":${memo.reuses.get}}""", b0)
      val (resolves0, reuses0) = (memo.resolves.get, memo.reuses.get)
      Seq("a", "b", "a").foreach(k => assert(get(port, s"/state/keyvalue/w/$k")._1 == 200))
      assert(get(port, "/state/keyvalue/typed/a")._2.contains(""""key":"a""""))
      val (_, body, _) = get(port, "/state/metrics")
      val top = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(top.fieldNames().asScala.toSeq == Seq("stores", "state_source_resolves", "state_source_reuses"))
      // four view calls over one new, unchanged checkpoint: one resolution
      assert(top.get("state_source_resolves").asLong - resolves0 == 1 &&
        top.get("state_source_reuses").asLong - reuses0 == 3, body)
      val m = metrics(port)
      val w = m("w")
      assert(w.fieldNames().asScala.toSeq == Seq("store", "state_batch_ids", "replica_rows",
        "replica_builds", "builds_over_budget", "last_build_ms", "served_from_replica", "served_by_reread",
        "view_eval_ms"))
      assert(w.get("view_eval_ms").asDouble > 0 && m("typed").get("view_eval_ms").asDouble > 0, m)
      assert(w.get("state_batch_ids").isArray && w.get("state_batch_ids").size == 1 &&
        w.get("state_batch_ids").get(0).asLong >= 0, w)
      assert(w.get("replica_rows").asLong == 2 && w.get("replica_builds").asLong == 1 &&
        w.get("builds_over_budget").asLong == 0 && w.get("last_build_ms").asDouble > 0 &&
        w.get("served_from_replica").asLong == 2 && w.get("served_by_reread").asLong == 1, w)
      // a typed lambda over state is re-read, and still names the batch it read
      val t = m("typed")
      assert(t.get("served_by_reread").asLong == 1 && t.get("replica_builds").asLong == 0 &&
        t.get("state_batch_ids") == w.get("state_batch_ids"), t)
    } finally srv.stop()
  }

  test("a store over the replica heap budget is paged by per-request reads, as before replicas") {
    val s = spark
    import s.implicits._
    val rows = (0 until 40).map(i => (f"k${i % 13}%02d", base + 10L * (i % 4), i.toLong))
    val view = rows.toDF("key", "win_start", "cnt")
    val maxRows = 5
    val srv = new StateHttpServer(s, maxRows = maxRows)
    // a few rows' worth: the view's 40 rows cannot all be held
    srv.replicaBudget.limitBytes = 3000
    srv.registerView("big", () => view, "key", Some("win_start"))
    val port = srv.start()
    try {
      assertParity(port, "big", view, "key", "win_start",
        Seq(All, Point("k03"), Range("k02", "k05"), Windowed("k01", base, base + 20)), maxRows)
      val m = metrics(port)("big")
      // one build was tried, once the first reads had been paid for; it
      // stopped at the budget, and the unchanged version was not tried again
      assert(m.get("replica_builds").asLong == 0 && m.get("builds_over_budget").asLong == 1 &&
        m.get("replica_rows").asLong == 0 && m.get("served_from_replica").asLong == 0, m)
      assert(srv.replicaBudget.heldBytes == 0, "a dropped build holds no budget")
      // a budget that fits takes the next version's replica
      srv.replicaBudget.limitBytes = 1L << 30
      val next = view.filter(col("cnt") >= 0)
      srv.registerView("big", () => next, "key", Some("win_start"))
      Seq(1, 2).foreach(_ => assert(get(port, All.path("big"))._1 == 200))
      assert(metrics(port)("big").get("replica_rows").asLong == 40)
      assert(srv.replicaBudget.heldBytes > 40 * 56)
    } finally srv.stop()
    assert(srv.replicaBudget.heldBytes == 0, "stop() releases every replica")
  }

  test("a view that reads the clock is not reusable") {
    val (_, view) = windowedCheckpoint("graft_replica_clock", Seq(Ev("a", ts(0))))
    def id(df: DataFrame) = StateReplica.versionOf(df).identity
    assert(id(view()).isDefined && id(view()) == id(view()))
    Seq(unix_timestamp(current_timestamp()), unix_timestamp(now()), unix_timestamp(current_date()),
      unix_timestamp(localtimestamp()), unix_timestamp())
      .foreach { clock =>
        val v = view().filter(col("win_start") > clock - 3600)
        assert(id(v).isEmpty, s"$clock")
        assert(StateReplica.versionOf(v).stateTables.size == 1)
      }
  }

  test("a request that resolved an earlier commit never replaces a later commit's replica") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_replica_order").toString
    val in = MemoryStream[Ev]
    val q = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour", col("key"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val (earlier, later) = try {
      in.addData(Ev("k", ts(0))); q.processAllAvailable()
      val b1 = q.lastProgress.batchId
      in.addData(Ev("k", ts(1))); q.processAllAvailable()
      (b1, q.lastProgress.batchId)
    } finally q.stop()
    // the view resolves the batch `at` names, standing for a request that
    // evaluated it before the later commit was read
    @volatile var at = later
    def atBatch() = s.read.format("statestore").option("batchId", at).load(ckpt)
      .select(col("key.key").as("key"), col("value.count").as("cnt"))
    val srv = new StateHttpServer(s).registerView("o", () => atBatch(), "key")
    val port = srv.start()
    try {
      Seq(1, 2).foreach(_ => assert(get(port, "/state/keyvalue/o/k")._2 == """[{"key":"k","cnt":2}]"""))
      assert(metrics(port)("o").get("replica_builds").asLong == 1)
      at = earlier
      (1 to 6).foreach(_ => assert(get(port, "/state/keyvalue/o/k")._2 == """[{"key":"k","cnt":1}]"""))
      val m = metrics(port)("o")
      assert(m.get("replica_builds").asLong == 1 && m.get("served_by_reread").asLong == 7, m)
      at = later
      val jobs = jobsDuring(assert(get(port, "/state/keyvalue/o/k")._2 == """[{"key":"k","cnt":2}]"""))
      assert(jobs == 0, "the later commit's replica is still held")
    } finally srv.stop()
  }

  test("the version order compares each state table's batch") {
    def t(ckpt: String, op: Int, batch: Long) =
      s"StateTable [stateCkptLocation=$ckpt/state][batchId=$batch][operatorId=$op][storeName=default]"
    assert(StateReplica.later(Seq(t("/c", 0, 2)), Seq(t("/c", 0, 1))))
    assert(!StateReplica.later(Seq(t("/c", 0, 1)), Seq(t("/c", 0, 2))))
    assert(!StateReplica.later(Seq(t("/c", 0, 1)), Seq(t("/c", 0, 1))))
    assert(!StateReplica.later(Seq(t("/c", 0, 2)), Seq(t("/d", 0, 1))), "another checkpoint")
    assert(StateReplica.later(Seq(t("/c", 0, 2), t("/c", 1, 2)), Seq(t("/c", 0, 1), t("/c", 1, 2))))
    assert(!StateReplica.later(Seq(t("/c", 0, 2), t("/c", 1, 1)), Seq(t("/c", 0, 1), t("/c", 1, 2))))
  }
}
