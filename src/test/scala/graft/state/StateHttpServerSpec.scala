package graft.state

import graft.SparkSpec
import graft.streaming.WindowedStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files
import java.sql.Timestamp
import scala.io.Source

/** The reference's four Interactive-Query REST endpoints
  * (`IQueriesService.java:78-176`) served over a real streaming
  * checkpoint, including the `key@windowStart` rendering (:173). */
class StateHttpServerSpec extends SparkSpec {

  private val base = 1700000000L
  private def ts(off: Long) = new Timestamp((base + off) * 1000)
  case class Ev(key: String, value: Int, ts: Timestamp)

  private def get(port: Int, path: String): (Int, String) = {
    val (code, body, _) = getWithHeaders(port, path)
    (code, body)
  }

  private def getWithHeaders(port: Int, path: String): (Int, String, Map[String, String]) = {
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

  test("point/all/range/windowed endpoints over a windowed-count checkpoint") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_http_state").toString
    val in = MemoryStream[Ev]
    val agg = WindowedStreams.tumblingCounts(in.toDF(), "ts", "10 seconds", "1 hour",
      col("key"))
    val q = agg.select(col("window.start").cast("long").as("win"), col("key"), col("count"))
      .writeStream.format("memory").queryName("http_state_src")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      in.addData(Ev("hmida", 1, ts(0)), Ev("hmida", 1, ts(0)), Ev("hmida", 1, ts(1)),
        Ev("lambda", 1, ts(11)), Ev("hmida", 1, ts(12)))
      q.processAllAvailable()
    } finally q.stop()

    val srv = new StateHttpServer(s)
      .registerView("window_store", () =>
        StateQueries.flattened(s, ckpt)
          .select(col("key_key").as("key"),
            col("key_window.start").cast("long").as("win_start"),
            col("value_count").as("cnt")),
        keyCol = "key", winStartCol = Some("win_start"))
    val port = srv.start()
    try {
      // point lookup (GET /state/keyvalue/{store}/{key})
      val (c1, b1) = get(port, "/state/keyvalue/window_store/lambda")
      assert(c1 == 200 && b1 == s"""[{"key":"lambda","win_start":${base + 10},"cnt":1}]""")

      // full scan (GET /state/keyvalues/{store}/all) — 3 state rows
      val (c2, b2) = get(port, "/state/keyvalues/window_store/all")
      assert(c2 == 200)
      assert(b2.split("\\},\\{").length == 3 && b2.contains(s""""key":"hmida","win_start":$base,"cnt":3"""))

      // inclusive key range (GET /state/keyvalues/{store}/range/{from}/{to})
      val (c3, b3) = get(port, "/state/keyvalues/window_store/range/h/hz")
      assert(c3 == 200 && b3.contains("hmida") && !b3.contains("lambda"))

      // windowed fetch with key@start rendering (GET /state/windowed/...)
      val (c4, b4) = get(port, s"/state/windowed/window_store/hmida/$base/${base + 9}")
      assert(c4 == 200 && b4.contains(s""""rendered_key":"hmida@$base"""") && b4.contains("\"cnt\":3"))

      // unknown store → 404
      val (c5, _) = get(port, "/state/keyvalue/nope/k")
      assert(c5 == 404)

      // instance metadata (reference IQueriesService.java:182-215):
      // single-driver topology — one instance owns every store and key
      val (c6, b6) = get(port, "/state/instances")
      assert(c6 == 200 && b6 == s"""[{"host":"127.0.0.1","port":$port,"stores":["window_store"]}]""")
      val (c7, b7) = get(port, "/state/instances/window_store")
      assert(c7 == 200 && b7.contains("\"window_store\""))
      val (c8, b8) = get(port, "/state/instance/window_store/hmida")
      assert(c8 == 200 && b8.contains(s"\"port\":$port") && b8.contains("\"key\":\"hmida\""))
      val (c9, _) = get(port, "/state/instances/nope")
      assert(c9 == 404)
    } finally srv.stop()

    // Bounded responses: a server whose row cap is smaller than the store
    // never returns more than the cap, flags truncation, and the client
    // pages to completion via limit/offset (store has 3 state rows).
    val small = new StateHttpServer(s, maxRows = 2)
      .registerView("window_store", () =>
        StateQueries.flattened(s, ckpt)
          .select(col("key_key").as("key"),
            col("key_window.start").cast("long").as("win_start"),
            col("value_count").as("cnt")),
        keyCol = "key", winStartCol = Some("win_start"))
    val port2 = small.start()
    try {
      val (cc1, bb1, h1) = getWithHeaders(port2, "/state/keyvalues/window_store/all")
      assert(cc1 == 200)
      assert(bb1.split("\\},\\{").length == 2, s"capped page should hold 2 rows: $bb1")
      assert(h1.get("X-Graft-Truncated").contains("true"))
      assert(h1.get("X-Graft-Next-Offset").contains("2"))

      // follow the continuation — last page, no truncation flag
      val (cc2, bb2, h2) = getWithHeaders(port2, "/state/keyvalues/window_store/all?offset=2")
      assert(cc2 == 200 && bb2.split("\\},\\{").length == 1)
      assert(!h2.contains("X-Graft-Truncated"))

      // explicit limit below the cap pages one row at a time, stable order
      val (cc3, bb3, h3) = getWithHeaders(port2, "/state/keyvalues/window_store/all?limit=1")
      assert(cc3 == 200 && bb3.split("\\},\\{").length == 1)
      assert(h3.get("X-Graft-Next-Offset").contains("1"))
      val (cc4, bb4, _) = getWithHeaders(port2, "/state/keyvalues/window_store/all?limit=1&offset=0")
      assert(cc4 == 200 && bb4 == bb3, "same page re-read must be identical")

      // a limit above the cap is clamped to the cap
      val (cc5, bb5, h5) = getWithHeaders(port2, "/state/keyvalues/window_store/all?limit=999")
      assert(cc5 == 200 && bb5.split("\\},\\{").length == 2)
      assert(h5.get("X-Graft-Truncated").contains("true"))
    } finally small.stop()
  }

  test("TWS state variable served over the same endpoints") {
    import graft.streaming.StreamZScore
    import graft.streaming.StreamZScore.TypedValue
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_http_tws").toString
    withRocksDB {
      val in = MemoryStream[TypedValue]
      val q = StreamZScore.anomalies(in.toDS(), windowSize = 3)
        .writeStream.format("memory").queryName("http_tws_src")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        in.addData(
          TypedValue("a", 1L, base, 1.5), TypedValue("a", 2L, base + 1, 2.5),
          TypedValue("b", 3L, base + 2, 10.0))
        q.processAllAvailable()
      } finally q.stop()
    }

    val srv = new StateHttpServer(s)
      .registerTws("zscore_buf", ckpt, stateVarName = "buf")
    val port = srv.start()
    try {
      // point: key b's ring buffer holds its single value
      val (c1, b1) = get(port, "/state/keyvalue/zscore_buf/b")
      assert(c1 == 200 && b1 == """[{"key":"b","value":10.0}]""", b1)
      // all: every (key, element) row, list state flattened
      val (c2, b2) = get(port, "/state/keyvalues/zscore_buf/all")
      assert(c2 == 200 && b2 ==
        """[{"key":"a","value":1.5},{"key":"a","value":2.5},{"key":"b","value":10.0}]""", b2)
      // range over the string key space
      val (c3, b3) = get(port, "/state/keyvalues/zscore_buf/range/a/a")
      assert(c3 == 200 && b3 ==
        """[{"key":"a","value":1.5},{"key":"a","value":2.5}]""", b3)
    } finally srv.stop()
  }

  test("StreamKlDrift MapState counts answer over the IQ face") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_http_kl").toString
    withRocksDB {
      val in = MemoryStream[graft.streaming.StreamKlDrift.TokDoc]
      val base = Map("the" -> 0.5, "cat" -> 0.25, "sat" -> 0.25)
      val q = graft.streaming.StreamKlDrift.monitor(in.toDS(), base, oovProb = 1e-6)
        .writeStream.format("memory").queryName("http_kl_src")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        in.addData(
          graft.streaming.StreamKlDrift.TokDoc("g1", 1L, 1000L,
            Seq("the", "cat", "the")),
          graft.streaming.StreamKlDrift.TokDoc("g2", 2L, 2000L, Seq("sat")))
        q.processAllAvailable()
      } finally q.stop()
    }

    val srv = new StateHttpServer(s)
      .registerTws("kl_counts", ckpt, stateVarName = "counts")
    val port = srv.start()
    try {
      // point: group g1's live word counts — the drift monitor's state
      // is inspectable without touching the stream
      val (c1, b1) = get(port, "/state/keyvalue/kl_counts/g1")
      assert(c1 == 200, b1)
      assert(b1.contains(""""the"""") && b1.contains("2") &&
        b1.contains(""""cat""""), b1)
      val (c2, b2) = get(port, "/state/keyvalue/kl_counts/g2")
      assert(c2 == 200 && b2.contains(""""sat""""), b2)
    } finally srv.stop()
  }
}
