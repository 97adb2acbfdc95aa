package graft.state

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

/** HTTP front over [[StateQueries]] — the reference's Interactive Queries
  * REST surface (`utils/IQueriesService.java:78-176`, Jetty bootstrap at
  * :254-282, `utils/IQService.scala:11-17`), re-expressed over streaming
  * checkpoints with the JDK's built-in HTTP server (no extra deps).
  *
  * The reference's four GET shapes, same paths:
  *  - `GET /state/keyvalue/{store}/{key}`            — point lookup
  *  - `GET /state/keyvalues/{store}/all`             — full scan
  *  - `GET /state/keyvalues/{store}/range/{from}/{to}` — inclusive key range
  *  - `GET /state/windowed/{store}/{key}/{from}/{to}`  — per-key window
  *    fetch over [from, to] epoch-seconds, rendered `"$key@$windowStart"`
  *    (reference `IQueriesService.java:173`)
  *
  * Multi-instance routing (the reference's `MetadataService` key→host
  * lookup and the `IQueriesService.java:84-87,104-109` cross-instance
  * HTTP forward) is available via [[enableRouting]]: key ownership
  * follows the reference's default-partitioner placement, key-addressed
  * lookups forward one hop to the owner, and the metadata endpoints
  * advertise the real peer ring. On a single Spark driver the topology
  * degenerates honestly (routing off: every key local by construction).
  *
  * Rows are rendered as a JSON array via Spark's own row-JSON encoder, so
  * any state schema is servable without bean classes. A body lists its
  * rows ordered by (key as a string, row json), in UTF-8 byte order.
  *
  * Lookups are served from a per-store REPLICA once the store is asked
  * often enough: the view is read once in Spark, every row rendered there,
  * and the rendered slice is kept on the driver, sorted; later requests
  * binary-search it and start no Spark job. The view's closure is still
  * called on every request, and the replica is reused only while that
  * evaluation resolves to the same plan and the same committed state
  * batch (the version rule in [[StateReplica.versionOf]]). A closure over
  * [[StateQueries]]' reads resolves the state source once per commit:
  * between commits a call costs two file-status calls in the checkpoint's
  * commit log plus the analysis of what the closure adds on top, and a
  * checkpoint deleted and rewritten at the same path is a new version
  * even at the same batch id. Until a
  * version's requests have spent as long on their own reads as the
  * store's last build took, and for a view that cannot be reused (a
  * parquet table, a memory sink, a typed lambda), a request is read in
  * Spark with its predicate and its page's offset and limit pushed into
  * a sorted read, so at most `offset + limit + 1` rows reach the driver.
  * So a replica holds the store's slice on the driver, one version at a
  * time per store; the replicas of one server hold at most a quarter of
  * the driver's maximum heap together, and a store that would not fit is
  * read per request instead.
  *
  * Responses are BOUNDED: at most `maxRows` rows per response. Clients
  * page with `?limit=N&offset=M`; a truncated response carries
  * `X-Graft-Truncated: true` and the next offset in
  * `X-Graft-Next-Offset`, keeping the body a plain JSON array so
  * reference clients parse it unchanged. `GET /state/metrics` reports,
  * per store, the state batch ids served, the replica's rows, builds,
  * builds dropped over the heap budget and last build time, how many
  * requests the replica answered against how many were re-read, and the
  * total time spent calling the view's closure (`view_eval_ms`); and, for
  * the server's session, how many [[StateQueries]] reads resolved the
  * state source against how many reused an earlier resolution of the same
  * commit (`state_source_resolves`, `state_source_reuses`).
  */
class StateHttpServer(spark: SparkSession, bindPort: Int = 0,
                      maxRows: Int = 10000) {

  private val stores = scala.collection.concurrent.TrieMap.empty[String, ServedStore]
  /** The driver heap this server's replicas share. */
  private[state] val replicaBudget = ReplicaBudget.ofHeap()
  private var server: HttpServer = _
  private var boundPort: Int = bindPort

  /** Multi-instance topology: peer (host, port) list + this instance's
    * index, the source topic's partition count (the reference's
    * `metadataForKey` hashes modulo PARTITIONS, not instances —
    * `MetadataService.java:52-60` resolves the key's partition first,
    * then the instance hosting it), and the partition→instance
    * assignment. None = the single-driver degenerate case. */
  private case class Peers(hosts: IndexedSeq[(String, Int)], self: Int,
                           numPartitions: Int, assignment: Int => Int)
  // volatile: written by the configuring thread, read by HTTP threads
  @volatile private var peers: Option[Peers] = None

  /** Enable the reference's multi-instance routing
    * (`MetadataService.java:30-68` key→host lookup,
    * `IQueriesService.java:84-87,104-109` cross-instance HTTP forward):
    * key ownership follows Kafka's default-partitioner placement
    * ([[graft.kafka.Wire.partitionFor]] — the same assignment the
    * reference's source-topic partitioning induces on its state
    * stores), key-addressed lookups for foreign keys forward to the
    * owner over HTTP, and the instance-metadata endpoints answer with
    * the real topology. Instances are assumed symmetric (every peer
    * serves the same store names — the Kafka Streams same-app
    * contract). Each instance must register views filtered to its own
    * key slice; range/all scans stay local by design (clients
    * scatter-gather via `/state/instances`, as with the reference).
    *
    * Mirroring the reference, ownership is two-step: the key hashes to
    * one of `numPartitions` source-topic partitions
    * (`Wire.partitionFor(key, numPartitions)` — Kafka's
    * DefaultPartitioner), and `assignment` maps that partition to the
    * instance hosting its state (Kafka Streams' task placement). The
    * defaults (`numPartitions` = instance count, identity assignment)
    * reproduce the one-partition-per-instance degenerate ring; pass the
    * real topic partition count + placement when instances ≠ partitions
    * so the advertised owner matches the data placement the topology
    * induces. */
  def enableRouting(instances: Seq[(String, Int)], selfIndex: Int,
                    numPartitions: Int = -1,
                    assignment: Int => Int = identity): this.type = {
    require(instances.nonEmpty && selfIndex >= 0 && selfIndex < instances.size,
      s"selfIndex $selfIndex out of range for ${instances.size} instances")
    val parts = if (numPartitions <= 0) instances.size else numPartitions
    // validate the full assignment up front: every partition must map to
    // a real instance, so no request can discover a bad placement later
    (0 until parts).foreach { p =>
      val inst = assignment(p)
      require(inst >= 0 && inst < instances.size,
        s"assignment($p) = $inst out of range for ${instances.size} instances")
    }
    peers = Some(Peers(instances.toIndexedSeq, selfIndex, parts, assignment))
    this
  }

  /** The instance index owning `key`: partition under the reference's
    * DefaultPartitioner placement (modulo the TOPIC's partition count,
    * as `MetadataService.metadataForKey` does), then that partition's
    * hosting instance under the task assignment. */
  def ownerOf(key: String): Int = peers match {
    case Some(p) =>
      p.assignment(graft.kafka.Wire.partitionFor(
        key.getBytes(StandardCharsets.UTF_8), p.numPartitions))
    case None => 0
  }

  /** Register a named store (reference `Materialized.as("counts-store")`,
    * `WordCount.java:56`) backed by `checkpoint`'s state, keyed by
    * `keyCol` of the flattened view; pass `winStartCol` for window
    * stores. */
  def register(name: String, checkpoint: String, keyCol: String,
               winStartCol: Option[String] = None): this.type = {
    registerView(name, () => StateQueries.flattened(spark, checkpoint), keyCol, winStartCol)
  }

  /** Register with an arbitrary state view — e.g. a projection of
    * [[StateQueries.flattened]] with friendlier column names. `stateDf`
    * is still called on every request, so reads see the latest committed
    * checkpoint batch; the [[StateQueries]] reads inside it return the
    * DataFrame they resolved at that commit, so a call between commits
    * analyzes only the nodes the closure adds. `keyCol` is the logical key
    * and `winStartCol` (for windowed stores) the window start. */
  def registerView(name: String, stateDf: () => DataFrame, keyCol: String,
                   winStartCol: Option[String] = None): this.type = {
    stores.put(name, new ServedStore(stateDf, keyCol, winStartCol, replicaBudget)).foreach(_.release())
    this
  }

  /** Register one named state VARIABLE of a `transformWithState`
    * operator (the streaming-twin family keeps N named variables per
    * key; classic operators use [[register]]). The flattened view keys
    * on the grouping key (`key` for single-field keys, `key_<field>`
    * otherwise — see [[StateQueries.flattenedTws]]). */
  def registerTws(name: String, checkpoint: String, stateVarName: String,
                  keyCol: String = "key"): this.type =
    registerView(name,
      () => StateQueries.flattenedTws(spark, checkpoint, stateVarName), keyCol)

  // own pool, not the HttpServer default single dispatcher thread: two
  // instances concurrently forwarding to each other would otherwise
  // deadlock — each dispatcher blocked in forward(), unable to accept
  // the peer's forwarded request
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start listening; returns the bound port (pass 0 for ephemeral). */
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
    server.createContext("/state", (ex: HttpExchange) => handle(ex))
    pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    // bind happens at create(): record the port BEFORE serving, so no
    // request can observe a stale 0 in metadata renderings
    boundPort = server.getAddress.getPort
    server.start()
    boundPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
    stores.values.foreach(_.release())
  }

  /** The key a path addresses, when it is key-addressed (point lookup or
    * windowed fetch) — the two shapes the reference forwards
    * (`IQueriesService.java:104-109`); scans are served locally. */
  private def addressedKey(path: String): Option[String] =
    segments(path) match {
      case "state" :: "keyvalue" :: _ :: key :: Nil            => Some(key)
      case "state" :: "windowed" :: _ :: key :: _ :: _ :: Nil  => Some(key)
      case _                                                   => None
    }

  /** Headers a forwarded response must relay verbatim: the pagination
    * contract lives in headers, so a paged read answered via a
    * non-owner must still carry the owner's truncation/continuation
    * signal. */
  private val RelayedHeaders = Seq("X-Graft-Truncated", "X-Graft-Next-Offset")

  /** Relay a key-addressed request to its owning peer. One hop only:
    * the forwarded request carries `X-Graft-Forwarded`, and a receiver
    * that STILL doesn't own the key answers 500 instead of looping.
    * Bounded timeouts: a slow or wedged peer degrades to the caller's
    * 502 path instead of pinning this server's handler thread forever. */
  private def forward(owner: Int, path: String,
                      query: String): (Int, String, Seq[(String, String)]) = {
    val (host, port) = peers.get.hosts(owner)
    val q = Option(query).filter(_.nonEmpty).map("?" + _).getOrElse("")
    val conn = new java.net.URI(s"http://$host:$port$path$q").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestProperty("X-Graft-Forwarded", "1")
    conn.setConnectTimeout(2000)
    conn.setReadTimeout(10000)
    try {
      val code = conn.getResponseCode
      // getErrorStream is null for bodyless error responses — fall back
      // to an empty body so the peer's real status code is relayed
      // rather than masked by an NPE-turned-502
      val is = if (code >= 400) Option(conn.getErrorStream)
               else Option(conn.getInputStream)
      val body = is.map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8))
        .getOrElse("")
      val relayed = RelayedHeaders.flatMap(h =>
        Option(conn.getHeaderField(h)).map(h -> _))
      (code, body, relayed)
    } finally conn.disconnect()
  }

  private def handle(ex: HttpExchange): Unit = {
    val page = Page.parse(ex.getRequestURI.getQuery, maxRows)
    val path = ex.getRequestURI.getPath
    val alreadyForwarded =
      ex.getRequestHeaders.containsKey("X-Graft-Forwarded")
    val foreignOwner: Option[Int] = peers.flatMap { p =>
      addressedKey(path).map(ownerOf).filter(_ != p.self)
    }
    if (foreignOwner.isDefined) {
      val resp: (Int, String, Seq[(String, String)]) =
        if (alreadyForwarded)
          (500, """{"error":"misrouted: this instance does not own the key"}""",
            Nil)
        else
          try forward(foreignOwner.get, path, ex.getRequestURI.getQuery)
          catch {
            case e: Throwable => (502,
              s"""{"error":${quote("owner unreachable: " +
                Option(e.getMessage).getOrElse(e.getClass.getName))}}""", Nil)
          }
      val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      resp._3.foreach { case (h, v) => ex.getResponseHeaders.set(h, v) }
      ex.sendResponseHeaders(resp._1, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
      return
    }
    val resp: (Int, String) =
      try route(ex.getRequestURI.getPath, page) match {
        case Some(result) =>
          if (result.truncated) {
            ex.getResponseHeaders.set("X-Graft-Truncated", "true")
            ex.getResponseHeaders.set("X-Graft-Next-Offset",
              (page.offset + result.rows).toString)
          }
          (200, result.body)
        case None => routeMetadata(ex.getRequestURI.getPath) match {
          case Some(body) => (200, body)
          case None       => (404, """{"error":"unknown path or store"}""")
        }
      } catch {
        case e: Throwable =>
          (500, s"""{"error":${quote(Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
      }
    val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(resp._1, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def segments(path: String): List[String] =
    path.stripPrefix("/").split("/").toList.map(p => URLDecoder.decode(p, "UTF-8"))

  /** The four lookups, each answered from the store's replica or by a
    * read of one page of the rows the lookup's filter keeps. */
  private def route(path: String, page: Page): Option[RenderedPage] =
    segments(path) match {
      case "state" :: "keyvalue" :: store :: key :: Nil =>
        stores.get(store).map { st =>
          st.serve(page)(_.point(key, page))(
            StateQueries.point(_, col(st.keyCol).cast("string") === key))
        }
      case "state" :: "keyvalues" :: store :: "all" :: Nil =>
        stores.get(store).map(_.serve(page)(_.all(page))(StateQueries.all))
      case "state" :: "keyvalues" :: store :: "range" :: from :: to :: Nil =>
        stores.get(store).map { st =>
          st.serve(page)(_.range(from, to, page))(
            StateQueries.range(_, col(st.keyCol).cast("string"), from, to))
        }
      case "state" :: "windowed" :: store :: key :: from :: to :: Nil =>
        stores.get(store).flatMap { st =>
          st.winStartCol.map { ws =>
            val (fromSec, toSec) = (from.toLong, to.toLong)
            // the key is matched as a string, as the replica and the point lookup match it
            st.serve(page)(_.windowed(key, fromSec, toSec, page))(
              StateQueries.windowedFetch(_, col(st.keyCol).cast("string"), col(ws), key, fromSec, toSec))
          }
        }
      case _ => None
    }

  /** Instance-metadata endpoints (reference
    * `IQueriesService.java:182-215`, `MetadataService.java:30-68`). On
    * Spark the topology degenerates to one driver that owns every store
    * and key, so the metadata answers are constant — kept so a reference
    * client's discovery flow works unchanged. */
  private def routeMetadata(path: String): Option[String] = {
    // the advertised topology: the peer ring when routing is enabled
    // (symmetric stores — the Kafka Streams same-app contract), else
    // the single-driver degenerate constant
    def ring: IndexedSeq[(String, Int)] = peers match {
      case Some(p) => p.hosts
      case None    => IndexedSeq(("127.0.0.1", boundPort))
    }
    def instanceList(storeNames: Iterable[String]): String =
      ring.map { case (h, pt) =>
        s"""{"host":${quote(h)},"port":$pt,"stores":${
          storeNames.toSeq.sorted.map(quote).mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
    segments(path) match {
      case "state" :: "instances" :: Nil =>
        Some(instanceList(stores.keys))
      case "state" :: "instances" :: store :: Nil =>
        stores.get(store).map(_ => instanceList(Seq(store)))
      case "state" :: "instance" :: store :: key :: Nil =>
        stores.get(store).map { _ =>
          val (h, pt) = ring(ownerOf(key))
          s"""{"host":${quote(h)},"port":$pt,"store":${quote(store)},"key":${quote(key)}}"""
        }
      case "state" :: "metrics" :: Nil =>
        val memo = CommitMemo.of(spark)
        Some(stores.toSeq.sortBy(_._1).map { case (n, st) => st.metricsJson(n, quote) }
          .mkString("""{"stores":[""", ",", s"""],"state_source_resolves":${
            memo.resolves.get},"state_source_reuses":${memo.reuses.get}}"""))
      case _ => None
    }
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\r\\n\\t]", " ") + "\""
}

/** `?limit=N&offset=M` paging params; `limit` is clamped to the server's
  * per-request row cap, malformed values fall back to defaults. */
private[state] case class Page(limit: Int, offset: Int)

private[state] object Page {
  def parse(query: String, maxRows: Int): Page = {
    val params = Option(query).getOrElse("").split("&").iterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    def intOf(k: String, dflt: Int): Int =
      params.get(k).flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(dflt)
    Page(limit = math.max(1, math.min(intOf("limit", maxRows), maxRows)),
      offset = math.max(0, intOf("offset", 0)))
  }
}

/** One rendered response page: JSON-array body, row count, and whether
  * rows beyond this page exist (drives the truncation headers). */
private[state] case class RenderedPage(body: String, rows: Int, truncated: Boolean)
