package graft.state

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, CurrentDate, CurrentTime, CurrentTimestampLike,
  LocalTimestamp, SubqueryExpression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.state.StateTable
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.ByteArray

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

/** One rendered state row: the key as `cast(key as string)`, the row's
  * `to_json`, and for windowed stores the window start as a long and the
  * `to_json` of the row plus `rendered_key`. Strings are kept as their
  * UTF-8 bytes, the bytes of Spark's `UTF8String`, and ordered by
  * `ByteArray.compareBinary`, the comparison `UTF8String.binaryCompare`
  * makes for a Spark sort on a string column (not the UTF-16 order of
  * `String`). Bare arrays, not `UTF8String`s, because a `UTF8String`
  * adds 48 bytes per string to a replica the driver holds. */
private[state] final class StateRow(val key: Array[Byte], val json: Array[Byte],
                                    val winStart: java.lang.Long, val windowedJson: Array[Byte]) {

  /** Driver heap the row holds in a replica, from the JVM's object layout
    * (compressed references): the row, its array slot and boxed window
    * start, and per string a byte array (16 bytes plus the bytes, padded
    * to 8). For a windowed-count row this reads 256 bytes against 245
    * measured (SCALE.md, "Interactive lookups"). */
  def heapBytes: Long = {
    def of(s: Array[Byte]) = if (s == null) 0L else 16L + ((s.length + 7) & ~7)
    56L + of(key) + of(json) + of(windowedJson)
  }
}

private[state] object StateRow {
  def compare(a: Array[Byte], b: Array[Byte]): Int =
    if (a eq b) 0
    else if (a == null) -1 // nulls first, as in an ascending Spark sort
    else if (b == null) 1
    else ByteArray.compareBinary(a, b)

  /** The order of every rendered body: (key, json). */
  val byKeyThenJson: java.util.Comparator[StateRow] = (x: StateRow, y: StateRow) => {
    val c = compare(x.key, y.key)
    if (c != 0) c else compare(x.json, y.json)
  }

  def utf8(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)

  /** The page `[offset, offset + limit)` of `n` rows in body order, the
    * i-th being `json(i)`, rendered as a JSON array; truncated when a row
    * lies past it. */
  def render(n: Int, json: Int => Array[Byte], page: Page): RenderedPage = {
    val from = math.min(n.toLong, page.offset.toLong).toInt
    val until = math.min(n.toLong, from.toLong + page.limit).toInt
    val sb = new java.lang.StringBuilder("[")
    var i = from
    while (i < until) {
      if (i > from) sb.append(',')
      sb.append(new String(json(i), UTF_8))
      i += 1
    }
    RenderedPage(sb.append(']').toString, until - from, truncated = until < n)
  }
}

/** A driver-side copy of a store's view, sorted by (key, json), immutable
  * once built. Point, range and all lookups are binary searches for a
  * contiguous slice; a windowed fetch narrows the key's slice to its
  * window starts. */
private[state] final class StateReplica(rows: Array[StateRow]) {

  def size: Int = rows.length

  /** First index whose key is not below `key` (`orEqual`: above it). */
  private def bound(key: Array[Byte], orEqual: Boolean): Int = {
    var lo = 0
    var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = StateRow.compare(rows(mid).key, key)
      if (c < 0 || (orEqual && c == 0)) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def slice(from: Int, until: Int, page: Page): RenderedPage =
    StateRow.render(math.max(0, until - from), i => rows(from + i).json, page)

  def point(key: String, page: Page): RenderedPage = {
    val k = StateRow.utf8(key)
    slice(bound(k, orEqual = false), bound(k, orEqual = true), page)
  }

  def all(page: Page): RenderedPage = slice(0, rows.length, page)

  /** Keys in `[from, to]`; a null key is in no range. */
  def range(from: String, to: String, page: Page): RenderedPage =
    slice(bound(StateRow.utf8(from), orEqual = false), bound(StateRow.utf8(to), orEqual = true), page)

  /** The key's windows starting in `[fromSec, toSec]`, ordered by their
    * windowed json (their keys are all equal). */
  def windowed(key: String, fromSec: Long, toSec: Long, page: Page): RenderedPage = {
    val k = StateRow.utf8(key)
    val hits = (bound(k, orEqual = false) until bound(k, orEqual = true)).iterator.map(rows(_))
      .filter(r => r.winStart != null && r.winStart >= fromSec && r.winStart <= toSec)
      .map(_.windowedJson).toArray
    java.util.Arrays.sort(hits, (a: Array[Byte], b: Array[Byte]) => StateRow.compare(a, b))
    StateRow.render(hits.length, hits(_), page)
  }
}

/** The driver heap one server's replicas may hold together, a quarter of
  * the JVM's maximum heap ([[ReplicaBudget.ofHeap]]), so replicas cannot
  * take the memory the streaming queries sharing the driver run in. A
  * build that would pass it is dropped and its store is read per request
  * instead. */
private[state] final class ReplicaBudget(@volatile private[state] var limitBytes: Long) {
  private val held = new AtomicLong

  def take(bytes: Long): Boolean =
    if (held.addAndGet(bytes) <= limitBytes) true
    else { held.addAndGet(-bytes); false }

  def give(bytes: Long): Unit = held.addAndGet(-bytes)

  def heldBytes: Long = held.get
}

private[state] object ReplicaBudget {
  def ofHeap(): ReplicaBudget = new ReplicaBudget(Runtime.getRuntime.maxMemory / 4)
}

private[state] object StateReplica {

  /** What one evaluation of a view resolved to: the `StateTable.name()`
    * of every state-source relation it reads, and, when the view can be
    * served from a replica, its identity. Two evaluations share a
    * replica exactly when their identities are equal. */
  final case class Version(stateTables: Seq[String], identity: Option[LogicalPlan])

  /** A state-source relation reduced to its table's name and, for a table
    * read through [[StateQueries]], the commit token it was resolved at
    * ([[CommitMemo.Commit]]). The name holds the checkpoint, the resolved
    * batch id, the operator, the store and the read options, so a new
    * commit changes it; the token also changes when the checkpoint is
    * deleted and rewritten at the same path up to the same batch id. */
  private case class StateAt(table: String, commit: Option[CommitMemo.Commit], output: Seq[Attribute])
    extends LeafNode

  private def isState(r: DataSourceV2Relation): Boolean = r.table.isInstanceOf[StateTable]

  /** The version rule. A view is reusable when every leaf of its analyzed
    * plan is a state-source relation or a `LocalRelation`, and the plan is
    * deterministic, holds no typed lambda, user-defined function, subquery
    * or clock read (`current_timestamp()`, `now()`, `current_date()`, …,
    * which the analyzed plan keeps unevaluated, so two evaluations at
    * different times look alike), and is not streaming. Its identity is
    * the analyzed plan, canonicalized, with each state-source relation
    * replaced by its table's name and commit token. Anything else (a
    * parquet table, a memory sink, a typed filter) may change without its
    * plan changing, so it is re-read per request. */
  def versionOf(df: DataFrame): Version = {
    val plan = df.queryExecution.analyzed
    val tables = plan.collect { case r: DataSourceV2Relation if isState(r) => r.table.name() }
    val reusable = !plan.isStreaming && plan.deterministic &&
      plan.collectLeaves().forall {
        case r: DataSourceV2Relation => isState(r)
        case _: LocalRelation        => true
        case _                       => false
      } &&
      !plan.exists {
        case _: TypedFilter | _: ObjectConsumer | _: ObjectProducer => true
        case p => p.expressions.exists(_.exists {
          case _: UserDefinedExpression | _: SubqueryExpression => true
          case _: CurrentTimestampLike | _: CurrentDate | _: LocalTimestamp | _: CurrentTime => true
          case _ => false
        })
      }
    val identity =
      if (reusable) Some(plan.transformUp {
        case r: DataSourceV2Relation => StateAt(r.table.name(), CommitMemo.commitOf(r.table), r.output)
      }.canonicalized)
      else None
    Version(tables, identity)
  }

  private val BatchId = """\[batchId=(-?\d+)\]""".r

  /** The batch ids the state tables are resolved to. */
  def batchIds(stateTables: Seq[String]): Seq[Long] =
    stateTables.flatMap(t => BatchId.findFirstMatchIn(t).map(_.group(1).toLong)).distinct.sorted

  /** Whether `a` reads the same state tables as `b` at a later commit of
    * at least one of them and an earlier commit of none. */
  def later(a: Seq[String], b: Seq[String]): Boolean = {
    def byTable(ts: Seq[String]) = ts.map(t => BatchId.replaceFirstIn(t, "") ->
      BatchId.findFirstMatchIn(t).fold(0L)(_.group(1).toLong)).toMap
    val (x, y) = (byTable(a), byTable(b))
    x.keySet == y.keySet && x.exists { case (t, id) => id > y(t) } && x.forall { case (t, id) => id >= y(t) }
  }

  /** `df`'s rows rendered in Spark: the key as a string, the row's json
    * and, for windowed stores, the window start and the windowed json. */
  private def rendered(df: DataFrame, keyCol: String, winStartCol: Option[String]): DataFrame = {
    val j = "__graft_json"
    val withJson = df.select(col("*"), to_json(struct(df.columns.map(col): _*)).as(j))
    winStartCol match {
      case Some(ws) =>
        // the row exactly as StateQueries.windowedFetch renders it
        val w = withJson.withColumn("rendered_key", StateQueries.renderedKey(col(keyCol), col(ws)))
        w.select(col(keyCol).cast("string"), col(j), col(ws).cast("long"),
          to_json(struct(w.columns.filter(_ != j).map(col): _*)))
      case None =>
        withJson.select(col(keyCol).cast("string"), col(j))
    }
  }

  /** One Spark job over `df`, each row rendered in the read, then sorted
    * on the driver, with the heap bytes it holds. Each partition's rows
    * are kept as its task's result arrives while they fit in what `budget`
    * has left; once one does not, later results are dropped as they
    * arrive, nothing is kept, and the result is None. */
  def build(df: DataFrame, keyCol: String, winStartCol: Option[String],
            budget: ReplicaBudget): Option[(StateReplica, Long)] = {
    val windowed = winStartCol.isDefined
    def bytes(r: InternalRow, i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).getBytes
    var parts = Array.empty[Array[StateRow]]
    var held = 0L
    var fits = true
    val qe = rendered(df, keyCol, winStartCol).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("state replica build")) {
      val rdd = qe.toRdd
      parts = new Array[Array[StateRow]](rdd.getNumPartitions)
      df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray,
        (i: Int, result: Array[InternalRow]) => if (fits) {
          val rows = result.map(r => new StateRow(bytes(r, 0), bytes(r, 1),
            if (windowed && !r.isNullAt(2)) r.getLong(2) else null, if (windowed) bytes(r, 3) else null))
          val b = rows.iterator.map(_.heapBytes).sum
          fits = budget.take(b)
          if (fits) { held += b; parts(i) = rows }
        })
    }
    if (!fits) { budget.give(held); None }
    else {
      val sorted = parts.flatten
      java.util.Arrays.sort(sorted, StateRow.byKeyThenJson)
      Some((new StateReplica(sorted), held))
    }
  }

  /** One page of `df` read for one request: sorted by (key, json) in
    * Spark, with the page's offset and limit, plus one row that probes for
    * truncation, pushed into the read, so at most `offset + limit + 1`
    * rows reach the driver. */
  def readPage(df: DataFrame, keyCol: String, page: Page): RenderedPage = {
    val json = df
      .select(col(keyCol).cast("string").as("__k"), to_json(struct(df.columns.map(col): _*)).as("__j"))
      .orderBy("__k", "__j")
      .select("__j")
      .offset(page.offset)
      .limit(page.limit + 1)
      .collect().map(r => StateRow.utf8(r.getString(0)))
    StateRow.render(json.length, json(_), page.copy(offset = 0))
  }
}

/** One registered store: its view, and the replica of the view's last
  * reusable version. The view is evaluated on every request. A request
  * whose evaluation has the replica's identity is answered from it.
  * Otherwise the request is read with its own predicate and page, and
  * the version it resolved to is replicated only once its requests have
  * spent on such reads as long as the store's last build took (rent or
  * buy: a version asked once per commit costs one bounded read per
  * request, as without replicas, and one asked often costs about twice
  * at most what knowing the traffic in advance would). Builds run one at a time,
  * never replace a replica with an earlier commit's, and one that would
  * pass the server's [[ReplicaBudget]] leaves its version to per-request
  * reads. A view that cannot be reused is always read per request. */
private[state] final class ServedStore(stateDf: () => DataFrame, val keyCol: String,
                                       val winStartCol: Option[String], budget: ReplicaBudget) {
  private final class Built(val version: StateReplica.Version, val replica: StateReplica, val heapBytes: Long)
  @volatile private var current: Option[Built] = None
  private val buildLock = new Object
  private val builds = new AtomicLong
  private val overBudget = new AtomicLong
  @volatile private var lastBuildMs = 0.0
  private val fromReplica = new AtomicLong
  private val reread = new AtomicLong
  private val viewEvalNanos = new AtomicLong
  @volatile private var servedTables = Seq.empty[String]
  // guarded by `this`: the newest reusable identity asked and not built,
  // with the ms its requests spent reading; and the last identity whose
  // build passed the budget
  private var rent: Option[(LogicalPlan, Double)] = None
  private var tooLarge: Option[LogicalPlan] = None

  /** Answers a request for `page` with `lookup` on the store's replica,
    * or by reading that page of `filter` over the view evaluated for this
    * request. */
  def serve(page: Page)(lookup: StateReplica => RenderedPage)
           (filter: DataFrame => DataFrame): RenderedPage = {
    val t0 = System.nanoTime()
    val df = stateDf()
    viewEvalNanos.addAndGet(System.nanoTime() - t0)
    val version = StateReplica.versionOf(df)
    servedTables = version.stateTables
    version.identity.flatMap(replicaOf(df, version, _)) match {
      case Some(replica) =>
        fromReplica.incrementAndGet()
        lookup(replica)
      case None =>
        reread.incrementAndGet()
        val t0 = System.nanoTime()
        val read = StateReplica.readPage(filter(df), keyCol, page)
        version.identity.foreach(paid(_, (System.nanoTime() - t0) / 1e6))
        read
    }
  }

  private def paid(id: LogicalPlan, ms: Double): Unit = synchronized {
    rent = Some((id, ms + rent.collect { case (`id`, spent) => spent }.getOrElse(0.0)))
  }

  private def dueForBuild(id: LogicalPlan): Boolean = synchronized {
    !tooLarge.contains(id) && rent.exists { case (r, spent) => r == id && spent >= lastBuildMs }
  }

  private def replicaOf(df: DataFrame, version: StateReplica.Version, id: LogicalPlan): Option[StateReplica] =
    current.filter(_.version.identity.contains(id)).map(_.replica).orElse {
      if (!dueForBuild(id)) None
      else buildLock.synchronized {
        current match {
          case Some(b) if b.version.identity.contains(id) => Some(b.replica)
          case Some(b) if StateReplica.later(b.version.stateTables, version.stateTables) => None
          case _ if !dueForBuild(id) => None // its build ran, over budget, while this request waited
          case _ => build(df, version, id)
        }
      }
    }

  /** Under `buildLock`. */
  private def build(df: DataFrame, version: StateReplica.Version, id: LogicalPlan): Option[StateReplica] = {
    release() // the old version is not kept while the new one is read
    val t0 = System.nanoTime()
    val built = StateReplica.build(df, keyCol, winStartCol, budget)
    lastBuildMs = (System.nanoTime() - t0) / 1e6
    synchronized {
      rent = rent.filterNot(_._1 == id)
      if (built.isEmpty) tooLarge = Some(id)
    }
    built.map { case (replica, bytes) =>
      builds.incrementAndGet()
      current = Some(new Built(version, replica, bytes))
      replica
    }.orElse { overBudget.incrementAndGet(); None }
  }

  def release(): Unit = buildLock.synchronized {
    current.foreach(b => budget.give(b.heapBytes))
    current = None
  }

  /** This store's entry in `GET /state/metrics`. */
  def metricsJson(name: String, quote: String => String): String =
    s"""{"store":${quote(name)},"state_batch_ids":${
      StateReplica.batchIds(servedTables).mkString("[", ",", "]")},"replica_rows":${
      current.fold(0)(_.replica.size)},"replica_builds":${builds.get},"builds_over_budget":${
      overBudget.get},"last_build_ms":${
      "%.1f".formatLocal(java.util.Locale.ROOT, lastBuildMs)},"served_from_replica":${
      fromReplica.get},"served_by_reread":${reread.get},"view_eval_ms":${
      "%.1f".formatLocal(java.util.Locale.ROOT, viewEvalNanos.get / 1e6)}}"""
}
