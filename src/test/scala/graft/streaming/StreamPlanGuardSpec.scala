package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, GraftShims}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming plan guards — the streaming analog of [[graft.PlanGuardSpec]]:
  * the physical shape of each twin's EXECUTED micro-batch plan is what
  * makes it scale, so it is pinned here and a refactor cannot silently
  * trade it away. Guards read the last micro-batch's executed plan via
  * `GraftShims.lastMicroBatchPlan` after driving one real batch:
  *
  *  - the band joins plan `StreamingSymmetricHashJoin` on the key
  *    equality — never a cartesian or broadcast-nested-loop (state and
  *    work per batch stay hash-partitioned by key);
  *  - `FkJoinStream` is exactly its designed two state hops (subscribe
  *    re-keyed by fk, respond re-keyed by fk) — two
  *    `FlatMapGroupsWithState` operators, and no third exchange beyond
  *    the two groupByKey re-keys;
  *  - `KTableStream`/`StreamTableJoin` are ONE stateful operator each
  *    (a regression to two would double state and shuffles);
  *  - the windowed aggregations keep their streaming aggregate +
  *    `StateStoreSave` pair on a single keyed exchange;
  *  - `StreamQuota` runs as one `TransformWithState` hop;
  *  - `StreamPercolate` stays STATELESS (no state-store operator at
  *    all) with the standing set broadcast.
  */
class StreamPlanGuardSpec extends SparkSpec {

  import StreamPlanGuardSpec.JEv

  private implicit def productEnc[T <: Product :
      scala.reflect.runtime.universe.TypeTag]: Encoder[T] =
    org.apache.spark.sql.Encoders.product[T]

  private val qid = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drive one micro-batch of `data` through `build`, return the
    * executed plan of that batch. */
  private def microPlan[T: Encoder](data: Seq[T])(
      build: Dataset[T] => DataFrame): SparkPlan = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[T]
    val q = build(in.toDS()).writeStream.format("memory")
      .queryName(s"spg${qid.incrementAndGet()}").outputMode("append").start()
    try {
      in.addData(data)
      q.processAllAvailable()
      GraftShims.lastMicroBatchPlan(q)
        .getOrElse(fail("no micro-batch executed"))
    } finally q.stop()
  }

  /** Two-input variant for stream-stream joins. */
  private def microPlan2[A: Encoder, B: Encoder](la: Seq[A], rb: Seq[B])(
      build: (Dataset[A], Dataset[B]) => DataFrame): SparkPlan = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val l = MemoryStream[A]
    val r = MemoryStream[B]
    val q = build(l.toDS(), r.toDS()).writeStream.format("memory")
      .queryName(s"spg${qid.incrementAndGet()}").outputMode("append").start()
    try {
      l.addData(la); r.addData(rb)
      q.processAllAvailable()
      GraftShims.lastMicroBatchPlan(q)
        .getOrElse(fail("no micro-batch executed"))
    } finally q.stop()
  }

  /** Flatten through AQE wrappers (stateless micro-batches run under
    * AQE, whose final plan hides behind AdaptiveSparkPlan/QueryStage). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def count(p: SparkPlan, name: String): Int =
    flatten(p).count(_.getClass.getSimpleName.contains(name))

  private def assertNoCartesian(p: SparkPlan): Unit = {
    assert(count(p, "CartesianProduct") == 0, p.toString)
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.toString)
  }

  private val t0 = new Timestamp(1700000000000L)
  private def jev(k: String, v: String, off: Long) =
    JEv(k, v, new Timestamp(t0.getTime + off * 1000))

  test("band joins execute as StreamingSymmetricHashJoin on the key — never cartesian") {
    for (how <- Seq("inner", "left")) {
      val p = microPlan2(
        Seq(jev("a", "l1", 0), jev("b", "l2", 10)),
        Seq(jev("a", "r1", 5), jev("c", "r2", 20)))((l, r) =>
        StreamJoins.bandJoin(l.toDF(), r.toDF(), 86400L, "0 seconds", how))
      assert(count(p, "StreamingSymmetricHashJoin") == 1, s"$how:\n$p")
      assertNoCartesian(p)
    }
  }

  test("FkJoinStream executes as exactly two state hops with two re-key exchanges") {
    val left = Seq(Rec("o1", "p1", 0L, 1L), Rec("o2", "p2", 0L, 2L))
    val right = Seq(Rec("c1", "alice", 0L, 1L))
    val p = microPlan2(left, right)((l, r) =>
      FkJoinStream.join(l, r, (v: String) => "c1", "left").toDF())
    assert(count(p, "FlatMapGroupsWithState") == 2,
      s"FK join must be its two designed hops:\n$p")
    assert(count(p, "ShuffleExchange") == 2,
      s"one exchange per groupByKey re-key, nothing more:\n$p")
    assertNoCartesian(p)
  }

  test("KTableStream is ONE stateful hop on one keyed exchange") {
    val p = microPlan(Seq(Rec("k", "v", 0L, 1L)))(in =>
      KTableStream.changes(in).toDF())
    assert(count(p, "FlatMapGroupsWithState") == 1, p.toString)
    assert(count(p, "ShuffleExchange") == 1, p.toString)
  }

  test("StreamTableJoin enrich is ONE stateful hop over the tagged union") {
    val p = microPlan2(
      Seq(Rec("k", "ev", 0L, 2L)), Seq(Rec("k", "dim", 0L, 1L)))((s, t) =>
      StreamTableJoin.enrich(s, t, "left").toDF())
    assert(count(p, "FlatMapGroupsWithState") == 1, p.toString)
    assertNoCartesian(p)
  }

  test("tumbling window keeps the streaming aggregate + StateStoreSave on one exchange") {
    val p = microPlan(Seq(jev("a", "1", 0), jev("a", "2", 4000)))(in =>
      WindowedStreams.tumblingCounts(in.toDF(), "ts", "1 hour", "0 seconds",
        col("key")))
    assert(count(p, "StateStoreSave") == 1, p.toString)
    assert(count(p, "ShuffleExchange") == 1, p.toString)
  }

  test("StreamQuota is one TransformWithState hop") {
    withRocksDB {
      val p = microPlan(Seq(StreamQuota.Arrival("s", 1L, 1L)))(in =>
        StreamQuota.admit(in, cap = 3).toDF())
      assert(count(p, "TransformWithState") == 1, p.toString)
      assert(count(p, "ShuffleExchange") == 1, p.toString)
    }
  }

  test("StreamPercolate is stateless with the standing set broadcast") {
    val p = microPlan(Seq(Rec("1", "hash join merge", 1L, 1L)))(in =>
      StreamPercolate.alerts(in, Seq(("q", Seq("hash", "join")))).toDF())
    assert(count(p, "StateStore") == 0 && count(p, "FlatMapGroupsWithState") == 0
      && count(p, "TransformWithState") == 0,
      s"percolate must hold no state:\n$p")
    assert(count(p, "BroadcastHashJoin") + count(p, "BroadcastNestedLoopJoin") >= 1,
      s"standing set must broadcast:\n$p")
    assert(count(p, "ShuffleExchange") == 0,
      s"no exchange on the document path:\n$p")
  }
}

object StreamPlanGuardSpec {
  /** Keyed, event-timed row for the band-join guards (top-level so the
    * product encoder derives cleanly). */
  case class JEv(key: String, value: String, ts: Timestamp)
}
