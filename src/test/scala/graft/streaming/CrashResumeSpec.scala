package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Top-level replay shapes (Encoder derivation needs stable classes). */
case class CrDoc(id: Long, text: String, ts: Timestamp)
case class CrVec(doc_id: Long, vec: Seq[Float], ts: Timestamp)

/** Crash-resume coverage for the stateful streaming operators (VERDICT
  * r13 #5): each query is killed mid-stream and restarted from its
  * checkpoint, and the union of both legs' outputs must equal an
  * uninterrupted run — which only holds if the operator's STATE (KTable
  * values, FK subscriptions, dedup fingerprints, LSH bucket contents)
  * survives the restart rather than being rebuilt empty.
  *
  * MemoryStream offsets count `addData` calls, so the restarted leg
  * re-adds the already-committed batches first (the checkpoint skips
  * them — asserted by checking no duplicate emissions) and then feeds
  * the post-crash data. The KTable and FK join run on the session's
  * default state store provider, the one `GraftSession` ships; the
  * dedup and transformWithState cases run on RocksDB.
  */
class CrashResumeSpec extends SparkSpec {

  /** Run `build` over `batches` in one leg (no crash) and again split
    * into two legs sharing a checkpoint (crash after `splitAt` batches);
    * returns (uninterrupted rows, resumed rows) as string renderings. */
  private def runBoth[T: Encoder](batches: Seq[Seq[T]], splitAt: Int)(
      build: Dataset[T] => DataFrame): (Seq[String], Seq[String]) = {
    val s = spark
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    require(splitAt > 0 && splitAt < batches.size, "need a mid-stream split")

    def leg(ckpt: String, preload: Seq[Seq[T]], feed: Seq[Seq[T]],
            sink: collection.mutable.Buffer[String]): Unit = {
      val in = MemoryStream[T]
      // already-committed chunks must exist in the source BEFORE the
      // restarted query recovers its offsets (it replays, then skips)
      preload.foreach(in.addData(_))
      val q = build(in.toDS()).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(_.toString)
          sink.synchronized { sink ++= rows }; ()
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        feed.foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      } finally q.stop()
    }

    val plain = collection.mutable.ArrayBuffer.empty[String]
    leg(java.nio.file.Files.createTempDirectory("graft_cr_plain").toString,
      Seq.empty, batches, plain)

    val resumed = collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cr_resume").toString
    leg(ckpt, Seq.empty, batches.take(splitAt), resumed) // leg 1, then "crash"
    leg(ckpt, batches.take(splitAt), batches.drop(splitAt), resumed) // restart
    (plain.toSeq, resumed.toSeq)
  }

  /** Two-input variant for the FK join. */
  private def runBoth2(left: Seq[Seq[Rec]], right: Seq[Seq[Rec]], splitAt: Int)(
      build: (Dataset[Rec], Dataset[Rec]) => DataFrame): (Seq[String], Seq[String]) = {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    def leg(ckpt: String, nPreload: Int, nFeed: Int,
            sink: collection.mutable.Buffer[String]): Unit = {
      val l = MemoryStream[Rec]
      val r = MemoryStream[Rec]
      (0 until nPreload).foreach { i =>
        if (i < left.size && left(i).nonEmpty) l.addData(left(i))
        if (i < right.size && right(i).nonEmpty) r.addData(right(i))
      }
      val q = build(l.toDS(), r.toDS()).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(_.toString)
          sink.synchronized { sink ++= rows }; ()
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        (nPreload until nFeed).foreach { i =>
          if (i < left.size && left(i).nonEmpty) l.addData(left(i))
          if (i < right.size && right(i).nonEmpty) r.addData(right(i))
          q.processAllAvailable()
        }
      } finally q.stop()
    }

    val n = math.max(left.size, right.size)
    val plain = collection.mutable.ArrayBuffer.empty[String]
    leg(java.nio.file.Files.createTempDirectory("graft_cr2_plain").toString,
      0, n, plain)
    val resumed = collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cr2_resume").toString
    leg(ckpt, 0, splitAt, resumed)
    leg(ckpt, splitAt, n, resumed)
    (plain.toSeq, resumed.toSeq)
  }

  test("KTableStream: latest-value state survives a mid-stream restart") {
    val s = spark
    import s.implicits._
    val batches = Seq(
      Seq(Rec("k1", "v1", 0L, 1), Rec("k2", "a", 0L, 2)),
      Seq(Rec("k1", "v2", 0L, 3)),
      // post-crash: changes must report the PRE-crash values as `old`
      Seq(Rec("k1", "v3", 0L, 4), Rec("k2", null, 0L, 5)))
    val (plain, resumed) = runBoth(batches, splitAt = 2)(in =>
      KTableStream.changes(in).toDF())
    assert(resumed.sorted == plain.sorted, s"resumed=$resumed plain=$plain")
    // the proof the state carried: v3's change knows old = v2
    assert(plain.exists(_.contains("v3") ), plain)
    assert(resumed.count(_.contains("v2")) == plain.count(_.contains("v2")))
  }

  test("FkJoinStream: subscription + right state survive a restart") {
    val left = Seq(
      Seq(Rec("o1", "c1", 0L, 10), Rec("o2", "c2", 0L, 11)),
      Seq.empty[Rec],
      // post-crash: a right update must re-emit the PRE-crash subscriber
      Seq(Rec("o3", "c1", 0L, 12)))
    val right = Seq(
      Seq(Rec("c1", "alpha", 0L, 1), Rec("c2", "beta", 0L, 2)),
      Seq.empty[Rec],
      Seq(Rec("c1", "alpha2", 0L, 3)))
    val (plain, resumed) = runBoth2(left, right, splitAt = 2)((l, r) =>
      FkJoinStream.join(l, r, identity[String], "left").toDF())
    assert(resumed.sorted == plain.sorted, s"resumed=$resumed plain=$plain")
    // o1 (subscribed pre-crash) must re-emit with alpha2 after resume
    assert(resumed.exists(s0 => s0.contains("o1") && s0.contains("alpha2")), resumed)
  }

  test("StreamDedup: fingerprint state survives a restart (no re-admission)") {
    val t0 = new Timestamp(1700000000000L)
    val s = spark
    import s.implicits._
    val batches = Seq(
      Seq(CrDoc(1, "hello world", t0), CrDoc(2, "other text", t0)),
      // post-crash duplicate of a pre-crash fingerprint: must stay dropped
      Seq(CrDoc(3, "HELLO   world", t0), CrDoc(4, "fresh content", t0)))
    val (plain, resumed) = withRocksDB(runBoth(batches, splitAt = 1)(in =>
      StreamDedup.firstPerFingerprint(in.toDF(), "text", "ts", "10 minutes")
        .select("id")))
    assert(resumed.sorted == plain.sorted)
    assert(!resumed.exists(_.contains("[3]")), s"duplicate re-admitted: $resumed")
  }

  test("StreamEmbeddingNearDup: LSH bucket state survives a restart") {
    val t0 = new Timestamp(1700000000000L)
    val s = spark
    import s.implicits._
    val base = Seq(1.0f, 0.5f, -0.25f, 0.75f)
    val near = base.map(_ * 1.01f)          // cosine ≈ 1 with `base`
    val far = Seq(-1.0f, 0.5f, 0.25f, -0.75f)
    val batches = Seq(
      Seq(CrVec(1, base, t0), CrVec(2, far, t0)),
      // post-crash arrival must pair with the PRE-crash stored vector —
      // only possible if the bucket ListState survived the restart
      Seq(CrVec(3, near, t0)))
    val (plain, resumed) = withRocksDB(runBoth(batches, splitAt = 1)(in =>
      StreamEmbeddingNearDup.pairs(in.toDF(), "doc_id", "vec", "ts",
        "10 minutes").toDF()))
    assert(resumed.sorted == plain.sorted, s"resumed=$resumed plain=$plain")
    assert(resumed.exists(s0 => s0.startsWith("[1,3,")),
      s"cross-crash pair (1,3) missing: $resumed")
  }
}
