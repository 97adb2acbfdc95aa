package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** SCALE.md measurement mains (run with `sbt "Test/runMain ..."`):
  *
  *  - [[IndexVocabProbe]] — the round-16 ask: the incremental inverted
  *    index's "vocabulary-sized exchange" claim was only exercised at a
  *    30-word synthetic vocab; drive [[graft.streaming.IncrementalIndex
  *    .applyBatch]] at realistic vocabulary sizes (10³..10⁵ distinct
  *    terms) and measure the per-batch wall slope against |vocab|.
  *  - [[StateSizeProbe]] — streaming state-backend A/B at REALISTIC
  *    state sizes (10⁴ vs 10⁶ state rows): HDFS-backed vs RocksDB vs
  *    RocksDB + changelog checkpointing, per-batch fixed cost after
  *    the state is loaded. The r16 A/B measured changelog
  *    checkpointing a LOSS at tiny state; this measures the regime the
  *    100×-scale deployment actually runs in.
  */
object IndexVocabProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(s"local[${GraftSession.cores}]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val batches = 12
    val docsPerBatch = 200
    val tokensPerDoc = 50
    println(f"${"vocab"}%8s ${"realized"}%9s ${"batch1 s"}%9s " +
      f"${"steady s/batch"}%15s ${"index rows"}%11s")
    for (v <- Seq(1000, 10000, 100000)) {
      val rnd = new scala.util.Random(42)
      val table = java.nio.file.Files
        .createTempDirectory(s"ivp_$v").toString + "/t"
      def doc(): String = Array.fill(tokensPerDoc) {
        val u = rnd.nextDouble() // u² skew: a Zipf-ish head + long tail
        "t" + (u * u * v).toInt
      }.mkString(" ")
      val secs = (0 until batches).map { b =>
        val changes = (0 until docsPerBatch).map(d =>
          graft.streaming.Change(s"doc_${b}_$d", doc(), null, b))
        val ds = spark.createDataset(changes)
        val t0 = System.nanoTime()
        graft.streaming.IncrementalIndex.applyBatch(ds, table, b)
        (System.nanoTime() - t0) / 1e9
      }
      val steady = secs.drop(2).sorted.apply((batches - 2) / 2)
      val rows = graft.streaming.IncrementalIndex.index(spark, table).count()
      println(f"$v%8d $rows%9d ${secs.head}%9.3f $steady%15.3f $rows%11d")
    }
    // the half-million-term regime: preload a big vocabulary with bulk
    // batches, then measure steady small-batch cost against it — this
    // isolates the |vocab|-sized read-merge-rewrite from batch work
    {
      val rnd = new scala.util.Random(43)
      val v = 10000000
      val table = java.nio.file.Files
        .createTempDirectory("ivp_big").toString + "/t"
      def doc(nTok: Int): String = Array.fill(nTok) {
        val u = rnd.nextDouble()
        "t" + (u * u * v).toInt
      }.mkString(" ")
      var b = 0
      while (b < 10) { // 10 × 2000 docs × 50 tokens = 1M draws
        val changes = (0 until 2000).map(d =>
          graft.streaming.Change(s"bulk_${b}_$d", doc(50), null, b))
        graft.streaming.IncrementalIndex.applyBatch(
          spark.createDataset(changes), table, b)
        b += 1
      }
      val secs = (10 until 20).map { bb =>
        val changes = (0 until docsPerBatch).map(d =>
          graft.streaming.Change(s"doc_${bb}_$d", doc(50), null, bb))
        val t0 = System.nanoTime()
        graft.streaming.IncrementalIndex.applyBatch(
          spark.createDataset(changes), table, bb)
        (System.nanoTime() - t0) / 1e9
      }
      val rows = graft.streaming.IncrementalIndex.index(spark, table).count()
      println(f"${"(preloaded)"}%8s $rows%9d ${"-"}%9s " +
        f"${secs.sorted.apply(4)}%15.3f $rows%11d")
    }
    spark.stop()
  }
}

object StateSizeProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(s"local[${GraftSession.cores}]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val backends = Seq(
      ("hdfs", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")),
      ("rocksdb", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "false")),
      ("rocksdb+changelog", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true")))
    println(f"${"backend"}%-18s ${"state rows"}%10s ${"preload s"}%10s " +
      f"${"s/batch (p50 of 10)"}%20s")
    // a discarded warm-up config first: JIT/classloading otherwise
    // flatters whichever backend runs last
    val warmup = Seq((backends.head._1 + " (warmup)", backends.head._2))
    for ((name, confs) <- warmup ++ backends.flatMap(b => Seq(b, b));
         stateRows <- Seq(10000, 1000000)
         if !(name.endsWith("(warmup)") && stateRows > 10000)) {
      confs.foreach { case (k, vv) => spark.conf.set(k, vv) }
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssp_${name}_$stateRows").toString
      val in = MemoryStream[(Long, Long)]
      val q = in.toDF().toDF("k", "v")
        .groupBy("k").agg(sum("v").as("s"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.format("noop").mode("overwrite").save()
        }
        .start()
      val t0 = System.nanoTime()
      // preload in 4 adds to keep each micro-batch's shuffle sane
      val quarter = stateRows / 4
      for (part <- 0 until 4) {
        in.addData((0 until quarter).map(i =>
          ((part.toLong * quarter + i), 1L)))
        q.processAllAvailable()
      }
      val preload = (System.nanoTime() - t0) / 1e9
      val rnd = new scala.util.Random(7)
      val secs = (1 to 10).map { _ =>
        val t1 = System.nanoTime()
        in.addData((0 until 2000).map(_ =>
          (rnd.nextLong(stateRows.toLong), 1L)))
        q.processAllAvailable()
        (System.nanoTime() - t1) / 1e9
      }
      q.stop()
      val p50 = secs.sorted.apply(4)
      println(f"$name%-18s $stateRows%10d $preload%10.1f $p50%20.3f")
    }
    spark.stop()
  }
}
