package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch_suite`: a fixed set of registry queries at sf0.01. The cold pass
  * (the first execution of every query in the JVM) writes each result as
  * parquet, and `run.py` compares those files with each query's DuckDB
  * oracle. An untimed warm-up pass follows, then timed warm passes until
  * the run length is used up, each query fully materialized through the
  * `noop` sink (not `count()`, which lets Catalyst prune the final
  * projections). Every pass runs every query once, in the same order. */
object BatchSuite {

  /** Query families as the README lists them: one or more per family of
    * the registry, light relational twins next to heavy iterative ones. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "twins" -> Seq("a2_wordcount", "w1_tumbling_count", "j6_fk_left_join", "k1_latest_per_key"),
    "tpch" -> Seq("q1_agg"),
    "dedup" -> Seq("d23_winnow_clusters"),
    "graph" -> Seq("g2_hits"),
    "text" -> Seq("t6_tfidf"),
    "copurchase" -> Seq("x46_item_cooccur"),
    "sketch" -> Seq("x39_hll_distinct"),
    "multimodal" -> Seq("m4_audio_spectral"))

  val Queries: Seq[String] = Families.flatMap(_._2)

  /** The short queries: plans whose time is mostly the fixed cost per
    * query (planning, codegen, job scheduling). */
  val Light: Set[String] = Set("a2_wordcount", "w1_tumbling_count", "j6_fk_left_join",
    "k1_latest_per_key", "q1_agg", "x39_hll_distinct")

  /** A run times at least this many warm passes, so that a run on a busy
    * host times as many queries as one on a quiet host. */
  val MinWarmPasses = 2

  private final case class Exec(buildNs: Long, totalNs: Long)

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val dir = a.data
    // table resolution is set-up: the loader memo holds resolved relations
    graft.Tables.names.foreach(t => graft.Tables(spark, dir, t).schema)
    val trace = if (a.trace) Some(new Trace(spark).start()) else None

    def exec(name: String, sink: DataFrame => Unit): Exec = {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      sink(df)
      Exec(t1 - t0, System.nanoTime() - t0)
    }
    val noop: String => DataFrame => Unit = _ => _.write.format("noop").mode("overwrite").save()

    /** One pass over every query; None for a query that threw. */
    def pass(sink: String => DataFrame => Unit): Seq[(String, Option[Exec])] = Queries.map { q =>
      res.attempted += 1
      q -> (try Some(exec(q, sink(q))) catch {
        case e: Throwable =>
          res.failed += 1
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          None
      })
    }
    def seconds(p: Seq[(String, Option[Exec])], keep: String => Boolean = _ => true) =
      p.collect { case (q, Some(e)) if keep(q) => e.totalNs / 1e9 }.sum

    val out = Paths.get(a.work, "batch_out")
    val parquet: String => DataFrame => Unit =
      q => _.write.mode("overwrite").parquet(out.resolve(q).toString)

    Machine.collect()
    val tCold0 = trace.map(_.snapshot())
    res.markFirstOp()
    val (cold, coldCpu) = Machine.cpu(pass(parquet))
    val tCold1 = trace.map(_.snapshot())
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(out.resolve("oracle_sql.json").toFile,
      Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap.asJava)

    // untimed warm-up: the JIT is still compiling through the first warm
    // pass, which runs about a third slower than the ones after it
    pass(noop)
    Machine.collect()

    val warm = mutable.ArrayBuffer.empty[Seq[(String, Option[Exec])]]
    trace.foreach(_.resetPeak())
    val tWarm0 = trace.map(_.snapshot())
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    Machine.around(res, warm.size.toLong * Queries.size) {
      do warm += pass(noop) while (System.nanoTime() < deadline || warm.size < MinWarmPasses)
    }
    val tWarm1 = trace.map(_.snapshot())

    val warmPass = warm.map(seconds(_)).toSeq
    res.e2e("cold_cpu_s") = coldCpu
    res.summary("batch_cold_pass_s") = seconds(cold)
    res.summary("batch_warm_pass_s") = Stats.median(warmPass)
    res.summary("batch_light_pass_s") = Stats.median(warm.map(seconds(_, Light)).toSeq)
    res.summary("warm_passes") = warm.size

    for (t0 <- tWarm0; t1 <- tWarm1; c0 <- tCold0; c1 <- tCold1) {
      val n = warm.size.toDouble
      val w = Trace.diff(t1, t0).withDefaultValue(0L)
      val c = Trace.diff(c1, c0).withDefaultValue(0L)
      def per(k: String) = w(k) / n
      res.layers("batch.build_ms") =
        warm.map(_.collect { case (_, Some(e)) => e.buildNs / 1e6 }.sum).sum / n
      Seq("analysis", "optimization", "planning").foreach(p => res.layers(s"batch.${p}_ms") = per(s"${p}_ms"))
      res.layers("batch.codegen_compiles") = c("codegen_compiles").toDouble
      res.layers("batch.codegen_compile_ms") = c("codegen_compile_ms").toDouble
      Seq("jobs", "stages", "tasks", "task_run_ms", "gc_ms", "input_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "scans",
        "exchanges", "reused_exchanges").foreach(k => res.layers(s"batch.$k") = per(k))
      res.layers("batch.task_cpu_ms") = per("task_cpu_ns") / 1e6
      res.layers("batch.peak_execution_memory_bytes") = w("peak_execution_memory_bytes").toDouble
      Families.foreach { case (f, qs) =>
        res.layers(s"batch.family.$f.warm_s") =
          Stats.median(warm.map(seconds(_, qs.toSet)).toSeq)
      }
      trace.foreach(_.stop())
    }

  }
}
