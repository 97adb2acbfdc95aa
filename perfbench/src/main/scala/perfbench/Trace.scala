package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for a traced run, read from outside the engine:
  * a `SparkListener` for jobs, stages and task metrics, a
  * `QueryExecutionListener` for Catalyst phase times and the executed
  * plan's shape, and the codegen compile histogram. Counters only grow;
  * callers take [[snapshot]]s and subtract. */
final class Trace(spark: SparkSession) {

  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit = c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private def max(k: String, v: Long): Unit = {
    val a = c.getOrElseUpdate(k, new AtomicLong)
    var cur = a.get()
    while (v > cur && !a.compareAndSet(cur, v)) cur = a.get()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_records", m.inputMetrics.recordsRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        max("peak_execution_memory_bytes", m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) => add(s"${phase}_ms", s.durationMs) }
    val (scans, exchanges, reused) = Trace.shape(qe.executedPlan)
    add("scans", scans); add("exchanges", exchanges); add("reused_exchanges", reused)
  }

  def start(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    this
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Current counter values, after every posted event has been delivered,
    * plus the process-wide codegen compile totals. */
  def snapshot(): Map[String, Long] = {
    drain()
    c.map { case (k, v) => k -> v.get() }.toMap ++ Trace.codegen()
  }

  /** Peak gauges are reset at each read window, counters are not. */
  def resetPeak(): Unit = c.get("peak_execution_memory_bytes").foreach(_.set(0L))
}

object Trace {
  def codegen(): Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "codegen_compile_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) =>
      k -> (if (k.startsWith("peak_")) v else v - before.getOrElse(k, 0L)) }

  /** (source scans, exchanges, reused exchanges) in an executed plan,
    * descending into the final adaptive plan, query stages and subqueries. */
  def shape(plan: SparkPlan): (Long, Long, Long) = {
    var scans, exchanges, reused = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => reused += 1
      case other =>
        other match {
          case _: FileSourceScanExec | _: BatchScanExec => scans += 1
          case _: Exchange => exchanges += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
        other match {
          case cr: org.apache.spark.sql.execution.CommandResultExec => walk(cr.commandPhysicalPlan)
          case _ =>
        }
    }
    walk(plan)
    (scans, exchanges, reused)
  }
}
