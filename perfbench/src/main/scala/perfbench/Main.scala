package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: `perfbench.Main --workload <w> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --work <dir> --cores <n>
  * [--small] [--break-check]`.
  *
  * The run writes `result.json` into `--work`: the operation counts, the
  * correctness checks, the end-to-end and per-layer figures and the wall
  * clock of the first timed operation. `run.py` turns it into the
  * benchmark's one-line result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, cores: Int,
                        small: Boolean, breakCheck: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val spark = session(a)
    try a.workload match {
      case "batch_suite"     => BatchSuite.run(spark, a, res)
      case "stream_windowed" => StreamWindowed.run(spark, a, res)
      case "state_lookups"   => StateLookups.run(spark, a, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    res.threadsAfterStop = liveServerThreads()
    res.write(Paths.get(a.work, "result.json"))
    // the Spark/HTTP/broker threads are all stopped by now; exit explicitly
    // so a stray non-daemon thread can never hold the run open
    sys.exit(0)
  }

  /** Broker and HTTP-server threads still alive once every broker, server
    * and query has been stopped (after a short grace for sockets to close). */
  private def liveServerThreads(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.sleep(500)
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      .filter(n => n.startsWith("mini-broker") || n.startsWith("HTTP-Dispatcher") ||
        n.startsWith("pool-") || n.contains("Keep-Alive")).sorted
  }

  private def parse(argv: Array[String]): Args = {
    val flags = Set("--small", "--break-check")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      if (flags(argv(i))) { kv(argv(i)) = "1"; i += 1 }
      else { kv(argv(i)) = argv(i + 1); i += 2 }
    }
    Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--data"), kv("--work"), kv("--cores").toInt,
      kv.contains("--small"), kv.contains("--break-check"))
  }

  /** The engine's own session factory, with every scratch location inside
    * the run's work directory. */
  private def session(a: Args): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.local.dir", Paths.get(a.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "warehouse").toString)
      // keep every micro-batch's progress: the stream checks and per-batch
      // phase medians read the whole run, not the default last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What one run reports. Figures keep every digit as measured. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var firstOpEpochMs = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** The issue-level figures of this workload, printed for humans. */
  val summary = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Broker and HTTP-server threads alive after everything was stopped. */
  var threadsAfterStop = Seq.empty[String]

  def markFirstOp(): Unit = if (firstOpEpochMs == 0L) firstOpEpochMs = System.currentTimeMillis()

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail.take(2000)))

  def write(p: Path): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", attempted).put("failed", failed).put("first_op_epoch_ms", firstOpEpochMs)
    // a median of no samples is NaN, which JSON writes as null
    Seq("e2e" -> e2e, "layers" -> layers, "summary" -> summary).foreach { case (name, xs) =>
      val o = root.putObject(name)
      xs.foreach { case (k, v) => if (v.isNaN || v.isInfinite) o.putNull(k) else o.put(k, v) }
    }
    val cs = root.putArray("checks")
    checks.foreach { case (n, ok, d) => cs.addObject().put("name", n).put("ok", ok).put("detail", d) }
    val ts = root.putArray("threads_after_stop")
    threadsAfterStop.foreach(t => ts.add(t))
    m.writeValue(p.toFile, root)
  }
}

/** The process's CPU time around a phase, the cost figure the end-to-end
  * metrics report, and the host's stolen share of CPU time as context for
  * the wall-clock figures. CPU time leaves out the time the hypervisor
  * gave to other guests, which wall time does not. */
object Machine {
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait irq softirq steal. */
  def hostTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong) finally src.close()
  }

  /** A full collection before a measured phase, so that the garbage of
    * earlier phases is not collected inside it: otherwise whether an old
    * generation collection falls into the timed phase or just before it
    * moves a run's CPU figure by several percent. */
  def collect(): Unit = System.gc()

  /** `body`'s result and the process CPU seconds spent while it ran. */
  def cpu[A](body: => A): (A, Double) = {
    val c0 = processCpuNs()
    val a = body
    (a, (processCpuNs() - c0) / 1e9)
  }

  /** Records, over the timed phase `body`, the process CPU ms per operation
    * (`cpu_ms_per_op`) and the host's stolen share of CPU time in percent. */
  def around[A](res: Result, ops: => Long)(body: => A): A = {
    val (c0, t0) = (processCpuNs(), hostTicks())
    val a = body
    val (c1, t1) = (processCpuNs(), hostTicks())
    val d = t1.zip(t0).map { case (x, y) => x - y }
    res.e2e("cpu_ms_per_op") = (c1 - c0) / 1e6 / math.max(1L, ops)
    res.summary("host_steal_pct") = 100.0 * d(7) / math.max(1L, d.sum)
    a
  }
}

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method); NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
