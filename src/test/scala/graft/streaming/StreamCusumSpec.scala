package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamCusum.{CusumPoint, Point}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming CUSUM: exact agreement with the batch x65 series under a
  * multi-batch replay, shift detection on a synthetic changepoint, and
  * unconfigured-series passthrough. */
class StreamCusumSpec extends SparkSpec {

  private def run(batches: Seq[Seq[Point]], params: Map[String, (Double, Double)],
                  threshold: Double = 5.0): Seq[CusumPoint] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Point]
    val name = s"scs${System.nanoTime()}"
    val q = StreamCusum.monitor(in.toDS(), params, threshold)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[CusumPoint].collect().toSeq
    } finally q.stop()
  }

  test("multi-batch stream reproduces the batch x65 series EXACTLY") {
    val s = spark
    val batch = SparkEntryAccess.x65(s, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(batch.length > 5, "x65 fixture unexpectedly small")
    // refit the frozen (μ, σ) exactly as the batch stats aggregate does:
    // exact integer Σx / Σx², the same double operation sequence
    val nd = batch.length.toLong
    val tot = batch.map(_._2).sum
    val sq = batch.map(r => BigInt(r._2) * BigInt(r._2)).sum
    val totD = tot.toDouble
    val mu = totD / nd
    val sigma = math.sqrt((sq.toDouble - totD * totD / nd) / nd)
    val pts = batch.map { case (day, micros, _) =>
      Point("daily", day, day * 86400, micros.toDouble) }
    // split mid-series across three micro-batches — state must carry
    val (b1, rest) = pts.splitAt(pts.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val got = run(Seq(b1.toSeq, b2.toSeq, b3.toSeq), Map("daily" -> (mu, sigma)))
      .map(p => p.seq_id -> p.s).toMap
    batch.foreach { case (day, _, sBatch) =>
      assert(got(day) == sBatch, s"day $day: stream ${got(day)} != batch $sBatch")
    }
  }

  test("a mean shift raises |S| past the threshold; a stable series never alarms") {
    // baseline μ=10, σ=1; stable wiggle ±0.5 then a +2σ sustained shift
    val stable = (1 to 30).map(i => Point("m", i.toLong, i.toLong, 10.0 + (i % 2) - 0.5))
    val shifted = (31 to 45).map(i => Point("m", i.toLong, i.toLong, 12.0))
    val out = run(Seq(stable ++ shifted), Map("m" -> (10.0, 1.0)))
    val alarms = out.filter(_.alarm).map(_.seq_id)
    assert(alarms.nonEmpty && alarms.forall(_ > 30), out.takeRight(5))
    // the detector is cumulative: once the shift persists, S keeps growing
    val tail = out.sortBy(_.seq_id).takeRight(2).map(_.s)
    assert(tail(1) > tail(0), tail)
  }

  test("series without reference parameters produce no monitored output") {
    val pts = (1 to 5).map(i => Point("unknown", i.toLong, i.toLong, 100.0))
    assert(run(Seq(pts), Map("m" -> (10.0, 1.0))).isEmpty)
  }
}

/** Test-only bridge to the x65 query site (the queries map is public but
  * this keeps the call-site intent explicit). */
private object SparkEntryAccess {
  def x65(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.SparkEntry.queries("x65_cusum")(s, dir)
}
