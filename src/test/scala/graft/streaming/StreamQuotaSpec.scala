package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamQuota.{Admitted, Arrival}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming per-source quota: stream output ≡ a batch replay of the
  * same arrival-order rule, state carries across batches, and the cap
  * binds per source, not globally. */
class StreamQuotaSpec extends SparkSpec {

  private def run(batches: Seq[Seq[Arrival]], cap: Int): Seq[Admitted] = withRocksDB {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Arrival]
    val name = s"sq${System.nanoTime()}"
    val q = StreamQuota.admit(in.toDS(), cap)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      s.table(name).as[Admitted].collect().toSeq
    } finally q.stop()
  }

  /** The batch statement of the rule: row_number over (ts, doc_id) per
    * source, keep ≤ cap. */
  private def batchReplay(rows: Seq[Arrival], cap: Int): Set[(String, Long, Long)] = {
    val s = spark
    import s.implicits._
    rows.toDF()
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy("ts_sec", "doc_id")).cast("long"))
      .filter(col("rank") <= cap)
      .select("source", "doc_id", "rank")
      .as[(String, Long, Long)].collect().toSet
  }

  test("time-ordered multi-batch stream == batch replay on real documents") {
    val s = spark
    val docs = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"))
      .collect()
      // deterministic synthetic arrival times: ts = doc_id div 7 makes
      // same-ts ties real, exercising the (ts, doc_id) tiebreak
      .map(r => Arrival(r.getString(0), r.getLong(1), r.getLong(1) / 7))
      .sortBy(a => (a.ts_sec, a.doc_id))
    val batches = docs.grouped(math.max(1, docs.length / 3)).map(_.toSeq).toSeq
    val got = run(batches, cap = 3)
      .map(a => (a.source, a.doc_id, a.rank)).toSet
    assert(got == batchReplay(docs.toSeq, cap = 3))
    assert(got.nonEmpty)
  }

  test("state carries across batches: the cap binds over the whole stream") {
    val out = run(Seq(
      Seq(Arrival("s", 1L, 1L), Arrival("s", 2L, 2L)),
      Seq(Arrival("s", 3L, 3L), Arrival("s", 4L, 4L)), // 4th over the cap of 3
      Seq(Arrival("s", 5L, 5L))
    ), cap = 3)
    assert(out.map(a => (a.doc_id, a.rank)).toSet ==
      Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("quota binds per source, not globally") {
    val out = run(Seq(Seq(
      Arrival("a", 1L, 1L), Arrival("a", 2L, 2L), Arrival("a", 3L, 3L),
      Arrival("b", 4L, 1L), Arrival("b", 5L, 2L)
    )), cap = 2)
    assert(out.filter(_.source == "a").map(_.doc_id).toSet == Set(1L, 2L))
    assert(out.filter(_.source == "b").map(_.doc_id).toSet == Set(4L, 5L))
  }
}
