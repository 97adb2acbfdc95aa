package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** KTable changelog semantics (reference `builder.table` upserts +
  * tombstones, `TopologiesTest.scala:219-239`). */
class KTableStreamSpec extends SparkSpec {

  test("upserts and tombstones emit one change each, state survives batches") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Rec]
    val q = KTableStream.changes(in.toDS())
      .writeStream.format("memory").queryName("ktable_out").outputMode("append").start()
    try {
      in.addData(Rec("key1", "v1", 0L, 1), Rec("key1", "v2", 0L, 2))
      q.processAllAvailable()
      // second batch: state must remember v2
      in.addData(Rec("key1", null, 0L, 3), Rec("key2", "x", 0L, 4))
      q.processAllAvailable()
      // third batch: a re-insert after the tombstone has no old value,
      // and changes drops a null key itself
      in.addData(Rec(null, "dropped", 0L, 5), Rec("key1", "c", 0L, 6))
      q.processAllAvailable()
      val changes = s.table("ktable_out").as[Change].collect().sortBy(_.seq).toList
      assert(changes == List(
        Change("key1", "v1", null, 1),
        Change("key1", "v2", "v1", 2),
        Change("key1", null, "v2", 3),
        Change("key2", "x", null, 4),
        Change("key1", "c", null, 6)))
    } finally q.stop()
  }

  test("null keys are dropped at the source, as in the reference") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val in = MemoryStream[Rec]
    val q = KTableStream.changes(KTableStream.dropNullKeys(in.toDS()))
      .writeStream.format("memory").queryName("ktable_nullkey").outputMode("append").start()
    try {
      in.addData(Rec(null, "ignored", 0L, 1), Rec("a", "kept", 0L, 2))
      q.processAllAvailable()
      val changes = s.table("ktable_nullkey").as[Change].collect().toList
      assert(changes == List(Change("a", "kept", null, 2)))
    } finally q.stop()
  }
}
