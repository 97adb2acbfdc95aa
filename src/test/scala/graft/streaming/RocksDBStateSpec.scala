package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The reference keeps operator state in RocksDB
  * (`serdes/package.scala:9-16`, `RocksDbWindowBytesStoreSupplier`);
  * Spark's RocksDB state store provider is the same layout. This spec
  * runs the KTable changelog operator against it — per-query provider
  * override, results identical to the default HDFS-backed store. */
class RocksDBStateSpec extends SparkSpec {

  test("KTable changelog on the RocksDB state store provider") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    withRocksDB {
      val in = MemoryStream[Rec]
      val q = KTableStream.changes(in.toDS())
        .writeStream.format("memory").queryName("rocks_out").outputMode("append").start()
      try {
        in.addData(Rec("k1", "v1", 0, 1))
        q.processAllAvailable()
        in.addData(Rec("k1", "v2", 0, 2), Rec("k2", null, 0, 3))
        q.processAllAvailable()
        val out = s.table("rocks_out").as[Change].collect().sortBy(_.seq).toList
        assert(out == List(
          Change("k1", "v1", null, 1),
          Change("k1", "v2", "v1", 2),
          Change("k2", null, null, 3)))
      } finally q.stop()
    }
  }
}
