package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The session's checkpoints go through [[graft.io.ForkFreeLocalFs]]:
  * wiring, `.crc` sidecars on the streaming logs, and a restart of a
  * checkpoint that Hadoop's stock local file system wrote. */
class ForkFreeCheckpointSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  private def files(dir: JPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq

  /** Runs KTableStream.changes over `batches` (one micro-batch each)
    * against `ckpt`; the first `preload` batches are already committed
    * in `ckpt` and must not be emitted again. */
  private def leg(ckpt: String, batches: Seq[Seq[Rec]], preload: Int): Seq[Change] = {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Rec]
    batches.take(preload).foreach(in.addData(_))
    val out = collection.mutable.ArrayBuffer.empty[Change]
    val q = KTableStream.changes(in.toDS()).writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Change], _: Long) =>
        val rows = b.collect(); out.synchronized { out ++= rows }; ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      batches.drop(preload).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    out.toSeq
  }

  private val batches = Seq(
    Seq(Rec("k1", "v1", 0L, 1), Rec("k2", "a", 0L, 2)),
    Seq(Rec("k1", "v2", 0L, 3)),
    Seq(Rec("k1", "v3", 0L, 4), Rec("k2", null, 0L, 5)))

  test("the session resolves file: to the fork-free classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(fileUri, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(fileUri, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
  }

  test("a 3-batch stateful query leaves a .crc beside every offsets/commits file") {
    val ckpt = Files.createTempDirectory("graft_ffs_ckpt")
    val out = leg(ckpt.toString, batches, preload = 0)
    assert(out.map(_.seq).sorted == Seq(1L, 2L, 3L, 4L, 5L))
    for (log <- Seq("offsets", "commits")) {
      val names = files(ckpt.resolve(log))
      val data = names.filterNot(_.startsWith("."))
      assert(data.size >= 3, s"$log: $names")
      data.foreach(n => assert(names.contains(s".$n.crc"), s"$log/$n has no .crc: $names"))
    }
  }

  test("a checkpoint written by the stock local file system resumes with no duplicates") {
    val plain = leg(Files.createTempDirectory("graft_ffs_plain").toString, batches, 0)

    val ckpt = Files.createTempDirectory("graft_ffs_stock").toString
    val stock = Seq(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)
    assert(stock.map(_._1) == ForkFreeLocalFs.hadoopConfs.map(_._1))
    val first = try {
      stock.foreach { case (k, v) => spark.conf.set(k, v) }
      val afs = FileContext.getFileContext(fileUri, spark.sessionState.newHadoopConf())
        .getDefaultFileSystem
      assert(afs.getClass == classOf[LocalFs], afs.getClass)
      leg(ckpt, batches.take(2), 0)
    } finally stock.foreach { case (k, _) => spark.conf.unset(k) }
    val resumed = first ++ leg(ckpt, batches, preload = 2)

    assert(resumed.map(_.seq).distinct.size == resumed.size, s"duplicates: $resumed")
    assert(resumed.sortBy(_.seq) == plain.sortBy(_.seq))
    // state carried across the switch: k1's v3 change knows the old v2
    assert(resumed.contains(Change("k1", "v3", "v2", 4)), resumed)
  }

  test("a flipped byte in an offsets file fails the restart with a ChecksumException") {
    val ckpt = Files.createTempDirectory("graft_ffs_flip")
    leg(ckpt.toString, batches.take(2), 0)
    // the last offsets file ends with the source offset ("1"); as "0" it
    // still parses, and an unchecked read would resume from the wrong batch
    val offsets = ckpt.resolve("offsets")
    val latest = files(offsets).filterNot(_.startsWith(".")).maxBy(_.toLong)
    val f = offsets.resolve(latest)
    val bytes = Files.readAllBytes(f)
    val i = bytes.lastIndexWhere(b => b >= '0' && b <= '9')
    bytes(i) = (bytes(i) ^ 1).toByte
    Files.write(f, bytes)
    val e = intercept[Exception](leg(ckpt.toString, batches, preload = 2))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[ChecksumException]), causes.mkString("\n"))
  }
}
