package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for specs — one per suite, graft configs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", 2)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` on the RocksDB state store provider, then restores the
    * session's provider. `transformWithState` needs it: each state
    * variable is a column family, which the default HDFS-backed
    * provider rejects. */
  def withRocksDB[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so a marker job run afterwards bounds the count: once
    * its start is seen, every earlier job start has been seen too. */
  def jobsDuring(body: => Unit): Int = {
    val marker = "spark-spec-marker"
    val seen = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(30, TimeUnit.SECONDS), "marker job never seen")
      seen.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Deletes `dir` and everything under it, if it exists. */
  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
