package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so every entry point (Verify, Bench, tests,
  * user code) runs with identical, scale-aware settings.
  *
  * Settings rationale (targets a 1000-executor cluster; tested on local[N]):
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting are
  *    the main levers that keep a fixed plan healthy at 100 TB.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the harness parquet
  *    (`events.ts`) is TIMESTAMP(NANOS), which Spark cannot represent
  *    natively; we read it as a long and convert explicitly (see
  *    [[Tables.events]]).
  *  - UTC session timezone: event-time semantics must not depend on the
  *    cluster's locale.
  *  - `file:` goes through [[graft.io.ForkFreeLocalFs]]: the same bytes,
  *    `.crc` sidecars and permissions as Hadoop's local file system,
  *    without a process fork per checkpoint file.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Keep the codegen stage id OUT of generated class names: under AQE
      // the id reflects runtime stage ordering, so structurally identical
      // plan fragments (every round of an iterative algorithm, every
      // re-run of a query) would get fresh class names and miss the
      // compiled-class cache — measured ~12 needless Janino compiles per
      // connected-components round. The id stays in the explain output.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // The compiled-class cache defaults to 100 entries; a session running
      // many distinct queries (or an iterative loop with several stages per
      // round) cycles past that and recompiles on every revisit. The full
      // 314-query suite holds ~2,200 distinct codegen units, so the r16
      // value of 1,000 STILL cycled once per bench round — measured 6,417
      // Janino compilations / 11.9 s of compile wall time in one repeat-3
      // run. 8,000 entries fits the whole suite with headroom; classes are
      // small (tens of MB of metaspace at this count). (Static conf —
      // must be set before the session exists.)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
    // Hadoop's local file system forks `chmod`/`readlink` per checkpoint
    // file without the native library; see [[graft.io.ForkFreeLocalFs]].
    graft.io.ForkFreeLocalFs.hadoopConfs.foreach { case (k, v) =>
      b.config("spark.hadoop." + k, v)
    }
    b
  }

  /** This machine's core count: the width of a local[N] session. */
  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Local session sized like the driver harness (local[N], N shuffle
    * partitions — not the 200 default, which just fragments tiny inputs). */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
