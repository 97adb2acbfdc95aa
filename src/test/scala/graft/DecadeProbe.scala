package graft

/** Ad-hoc scaling probe for operator VARIANTS that are not bench
  * queries (the A/B tool behind SCALE.md's knob measurements): runs
  * `dbscanBlocked` with an env-chosen `bits` against
  * `SPARK_GRAFT_SF_DIR`, 3 reps, min-of-N reporting — the Scratch
  * protocol for a parameterized call site.
  * `SPARK_GRAFT_DBSCAN_BITS=8 SPARK_GRAFT_SF_DIR=localdata/sf10
  *  sbt "Test/runMain graft.DecadeProbe"` */
object DecadeProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "localdata/sf1")
    val bits = sys.env.getOrElse("SPARK_GRAFT_DBSCAN_BITS", "8").toInt
    val spark = GraftSession.builder(s"local[${GraftSession.cores}]", GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.embeddings(spark, dir).count() // warm the scan
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.functions.SimilarityOps.dbscanBlocked(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        eps2 = 1250000L, minPts = 4, bits = bits).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"DECADEPROBE dbscanBlocked bits=$bits dir=$dir " +
      times.map(t => f"$t%.3f").mkString("runs=", ",", "") +
      f" min=${times.min}%.3f")
    spark.stop()
  }
}
