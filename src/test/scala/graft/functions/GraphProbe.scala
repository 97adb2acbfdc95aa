package graft.functions

/** Throwaway profiling probe comparing the two HITS paths at the
  * bench's iters=2: the budgeted driver path (one probe query) and the
  * distributed per-round checkpointed loop (`driverEdgeBudget = 0`). */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.entry(spark).count()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"GRAPHPROBE $label%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def edges = graft.SparkEntry.purchaseEdges(spark, sfDir)
    for (rep <- 1 to 3) {
      println(s"GRAPHPROBE ---- rep $rep")
      t("edges.count") { edges.count() }
      val e = GraphOps.hitsInit(edges)
      t("distinct.count") { e.count() }
      t("half-step.count") {
        GraphOps.hitsHalfStep(e, GraphOps.hitsHub0(e), "u", "p").count()
      }
      t("hitsL1(2) driver") { GraphOps.hitsL1(edges, iters = 2).count() }
      t("hitsL1(2) distributed") {
        GraphOps.hitsL1(edges, iters = 2, driverEdgeBudget = 0).count()
      }
    }
    spark.stop()
  }
}
