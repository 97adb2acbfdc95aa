package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** How many Spark jobs a "lazy" `localCheckpoint(eager = false)` starts at
  * the call, under `GraftSession`'s settings (AQE on). A lazy snapshot of
  * a plan without a shuffle starts none; over a shuffle it starts one per
  * shuffle stage, because AQE's `doExecute` runs every shuffle stage as
  * soon as `Dataset.checkpoint` asks for the RDD. So the lazy snapshot
  * sites still run work at build time; a Spark upgrade that changes
  * that fails here. */
class LocalCheckpointJobsSpec extends SparkSpec {

  private def sums: DataFrame =
    spark.range(100000).select((col("id") % 100).as("k"), col("id").as("v")).groupBy("k").agg(sum("v").as("s"))

  test("a lazy localCheckpoint of a plan without a shuffle starts no job") {
    assert(jobsDuring(spark.range(100000).select((col("id") % 100).as("k")).localCheckpoint(false)) == 0)
  }

  test("a lazy localCheckpoint under AQE runs its plan's shuffle stages at the call") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // one shuffle stage: one job
    var snap: DataFrame = null
    assert(jobsDuring { snap = sums.localCheckpoint(false) } == 1)
    // a join and an aggregate over the snapshot: two jobs
    assert(jobsDuring(
      snap.join(spark.range(100).withColumnRenamed("id", "k"), "k")
        .groupBy((col("k") % 10).as("b")).agg(sum("s").as("t")).localCheckpoint(false)) == 2)
    // an eager snapshot adds the job that materializes it
    assert(jobsDuring(sums.localCheckpoint(true)) == 2)
  }
}
