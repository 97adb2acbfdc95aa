package graft.functions

import graft.SparkSpec

/** The shared small-input probe: rows back only when they fit the
  * budget, and no fast path at all for a budget of 0 or less. */
class DriverBudgetSpec extends SparkSpec {

  test("collectWithin returns the rows only when they fit the budget") {
    val df = spark.range(5).toDF("id")
    assert(DriverBudget.collectWithin(df, 5).map(_.map(_.getLong(0)).toSeq.sorted)
      .contains(Seq(0L, 1L, 2L, 3L, 4L)))
    assert(DriverBudget.collectWithin(df, 4).isEmpty)
    // saturating clamp: "unlimited" does not overflow the limit
    assert(DriverBudget.collectWithin(df, Long.MaxValue).map(_.length).contains(5))
  }

  test("a budget of 0 or less turns the probe off without running a job") {
    val df = spark.range(5).toDF("id")
    assert(jobsDuring(assert(DriverBudget.collectWithin(df, 0).isEmpty)) == 0)
    assert(jobsDuring(assert(DriverBudget.collectWithin(df, -1).isEmpty)) == 0)
  }
}
