package graft.functions

import org.apache.spark.sql.{DataFrame, Row}

/** The small-input probe behind the driver fast paths of the iterative
  * kernels ([[DedupOps.connectedComponents]], [[GraphOps.hitsL1]]): when
  * an input fits a row budget, a sequential driver loop replaces rounds
  * of distributed jobs whose per-job scheduling cost dwarfs the work.
  * The budget bounds driver memory explicitly, the same small-side
  * reasoning as a broadcast-join threshold. */
object DriverBudget {

  /** `df`'s rows when there are at most `budget` of them, else None (a
    * budget of 0 or less turns the fast path off). Probe and payload are
    * ONE query: up to budget + 1 rows are collected, and an overflowing
    * row means "does not fit". A collect cannot exceed Int.MaxValue rows,
    * so larger budgets clamp (saturating, so e.g. Long.MaxValue reads
    * "unlimited" without overflow). */
  def collectWithin(df: DataFrame, budget: Long): Option[Array[Row]] = {
    val b = math.min(math.max(budget, 0L), (Int.MaxValue - 1).toLong)
    if (b == 0) None
    else Some(df.limit(b.toInt + 1).collect()).filter(_.length <= b)
  }
}
