package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming KTable⋈KTable primary-key join (reference
  * `TopologiesTest.scala:437-469`, SURVEY.md §2.5 J4/J5).
  *
  * Both changelogs are unioned with a side tag and keyed by the join key,
  * so ONE stateful operator maintains `(latest left, latest right)` per
  * key — no chaining restrictions. Each input change re-emits the joined
  * row (or a retraction), which is exactly the reference's changelog-join
  * contract: "either side's update re-emits the joined row; tombstones
  * propagate" — minus its duplicate-tombstone bugs (SURVEY.md §2.5, we
  * emit one change per logical change).
  *
  * `how`: "inner" or "left". Relational semantics:
  *  - inner emits only when both sides exist; a side's delete retracts;
  *  - left emits whenever left exists (right null-padded); right changes
  *    re-emit; left delete retracts.
  */
object PkJoinStream {

  private[streaming] case class Tagged(side: Int, key: String, value: String, seq: Long)
  private[streaming] case class Both(left: String, right: String,
                          leftSet: Boolean, rightSet: Boolean,
                          leftSeq: Long, rightSeq: Long)

  def join(left: Dataset[Rec], right: Dataset[Rec], how: String): Dataset[JoinChange] = {
    require(how == "inner" || how == "left", s"unsupported join type: $how")
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.map(r => Tagged(0, r.key, r.value, r.seq))
    val r = right.map(r => Tagged(1, r.key, r.value, r.seq))
    val inner = how == "inner"
    l.union(r)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Tagged], state: GroupState[Both]) => {
          val ordered = rows.toSeq.sortBy(t => (t.seq, t.side))
          val out = Seq.newBuilder[JoinChange]
          var st = state.getOption.getOrElse(
            Both(null, null, leftSet = false, rightSet = false,
              leftSeq = Long.MinValue, rightSeq = Long.MinValue))
          def visible(s: Both): Boolean =
            if (inner) s.leftSet && s.rightSet else s.leftSet
          // Per-side seq high-water mark: a change with seq <= the side's
          // last applied seq is a stale duplicate (at-least-once redelivery
          // or batch replay after recovery) and must not be re-applied —
          // the changelog stays idempotent under replay. Cross-SIDE arrival
          // order follows processing order, same as the reference's
          // cross-topic behavior (Kafka guarantees order per topic only).
          ordered.foreach { t =>
            val stale =
              if (t.side == 0) t.seq <= st.leftSeq else t.seq <= st.rightSeq
            if (!stale) {
              val wasVisible = visible(st)
              st =
                if (t.side == 0)
                  st.copy(left = t.value, leftSet = t.value != null, leftSeq = t.seq)
                else
                  st.copy(right = t.value, rightSet = t.value != null, rightSeq = t.seq)
              val isVisible = visible(st)
              if (isVisible)
                out += JoinChange(key, st.left, if (st.rightSet) st.right else null,
                  deleted = false, t.seq)
              else if (wasVisible)
                out += JoinChange(key, null, null, deleted = true, t.seq)
            }
          }
          // State is retained even when both sides are tombstoned: the seq
          // high-water marks ARE the replay guard, and dropping them would
          // re-admit a redelivered pre-tombstone change as fresh. The
          // retained record is two longs + flags per dead key. Nothing
          // evicts it (the operator has no timeout); the reference's
          // changelog topics drop tombstoned keys at compaction.
          state.update(st)
          out.result().iterator
        })
  }
}
