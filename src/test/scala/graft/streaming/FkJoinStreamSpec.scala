package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** FK-join edge-case catalog (SURVEY.md §2.5; reference scenarios at
  * `TopologiesTest.scala:100-217`, `InnerFKJoinTest.scala:11-24`).
  * Values are "fk|name"; empty fk = null FK. We assert CLEAN relational
  * changelog behavior — one change per logical change — deliberately not
  * reproducing the reference's duplicate/spurious emissions.
  */
class FkJoinStreamSpec extends SparkSpec {

  private val fkOf: String => String = v => {
    val fk = v.substring(0, v.indexOf('|'))
    if (fk.isEmpty) null else fk
  }

  /** One side's input. Each `addData` is processed to completion before
    * it returns, so micro-batches follow the order a case writes its
    * feed. Otherwise the running query could read the left stream before
    * a left add and the right stream after a later right add, and one
    * batch would hold the right row without the left row written first. */
  private final class Side(stream: MemoryStream[Rec], q: StreamingQuery) {
    def addData(recs: Rec*): Unit = {
      stream.addData(recs)
      q.processAllAvailable()
    }
  }

  private var n = 0
  private def run(how: String)(feed: (Side, Side) => Unit): List[FkJoinChange] = {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    n += 1
    val name = s"fk_out_$n"
    val left = MemoryStream[Rec]
    val right = MemoryStream[Rec]
    val q = FkJoinStream.join(left.toDS(), right.toDS(), fkOf, how)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      feed(new Side(left, q), new Side(right, q))
      s.table(name).as[FkJoinChange].collect()
        .sortBy(c => (c.seq, c.deleted)).toList   // tie rule: upsert wins/sorts first
    } finally q.stop()
  }

  test("1: FK change to null (left join) — single clean null-padded upsert, no spurious event") {
    val out = run("left") { (l, r) =>
      l.addData(Rec("3 bands", "adidas|3 bands", 0, 1))
      r.addData(Rec("adidas", "3", 0, 2))
      r.addData(Rec("puma", "4", 0, 3))
      l.addData(Rec("3 bands", "|3 bands", 0, 4))   // FK → null
    }
    assert(out == List(
      FkJoinChange("3 bands", "adidas|3 bands", null, deleted = false, 1),
      FkJoinChange("3 bands", "adidas|3 bands", "3", deleted = false, 2),
      // FK→null: arrival upsert at the sentinel + departure delete, same seq
      FkJoinChange("3 bands", "|3 bands", null, deleted = false, 4),
      FkJoinChange("3 bands", null, null, deleted = true, 4)))
  }

  test("2: left tombstone (left join) — exactly ONE deletion, not the reference's two") {
    val out = run("left") { (l, r) =>
      l.addData(Rec("3 bands", "adidas|3 bands", 0, 1))
      r.addData(Rec("adidas", "3", 0, 2))
      l.addData(Rec("3 bands", null, 0, 3))
    }
    assert(out == List(
      FkJoinChange("3 bands", "adidas|3 bands", null, deleted = false, 1),
      FkJoinChange("3 bands", "adidas|3 bands", "3", deleted = false, 2),
      FkJoinChange("3 bands", null, null, deleted = true, 3)))
  }

  test("3: inner-join coherence — FK→nonexistent and FK→null both emit one retraction") {
    val toNonexistent = run("inner") { (l, r) =>
      l.addData(Rec("macbook m2", "apple|macbook m2", 0, 1))
      r.addData(Rec("apple", "3", 0, 2))
      l.addData(Rec("macbook m2", "non_existent|macbook m2", 0, 3))
    }
    assert(toNonexistent == List(
      FkJoinChange("macbook m2", "apple|macbook m2", "3", deleted = false, 2),
      FkJoinChange("macbook m2", null, null, deleted = true, 3)))

    val toNull = run("inner") { (l, r) =>
      l.addData(Rec("macbook m2", "apple|macbook m2", 0, 1))
      r.addData(Rec("apple", "3", 0, 2))
      l.addData(Rec("macbook m2", "|macbook m2", 0, 3))
    }
    assert(toNull == List(
      FkJoinChange("macbook m2", "apple|macbook m2", "3", deleted = false, 2),
      FkJoinChange("macbook m2", null, null, deleted = true, 3)))
  }

  test("4: duplicate identical left row — plain re-upsert, no unexpected null record") {
    val out = run("inner") { (l, r) =>
      r.addData(Rec("fk1", "3", 0, 1))
      l.addData(Rec("pk1", "fk1|name", 0, 2))
      l.addData(Rec("pk1", "fk1|name", 0, 3))   // identical duplicate
    }
    assert(out == List(
      FkJoinChange("pk1", "fk1|name", "3", deleted = false, 2),
      FkJoinChange("pk1", "fk1|name", "3", deleted = false, 3)))
  }

  test("5: FK change fk1→fk2 where fk2 unmatched (inner) — one retraction") {
    val out = run("inner") { (l, r) =>
      r.addData(Rec("fk1", "3", 0, 1))
      l.addData(Rec("pk1", "fk1|name", 0, 2))
      l.addData(Rec("pk1", "fk2|name", 0, 3))
    }
    assert(out == List(
      FkJoinChange("pk1", "fk1|name", "3", deleted = false, 2),
      FkJoinChange("pk1", null, null, deleted = true, 3)))
  }

  test("6: null FK before valid FK (inner) — nothing until the FK becomes valid") {
    val out = run("inner") { (l, r) =>
      l.addData(Rec("pk1", "|name", 0, 1))      // null FK first → no output
      r.addData(Rec("fk", "1", 0, 2))
      l.addData(Rec("pk1", "fk|name", 0, 3))
    }
    assert(out == List(
      FkJoinChange("pk1", "fk|name", "1", deleted = false, 3)))
  }

  test("7: right-side update re-joins ALL subscribed left rows") {
    val out = run("left") { (l, r) =>
      l.addData(Rec("p1", "m|p1", 0, 1), Rec("p2", "m|p2", 0, 2))
      r.addData(Rec("m", "rank9", 0, 3))
    }
    assert(out == List(
      FkJoinChange("p1", "m|p1", null, deleted = false, 1),
      FkJoinChange("p2", "m|p2", null, deleted = false, 2),
      FkJoinChange("p1", "m|p1", "rank9", deleted = false, 3),
      FkJoinChange("p2", "m|p2", "rank9", deleted = false, 3)))
  }

  test("8: right tombstone — left join null-pads subscribers, inner retracts them") {
    val leftOut = run("left") { (l, r) =>
      l.addData(Rec("p1", "m|p1", 0, 1))
      r.addData(Rec("m", "3", 0, 2))
      r.addData(Rec("m", null, 0, 3))
    }
    assert(leftOut == List(
      FkJoinChange("p1", "m|p1", null, deleted = false, 1),
      FkJoinChange("p1", "m|p1", "3", deleted = false, 2),
      FkJoinChange("p1", "m|p1", null, deleted = false, 3)))

    val innerOut = run("inner") { (l, r) =>
      l.addData(Rec("p1", "m|p1", 0, 1))
      r.addData(Rec("m", "3", 0, 2))
      r.addData(Rec("m", null, 0, 3))
    }
    assert(innerOut == List(
      FkJoinChange("p1", "m|p1", "3", deleted = false, 2),
      FkJoinChange("p1", null, null, deleted = true, 3)))
  }
}
