package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Ascending
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions.col

/** Joins.asOf, the as-of operator j10/j18/j22 bind, on a
  * hand-built frame checked against a plain-Scala replay of its rule:
  * `back` = the max (t, id) reference at or before the probe, `fwd` = the
  * min (t, id) reference strictly after it, per key. */
class AsOfSpec extends SparkSuite {
  import spark.implicits._

  // key 1: two references at t=10 (equal-ms, read backward) and two at
  // t=30 (equal-ms, read forward); key 2 has references only
  private val refs = Seq(
    (1L, 10L, 1L, "a"), (1L, 10L, 2L, "b"), (1L, 20L, 3L, "c"),
    (1L, 30L, 5L, "e"), (1L, 30L, 4L, "d"), (2L, 1L, 6L, "f"))
  // probes: before any reference (t=5), at the same ms as references
  // (t=10, t=30), between (t=25), after all (t=40), and a key with no
  // references at all (key 3)
  private val probes = Seq(
    (100L, 1L, 5L, "p"), (101L, 1L, 10L, "q"), (102L, 1L, 25L, "r"),
    (103L, 1L, 30L, "s"), (104L, 1L, 40L, "u"), (105L, 3L, 7L, "v"))

  private def asOf = operators.Joins.asOf(
    refs.toDF("k", "t", "id", "pay"), probes.toDF("pid", "k", "t", "tag"),
    "k", "t", "id", "pay")

  test("asOf: back and fwd equal a plain-Scala replay; probes keep their columns") {
    def ref(r: Row): Option[(Long, Long, String)] =
      if (r == null) None else Some((r.getLong(0), r.getLong(1), r.getString(2)))
    val got = asOf.select("pid", "k", "t", "tag", "back", "fwd").collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)) ->
        ((ref(r.getStruct(4)), ref(r.getStruct(5))))
    }.toMap
    val want = probes.map { case p @ (_, k, t, _) =>
      val own = refs.filter(_._1 == k).map(r => (r._2, r._3, r._4))
      p -> ((own.filter(_._1 <= t).sortBy(r => (r._1, r._2)).lastOption,
        own.filter(_._1 > t).sortBy(r => (r._1, r._2)).headOption))
    }.toMap
    assert(got === want)
    // the cases the fixture exists for
    assert(want((101L, 1L, 10L, "q")) === ((Some((10L, 2L, "b")), Some((20L, 3L, "c")))))
    assert(want((102L, 1L, 25L, "r")) === ((Some((20L, 3L, "c")), Some((30L, 4L, "d")))))
    assert(want((100L, 1L, 5L, "p"))._1.isEmpty)
    assert(want((105L, 3L, 7L, "v")) === ((None, None)))
    // struct fields carry the reference column names
    assert(asOf.schema("back").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("t", "id", "pay"))
  }

  test("asOf: a binding that reads one direction runs only that direction's windows, no join") {
    val back = asOf.select(col("pid"), col("back.id")).queryExecution.optimizedPlan
    val windows = back.collect { case w: Window => w }
    assert(windows.nonEmpty, s"expected the back windows:\n$back")
    assert(windows.forall(_.orderSpec.forall(_.direction == Ascending)),
      s"the unread fwd windows (descending order) should be pruned:\n$back")
    assert(!back.toString.contains("Join"), s"as-of must not join:\n$back")
  }
}
