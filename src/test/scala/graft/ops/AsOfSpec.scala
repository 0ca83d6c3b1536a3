package graft.ops

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

class AsOfSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("backward as-of: latest right ≤ left time; equal timestamps match; no match → null") {
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")), // after two rights → latest wins
      (2L, 10L, ts("2024-01-02 00:00:00")), // equal to a right ts → matches it
      (3L, 10L, ts("2023-12-31 00:00:00")), // before all rights → null
      (4L, 99L, ts("2024-01-05 00:00:00"))) // key with no rights → null
      .toDF("event_id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), "a"),
      (10L, ts("2024-01-02 00:00:00"), "b"),
      (10L, ts("2024-01-04 00:00:00"), "c"))
      .toDF("rk", "rt", "tag")
    val out = AsOf.joinBackward(left, "k", "t", right, "rk", "rt", Seq("tag"))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tag_asof")).toMap
    assert(out == Map(1L -> "c", 2L -> "b", 3L -> null, 4L -> null))
  }

  test("matched right row is atomic: null field NOT resurrected from older row") {
    val left = Seq((1L, 10L, ts("2024-01-05 00:00:00"))).toDF("event_id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), "a1", "b10"),
      (10L, ts("2024-01-02 00:00:00"), null, "b20"))
      .toDF("rk", "rt", "a", "b")
    val r = AsOf.joinBackward(left, "k", "t", right, "rk", "rt", Seq("a", "b"))
      .collect().head
    // the t=2024-01-02 row matches; its a IS null — must not pick up
    // "a1" from the older row (composite row that never existed)
    assert(r.getAs[String]("a_asof") == null)
    assert(r.getAs[String]("b_asof") == "b20")
  }

  test("as-of plan: single shuffle on the key, no cross product") {
    val left = Seq((1L, 10L, ts("2024-01-05 00:00:00"))).toDF("event_id", "k", "t")
    val right = Seq((10L, ts("2024-01-01 00:00:00"), "a")).toDF("rk", "rt", "tag")
    val plan = AsOf.joinBackward(left, "k", "t", right, "rk", "rt", Seq("tag"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
  }

  test("nearest as-of: closest either way, ties backward, one exchange") {
    val left = Seq(
      (1L, 10L, ts("2024-01-03 00:00:00")), // b@01 d=2, f@04 d=1 → f
      (2L, 10L, ts("2024-01-02 00:00:00")), // b@01 d=1, f@04 d=2 → b
      (3L, 10L, ts("2023-12-30 00:00:00")), // before all → forward
      (4L, 10L, ts("2024-02-01 00:00:00")), // after all → backward
      (5L, 99L, ts("2024-01-01 00:00:00")), // no rights → null
      (6L, 10L, ts("2024-01-02 12:00:00"))) // equidistant 36h → backward
      .toDF("event_id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), "a"),
      (10L, ts("2024-01-04 00:00:00"), "b"))
      .toDF("rk", "rt", "tag")
    val df = AsOf.joinNearest(left, "k", "t", right, "rk", "rt", Seq("tag"))
    val out = df.collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("tag_near"), r.getAs[java.lang.Long]("near_dist_s")))
      .toMap
    assert(out(1L) === (("b", 86400L)))
    assert(out(2L) === (("a", 86400L)))
    assert(out(3L) === (("a", 2L * 86400L)))
    assert(out(4L) === (("b", 28L * 86400L)))
    assert(out(5L) === ((null, null)))
    assert(out(6L)._1 === "a") // exact tie → backward
    // both direction carries share one partitioning+sort: one exchange
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges <= 2, s"expected union+window exchanges only:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
  }
}
