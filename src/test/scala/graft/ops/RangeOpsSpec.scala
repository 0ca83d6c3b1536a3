package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKRows

/** Specs for the round-4 batch operators: binned range join, bounded
  * top-k aggregation, SCD2 interval build — each against a sequential
  * model or hand-checked fixture, with partition invariance where the
  * operator's point is shuffle behavior.
  */
class RangeOpsSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("range join neighbor counts match the quadratic model, including bin edges") {
    val rnd = new scala.util.Random(11)
    // cluster events tightly so bins are exercised across boundaries,
    // including exact-delta distances and duplicate timestamps
    val base = ts("2024-01-01 00:00:00").getTime
    val times = (0 until 200).map(_ => base + rnd.nextInt(2000) * 100L) :+
      (base + 60000L) :+ base :+ base // exact ±60s pair + exact dup
    val rows = times.zipWithIndex.map { case (t, i) =>
      (i.toLong, new Timestamp(t))
    }
    val expected = rows.map { case (id, t) =>
      id -> rows.count { case (oid, ot) =>
        oid != id && math.abs(ot.getTime - t.getTime) <= 60000L
      }.toLong
    }.toMap
    val out = RangeJoin
      .neighborCounts(rows.toDF("event_id", "ts").repartition(5), "event_id", "ts", 60L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == expected)
  }

  test("topK aggregator keeps best k with deterministic ties, any partitioning") {
    val rows = Seq(
      ("a", 5.0, 1L, 1L), ("a", 5.0, 1L, 2L), ("a", 7.0, 9L, 1L),
      ("a", 3.0, 2L, 1L), ("b", 1.0, 1L, 1L))
    for (parts <- Seq(1, 4)) {
      val out = rows.toDF("g", "v", "t1", "t2").repartition(parts)
        .groupBy("g")
        .agg(TopKRows.topK(2, asc = false)(col("v"), col("t1"), col("t2")).as("tk"))
        .as[(String, Seq[TopKRows.Entry])]
        .collect().toMap
      assert(out("a") == Seq(
        TopKRows.Entry(7.0, 9L, 1L), TopKRows.Entry(5.0, 1L, 1L)))
      assert(out("b") == Seq(TopKRows.Entry(1.0, 1L, 1L)))
    }
  }

  test("topK ascending keeps the k smallest") {
    val out = Seq(1L, 5L, 3L, 2L).toDF("x").repartition(3)
      .agg(TopKRows.topK(2, asc = true)(col("x").cast("double"), col("x"), lit(0L))
        .as("tk"))
      .as[Seq[TopKRows.Entry]]
      .head()
    assert(out == Seq(TopKRows.Entry(1.0, 1L, 0L), TopKRows.Entry(2.0, 2L, 0L)))
  }

  test("scd2 builds closed and open runs with null-safe change detection") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 00:10:00"), 2L, "view"), // no change
      (1L, ts("2024-01-01 00:20:00"), 3L, "buy"), // change
      (1L, ts("2024-01-01 00:30:00"), 4L, null), // change to null
      (1L, ts("2024-01-01 00:40:00"), 5L, null), // null -> null: no change
      (2L, ts("2024-01-01 00:00:00"), 6L, "x"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Scd.scd2History(log.repartition(3), "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
      .toSet
    assert(out == Set(
      (1L, Some("view"), ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 00:20:00")), false),
      (1L, Some("buy"), ts("2024-01-01 00:20:00"), Some(ts("2024-01-01 00:30:00")), false),
      (1L, None, ts("2024-01-01 00:30:00"), None, true),
      (2L, Some("x"), ts("2024-01-01 00:00:00"), None, true)))
  }

  test("fuzzy join finds exactly the distance-<=1 pairs of the brute-force model") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(3)
    // small alphabet + short strings → dense distance-1 neighborhoods,
    // including exact dups, substitutions, insertions, deletions
    val rows = (0L until 120L).map(i =>
      (i, (0 until 3 + rnd.nextInt(3)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    val got = FuzzyJoin.editDistance1Pairs(rows.toDF("id", "s").repartition(5), "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    val counts = FuzzyJoin.editDistance1Counts(rows.toDF("id", "s"), "id", "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val degree = expected.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for ((id, _) <- rows)
      assert(counts(id) == degree.getOrElse(id, 0L))
  }

  test("posting lists cap head ids and count full df") {
    val docs = (0L until 20L).map(i => (i, "common w" + (i % 3))).toDF("doc_id", "text")
    val out = Relevance.postingLists(docs, "doc_id", "text", headK = 4)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out("common") == (20L, "0,1,2,3"))
    assert(out("w0") == (7L, "0,3,6,9")) // docs 0,3,6,9,12,15,18
  }
}
