package graft.ops

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Prefix-scan operators (distributed global row numbers, 2-d
  * skyline) and the time-series gap-fill: brute-force-model equality
  * and partition invariance — the properties the range-partitioned
  * decomposition must preserve exactly.
  */
class PrefixSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  test("globalRowNumbers = dense 1..N in key order, any partitioning") {
    val keys = scala.util.Random.shuffle((1 to 987).map(_.toLong * 7L)).toSeq
    for (parts <- Seq(1, 4, 13)) {
      val got = Prefix.globalRowNumbers(
        keys.toDF("k").repartition(parts), "k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = keys.sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
      assert(got == want)
    }
  }

  test("globalNtile matches SQL ntile bucket sizing for every N mod n") {
    def model(nRows: Int, n: Int): Map[Long, Long] = {
      val base = nRows / n; val rem = nRows % n
      (1 to nRows).map { rn =>
        val tile =
          if (rn <= (base + 1) * rem) (rn - 1) / (base + 1) + 1
          else rem + (rn - (base + 1) * rem - 1) / math.max(base, 1) + 1
        rn.toLong -> tile.toLong
      }.toMap
    }
    for (nRows <- Seq(1, 6, 7, 13, 100); n <- Seq(1, 3, 7, 20)) {
      val got = Prefix.globalNtile(
        (1L to nRows.toLong).toDF("k"), "k", n)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == model(nRows, n), s"nRows=$nRows n=$n")
      // bucket sizes differ by at most one and are remainder-first
      val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
      assert(sizes.values.max - sizes.values.min <= 1)
    }
  }

  test("globalRowNumbers survives more partitions than rows") {
    val got = Prefix.globalRowNumbers(
      Seq(30L, 10L, 20L).toDF("k"), "k", partitions = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 20L -> 2L, 30L -> 3L))
  }

  test("runningTotal = sequential prefix sum; shards balance") {
    val rnd = new scala.util.Random(7)
    val rows = scala.util.Random.shuffle(
      (1L to 500L).map(k => (k, 1L + rnd.nextInt(100).toLong)))
    val want = rows.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (k, v)) => (k, acc + v) }
      .drop(1).toMap
    for (parts <- Seq(1, 6)) {
      val got = Prefix.runningTotal(
        rows.toDF("k", "bytes").repartition(parts), "k", "bytes")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == want)
    }
    // shard = (cum-1) div target: every shard except the last carries
    // at least target bytes' worth of boundary, none skips an index
    val target = 2000L
    val shards = want.toSeq.sortBy(_._1)
      .map { case (_, cum) => (cum - 1) / target }
    assert(shards == shards.sorted)
    assert(shards.distinct == (shards.min to shards.max))
  }

  private def skyModel(pts: Seq[(Long, Long, Long)]): Set[Long] =
    pts.filter { case (_, x, y) =>
      !pts.exists { case (_, a, b) => a > x && b > y }
    }.map(_._1).toSet

  test("skylineMax2d = brute-force NOT EXISTS, including tie rows") {
    val rnd = new scala.util.Random(3)
    val pts = (1 to 500).map(i =>
      (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    // duplicate extremes: equal x / equal y on the frontier must all
    // survive (dominance is strict on BOTH axes)
    val withTies = pts ++ Seq((9001L, 39L, 39L), (9002L, 39L, 39L))
    val want = skyModel(withTies)
    for (parts <- Seq(1, 7)) {
      val got = Prefix.skylineMax2d(
        withTies.toDF("id", "x", "y").repartition(parts), "x", "y")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want)
    }
  }

  test("skyline of a strictly increasing chain keeps only the top point") {
    val chain = (1 to 50).map(i => (i.toLong, i.toLong, i.toLong))
    val got = Prefix.skylineMax2d(chain.toDF("id", "x", "y"), "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(50L))
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("gapFillHourly fills gaps with 0 and forward-fills the value") {
    // user 1: events in hours 00, 03 (value null in 03) -> spine 00..03
    // user 2: single event -> one row, no fill needed
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), Some(5.0)),
      (1L, ts("2024-01-01 00:40:00"), Some(2.0)),
      (1L, ts("2024-01-01 03:15:00"), None),
      (2L, ts("2024-01-02 10:00:00"), Some(7.0)))
      .toDF("user_id", "ts", "value")
    for (parts <- Seq(1, 4)) {
      val got = Timeseries.gapFillHourly(
        events.repartition(parts), "user_id", "ts", "value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .toSet
      assert(got == Set(
        (1L, ts("2024-01-01 00:00:00"), 2L, Some(5.0)),
        (1L, ts("2024-01-01 01:00:00"), 0L, Some(5.0)),
        (1L, ts("2024-01-01 02:00:00"), 0L, Some(5.0)),
        (1L, ts("2024-01-01 03:00:00"), 1L, Some(5.0)),
        (2L, ts("2024-01-02 10:00:00"), 1L, Some(7.0))))
    }
  }

  test("gapFillHourly: null until the entity's first non-null value") {
    val events = Seq(
      (3L, ts("2024-01-01 00:00:00"), Option.empty[Double]),
      (3L, ts("2024-01-01 02:00:00"), Some(1.5)))
      .toDF("user_id", "ts", "value")
    val got = Timeseries.gapFillHourly(events, "user_id", "ts", "value")
      .collect()
      .map(r => (r.getTimestamp(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    assert(got == Set(
      (ts("2024-01-01 00:00:00"), 1L, None),
      (ts("2024-01-01 01:00:00"), 0L, None),
      (ts("2024-01-01 02:00:00"), 1L, Some(1.5))))
  }
}
