package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 session-2 additions: OHLC resampling, lag deltas, lag-1
  * autocorrelation, FIR EWMA, exact higher moments, Welch's t,
  * Spearman's rho, and resource-allocation node similarity — model
  * equality on hand-computable inputs plus partition invariance
  * (every operator is an order-free aggregation or a per-entity
  * window, so shuffling the input must not change a single bit).
  */
class StatsTimeseriesSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // (entity, ts, ord, value)
  private def series = Seq(
    (1L, ts("2024-01-01 10:05:00"), 1L, 10.00),
    (1L, ts("2024-01-01 10:20:00"), 2L, 12.50),
    (1L, ts("2024-01-01 10:20:00"), 3L, 9.75), // ts tie -> ord breaks
    (1L, ts("2024-01-01 11:01:00"), 4L, 20.00),
    (2L, ts("2024-01-01 10:30:00"), 5L, 5.00),
    (2L, ts("2024-01-01 12:00:00"), 6L, 7.25)
  ).toDF("e", "t", "i", "v")

  test("resampleOhlc: deterministic open/close, exact high/low/sum") {
    for (parts <- Seq(1, 3, 7)) {
      val got = Timeseries
        .resampleOhlc(series.repartition(parts), "e", "t", "i", "v")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getLong(7)))
        .toMap
      assert(got((1L, "2024-01-01 10:00:00.0")) ==
        ((3L, 10.00, 12.50, 9.75, 9.75, 3225L)))
      assert(got((1L, "2024-01-01 11:00:00.0")) ==
        ((1L, 20.00, 20.00, 20.00, 20.00, 2000L)))
      assert(got((2L, "2024-01-01 10:00:00.0")) ==
        ((1L, 5.00, 5.00, 5.00, 5.00, 500L)))
      assert(got.size == 4)
    }
  }

  test("lagDeltas: cents deltas in (ts, ord) order; first row null") {
    val got = Timeseries
      .lagDeltas(series, "e", "t", "i", "v")
      .collect()
      .map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> None, 2L -> Some(250L), 3L -> Some(-275L), 4L -> Some(1025L),
      5L -> None, 6L -> Some(225L)))
  }

  test("ewmaFir: matches the integer-weight model incl. warmup rows") {
    // entity 1 series in order: 1000, 1250, 975, 2000 cents
    def fir(xs: Seq[Long]): Double = {
      val taps = xs.takeRight(8).reverse // lag 0 first
      val num = taps.zipWithIndex.map { case (x, j) => x * (128L >> j) }.sum
      val den = taps.zipWithIndex.map { case (_, j) => 128L >> j }.sum
      num.toDouble / den.toDouble
    }
    for (parts <- Seq(1, 4)) {
      val got = Timeseries
        .ewmaFir(series.repartition(parts), "e", "t", "i", "v")
        .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
      val s1 = Seq(1000L, 1250L, 975L, 2000L)
      assert(got(1L) == fir(s1.take(1)))
      assert(got(2L) == fir(s1.take(2)))
      assert(got(3L) == fir(s1.take(3)))
      assert(got(4L) == fir(s1.take(4)))
      assert(got(5L) == fir(Seq(500L)))
      assert(got(6L) == fir(Seq(500L, 725L)))
    }
  }

  test("autocorrLag1: perfect linear series -> r = 1; constants -> 0") {
    val lin = (1 to 40).map(i => ("up", 1L, ts("2024-01-01 00:00:00"),
      i.toLong, i * 3.0)) ++
      (1 to 40).map(i => ("flat", 2L, ts("2024-01-01 00:00:00"),
        i.toLong, 7.0))
    val df = lin.toDF("g", "e", "t", "i", "v")
    val got = Timeseries.autocorrLag1(df, "g", "e", "t", "i", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got("up")._1 == 39L)
    assert(math.abs(got("up")._2 - 1.0) < 1e-12)
    assert(got("flat")._2 == 0.0) // zero-variance guard
  }

  test("momentsByGroup: symmetric -> skew 0; known kurtosis") {
    // {1,2,3,4,5} each once: mean 3, var 2, skew 0, kurt_excess = -1.3
    val df = Seq.tabulate(5)(i => ("g", (i + 1).toLong)).toDF("k", "x")
    val r = Moments.momentsByGroup(df, "k", "x").collect().head
    assert(r.getLong(1) == 5L)
    assert(r.getDouble(2) == 3.0)
    assert(r.getDouble(3) == 2.0)
    assert(math.abs(r.getDouble(4)) < 1e-15)
    assert(math.abs(r.getDouble(5) - (34.0 / 20.0 - 3.0)) < 1e-12)
  }

  test("momentsByGroup is partition-invariant (exact sums)") {
    val data = (1 to 500).map(i => (s"g${i % 3}", (i % 37).toLong))
    val a = Moments.momentsByGroup(
      data.toDF("k", "x").repartition(1), "k", "x")
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val b = Moments.momentsByGroup(
      data.toDF("k", "x").repartition(11), "k", "x")
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(a == b)
  }

  test("welchTTest: identical groups -> t = 0; shifted -> known sign") {
    val same = Seq.tabulate(20)(i => ("A", 10.0 + i)) ++
      Seq.tabulate(20)(i => ("B", 10.0 + i))
    val r0 = Moments.welchTTest(same.toDF("g", "v"), "g", "A", "B", "v")
      .collect().head
    assert(r0.getLong(0) == 20L && r0.getLong(1) == 20L)
    assert(r0.getDouble(4) == 0.0)
    val shifted = Seq.tabulate(20)(i => ("A", 20.0 + i)) ++
      Seq.tabulate(20)(i => ("B", 10.0 + i))
    val r1 = Moments.welchTTest(shifted.toDF("g", "v"), "g", "A", "B", "v")
      .collect().head
    assert(r1.getDouble(4) > 5.0) // strongly positive t
    assert(r1.getDouble(5) > 30.0 && r1.getDouble(5) <= 38.0 + 1e-9) // df
  }

  test("spearmanByGroup: monotone -> 1, reversed -> -1, ties averaged") {
    val mono = (1 to 30).map(i => ("g", i.toLong, (i * i).toLong))
    val r1 = Moments.spearmanByGroup(
      mono.toDF("k", "x", "y"), "k", col("x"), col("y"))
      .collect().head
    assert(r1.getLong(1) == 30L)
    assert(math.abs(r1.getDouble(2) - 1.0) < 1e-12)

    val rev = (1 to 30).map(i => ("g", i.toLong, (100 - i).toLong))
    val r2 = Moments.spearmanByGroup(
      rev.toDF("k", "x", "y"), "k", col("x"), col("y"))
      .collect().head
    assert(math.abs(r2.getDouble(2) + 1.0) < 1e-12)

    // tie-averaging: x has all-distinct, y constant -> rho 0 guard
    val const = (1 to 10).map(i => ("g", i.toLong, 5L))
    val r3 = Moments.spearmanByGroup(
      const.toDF("k", "x", "y"), "k", col("x"), col("y"))
      .collect().head
    assert(r3.getDouble(2) == 0.0)
  }

  test("resourceAllocation: hand-checked bipartite scores") {
    // u1 -> {a,b}; u2 -> {a,b,c}; u3 -> {a} (deg<2 dropped);
    // u4 -> {b,c}; duplicate edge (u1,a) must not double-count
    val edges = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"),
      (4L, "b"), (4L, "c")
    ).toDF("u", "t")
    for (parts <- Seq(1, 3)) {
      val got = Graphs
        .resourceAllocation(edges.repartition(parts), "u", "t")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3)))
        .toMap
      val w2 = 1000000L / 2
      val w3 = 1000000L / 3
      assert(got(("a", "b")) == ((2L, w2 + w3)))
      assert(got(("a", "c")) == ((1L, w3)))
      assert(got(("b", "c")) == ((2L, w3 + w2)))
      assert(got.size == 3)
    }
  }

  test("transitionCounts: exact counts and ppm probabilities") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "b"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "a"),
      (1L, ts("2024-01-01 10:03:00"), 4L, "b"),
      (2L, ts("2024-01-01 10:00:00"), 5L, "a"),
      (2L, ts("2024-01-01 10:01:00"), 6L, "a")
    ).toDF("u", "t", "i", "a")
    for (parts <- Seq(1, 4)) {
      val got = Sequences
        .transitionCounts(rows.repartition(parts), "u", "t", "i", "a")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got(("a", "b")) == ((2L, 2000000L / 3)))
      assert(got(("a", "a")) == ((1L, 1000000L / 3)))
      assert(got(("b", "a")) == ((1L, 1000000L)))
      assert(got.size == 3)
    }
  }

  test("touchAttribution: first/last preceding click; null without one") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase"), // no click before
      (1L, ts("2024-01-01 10:01:00"), 2L, "click"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "view"),
      (1L, ts("2024-01-01 10:03:00"), 4L, "click"),
      (1L, ts("2024-01-01 10:04:00"), 5L, "purchase"), // first=2 last=4
      (1L, ts("2024-01-01 10:05:00"), 6L, "purchase")  // same attribution
    ).toDF("u", "t", "i", "a")
    val got = Sequences
      .touchAttribution(rows, "u", "t", "i", "a", "click", "purchase")
      .collect()
      .map(r => r.getLong(1) -> (
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap
    assert(got(1L) == ((None, None)))
    assert(got(5L) == ((Some(2L), Some(4L))))
    assert(got(6L) == ((Some(2L), Some(4L))))
    assert(got.size == 3)
  }

  test("cusumChangePoint finds the level shift at the exact position") {
    // step series: 0,0,0,10,10 -> C = -2000,-4000,-6000,-3000,0
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 0.0),
      (1L, ts("2024-01-01 10:01:00"), 2L, 0.0),
      (1L, ts("2024-01-01 10:02:00"), 3L, 0.0),
      (1L, ts("2024-01-01 10:03:00"), 4L, 10.0),
      (1L, ts("2024-01-01 10:04:00"), 5L, 10.0)
    ).toDF("u", "t", "i", "v")
    for (parts <- Seq(1, 3)) {
      val r = Anomaly
        .cusumChangePoint(rows.repartition(parts), "u", "t", "i", "v")
        .collect().head
      assert(r.getLong(1) == 5L)       // n
      assert(r.getLong(2) == 3L)       // k_star: last pre-shift index
      assert(r.getLong(3) == 3L)       // ord of that observation
      assert(r.getLong(4) == -6000L)   // C_3 = 5*0 - 3*2000
      assert(r.getLong(5) == 6000L)
    }
  }

  test("olsFit2 recovers an exact plane; collinear regressors -> zeros") {
    // y = 5 + 2*x1 + 3*x2, noise-free grid
    val plane = for (x1 <- 1 to 10; x2 <- 1 to 10)
      yield ("g", x1.toDouble, x2.toDouble, 5.0 + 2 * x1 + 3 * x2)
    val r = Regression.olsFit2(
      plane.toDF("k", "x1", "x2", "y"), "y", "x1", "x2", Seq("k"))
      .collect().head
    assert(r.getLong(1) == 100L)
    assert(math.abs(r.getDouble(2) - 5.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 3.0) < 1e-9)

    val collinear = (1 to 20).map(i =>
      ("g", i.toDouble, i.toDouble, 7.0 + i))
    val c = Regression.olsFit2(
      collinear.toDF("k", "x1", "x2", "y"), "y", "x1", "x2", Seq("k"))
      .collect().head
    assert(c.getDouble(2) == 0.0 && c.getDouble(3) == 0.0 &&
      c.getDouble(4) == 0.0)
  }

  test("degreeAssortativity: star graph -> exactly -1") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("u", "v")
    val r = Graphs.degreeAssortativity(star, "u", "v").collect().head
    assert(r.getLong(0) == 6L)
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-12)
  }

  test("decayedEngagement: dyadic weights, horizon cut") {
    val rows = Seq(
      (1L, ts("2024-02-01 10:00:00")), // age 0  -> 2^40
      (1L, ts("2024-01-31 09:00:00")), // age 1  -> 2^39
      (1L, ts("2023-12-01 00:00:00")), // age 62 -> 0
      (2L, ts("2024-01-02 00:00:00"))  // age 30 -> 2^10
    ).toDF("u", "t")
    val got = Sequences
      .decayedEngagement(rows, "u", "t", asofDate = "2024-02-01")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((3L, (1L << 40) + (1L << 39), 1.5)))
    assert(got(2L) == ((1L, 1L << 10, math.pow(2.0, -30))))
  }

  test("entity resolution composition: ED1 match -> cluster -> canonical") {
    val recs = Seq(
      (1L, "acme"), (2L, "acmee"), (3L, "acme!"), (4L, "zeta")
    ).toDF("id", "name")
    val pairs = FuzzyJoin.editDistance1Pairs(recs, "id", "name")
    val got = Clusters.dedupClusters(recs, "id", pairs, "id_a", "id_b")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // acme~acmee (ins), acme~acme! (sub), acmee~acme! (sub) -> one
    // cluster canonicalized to min id 1; zeta is its own entity
    assert(got == Map(
      1L -> ((1L, 1L)), 2L -> ((1L, 0L)), 3L -> ((1L, 0L)),
      4L -> ((4L, 1L))))
  }

  test("topPaths: counts ordered openings, excludes short series, tie-breaks") {
    val rows = Seq(
      // u1, u2: a>b>c ; u3: b>a>c ; u4: only 2 events (excluded)
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "b"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "c"),
      (1L, ts("2024-01-01 10:03:00"), 4L, "z"), // 4th event ignored
      (2L, ts("2024-01-01 10:00:00"), 5L, "a"),
      (2L, ts("2024-01-01 10:01:00"), 6L, "b"),
      (2L, ts("2024-01-01 10:02:00"), 7L, "c"),
      (3L, ts("2024-01-01 10:00:00"), 8L, "b"),
      (3L, ts("2024-01-01 10:01:00"), 9L, "a"),
      (3L, ts("2024-01-01 10:02:00"), 10L, "c"),
      (4L, ts("2024-01-01 10:00:00"), 11L, "a"),
      (4L, ts("2024-01-01 10:01:00"), 12L, "b")
    ).toDF("u", "t", "i", "a")
    for (parts <- Seq(1, 3)) {
      val got = Sequences
        .topPaths(rows.repartition(parts), "u", "t", "i", "a", steps = 3, k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a>b>c", 2L), ("b>a>c", 1L)))
    }
  }

  test("canonicalizeUrl: case, port, utm, fragment, trailing slash") {
    val cases = Seq(
      ("HTTPS://Example-1.COM:443/Docs/9/#frag",
        "https://example-1.com/Docs/9"),
      ("HTTPS://A.COM:443/P?id=5&utm_source=x&utm_campaign=c#s",
        "https://a.com/P?id=5"),
      ("http://plain.org/Keep/Case/Path", "http://plain.org/Keep/Case/Path"),
      ("https://h.net/a?x=1&utm_a=1&y=2", "https://h.net/a?x=1&y=2"),
      ("not a url", "not a url"))
    val got = cases.map(_._1).toDF("u")
      .select(Web.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
  }
}
