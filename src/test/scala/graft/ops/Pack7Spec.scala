package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand examples for the seventh pack: interval coalescing, winnowing
  * fingerprints, boilerplate scrub, Kruskal-Wallis, one-way ANOVA,
  * Cramér's V, and Jarque-Bera.
  */
class Pack7Spec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  test("mergeIntervals: running max merges nested and chained spans") {
    // key A: [0,10) ∪ [5,20) chain; [25,26) nests inside [21,30) even
    // though it SORTS after; [40,41) isolated. Key B: one span.
    val rows = Seq(
      ("A", 0L, 10L, 1L), ("A", 5L, 20L, 2L), ("A", 21L, 30L, 3L),
      ("A", 25L, 26L, 4L), ("A", 40L, 41L, 5L), ("B", 7L, 8L, 6L))
      .toDF("k", "s", "e", "id")
    val out = Intervals
      .mergeIntervals(rows, col("k"), col("s"), col("e"), col("id"))
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("island")) ->
        (r.getAs[Long]("start"), r.getAs[Long]("end"),
          r.getAs[Long]("n_merged"))).toMap
    assert(out(("A", 1L)) === ((0L, 20L, 2L)))
    assert(out(("A", 2L)) === ((21L, 30L, 2L)))
    assert(out(("A", 3L)) === ((40L, 41L, 1L)))
    assert(out(("B", 1L)) === ((7L, 8L, 1L)))
    assert(out.size === 4)
  }

  test("mergeIntervals: tied starts never split an island") {
    val rows = Seq(("A", 0L, 3L, 1L), ("A", 0L, 9L, 2L), ("A", 4L, 5L, 3L))
      .toDF("k", "s", "e", "id")
    val out = Intervals
      .mergeIntervals(rows, col("k"), col("s"), col("e"), col("id"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_merged") === 3L)
    assert(out.head.getAs[Long]("end") === 9L)
  }

  test("winnowing: shared >= k+w-1 word substring shares a fingerprint") {
    // MOSS guarantee at k=3, w=4: any common 6-word run must yield at
    // least one common (hash) selection.
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $shared three four five six"),
      (2L, s"$shared seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("fp_hash"))
    val h1 = fps.collect { case (1L, h) => h }.toSet
    val h2 = fps.collect { case (2L, h) => h }.toSet
    assert(h1.intersect(h2).nonEmpty,
      s"no shared fingerprint: $h1 vs $h2")
  }

  test("winnowing: density and rightmost-min tie rule") {
    // 8 words -> 6 3-gram hashes -> 3 full windows (positions 3..5);
    // selections are distinct (pos, hash) pairs, at most one per
    // window, each the window min.
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text").collect()
    assert(fps.nonEmpty && fps.length <= 3)
    // every selected hash is a real 3-gram hash of the doc
    val ws = "a b c d e f g h".split(" ")
    def wh(w: String): Long =
      w.length.toLong * 10007L + w.head.toLong * 101L + w.last.toLong
    val grams = ws.sliding(3).map(
      _.foldLeft(0L)((acc, w) => (acc * 31L + wh(w)) % 1000000007L)).toSeq
    fps.foreach { r =>
      val h = r.getAs[Long]("fp_hash")
      val p = r.getAs[Long]("fp_pos")
      assert(grams(p.toInt) === h, s"pos $p hash $h not the gram hash")
    }
  }

  test("boilerplateScrub drops every copy of a shared line, per group") {
    val docs = Seq(
      (1L, "s1", "the same banner\nunique one"),
      (2L, "s1", "the same banner\nunique two"),
      (3L, "s2", "the same banner\nunique three"))
      .toDF("doc_id", "source", "text")
    val out = Dedup
      .boilerplateScrub(docs, "doc_id", "text", "source", maxDf = 1)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text"))).toMap
    // s1's banner is boilerplate (2 docs); s2's single copy is content
    assert(out(1L) === ((1L, 1L, "unique one")))
    assert(out(2L) === ((1L, 1L, "unique two")))
    assert(out(3L) === ((2L, 0L, "the same banner\nunique three")))
  }

  test("kruskalWallis matches the textbook H on a tied example") {
    // groups: a={1,2,2}, b={2,3}, c={3,3,4}
    // pooled sorted: 1,2,2,2,3,3,3,4 (n=8)
    // avg ranks: 1->1; 2->3; 3->6; 4->8 (doubled: 2,6,12,16)
    // 2R_a=2+6+6=14, 2R_b=6+12=18, 2R_c=12+12+16=40
    // ties T = (3^3-3)+(3^3-3) = 48
    // H = [3/(8*9)*(14^2/3+18^2/2+40^2/3) - 27] / (1 - 48/504)
    val df = (Seq(("a", 1), ("a", 2), ("a", 2), ("b", 2), ("b", 3)) ++
      Seq(("c", 3), ("c", 3), ("c", 4))).toDF("g", "v")
    val r = StatTests.kruskalWallis(df, "g", col("v").cast("long"))
      .collect().head
    assert(r.getAs[Long]("k") === 3L && r.getAs[Long]("n") === 8L)
    assert(r.getAs[Double]("tie_t") === 48.0)
    val q4 = 14.0 * 14 / 3 + 18.0 * 18 / 2 + 40.0 * 40 / 3
    assert(math.abs(r.getAs[Double]("q4") - q4) < 1e-9)
    val h = (3.0 * q4 / 72.0 - 27.0) / (1.0 - 48.0 / 504.0)
    assert(math.abs(r.getAs[Double]("h_stat") - h) < 1e-9)
  }

  test("anovaF matches the textbook F and degenerates to NULL") {
    // a={1,2,3} (mean 2), b={4,5,6} (mean 5): SSB=3*(1.5^2)*2=13.5,
    // SSW=2+2=4, F = (13.5/1) / (4/4) = 13.5
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5), ("b", 6))
      .toDF("g", "v")
    val r = StatTests.anovaF(df, "g", col("v").cast("long")).collect().head
    assert(math.abs(r.getAs[Double]("f_stat") - 13.5) < 1e-9)
    // one group: F undefined
    val one = Seq(("a", 1), ("a", 2)).toDF("g", "v")
    val r1 = StatTests.anovaF(one, "g", col("v").cast("long")).collect().head
    assert(r1.isNullAt(r1.fieldIndex("f_stat")))
  }

  test("cramersV: perfect association reads 1, independence reads 0") {
    val perfect = (Seq.fill(5)(("x", "p")) ++ Seq.fill(7)(("y", "q")))
      .toDF("a", "b")
    val v1 = Profile.cramersV(perfect, "a", "b").collect().head
    assert(math.abs(v1.getAs[Double]("cramers_v") - 1.0) < 1e-12)
    val indep = (Seq.fill(6)(("x", "p")) ++ Seq.fill(6)(("x", "q")) ++
      Seq.fill(6)(("y", "p")) ++ Seq.fill(6)(("y", "q"))).toDF("a", "b")
    val v0 = Profile.cramersV(indep, "a", "b").collect().head
    assert(math.abs(v0.getAs[Double]("cramers_v")) < 1e-12)
  }

  test("winnow overlapPairs finds the quoting pair, not the stranger") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"intro words here $shared closing words here"),
      (2L, s"$shared totally different tail follows now okay"),
      (3L, "nothing in common with either of those two documents"))
      .toDF("doc_id", "text")
    val pairs = Winnow
      .overlapPairs(docs, "doc_id", "text", minShared = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id_a"), r.getAs[Long]("doc_id_b")))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("rollingMedian: spike-robust, short prefixes use available rows") {
    val pts = Seq(("a", 1, 5), ("a", 2, 6), ("a", 3, 100), ("a", 4, 7),
      ("a", 5, 5), ("a", 6, 6), ("a", 7, 7), ("a", 8, 8)).toDF("g", "t", "y")
    val out = Timeseries
      .rollingMedian(pts, col("g"), col("t"), col("y").cast("long"), 7)
      .collect().map(r => r.getAs[Int]("t") -> r.getAs[Long]("roll_med"))
      .toMap
    assert(out(1) === 5L) // buf [5]
    assert(out(2) === 5L) // buf [5,6] -> lower middle
    assert(out(3) === 6L) // buf [5,6,100]
    assert(out(7) === 6L) // buf [5,5,6,6,7,7,100] -> 6, spike ignored
    assert(out(8) === 7L) // buf drops t=1: sorted [5,6,6,7,7,8,100] -> 7
  }

  test("rfm: quintiles are exact CDF reads, recency inverted") {
    import java.sql.Timestamp
    // 5 users with strictly increasing recency/frequency/monetary
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map { i =>
        (u.toLong, Timestamp.valueOf(s"2024-01-0$u 00:00:00"), i * 1.0)
      }
    }
    val df = rows.toDF("user_id", "ts", "value")
    val out = Cohorts
      .rfm(df, "user_id", "ts", floor(col("value") * 100), "2024-02-01")
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
          r.getAs[Long]("m_score"), r.getAs[String]("segment"))).toMap
    // user 5: most recent (last day), most frequent, highest spend
    assert(out(5L) === ((5L, 5L, 5L, "555")))
    assert(out(1L) === ((1L, 1L, 1L, "111")))
    assert(out(3L) === ((3L, 3L, 3L, "333")))
  }

  test("smoothedRates shrinks low-volume users toward the global rate") {
    // u1: 1/1 raw (raw rank #1); u2: 95/100; u3: 0/99 background
    // global = 96/200 — the prior pulls the 1/1 user below the
    // 95/100 one, which is the point of the shrinkage
    val rows = Seq((1L, true)) ++
      (1 to 95).map(_ => (2L, true)) ++ (1 to 5).map(_ => (2L, false)) ++
      (1 to 99).map(_ => (3L, false))
    val df = rows.toDF("u", "ok")
    val out = Cohorts.smoothedRates(df, "u", col("ok"), priorWeight = 20)
      .collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("smoothed_rate"))
      .toMap
    val p = 96.0 / 200.0
    assert(math.abs(out(1L) - (1.0 + 20 * p) / 21.0) < 1e-12)
    assert(math.abs(out(2L) - (95.0 + 20 * p) / 120.0) < 1e-12)
    assert(out(2L) > out(1L), "the 95/100 user must outrank the 1/1 user")
  }

  test("collapseRuns keeps only type changes, per user, in time order") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq(
      (1L, t(0), 1L, "a"), (2L, t(1), 1L, "a"), (3L, t(2), 1L, "b"),
      (4L, t(3), 1L, "b"), (5L, t(4), 1L, "a"), (6L, t(0), 2L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Sequences
      .collapseRuns(rows, "user_id", "ts", "event_type", "event_id")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    assert(out.count(_._1 == 1L) === 3) // a, b, a — runs collapsed
    assert(out.count(_._1 == 2L) === 1)
  }

  test("forecastBacktest: naive vs seasonal-naive sMAPE, paired days") {
    import java.sql.Date
    // 10 train days with period-2 pattern 10,20,...; 2 test days
    // continuing it: snaive is perfect (smape 0), naive forecasts the
    // last train value 20 for actuals 10, 20
    val days = (1 to 12).map { i =>
      ("a", Date.valueOf(f"2024-01-$i%02d"), if (i % 2 == 1) 10L else 20L)
    }
    val df = days.toDF("g", "t", "y")
    val out = Timeseries
      .forecastBacktest(df, col("g"), col("t"), col("y"), "2024-01-11", 2)
      .collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("smape"))).toMap
    assert(out("snaive") === ((2L, 0.0)))
    // naive: day11 |10-20|*2/30 = 2/3, day12 0 -> mean 1/3
    assert(math.abs(out("naive")._2 - (2.0 / 3.0 + 0.0) / 2.0) < 1e-12)
  }

  test("hammingPairs64: banded recall is exact to distance 3") {
    // base signature; d1 flips 1 bit in lo; d3 flips 3 bits spread
    // across bands; d4 flips 4 (one per band) — beyond the gate
    val base = (0xABCD1234L, 0x0F0F9999L)
    val rows = Seq(
      (1L, base._1, base._2),
      (2L, base._1 ^ 1L, base._2), // dist 1
      (3L, base._1 ^ (1L << 1) ^ (1L << 17), base._2 ^ (1L << 2)), // 3
      (4L, base._1 ^ 1L ^ (1L << 16), base._2 ^ 1L ^ (1L << 16)))
      .toDF("id", "lo", "hi")
    val pairs = Dedup.hammingPairs64(rows, "id", "lo", "hi", maxDist = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("dist")).toMap
    assert(pairs((1L, 2L)) === 1L)
    assert(pairs((1L, 3L)) === 3L)
    assert(!pairs.contains((1L, 4L))) // dist 4: correctly outside
    assert(!pairs.contains((2L, 3L))) // dist 4 via both halves
  }

  test("activityStreaks: longest consecutive-day run, latest tie-break") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // u1: days 1,2,3 then 5,6 -> longest 3 from Jan 1; two events on
    // day 2 must not double-count. u2: days 4 and 6,7 -> longest 2
    // (tie 1 vs 2? no: 4 alone=1, 6-7=2)
    val rows = Seq(
      (1L, t(1)), (1L, t(2)), (1L, t(2)), (1L, t(3)), (1L, t(5)),
      (1L, t(6)), (2L, t(4)), (2L, t(6)), (2L, t(7)))
      .toDF("user_id", "ts")
    val out = Cohorts.activityStreaks(rows, "user_id", "ts")
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_active_days"), r.getAs[Long]("longest_streak"),
          r.getAs[String]("streak_start"))).toMap
    assert(out(1L) === ((5L, 3L, "2024-01-01")))
    assert(out(2L) === ((3L, 2L, "2024-01-06")))
    // tie on length -> latest start
    val tie = Seq((3L, t(1)), (3L, t(2)), (3L, t(9)), (3L, t(10)))
      .toDF("user_id", "ts")
    val r3 = Cohorts.activityStreaks(tie, "user_id", "ts").collect().head
    assert(r3.getAs[Long]("longest_streak") === 2L)
    assert(r3.getAs[String]("streak_start") === "2024-01-09")
  }

  test("ltvCurve: cumulative cohort revenue by week offset") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // u1 signs up week of Jan 1 (Mon), buys 100 then 200 two weeks
    // later; u2 same cohort, one view only (0 cents)
    val rows = Seq(
      (1L, t(2), "purchase", 1.00), (1L, t(16), "purchase", 2.00),
      (2L, t(3), "view", 9.99))
      .toDF("user_id", "ts", "event_type", "value")
    val out = Cohorts.ltvCurve(rows, "user_id", "ts",
      floor(col("value") * 100), col("event_type") === "purchase")
      .collect()
      .map(r => r.getAs[Long]("week_offset") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("wk_cents"),
          r.getAs[Long]("cum_cents"))).toMap
    assert(out(0L) === ((2L, 100L, 100L)))
    assert(out(2L) === ((2L, 200L, 300L)))
  }

  test("paretoShare: tie-inclusive 90th-percentile spend share") {
    // 10 users: nine spend 10, one spends 910 -> p90 = 910 (cum 10/10
    // at 910; cum 9/10 at 10 -> 10*10 >= 9*10 ALSO holds at v=10!)
    // exact read: min v with 10*cum >= 9*n -> v=10 qualifies (cum=9):
    // 90 >= 90 -> threshold 10, tie-inclusive top = everyone.
    val rows = (1 to 9).map(u => (u.toLong, 0.10)) :+ (10L, 9.10)
    val df = rows.toDF("user_id", "value")
    val r = Cohorts.paretoShare(df, "user_id", floor(col("value") * 100))
      .collect().head
    assert(r.getAs[Long]("p90_cents") === 10L)
    assert(r.getAs[Double]("top_share") === 1.0)
    // make the threshold bite: distinct spends 1..9 cents + one 910;
    // cum reaches 9/10 at v=9 -> p90 = 9, top = users 9 and 10
    val rows2 = (1 to 9).map(u => (u.toLong, u / 100.0)) :+ (10L, 9.10)
    val r2 = Cohorts.paretoShare(rows2.toDF("user_id", "value"),
      "user_id", floor(col("value") * 100)).collect().head
    assert(r2.getAs[Long]("p90_cents") === 9L)
    assert(math.abs(r2.getAs[Double]("top_share") - 919.0 / 955.0) < 1e-12)
  }

  test("newVsReturning splits first-ever day from later days") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    val rows = Seq((1L, t(1)), (1L, t(1)), (1L, t(2)), (2L, t(2)))
      .toDF("user_id", "ts")
    val out = Cohorts.newVsReturning(rows, "user_id", "ts")
      .collect()
      .map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("n_new"), r.getAs[Long]("n_returning"))).toMap
    assert(out("2024-01-01") === ((1L, 0L)))
    assert(out("2024-01-02") === ((1L, 1L)))
  }

  test("phraseMatch: consecutive positions only, overlaps counted") {
    val docs = Seq(
      (1L, "x a b c y a b"), // "a b c": 1; "a b": 2
      (2L, "a c b"), // words present, never consecutive
      (3L, "a a a")) // "a a" overlaps: 2
      .toDF("doc_id", "text")
    def run(p: String*): Map[Long, Long] =
      Relevance.phraseMatch(docs, "doc_id", "text", p)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occ")).toMap
    assert(run("a", "b", "c") === Map(1L -> 1L))
    assert(run("a", "b") === Map(1L -> 2L))
    assert(run("a", "a") === Map(3L -> 2L))
  }

  test("centroidDrift: identical cohorts read cos 1 / l2 0, orthogonal 0") {
    val same = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Embeddings.centroidDrift(same, "embedding",
      col("vec_id") % 2 === 0).collect().head
    assert(r.getAs[Double]("cos_sim") === 1.0)
    assert(r.getAs[Double]("l2_dist") === 0.0)
    val ortho = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r2 = Embeddings.centroidDrift(ortho, "embedding",
      col("vec_id") % 2 === 0).collect().head
    assert(r2.getAs[Double]("cos_sim") === 0.0)
    assert(math.abs(r2.getAs[Double]("l2_dist") - math.sqrt(2)) < 1e-12)
  }

  test("runsTest: alternating and trending sequences, textbook z") {
    // series 1,2,1,2,1,2 -> signs +,-,+,-,+ : n_up=3 n_down=2 runs=5
    // mu = 2*3*2/5+1 = 3.4; var = 12*(12-5)/(25*4) = 0.84
    val alt = Seq(1, 2, 1, 2, 1, 2).zipWithIndex
      .map { case (y, i) => ("a", i, y) }.toDF("g", "t", "y")
    val r = StatTests
      .runsTest(alt, col("g"), col("t"), col("y").cast("long"))
      .collect().head
    assert(r.getAs[Long]("n_up") === 3L)
    assert(r.getAs[Long]("n_down") === 2L)
    assert(r.getAs[Long]("n_runs") === 5L)
    assert(math.abs(r.getAs[Double]("z") -
      (5.0 - 3.4) / math.sqrt(0.84)) < 1e-12)
    // all-up (monotone) -> n_down = 0 -> z NULL; zero deltas drop
    val mono = Seq(1, 2, 2, 3, 4).zipWithIndex
      .map { case (y, i) => ("b", i, y) }.toDF("g", "t", "y")
    val r2 = StatTests
      .runsTest(mono, col("g"), col("t"), col("y").cast("long"))
      .collect().head
    assert(r2.getAs[Long]("n_up") === 3L && r2.getAs[Long]("n_down") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("z")))
  }

  test("mannKendall: textbook S, tie-corrected variance, z") {
    // [1,2,2,3]: S = 5 (one tied pair contributes 0);
    // tie term (t=2): 2*1*9 = 18; var = (4*3*13 - 18)/18 = 138/18
    val rows = Seq(1, 2, 2, 3).zipWithIndex
      .map { case (y, i) => ("a", i, y) }.toDF("g", "t", "y")
    val r = StatTests
      .mannKendall(rows, col("g"), col("t"), col("y").cast("long"))
      .collect().head
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("s_stat") === 5L)
    assert(math.abs(r.getAs[Double]("var_s") - 138.0 / 18.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") -
      4.0 / math.sqrt(138.0 / 18.0)) < 1e-12)
    // strictly decreasing: S = -3, continuity correction from above
    val dec = Seq(3, 2, 1).zipWithIndex
      .map { case (y, i) => ("b", i, y) }.toDF("g", "t", "y")
    val r2 = StatTests
      .mannKendall(dec, col("g"), col("t"), col("y").cast("long"))
      .collect().head
    assert(r2.getAs[Long]("s_stat") === -3L)
    assert(math.abs(r2.getAs[Double]("z") -
      (-2.0) / math.sqrt(3.0 * 2.0 * 11.0 / 18.0)) < 1e-12)
  }

  test("changepointBinary locates a planted level shift exactly") {
    // level 10 for 5 days, then level 50: split after day 5
    val ys = Seq(10, 11, 9, 10, 10, 50, 51, 49, 50)
    val rows = ys.zipWithIndex.map { case (y, i) => ("a", i + 1, y) }
      .toDF("g", "t", "y")
    val r = graft.ops.Anomaly
      .changepointBinary(rows, col("g"), col("t"), col("y").cast("long"))
      .collect().head
    assert(r.getAs[String]("split_t") === "5")
    assert(math.abs(r.getAs[Double]("mean_left") - 10.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_right") - 50.0) < 1e-12)
    assert(r.getAs[Double]("sse_drop") > 0.0)
    // constant series: zero drop, earliest split on the cost tie
    val const = (1 to 4).map(i => ("b", i, 7)).toDF("g", "t", "y")
    val r2 = graft.ops.Anomaly
      .changepointBinary(const, col("g"), col("t"), col("y").cast("long"))
      .collect().head
    assert(r2.getAs[String]("split_t") === "1")
    assert(math.abs(r2.getAs[Double]("sse_drop")) < 1e-9)
  }

  test("hodgesLehmann: median of Walsh averages, outlier-robust") {
    // {1,2,3}: walsh avgs {1, 1.5, 2, 2, 2.5, 3} -> median 2
    val df = Seq(1, 2, 3).map(("a", _)).toDF("g", "v")
    val r = StatTests.hodgesLehmann(df, "g", col("v").cast("long"))
      .collect().head
    assert(r.getAs[Long]("n_pairs") === 6L)
    assert(r.getAs[Double]("hl_estimate") === 2.0)
    // one wild outlier barely moves it: {1,2,3,1000} -> pairs sorted
    // by doubled sums; HL = 2.5 (vs mean 251.5)
    val out = Seq(1, 2, 3, 1000).map(("b", _)).toDF("g", "v")
    val r2 = StatTests.hodgesLehmann(out, "g", col("v").cast("long"))
      .collect().head
    assert(r2.getAs[Long]("n_pairs") === 10L)
    assert(r2.getAs[Double]("hl_estimate") === 2.5)
  }

  test("hodgesLehmann: NDV guard trips; binCount path = explicit pre-binning") {
    // 5000 distinct values in one group blows a maxDistinctPerGroup=100
    // contract — the guard must fail the job BEFORE the quadratic
    // self-join forms, not silently go O(distinct²)
    val wide = (1 to 5000).map(("a", _)).toDF("g", "v")
    val e = intercept[Exception] {
      StatTests.hodgesLehmann(wide, "g", col("v").cast("long"),
        maxDistinctPerGroup = 100L).collect()
    }
    assert(e.getMessage != null)
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(e).contains("hodgesLehmann"), rootMsg(e))
    // binCount snaps values to equi-width bins; the result must equal
    // running the unbinned estimator over explicitly pre-binned input
    // (same integer formula: w = (max-min) div bins + 1,
    //  v' = min + ((v-min) div w) * w)
    val bins = 64
    val got = StatTests.hodgesLehmann(wide, "g", col("v").cast("long"),
      maxDistinctPerGroup = 100L, binCount = bins).collect().head
    val vmin = 1L
    val w = (5000L - 1L) / bins + 1L
    val pre = (1 to 5000).map(v => ("a", vmin + ((v - vmin) / w) * w))
      .toDF("g", "v")
    val want = StatTests.hodgesLehmann(pre, "g", col("v").cast("long"))
      .collect().head
    assert(got.getAs[Long]("n_pairs") === want.getAs[Long]("n_pairs"))
    assert(got.getAs[Double]("hl_estimate") === want.getAs[Double]("hl_estimate"))
  }

  test("pairwiseWelch: textbook two-group t, all ordered pairs") {
    val df = (Seq(1, 2, 3, 4).map(("A", _)) ++ Seq(10, 12, 14).map(("B", _))
      ++ Seq(5, 6).map(("C", _))).toDF("g", "v")
    val out = StatTests.pairwiseWelch(df, "g", col("v").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) ->
        r.getAs[Double]("t_stat")).toMap
    assert(out.size === 3)
    // A{1..4} vs B{10,12,14}: va=(30-25)/3/4, vb=(440-432)/2/3
    val va = 5.0 / 12.0
    val vb = 8.0 / 6.0
    val want = (2.5 - 12.0) / math.sqrt(va + vb)
    assert(math.abs(out(("A", "B")) - want) < 1e-12)
    assert(out(("A", "C")) < 0.0 && out(("B", "C")) > 0.0)
  }

  test("restrictedMeanSurvival integrates the KM step curve exactly") {
    // hand life table: t=2 (d=1,c=0,n=2,surv=.5), t=5 (d=1,c=0,n=1,
    // surv=0): area = 2*1 + (5-2)*0.5 = 3.5
    val km = Seq((2L, 1L, 0L, 2L, 0.5), (5L, 1L, 0L, 1L, 0.0))
      .toDF("t", "d", "c", "n", "surv")
    val r = Survival.restrictedMeanSurvival(km).collect().head
    assert(r.getAs[Long]("n") === 2L)
    assert(r.getAs[Double]("rmst_days") === 3.5)
  }

  test("jarqueBera assembles n/6*(skew^2 + kurt^2/4) from moments") {
    val df = Seq(("g", 1), ("g", 2), ("g", 2), ("g", 3), ("g", 9))
      .toDF("k", "v")
    val m = Moments.momentsByGroup(df, "k", "v").collect().head
    val jb = Moments.jarqueBera(df, "k", "v").collect().head
    val want = m.getAs[Long]("n").toDouble / 6.0 *
      (math.pow(m.getAs[Double]("skew"), 2) +
        math.pow(m.getAs[Double]("kurt_excess"), 2) / 4.0)
    assert(math.abs(jb.getAs[Double]("jb_stat") - want) < 1e-12)
    assert(jb.getAs[Double]("jb_stat") > 0.0)
  }
}
