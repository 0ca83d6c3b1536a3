package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The round-5 review found the bench regression guard had never
  * compared against anything: driver artifacts wrap the sweep in an
  * escaped `"tail"` string, which the old inline regex cannot match.
  * These tests pin the fixed parser against a VERBATIM driver artifact
  * from the repo root, plus the baseline-selection rules from the r5
  * advice (numeric round ordering, self-comparison exclusion).
  */
class BenchGuardSpec extends AnyFunSuite with Matchers {

  // the exact byte shape the driver writes: escaped quotes inside a
  // "tail" string field
  private val driverShaped =
    """{"n":5,"rc":0,"tail":"...\"q_topk\":0.35,\"q_union\":1.2,""" +
      """\"q_zorder\":0.133939204},\"sf\":\"x\"}\n[success]"}"""

  test("parseQueryTimes reads the escaped driver-artifact tail") {
    val qs = BenchGuard.parseQueryTimes(driverShaped)
    qs shouldBe Map("q_topk" -> 0.35, "q_union" -> 1.2, "q_zorder" -> 0.133939204)
  }

  test("parseQueryTimes reads the raw bench_out line too") {
    val raw = """{"metric":"total","value":9.9,"queries":{"q_a":1.5,"q_b":-1.0}}"""
    BenchGuard.parseQueryTimes(raw) shouldBe Map("q_a" -> 1.5, "q_b" -> -1.0)
  }

  test("a verbatim committed driver artifact parses to a non-empty baseline") {
    // BENCH_r05.json is a committed driver artifact; this is the exact
    // input the guard failed on for two rounds.
    val p = Paths.get("BENCH_r05.json")
    assert(Files.exists(p), "committed driver artifact BENCH_r05.json missing from repo root")
    val base = BenchGuard.parseQueryTimes(Files.readString(p))
    // the driver truncates the FRONT of the stdout tail, so only the
    // later part of the sweep survives; 66 of 124 queries in r5's
    // artifact. Partial baseline coverage is inherent to the artifact —
    // the guard's job is that what IS there gets compared.
    base.size should be > 50
    base should contain key "q_quantiles_exact"
    base("q_quantiles_exact") should be > 0.0
  }

  test("a planted 2x slowdown against a real driver artifact is flagged") {
    val base = BenchGuard.parseQueryTimes(Files.readString(Paths.get("BENCH_r05.json")))
    val current = base.toSeq.map { case (k, v) => k -> (if (k == "q_topk") v * 2.0 else v) }
    val regs = BenchGuard.regressions(base, current)
    regs.keySet shouldBe Set("q_topk")
    // unchanged timings are not flagged
    BenchGuard.regressions(base, base.toSeq) shouldBe empty
  }

  test("regressions skips failed (-1) and new queries") {
    val base = Map("q_a" -> 1.0, "q_fail" -> -1.0)
    val cur = Seq("q_a" -> -1.0, "q_fail" -> 5.0, "q_new" -> 9.0)
    BenchGuard.regressions(base, cur) shouldBe empty
  }

  test("baseline pick orders rounds numerically, not lexicographically") {
    val files = Seq("BENCH_r2.json", "BENCH_r10.json", "BENCH_r9.json", "notes.txt")
    val bodies = Map(
      "BENCH_r2.json" -> """{"q_a":1.0}""",
      "BENCH_r9.json" -> """{"q_a":2.0}""",
      "BENCH_r10.json" -> """{"q_a":3.0}""")
    val picked = BenchGuard.pickBaseline(files, bodies(_), Map.empty)
    picked.map(_._1) shouldBe Some("BENCH_r10.json")
  }

  test("baseline pick skips the current round's own copied-back artifact") {
    val self = Map("q_a" -> 3.0)
    val files = Seq("BENCH_r9.json", "BENCH_r10.json")
    val bodies = Map(
      "BENCH_r9.json" -> """{"q_a":2.0}""",
      "BENCH_r10.json" -> """{"q_a":3.0}""") // == self → not a baseline
    val picked = BenchGuard.pickBaseline(files, bodies(_), self)
    picked.map(_._1) shouldBe Some("BENCH_r9.json")
  }

  test("the committed full sweep beats driver tails as baseline; tails remain the fallback") {
    // driver BENCH_r*.json wrappers hold only the stdout TAIL — ~50 of
    // 331 queries survive; the committed bench_out.json is the full
    // map of the same sweep, so it guards the whole surface
    val self = Map("q_a" -> 2.0, "q_b" -> 1.0)
    val files = Seq("BENCH_r9.json")
    val read = (_: String) => """{"q_a":2.5}"""
    BenchGuard.chooseBaseline("bench_out.json", self, files, read) shouldBe
      Some("bench_out.json" -> self)
    // fresh checkout: no committed sweep -> driver artifact fallback
    BenchGuard.chooseBaseline("bench_out.json", Map.empty, files, read)
      .map(_._1) shouldBe Some("BENCH_r9.json")
    // a stray SUBSET artifact (one bisection query) must not strip the
    // guard from the rest of the surface: below the coverage floor the
    // committed-sweep preference yields to the driver-tail fallback
    BenchGuard.chooseBaseline("bench_out.json", Map("q_a" -> 2.0),
      files, read, minCoverage = 100).map(_._1) shouldBe Some("BENCH_r9.json")
    BenchGuard.chooseBaseline("bench_out.json", self, files, read,
      minCoverage = 2) shouldBe Some("bench_out.json" -> self)
  }

  test("baseline pick skips artifacts that parse to zero queries") {
    val files = Seq("BENCH_r9.json", "BENCH_r10.json")
    val bodies = Map(
      "BENCH_r9.json" -> """{"q_a":2.0}""",
      "BENCH_r10.json" -> """{"oops": true}""")
    val picked = BenchGuard.pickBaseline(files, bodies(_), Map.empty)
    picked.map(_._1) shouldBe Some("BENCH_r9.json")
  }

  test("adjudicate re-measures every flag; only still-slow ones are confirmed") {
    // a sweep flagged two queries at ~6x; isolated, one is pure
    // sweep-order noise (1.1 vs base 1.0) and one is really slow
    val flagged = Map(
      "q_noise" -> (1.0, 6.2),
      "q_real" -> (1.0, 6.0),
      "q_broken" -> (1.0, 5.0))
    val remeasured = collection.mutable.Buffer[String]()
    val adj = BenchGuard.adjudicate(flagged, {
      case n @ "q_noise" => remeasured += n; 1.1
      case n @ "q_real" => remeasured += n; 5.9
      case n => remeasured += n; throw new RuntimeException("boom")
    })
    remeasured.toSet shouldBe flagged.keySet // every flag re-measured
    adj("q_noise") shouldBe BenchGuard.Adjudication(1.0, 6.2, 1.1, 1.0)
    adj("q_real") shouldBe BenchGuard.Adjudication(1.0, 6.0, 5.9, 1.0)
    // failure recorded, not dropped
    adj("q_broken") shouldBe BenchGuard.Adjudication(1.0, 5.0, -1.0, 1.0)
    val confirmed = BenchGuard.confirmedRegressions(adj)
    // noise cleared by its isolated number; only the real regression
    // confirms — an UNVERIFIABLE flag (re-measure threw) is an
    // infrastructure failure and demands a re-run, never a confirm
    // (the r10 driver death laundered 66 thrown re-measures into
    // CONFIRMED through the old iso<0 rule)
    confirmed.keySet shouldBe Set("q_real")
    BenchGuard.verdicts(adj)("q_broken") shouldBe "rerun_required"
  }

  test("a mid-adjudication death ships zero confirms (the r10 driver failure)") {
    // the session dies partway: every re-measure from that point
    // throws (SIGTERM'd executor). All those flags must come out
    // rerun_required — the artifact stays parseable with zero false
    // confirms instead of minting the strongest signal it has from
    // pure infrastructure failure.
    val flagged = (1 to 10).map(i => s"q_$i" -> (1.0, 2.0 + i)).toMap
    var calls = 0
    val adj = BenchGuard.adjudicate(flagged, { _ =>
      calls += 1
      if (calls > 3) throw new RuntimeException("session died")
      1.0
    })
    val v = BenchGuard.verdicts(adj)
    v.values.count(_ == "rerun_required") shouldBe 7
    v.values.count(_ == "noise") shouldBe 3
    BenchGuard.confirmedRegressions(adj) shouldBe empty
  }

  test("adjudication is wall-clock budgeted, cheapest flags first") {
    // 108 flags at 5-run re-measures on a 10-25x-slow machine blew the
    // r10 driver's whole time budget; flags past the deadline must be
    // recorded (iso = -1 -> rerun_required) WITHOUT running anything
    val flagged = Map(
      "q_cheap" -> (1.0, 2.0), "q_mid" -> (1.0, 5.0), "q_big" -> (1.0, 50.0))
    var clock = 0L
    val remeasured = collection.mutable.Buffer[String]()
    val adj = BenchGuard.adjudicate(flagged, { n =>
      remeasured += n; clock += 100; 1.0
    }, deadline = 150L, now = () => clock)
    // cheapest-sweep-first ordering: q_cheap and q_mid run inside the
    // budget, q_big is deadline-skipped untouched
    remeasured.toSeq shouldBe Seq("q_cheap", "q_mid")
    adj("q_big") shouldBe BenchGuard.Adjudication(1.0, 50.0, -1.0, 1.0)
    val v = BenchGuard.verdicts(adj)
    v("q_big") shouldBe "rerun_required"
    v("q_cheap") shouldBe "noise"
    BenchGuard.confirmedRegressions(adj) shouldBe empty
  }

  test("a flag that cannot finish inside the budget is skipped up front") {
    // cheapest-first puts the most expensive flag last, nearest the
    // deadline; without a cost estimate it would START at t=deadline-1
    // and overrun the budget by its full re-measure cost (the r10
    // overrun shape). With costFactor = isolated runs, the estimate
    // skips it: rerun_required, artifact intact.
    val flagged = Map("q_cheap" -> (1.0, 2.0), "q_arc" -> (5.0, 15.0))
    var clock = 0L
    val remeasured = collection.mutable.Buffer[String]()
    // budget 30 "seconds": q_cheap (est 2x5=10s) fits; after it the
    // clock is at 12s and q_arc (est 15x5=75s) cannot finish
    val adj = BenchGuard.adjudicate(flagged, { n =>
      remeasured += n; clock += 12000L; 1.0
    }, deadline = 30000L, now = () => clock, costFactor = 5.0)
    remeasured.toSeq shouldBe Seq("q_cheap")
    adj("q_arc") shouldBe BenchGuard.Adjudication(5.0, 15.0, -1.0, 1.0)
    BenchGuard.verdicts(adj)("q_arc") shouldBe "rerun_required"
    BenchGuard.confirmedRegressions(adj) shouldBe empty
  }

  test("a degraded WINDOW suppresses every confirm, even at sentinel-healthy instants") {
    // r10: the window drifted 11.76x overall while 8 flags caught
    // instantaneously-healthy sentinel moments (ratio ~1.0) — their
    // "confirms" were machine weather (judge re-measures: all clean on
    // unchanged code). When the window as a whole is degraded, a
    // per-flag healthy instant certifies nothing.
    val adj = Map(
      "q_instant_healthy" -> BenchGuard.Adjudication(1.0, 6.0, 5.9, 1.0),
      "q_noise" -> BenchGuard.Adjudication(1.0, 6.0, 1.1, 1.0))
    val v = BenchGuard.verdicts(adj, windowDegraded = true)
    v("q_instant_healthy") shouldBe "rerun_required"
    v("q_noise") shouldBe "noise" // noise verdicts are unaffected
    BenchGuard.confirmedRegressions(adj, windowDegraded = true) shouldBe empty
    // the same readings in a healthy window DO confirm
    BenchGuard.verdicts(adj)("q_instant_healthy") shouldBe "CONFIRMED"
  }

  test("healedQueryTimes substitutes clean isolated numbers for noise flags only") {
    // r10 committed 35 ~2x-inflated baselines (raw sweep medians for
    // flags adjudicated noise), doubling those thresholds next round
    val results = Seq("q_plain" -> 1.0, "q_noise" -> 13.51,
      "q_real" -> 10.0, "q_unverifiable" -> 4.0)
    val adj = Map(
      "q_noise" -> BenchGuard.Adjudication(4.0, 13.51, 4.30, 1.0),
      "q_real" -> BenchGuard.Adjudication(1.0, 10.0, 9.8, 1.0),
      "q_unverifiable" -> BenchGuard.Adjudication(1.0, 4.0, -1.0, 1.0))
    val v = BenchGuard.verdicts(adj)
    val healed = BenchGuard.healedQueryTimes(results, adj, v).toMap
    healed("q_noise") shouldBe 4.30 +- 1e-9 // noise -> clean baseline
    healed("q_plain") shouldBe 1.0 // unflagged untouched
    healed("q_real") shouldBe 10.0 // a CONFIRMED regression IS the number
    healed("q_unverifiable") shouldBe 4.0 // nothing trustworthy to substitute
  }

  test("a degraded-window artifact is never chosen as a baseline") {
    // the r10 driver's 563 s sweep (11.8x sentinel drift) sat in the
    // working tree; committed as-is it would have doubled every
    // threshold. Artifacts self-mark baseline_unsafe; both the raw
    // line and the driver's escaped-tail wrapper are recognized.
    val unsafeRaw = """{"value":563.0,"queries":{"q_a":2.0},"baseline_unsafe":true}"""
    val unsafeTail = """{"rc":0,"tail":"...\"baseline_unsafe\":true,\"q_a\":2.0..."}"""
    val safeRaw = """{"value":290.0,"queries":{"q_a":1.0},"baseline_unsafe":false}"""
    // a truncated tail can lose baseline_unsafe but keep the (earlier
    // or legacy) window_degraded marker — equivalent poison
    val unsafeLegacy = """{"queries":{"q_a":2.0},"window_degraded":true}"""
    BenchGuard.isBaselineUnsafe(unsafeRaw) shouldBe true
    BenchGuard.isBaselineUnsafe(unsafeTail) shouldBe true
    BenchGuard.isBaselineUnsafe(unsafeLegacy) shouldBe true
    BenchGuard.isBaselineUnsafe(safeRaw) shouldBe false
    // pickBaseline skips the unsafe newest round, lands on the safe one
    val files = Seq("BENCH_r9.json", "BENCH_r10.json")
    val bodies = Map("BENCH_r9.json" -> safeRaw, "BENCH_r10.json" -> unsafeRaw)
    BenchGuard.pickBaseline(files, bodies(_), Map.empty)
      .map(_._1) shouldBe Some("BENCH_r9.json")
    // an unsafe SELF file yields to the fallback too
    BenchGuard.chooseBaseline("bench_out.json", Map("q_a" -> 2.0),
      Seq("BENCH_r9.json"), _ => safeRaw, selfUnsafe = true)
      .map(_._1) shouldBe Some("BENCH_r9.json")
  }

  test("a killed run's pre-adjudication artifact is itself a valid baseline") {
    // verbatim shape of the phase:"sweep" line Bench ships BEFORE
    // adjudication starts (from a live run): if the process dies
    // mid-adjudication this is what survives on disk and in the
    // stdout tail — it must parse, and a healthy-window one must be
    // eligible as the next run's baseline
    val pending =
      """{"metric":"total","value":3.675,"unit":"sec","queries":""" +
        """{"q_agg_lineitem":2.834,"q_topk":0.841},"sf":"/x","runs":1,""" +
        """"phase":"sweep","baseline_unsafe":false,"regressions_vs_prev":""" +
        """{"q_topk":[0.4,0.841,-1.0,1.0,"pending"]},""" +
        """"confirmed_regressions":0,"rerun_required":1,""" +
        """"sentinel_base":0.861,"sentinel_end":0.788,""" +
        """"sentinel_drift":0.916,"window_degraded":false,""" +
        """"adjudicated_total":3.675}"""
    val qs = BenchGuard.parseQueryTimes(pending)
    qs("q_agg_lineitem") shouldBe 2.834
    qs("q_topk") shouldBe 0.841 // the final map entry wins over the flag tuple
    BenchGuard.isBaselineUnsafe(pending) shouldBe false
    // the same line from a degraded window is rejected as a baseline
    BenchGuard.isBaselineUnsafe(
      pending.replace("\"baseline_unsafe\":false", "\"baseline_unsafe\":true")
    ) shouldBe true
  }

  test("self-file preference is gated on OVERLAP with the current run, not raw size") {
    // a stale bench_out.subset.json from a previous, DIFFERENT
    // bisection subset can be large yet share zero queries with this
    // run — preferring it silently disables the guard even though the
    // driver tail covers the current query
    val staleSubset = Map("q_other1" -> 1.0, "q_other2" -> 2.0)
    val files = Seq("BENCH_r9.json")
    val read = (_: String) => """{"q_mine":1.5}"""
    BenchGuard.chooseBaseline("bench_out.subset.json", staleSubset, files,
      read, minCoverage = 1, currentNames = Set("q_mine"))
      .map(_._1) shouldBe Some("BENCH_r9.json")
    // overlapping self file still wins
    BenchGuard.chooseBaseline("bench_out.subset.json",
      Map("q_mine" -> 9.9), files, read, minCoverage = 1,
      currentNames = Set("q_mine"))
      .map(_._1) shouldBe Some("bench_out.subset.json")
  }

  test("a degraded window mints ZERO false confirms (the r9 failure mode)") {
    // synthetic r9: the machine is running 2x slow by adjudication
    // time. Sweep flagged a query at 3x; its isolated re-measure
    // inherits the degradation (2.8 ≈ real 1.4 × slowdown 2.0). The
    // old guard CONFIRMED this; the sentinel-anchored one must not.
    val flagged = Map("q_weather" -> (1.0, 3.0))
    val adj = BenchGuard.adjudicate(flagged,
      _ => 2.8, sentinel = () => 2.0, sentinelBase = 1.0)
    adj("q_weather").sentinelRatio shouldBe 2.0
    adj("q_weather").isoAdjusted shouldBe 1.4 +- 1e-9
    BenchGuard.verdicts(adj)("q_weather") shouldBe "noise"
    BenchGuard.confirmedRegressions(adj) shouldBe empty
  }

  test("degraded window + still-over-threshold after adjustment => rerun_required, never CONFIRMED") {
    // even the sentinel-adjusted number trips the factor, but the
    // window itself was degraded: the artifact must demand a healthy
    // re-run instead of confirming from a throttled machine
    val adj = Map("q_maybe" -> BenchGuard.Adjudication(1.0, 6.0, 8.0, 2.0))
    adj("q_maybe").isoAdjusted shouldBe 4.0 +- 1e-9 // still > 1.5x base
    BenchGuard.verdicts(adj)("q_maybe") shouldBe "rerun_required"
    BenchGuard.confirmedRegressions(adj) shouldBe empty
  }

  test("a real regression in a healthy window still confirms") {
    val adj = BenchGuard.adjudicate(Map("q_real" -> (1.0, 6.0)),
      _ => 5.9, sentinel = () => 1.02, sentinelBase = 1.0)
    BenchGuard.verdicts(adj)("q_real") shouldBe "CONFIRMED"
    BenchGuard.confirmedRegressions(adj).keySet shouldBe Set("q_real")
  }

  test("sub-floor deltas never confirm: a ratio without a significance scale is noise") {
    // the r11 sweep minted 9 confirms on git-untouched code, every one
    // a sub-1.1 s delta on a small query (q_shard_assign 0.36 -> 0.57 s
    // is "1.6x"); QueryProbe showed identical-code swings of ±3.7 s on
    // this host. A confirm needs BOTH the relative factor and an
    // absolute delta above the demonstrated variance floor.
    val adj = Map(
      // 2.1x but only +0.4 s — inside the floor
      "q_tiny" -> BenchGuard.Adjudication(0.36, 0.83, 0.76, 1.0),
      // 2.3x but +0.99 s — still inside the default 1.5 s floor
      "q_small" -> BenchGuard.Adjudication(0.76, 1.9, 1.75, 1.0),
      // 1.8x AND +8 s — a real regression, never masked
      "q_heavy" -> BenchGuard.Adjudication(10.0, 18.5, 18.0, 1.0))
    val v = BenchGuard.verdicts(adj)
    v("q_tiny") shouldBe "insignificant"
    v("q_small") shouldBe "insignificant"
    v("q_heavy") shouldBe "CONFIRMED"
    BenchGuard.confirmedRegressions(adj).keySet shouldBe Set("q_heavy")
    // a tighter floor re-admits the small ones
    BenchGuard.verdicts(adj, minDeltaSec = 0.1)("q_tiny") shouldBe "CONFIRMED"
    // insignificant flags still heal the committed baseline with their
    // healthy isolated reading
    val healed = BenchGuard.healedQueryTimes(
      Seq("q_tiny" -> 0.83), adj, v).toMap
    healed("q_tiny") shouldBe 0.76 +- 1e-9
  }

  test("a fast window never flatters the isolated number") {
    // machine got FASTER during adjudication (ratio 0.5): dividing by
    // it would double the isolated reading and mint a confirm from
    // good weather — isoAdjusted only corrects degradation
    val a = BenchGuard.Adjudication(1.0, 2.0, 1.2, 0.5)
    a.isoAdjusted shouldBe 1.2
    BenchGuard.verdicts(Map("q" -> a))("q") shouldBe "noise"
  }

  test("sentinel failures degrade gracefully to an uncorrected verdict") {
    val adj = BenchGuard.adjudicate(Map("q" -> (1.0, 6.0)),
      _ => 5.9, sentinel = () => throw new RuntimeException("boom"),
      sentinelBase = 1.0)
    adj("q").sentinelRatio shouldBe 1.0
    BenchGuard.verdicts(adj)("q") shouldBe "CONFIRMED"
  }

  test("adjudicatedTotal substitutes sentinel-adjusted isolated numbers for flags only") {
    val results = Seq("q_a" -> 1.0, "q_flagged" -> 10.0,
      "q_failed" -> -1.0, "q_unverifiable" -> 4.0)
    val adj = Map(
      // degraded-window flag: sweep 10.0, iso 4.0 at sentinel 2.0 -> 2.0
      "q_flagged" -> BenchGuard.Adjudication(1.5, 10.0, 4.0, 2.0),
      // failed re-measure: keeps its sweep number
      "q_unverifiable" -> BenchGuard.Adjudication(1.0, 4.0, -1.0, 1.0))
    // 1.0 (unflagged) + 2.0 (substituted) + 4.0 (kept); -1 excluded
    BenchGuard.adjudicatedTotal(results, adj) shouldBe 7.0 +- 1e-9
    // no flags: the adjudicated total IS the raw total
    BenchGuard.adjudicatedTotal(results, Map.empty) shouldBe 15.0 +- 1e-9
  }

  // the harness's timed action and boundary clear (Bench.timed,
  // Bench.clearCacheBoundary); the suite may share its session
  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  test("the timed action evaluates every output column; the boundary clear empties the cache") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val df = spark.range(10).select(col("id"),
      when(col("id") >= 0, raise_error(lit("boom"))).otherwise("x").as("bad"))
    // count() never reads the raising column: Catalyst prunes it
    df.count() shouldBe 10L
    val e = intercept[Exception](Bench.timed(df))
    e.getMessage should include("boom")
    // and a clean frame times and returns the executed plan
    val (sec, plan) = Bench.timed(spark.range(10).toDF("id"))
    sec should be > 0.0
    plan.toString should include("HashAggregate")
    // the boundary clear leaves the session cache empty after a persist
    spark.range(100).selectExpr("id * 2 AS v").persist().count()
    spark.sharedState.cacheManager.isEmpty shouldBe false
    Bench.clearCacheBoundary(spark) shouldBe 0
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }
}
