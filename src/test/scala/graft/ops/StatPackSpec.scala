package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MisraGries

/** Fifth-pack operators: Kaplan-Meier survival, Holt linear
  * forecasting, and the Misra-Gries heavy-hitters aggregator —
  * model equality on hand-computable inputs plus the invariants that
  * must survive repartitioning (KM/Holt outputs are bit-stable;
  * MG's BOUNDS are partition-invariant even though its raw
  * estimates are not).
  */
class StatPackSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("kaplanMeier hand example: deaths, censoring, at-risk, product") {
    // subjects: u1 born d1 dies d3 (t=2); u2 born d1 dies d1 (t=0);
    // u3 born d2 never dies (censored at horizon d5, t=3);
    // u4 born d1 never dies (t=4); u5 death-before-birth event is
    // ignored, dies d4 after birth d2 (t=2). Horizon = max ts = d5.
    val rows = Seq(
      ("u1", "2024-01-01 00:00:00", "b"), ("u1", "2024-01-03 08:00:00", "d"),
      ("u2", "2024-01-01 06:00:00", "b"), ("u2", "2024-01-01 09:00:00", "d"),
      ("u3", "2024-01-02 00:00:00", "b"),
      ("u4", "2024-01-01 00:00:00", "b"),
      ("u5", "2024-01-01 12:00:00", "d"), // before u5's birth: ignored
      ("u5", "2024-01-02 00:00:00", "b"), ("u5", "2024-01-04 00:00:00", "d"),
      ("zz", "2024-01-05 00:00:00", "x")) // horizon carrier, no birth
      .map { case (u, t, k) => (u, ts(t), k) }
      .toDF("u", "ts", "kind")
    val got = Survival.kaplanMeier(rows, col("ts"), col("u"),
      col("kind") === "b", col("kind") === "d")
      .orderBy("t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // durations: u2 t=0 death; u1 t=2 death; u5 t=2 death; u3 t=3
    // censored; u4 t=4 censored. N=5.
    // t=0: d=1 n=5 surv=4/5; t=2: d=2 n=4 surv=4/5*2/4=2/5
    // t=3: d=0 n=2 surv unchanged; t=4: d=0 n=1.
    assert(got.toSeq == Seq(
      (0L, 1L, 0L, 5L, 0.8),
      (2L, 2L, 0L, 4L, 0.8 * 0.5),
      (3L, 0L, 1L, 2L, 0.8 * 0.5),
      (4L, 0L, 1L, 1L, 0.8 * 0.5)))
  }

  test("kaplanMeier is repartition-invariant") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).flatMap { i =>
      val u = s"u${i % 60}"
      val day = 1 + rnd.nextInt(25)
      Seq((u, ts(f"2024-01-$day%02d 00:00:00"),
        if (rnd.nextBoolean()) "b" else "d"))
    }.toDF("u", "ts", "kind")
    def run(df: org.apache.spark.sql.DataFrame) =
      Survival.kaplanMeier(df, col("ts"), col("u"),
        col("kind") === "b", col("kind") === "d")
        .orderBy("t").collect().toSeq
    assert(run(rows) == run(rows.repartition(7, col("kind"))))
  }

  test("holtLinear matches the sequential recurrence per group") {
    val rnd = new scala.util.Random(11)
    val data = for {
      g <- Seq("a", "b", "c"); i <- 1 to (5 + rnd.nextInt(20))
    } yield (g, i, rnd.nextInt(1000).toLong)
    val got = Timeseries.holtLinear(
      data.toDF("g", "o", "y").repartition(7),
      col("g"), col("o"), col("y"), horizon = 7)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val want = data.groupBy(_._1).map { case (g, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      var l = ys.head
      var b = 0.0
      for (y <- ys.tail) {
        val l2 = (y + l + b) / 2
        b = (l2 - l + b) / 2
        l = l2
      }
      g -> ((ys.size.toLong, l, b, l + 7 * b))
    }
    assert(got == want)
  }

  test("holtLinear single-observation group returns (y, 0)") {
    val got = Timeseries.holtLinear(
      Seq(("g", 1, 42L)).toDF("g", "o", "y"),
      col("g"), col("o"), col("y")).collect()(0)
    assert(got.getLong(1) == 1L && got.getDouble(2) == 42.0 &&
      got.getDouble(3) == 0.0 && got.getDouble(4) == 42.0)
  }

  test("MisraGries certificates hold under every partitioning") {
    // Zipf-ish stream: key i appears ~N/i times
    val keys = (1 to 40).flatMap(i => Seq.fill(400 / i)(s"k$i"))
    val n = keys.size.toLong
    val truth = keys.groupBy(identity).map { case (k, g) =>
      k -> g.size.toLong }
    for (k <- Seq(4, 8, 16); parts <- Seq(1, 3, 13)) {
      val df = spark.sparkContext.parallelize(keys, parts).toDF("kk")
      val summary = df.agg(MisraGries.mgSummary(k)(col("kk")))
        .as[Seq[(String, Long)]].collect()(0).toMap
      assert(summary.size <= k, s"k=$k parts=$parts: ${summary.size}")
      val bound = n.toDouble / (k + 1)
      for ((key, est) <- summary) {
        assert(est <= truth(key), s"overcount $key: $est > ${truth(key)}")
        assert(truth(key) - est <= bound,
          s"k=$k parts=$parts undercount $key: ${truth(key)} - $est")
      }
      for ((key, cnt) <- truth if cnt > bound)
        assert(summary.contains(key),
          s"k=$k parts=$parts lost heavy hitter $key ($cnt > $bound)")
    }
  }

  test("mmrRerank hand example: near-dup demoted below diverse pick") {
    // n1 rel .95; n2 rel .94 but sim(n1,n2)=.99 (near-dup of n1);
    // n3 rel .5, sim ~.1 to both. Pure relevance would pick n2
    // second; MMR picks the diverse n3.
    val cands = Seq((1L, 1L, 0.95), (1L, 2L, 0.94), (1L, 3L, 0.5))
      .toDF("qid", "nid", "rel")
    val sims = Seq(
      (1L, 1L, 2L, 0.99), (1L, 2L, 1L, 0.99),
      (1L, 1L, 3L, 0.1), (1L, 3L, 1L, 0.1),
      (1L, 2L, 3L, 0.1), (1L, 3L, 2L, 0.1))
      .toDF("qid", "a", "b", "s")
    val got = Similarity.mmrRerank(cands, sims, k = 3)
      .orderBy("pick_rank")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("mmrRerank matches a sequential greedy model, any partitioning") {
    val rnd = new scala.util.Random(29)
    val qids = (1L to 5L).toSeq
    val cands = for (q <- qids; n <- 1L to 8L)
      yield (q, n, rnd.nextDouble())
    val sims = for {
      q <- qids; a <- 1L to 8L; b <- 1L to 8L if a != b
    } yield (q, a, b, { val base = rnd.nextDouble(); base })
    // symmetric sims: regenerate deterministically keyed on (q, lo, hi)
    val symSims = sims.map { case (q, a, b, _) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      (q, a, b, ((q * 31 + lo) * 31 + hi).toDouble / 4000.0)
    }
    def model(q: Long): Seq[Long] = {
      val rel = cands.filter(_._1 == q).map(c => c._2 -> c._3).toMap
      val sim = symSims.filter(_._1 == q)
        .map(p => (p._2, p._3) -> p._4).toMap
      var sel = Vector.empty[Long]
      for (_ <- 1 to 3) {
        val rem = rel.keys.filterNot(sel.contains).toSeq
        if (rem.nonEmpty) {
          val best = rem.map { c =>
            val red = sel.map(s => sim((c, s))).foldLeft(0.0)(math.max)
            (-(0.5 * rel(c) - 0.5 * red), c)
          }.min
          sel :+= best._2
        }
      }
      sel
    }
    for (parts <- Seq(1, 7)) {
      val got = Similarity.mmrRerank(
        cands.toDF("qid", "nid", "rel").repartition(parts),
        symSims.toDF("qid", "a", "b", "s").repartition(parts), k = 3)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
      assert(got == qids.map(q => q -> model(q)).toMap)
    }
  }

  test("mmrRerank with fewer candidates than k stops early") {
    val cands = Seq((1L, 7L, 0.9)).toDF("qid", "nid", "rel")
    val sims = Seq.empty[(Long, Long, Long, Double)]
      .toDF("qid", "a", "b", "s")
    val got = Similarity.mmrRerank(cands, sims, k = 3).collect()
    assert(got.length == 1 && got(0).getLong(1) == 1L &&
      got(0).getLong(2) == 7L)
  }

  test("zipfFit recovers slope ~ -1 on a planted power law") {
    // term i appears floor(1200/i) times, i = 1..40
    val docs = (1 to 40).flatMap(i =>
      Seq.fill(1200 / i)(s"t$i")).grouped(50)
      .map(_.mkString(" ")).toSeq.toDF("text")
    val r = Relevance.zipfFit(docs, "text").collect()(0)
    val (n, b1, r2) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
    assert(n == 40L)
    assert(b1 < -0.9 && b1 > -1.1, s"slope $b1")
    assert(r2 > 0.98, s"r2 $r2")
  }

  test("zipfFit block rank-ranges equal the sorted-rank model") {
    // heavy ties: counts collide across terms
    val docs = (1 to 30).flatMap(i => Seq.fill(1 + (i % 5))(s"w$i"))
      .grouped(7).map(_.mkString(" ")).toSeq.toDF("text")
    val r = Relevance.zipfFit(docs, "text").collect()(0)
    // model: rank by (count desc, any tie order) — cent-quantized
    // olsFit arithmetic replicated with StrictMath.log (= codegen ln)
    val counts = (1 to 30).map(i => 1L + (i % 5))
    val ranked = counts.sortBy(-_).zipWithIndex
      .map { case (c, idx) => (idx + 1L, c) }
    val pts = ranked.map { case (rk, c) =>
      (math.floor(StrictMath.log(rk.toDouble) * 100.0).toLong,
        math.floor(StrictMath.log(c.toDouble) * 100.0).toLong)
    }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val varX = n * sxx - sx * sx
    val cov = n * sxy - sx * sy
    val beta1 = cov / varX
    assert(r.getLong(0) == 30L)
    assert(r.getDouble(2) == beta1,
      s"${r.getDouble(2)} != $beta1")
  }

  test("splitConformal hand example: exact fit, rank radius, coverage") {
    // train (fold 0): y = 2x exactly -> beta1 = 2, beta0 = 0.
    // cal (fold 1): dyadic residuals 0.25/0.5/0.75/1.0 -> rq
    // 25/50/75/100; alpha 3/4, n_cal=4 -> k = ceil(5*3/4) = 4 ->
    // q_hat = 100. test (fold 2): residuals 0.75 (covered) and 1.25
    // (not) -> coverage 1/2.
    val rows = Seq(
      (1.0, 2.0, 0L), (2.0, 4.0, 0L), (3.0, 6.0, 0L),
      (1.0, 2.25, 1L), (2.0, 4.5, 1L), (3.0, 6.75, 1L), (4.0, 9.0, 1L),
      (1.0, 2.75, 2L), (2.0, 5.25, 2L))
      .toDF("x0", "y0", "f")
    val r = Regression.splitConformal(rows, "y0", "x0", col("f"),
      alphaNum = 3, alphaDen = 4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == ((3L, 4L, 2L, 100L, 1L, 0.5)))
  }

  test("splitConformal is repartition-invariant") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 300).map { i =>
      val x = rnd.nextInt(50).toDouble
      (x, 3.0 * x + rnd.nextInt(100) / 4.0, i.toLong)
    }.toDF("x0", "y0", "f")
    def run(df: org.apache.spark.sql.DataFrame) =
      Regression.splitConformal(df, "y0", "x0", col("f"))
        .collect().toSeq
    assert(run(rows) == run(rows.repartition(11)))
  }

  test("CMS inner product matches the model and never undercounts") {
    import graft.functions.CmsSketch
    val W = 16
    val D = 3
    val rnd = new scala.util.Random(17)
    val as = Seq.fill(300)(rnd.nextInt(40).toLong)
    val bs = Seq.fill(500)(rnd.nextInt(60).toLong)
    def arr(keys: Seq[Long]): Array[Long] = {
      val a = new Array[Long](W * D)
      for (k <- keys; r <- 0 until D)
        a(r * W + CmsSketch.bucket(k, r, W)) += 1
      a
    }
    val (aArr, bArr) = (arr(as), arr(bs))
    val wantEst = (0 until D).map { r =>
      (0 until W).map(w => aArr(r * W + w) * bArr(r * W + w)).sum
    }.min
    val exact = {
      val ca = as.groupBy(identity).map { case (k, g) => k -> g.size }
      val cb = bs.groupBy(identity).map { case (k, g) => k -> g.size }
      ca.keys.filter(cb.contains).map(k => ca(k).toLong * cb(k)).sum
    }
    assert(wantEst >= exact)
    val skA = spark.sparkContext.parallelize(as, 5).toDF("k")
      .agg(CmsSketch.cmsSketch(W, D)(col("k"))).as[Seq[Long]]
      .collect()(0)
    val skB = spark.sparkContext.parallelize(bs, 3).toDF("k")
      .agg(CmsSketch.cmsSketch(W, D)(col("k"))).as[Seq[Long]]
      .collect()(0)
    val gotEst = (0 until D).map { r =>
      (0 until W).map(w => skA(r * W + w) * skB(r * W + w)).sum
    }.min
    assert(gotEst == wantEst)
  }

  test("partitionDigest: incremental law, corruption, invariance") {
    import graft.ops.Checks
    val rows = (1L to 500L).map(i => (i % 4, i, s"v$i"))
    def dig(data: Seq[(Long, Long, String)], parts: Int) =
      Checks.partitionDigest(
        spark.sparkContext.parallelize(data, parts).toDF("p", "id", "s"),
        Seq("p"),
        concat_ws("|", col("id").cast("string"), col("s")))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val whole = dig(rows, 6)
    // partitioning-invariant
    assert(whole == dig(rows, 1))
    // incremental: digest(A ∪ B) = (digest(A) + digest(B)) mod M
    val (a, b) = rows.splitAt(137)
    val (da, db) = (dig(a, 3), dig(b, 3))
    for ((p, (n, d)) <- whole) {
      val (na, xa) = da.getOrElse(p, (0L, 0L))
      val (nb, xb) = db.getOrElse(p, (0L, 0L))
      assert(n == na + nb)
      assert(d == (xa + xb) % Checks.DigestMod, s"partition $p")
    }
    // single-field corruption flips the digest
    val corrupted = rows.updated(42, rows(42).copy(_3 = "vX"))
    assert(dig(corrupted, 6)(rows(42)._1) != whole(rows(42)._1))
  }

  test("theilSen resists the outlier that drags OLS") {
    // y = 2x on days 1..9 plus one wild point (x=10, y=1000):
    // OLS slope blows past 2; the pairwise-slope median stays near 2
    // (exact value: median of the 45 pair slopes)
    val pts = (1L to 9L).map(x => ("a", x, 2 * x)) :+ (("a", 10L, 1000L))
    val df = pts.toDF("g0", "x0", "y0").repartition(4)
    val r = Regression.theilSen(df, col("g0"), col("x0"), col("y0"))
      .collect()(0)
    assert(r.getLong(1) == 45L)
    val slopes = (for {
      i <- pts.indices; j <- pts.indices if pts(i)._2 < pts(j)._2
    } yield (pts(j)._3 - pts(i)._3).toDouble /
        (pts(j)._2 - pts(i)._2)).sorted
    val want = slopes(22) // 45 pairs: odd, the 23rd (1-based) slope
    assert(r.getDouble(2) == want)
    assert(want == 2.0, s"robust slope should stay 2.0, got $want")
    val ols = Regression.olsFit(
      df.select(col("g0"), col("x0").cast("double").as("x"),
        col("y0").cast("double").as("y")), "y", "x", Seq("g0"))
      .collect()(0).getDouble(3) // beta1 (slope); index 2 is beta0
    assert(ols > 30.0, s"OLS slope should be dragged, got $ols")
  }

  test("MisraGries sequential small case is exact under capacity") {
    // 3 distinct keys, k=4: no decay ever fires, counts are exact
    val keys = Seq("a", "a", "b", "c", "a", "b")
    val got = spark.sparkContext.parallelize(keys, 2).toDF("kk")
      .agg(MisraGries.mgSummary(4)(col("kk")))
      .as[Seq[(String, Long)]].collect()(0).toMap
    assert(got == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }
}
