package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sixth pack: modularity, decision stump, Holt-Winters, naive
  * Bayes, compaction bins — each bit-matched against a sequential
  * Scala model (StrictMath.log where ln is involved, mirroring
  * Spark's codegen) and checked partition-invariant.
  */
class ModelPackSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  test("modularity: two cliques with a bridge, plus singleton communities") {
    // cliques {1,2,3} and {4,5,6}, bridge 3-4, stray edge 7-8 whose
    // endpoints sit in different (singleton) communities
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L), (7L, 8L))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L), (7L, 7L), (8L, 8L))
    val got = Graphs.modularity(
      edges.toDF("a", "b").repartition(5), "a", "b",
      labels.toDF("node", "label"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val m = 8.0
    def q(eIn: Long, dSum: Long): Double =
      eIn / m - (dSum / (2.0 * m)) * (dSum / (2.0 * m))
    assert(got(1L) == ((3L, 3L, 7L, q(3, 7))))
    assert(got(4L) == ((3L, 3L, 7L, q(3, 7))))
    assert(got(7L) == ((1L, 0L, 1L, q(0, 1))))
    assert(got(8L) == ((1L, 0L, 1L, q(0, 1))))
    // the clique partition beats chance overall
    assert(got.values.map(_._4).sum > 0.3)
  }

  test("modularity ignores duplicate, reversed, and self edges") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L))
    val got = Graphs.modularity(edges.toDF("a", "b"), "a", "b",
      labels.toDF("node", "label"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 3L -> 0L)) // m=2: only 1-2 and 2-3
  }

  test("bestStump: exact argmin of misclassification, ties to smallest x") {
    // perfectly separable: pos iff x <= 4
    val sep = (1L to 10L).map(x => (x, x <= 4))
    val r = Classifier.bestStump(sep.toDF("x", "p").repartition(3),
      col("x"), col("p")).collect()(0)
    assert(r.getLong(2) == 4L && r.getLong(3) == 0L)
    assert(r.getDouble(5) == 1.0)
  }

  test("bestStump matches the brute-force model on random data") {
    val rnd = new scala.util.Random(7)
    val data = (1 to 500).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextBoolean()))
    val n = data.size.toLong
    val npos = data.count(_._2).toLong
    val best = data.map(_._1).distinct.sorted.map { v =>
      val (l, rr) = data.partition(_._1 <= v)
      val (pl, pr) = (l.count(_._2).toLong, rr.count(_._2).toLong)
      val err = math.min(pl, l.size - pl) + math.min(pr, rr.size - pr)
      (err, v)
    }.min
    val r = Classifier.bestStump(data.toDF("x", "p").repartition(6),
      col("x"), col("p")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((n, npos)))
    assert((r.getLong(3), r.getLong(2)) == best)
    assert(r.getLong(4) == math.min(npos, n - npos))
    assert(r.getDouble(5) == (n - best._1).toDouble / n.toDouble)
  }

  test("holtWinters matches the sequential recurrence; seasonal signal learned") {
    val rnd = new scala.util.Random(13)
    val data = for {
      g <- Seq("a", "b"); t <- 1 to (10 + rnd.nextInt(25))
    } yield (g, t, (100 + 40 * (t % 7) + rnd.nextInt(10)).toLong)
    val got = Timeseries.holtWinters(
      data.toDF("g", "o", "y").repartition(7),
      col("g"), col("o"), col("y"), period = 7)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    val want = data.groupBy(_._1).map { case (g, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      val s = Array.fill(7)(0.0)
      var l = ys.head
      var b = 0.0
      var i = 1L
      for (y <- ys.tail) {
        val slot = (i % 7).toInt
        val l2 = ((y - s(slot)) + l + b) / 2
        b = (l2 - l + b) / 2
        s(slot) = ((y - l2) + s(slot)) / 2
        l = l2
        i += 1
      }
      val sNext = s((ys.size % 7).toInt)
      g -> ((ys.size.toLong, l, b, sNext, l + b + sNext))
    }
    assert(got == want)
  }

  test("holtWinters beats plain Holt on a strongly weekly series") {
    // deterministic weekly sawtooth: next value equals the value 7
    // days earlier, so the seasonal forecast should land far closer
    val data = (1 to 70).map(t => ("g", t, (100 + 50 * (t % 7)).toLong))
    val truthNext = 100 + 50 * (71 % 7) // y_71
    val hw = Timeseries.holtWinters(data.toDF("g", "o", "y"),
      col("g"), col("o"), col("y"), period = 7).collect()(0).getDouble(5)
    val h = Timeseries.holtLinear(data.toDF("g", "o", "y"),
      col("g"), col("o"), col("y"), horizon = 1).collect()(0).getDouble(4)
    // zero-seeded slots converge geometrically: 10 periods in, the
    // seasonal forecast should sit within a fraction of the 300-wide
    // weekly swing while plain Holt still misses by the sawtooth
    assert(math.abs(hw - truthNext) < math.abs(h - truthNext),
      s"hw=$hw holt=$h truth=$truthNext")
    assert(math.abs(hw - truthNext) < 40.0, s"hw=$hw truth=$truthNext")
  }

  test("naiveBayes matches the sequential model and classifies the obvious") {
    // two "languages" with disjoint-ish vocabularies + shared noise
    val train = Seq(
      (1L, "the cat sat", "en"), (2L, "the dog ran", "en"),
      (3L, "cat and dog", "en"), (11L, "der hund lief", "de"),
      (12L, "die katze sass", "de"), (13L, "der und die", "de"))
    val test = Seq((21L, "the cat ran", "en"), (22L, "der hund sass", "de"),
      (23L, "unseen words only", "en"))
    val docs = (train ++ test).map { case (id, t, l) => (id, t, l) }
    val got = Classifier.naiveBayes(
      docs.toDF("doc_id", "text", "lang").repartition(4),
      "doc_id", "text", "lang", col("doc_id") > 20L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getDouble(3))))
      .toMap
    // sequential model, StrictMath.log = Spark's codegen ln
    val toks = train.flatMap { case (_, t, l) =>
      t.split(" ").filter(_.nonEmpty).map(w => (l, w))
    }
    val cw = toks.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val vocab = toks.map(_._2).distinct
    val v = vocab.size.toLong
    val tl = toks.groupBy(_._1).map { case (l, g) => l -> g.size.toLong }
    val nC = train.groupBy(_._3).map { case (l, g) => l -> g.size.toLong }
    val nTr = train.size.toLong
    def score(text: String, cls: String): Double = {
      val tf = text.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (w, g) => w -> g.size.toLong }
      val inVocab = tf.filter(kv => vocab.contains(kv._1)).toSeq.sortBy(_._1)
      val folded = inVocab.foldLeft(0.0) { case (a, (w, f)) =>
        a + f.toDouble * StrictMath.log(
          (cw.getOrElse((cls, w), 0L) + 1).toDouble / (tl(cls) + v).toDouble)
      }
      val unseen = tf.values.sum - inVocab.map(_._2).sum
      folded + unseen.toDouble *
        StrictMath.log(1.0 / (tl(cls) + v).toDouble) +
        StrictMath.log(nC(cls).toDouble / nTr.toDouble)
    }
    for ((id, t, actual) <- test) {
      val want = Seq("de", "en").map(c => (score(t, c), c)).max
      assert(got(id) == ((actual, want._2, want._1)), s"doc $id")
    }
    assert(got(21L)._2 == "en" && got(22L)._2 == "de")
  }

  test("brownForsythe matches the sequential model and ranks variance drift") {
    val rnd = new scala.util.Random(23)
    // group a: tight around 100; group b: wide; group c: tight
    val data =
      (1 to 200).map(_ => ("a", 100L + rnd.nextInt(11) - 5)) ++
        (1 to 200).map(_ => ("b", 100L + rnd.nextInt(161) - 80)) ++
        (1 to 200).map(_ => ("c", 300L + rnd.nextInt(11) - 5))
    val r = StatTests.brownForsythe(
      data.toDF("g", "x").repartition(6), "g", col("x")).collect()(0)
    // sequential model with the same fold order (groups sorted)
    def lowerMed(vs: Seq[Long]): Long = {
      val s = vs.sorted; s((vs.size - 1) / 2)
    }
    val gs = data.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
      val med = lowerMed(rows.map(_._2))
      val zs = rows.map(t => math.abs(t._2 - med))
      (g, rows.size.toLong, zs.sum, zs.map(z => z * z).sum)
    }
    val (k, n) = (gs.size.toLong, gs.map(_._2).sum)
    val sz = gs.map(_._3).sum
    val num = gs.foldLeft(0.0) { case (a, (_, ng, s, _)) =>
      a + ng.toDouble * (s.toDouble / ng.toDouble - sz.toDouble / n.toDouble) *
        (s.toDouble / ng.toDouble - sz.toDouble / n.toDouble)
    }
    val den = gs.foldLeft(0.0) { case (a, (_, ng, s, q)) =>
      a + (q.toDouble - s.toDouble * s.toDouble / ng.toDouble)
    }
    val f = ((n - k).toDouble * num) / ((k - 1).toDouble * den)
    assert(r.getLong(0) == k && r.getLong(1) == n)
    assert(r.getDouble(2) == num && r.getDouble(3) == den)
    assert(r.getDouble(4) == f)
    // the wide group makes the homogeneity F large
    assert(f > 10.0, s"F=$f")
    // homogeneous control: same spreads, different centers → small F
    val ctrl =
      (1 to 200).map(_ => ("a", 100L + rnd.nextInt(21) - 10)) ++
        (1 to 200).map(_ => ("b", 500L + rnd.nextInt(21) - 10))
    val f2 = StatTests.brownForsythe(
      ctrl.toDF("g", "x"), "g", col("x")).collect()(0).getDouble(4)
    // same spreads, different centers: an order of magnitude below
    // the genuine variance drift (chance variation keeps it small
    // but not pinned)
    assert(f2 * 10 < f, s"control F=$f2 vs drift F=$f")
  }

  test("compactionBins: offset binning, key ranges, overflow tolerance") {
    val inv = Seq(("a", 60L), ("b", 50L), ("c", 10L), ("d", 100L),
      ("e", 30L), ("f", 40L))
    val got = Layout.compactionBins(
      inv.toDF("k", "bytes").repartition(3), col("k"), col("bytes"), 100L)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    // offsets: a=0 b=60 c=110 d=120 e=220 f=250
    assert(got == Map(
      0L -> ((2L, 110L, "a", "b")),
      1L -> ((2L, 110L, "c", "d")),
      2L -> ((2L, 70L, "e", "f"))))
    // every bin except possibly the last stays under target + max file
    assert(got.values.forall(_._2 <= 100L + inv.map(_._2).max))
  }
}
