package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.ops.{Anomaly, AsOf, Contamination, Dedup, Moments, Relevance,
  Sequences, Timeseries}
import graft.transform.GithubTransform

/** Property-based checks: operators are compared against independent,
  * obviously-correct Scala reimplementations of the reference
  * semantics on randomized inputs (coverage the reference's own test
  * suite never had).
  */
object PropertySpec extends Properties("graft") {

  // a ScalaCheck suite has no afterAll: it shares the session and sets
  // no runtime conf
  lazy val spark: SparkSession = GraftSuite.session

  import spark.implicits._

  // --- bug-id extraction vs independent regex model -------------------

  /** Direct port of the reference algorithm (main.py:25,449-454) with
    * BigInt (= Python int) arithmetic.
    */
  def referenceBugId(title: String): Option[Long] = {
    val re = "(?i)\\b(?:bug|b=)\\s*#?(\\d+)\\b".r
    re.findAllMatchIn(title)
      .map(_.group(1))
      .filter(d => BigInt(d) < BigInt(100000000))
      .map(_.toLong)
      .nextOption()
  }

  val titleGen: Gen[String] = Gen.listOfN(4, Gen.oneOf(
    Gen.oneOf("fix", "update docs", "refactor thing", "b=x", "bug", "Bug #", "BUG"),
    Gen.choose(0L, 200000000L).map(_.toString),
    Gen.oneOf("bug 123", "Bug 99999999", "bug 100000000", "b=0042",
      "bug 999999999999999999999999", "no-match 555"))).map(_.mkString(" "))

  property("bugId matches reference algorithm") =
    Prop.forAll(Gen.listOfN(20, titleGen)) { titles =>
      val df = titles.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val got = df.select(col("id"), GithubTransform.bugId(col("t")).as("b"))
        .collect()
        .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long]("b")).map(_.longValue))
        .toMap
      val want = titles.zipWithIndex.map { case (t, i) => i.toLong -> referenceBugId(t) }.toMap
      got == want
    }

  // --- jaccard pairs vs brute-force set model -------------------------

  val docGen: Gen[String] = Gen.choose(0, 12).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "ff", "gg")).map(_.mkString(" ")))

  def bruteJaccardPairs(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      inter = (sa & sb).size
      if 2L * inter >= (sa.size + sb.size - inter)
    } yield (ia, ib)).toSet
  }

  property("jaccardPairs equals brute-force sets") =
    Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got == bruteJaccardPairs(docs)
    }

  // --- KMV sketch vs direct model -------------------------------------

  property("KMV aggregator equals the direct k-minima model") =
    Prop.forAll(Gen.listOf(Gen.choose(0L, 3000L))) { values =>
      import graft.functions.KmvSketch
      val k = 16
      val expected = {
        val minima = values.map(KmvSketch.hash).distinct.sorted.take(k)
        KmvSketch.estimateFrom(minima, k)
      }
      val got =
        if (values.isEmpty) 0.0
        else values.map(v => (("g", v))).toDF("g", "v")
          .groupBy($"g").agg(KmvSketch.kmvDistinct(k)($"v").as("e"))
          .collect().head.getAs[Double]("e")
      got == expected
    }

  // --- simhash column vs direct model ---------------------------------

  property("simHash32 equals the direct per-bit vote model") =
    Prop.forAll(Gen.listOfN(5, docGen)) { texts =>
      def model(t: String): Long = {
        val ws = t.split(" ").filter(_.nonEmpty)
        def wh(w: String): Long =
          w.codePointCount(0, w.length).toLong * 10007L +
            w.codePointAt(0).toLong * 101L + w.codePointBefore(w.length).toLong
        (0 until 32).map { b =>
          val vote = ws.map(w => ((wh(w) >> b) & 1L) * 2L - 1L).sum
          if (vote > 0) 1L << b else 0L
        }.sum
      }
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.simHashes(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
      val want = texts.zipWithIndex.map { case (t, i) => i.toLong -> model(t) }.toMap
      got == want
    }

  // --- as-of join vs per-row scan model -------------------------------

  val rowsGen: Gen[List[(Long, Long)]] = Gen.choose(1, 15).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 100L))))

  property("asof join equals brute-force latest-le scan") =
    Prop.forAll(rowsGen, rowsGen) { (leftRows, rightRows) =>
      val left = leftRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new Timestamp(t * 1000)) }
      val right = rightRows.map { case (k, t) => (k, new Timestamp(t * 1000)) }
      val got = AsOf.joinBackward(
        left.toDF("id", "k", "t"), "k", "t",
        right.toDF("rk", "rt"), "rk", "rt", Seq("rt"))
        .collect()
        .map(r => r.getLong(0) -> Option(r.getAs[Timestamp]("rt_asof")).map(_.getTime))
        .toMap
      val want = left.map { case (id, k, t) =>
        id -> right.filter(r => r._1 == k && !r._2.after(t)).map(_._2.getTime)
          .sorted.lastOption
      }.toMap
      got == want
    }

  // --- connected components vs union-find model -----------------------

  /** Plain array union-find — obviously correct, driver-side. */
  private def unionFindComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  val pairsGen: Gen[List[(Long, Long)]] =
    Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L))))
      .map(_.filter(p => p._1 != p._2))

  property("connected components equal union-find on random graphs") =
    Prop.forAll(pairsGen) { pairs =>
      // empty pair lists included: components must be empty, not crash
      val got = graft.ops.Clusters
        .connectedComponents(pairs.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFindComponents(pairs)
    }

  // --- passage dup stats vs direct window model -----------------------

  property("passageDupStats equals the direct window model") =
    Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val w = 3
      def passages(t: String): Seq[String] = {
        val ws = t.split(" ").filter(_.nonEmpty)
        (0 until ws.length / w).map(i => ws.slice(i * w, i * w + w).mkString(" "))
      }
      val all = docs.map { case (id, t) => id -> passages(t) }
      val docsPer = all
        .flatMap { case (id, ps) => ps.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).distinct.size }
      val want = all.map { case (id, ps) =>
        id -> ((ps.size.toLong, ps.count(p => docsPer(p) > 1).toLong))
      }.toMap
      val got = Dedup
        .passageDupStats(docs.toDF("doc_id", "text"), "doc_id", "text", window = w)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      got == want
    }

  // --- contamination report vs direct shingle-overlap model -----------

  property("contaminationReport equals the direct shingle-overlap model") =
    Prop.forAll(Gen.listOfN(6, docGen), Gen.listOfN(2, docGen)) { (corpusTexts, probeTexts) =>
      def shingles(t: String): Set[String] = {
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val probeSet = probeTexts.flatMap(shingles).toSet
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val probe = probeTexts.zipWithIndex.map { case (t, i) => ((i + 100).toLong, t) }
      val want = corpus.map { case (id, t) =>
        val n = (shingles(t) & probeSet).size.toLong
        id -> ((n, if (n > 0) 1L else 0L))
      }.toMap
      val got = Contamination.contaminationReport(
        corpus.toDF("doc_id", "text"), probe.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      got == want
    }

  // --- token entropy vs closed-form model ------------------------------

  property("tokenEntropy matches the closed-form model within fp tolerance") =
    Prop.forAll(Gen.listOfN(6, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Relevance.tokenEntropy(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      docs.forall { case (id, t) =>
        val ws = t.split(" ").filter(_.nonEmpty)
        val n = ws.length.toLong
        val counts = ws.groupBy(identity).view.mapValues(_.length).toMap
        val h =
          if (n == 0L) 0.0
          else math.log(n.toDouble) -
            counts.values.map(c => c * math.log(c.toDouble)).sum / n
        val (gn, gd, gh) = got(id)
        gn == n && gd == counts.size.toLong && math.abs(gh - h) < 1e-9
      }
    }

  // --- batch sessionize vs direct scan model ---------------------------

  val eventsGen: Gen[List[(Long, Long)]] = Gen.choose(1, 25).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 10000L))))

  property("batch sessionize equals the sequential gap-scan model") =
    Prop.forAll(eventsGen) { rows =>
      val gap = 1000L // seconds
      val ev = rows.zipWithIndex.map { case ((u, sec), i) =>
        (i.toLong, u, new Timestamp(1704067200000L + sec * 1000L))
      }
      // driver model: per user, walk events in (ts, id) order and split
      val want = ev.groupBy(_._2).toSeq.flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3.getTime, e._1))
        val sessions = sorted.foldLeft(List.empty[List[(Long, Long, Timestamp)]]) {
          case (acc, e) => acc match {
            case cur :: rest if e._3.getTime - cur.head._3.getTime <= gap * 1000L =>
              (e :: cur) :: rest // cur.head is the session's LAST event
            case _ => List(e) :: acc
          }
        }.reverse.map(_.reverse)
        sessions.zipWithIndex.map { case (s, i) =>
          (u, i.toLong + 1L) ->
            ((s.size.toLong, s.head._1,
              (s.last._3.getTime - s.head._3.getTime) / 1000L))
        }
      }.toMap
      val got = graft.ops.Sessions
        .sessionize(ev.toDF("event_id", "user_id", "ts"), "user_id", "ts", "event_id",
          gapSeconds = gap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
      got == want
    }

  // --- whitespace tokenizer: custom expression vs HOF model -----------

  property("whitespaceWords equals filter(split(s,' '), nonEmpty) incl. unicode") =
    Prop.forAll(
      Gen.listOf(Gen.oneOf(
        Gen.const(" "), Gen.const("  "), Gen.const("a"), Gen.const("béta"),
        Gen.const("日本語"), Gen.const("x y"), Gen.const("\tz"),
        Gen.alphaNumStr.map(_.take(6)))).map(_.mkString)) { s =>
      val want = s.split(" ", -1).filter(_.nonEmpty).toSeq
      val got = Seq(Tuple1(s)).toDF("t")
        .select(graft.ops.TextOps.words(col("t")).as("ws"))
        .as[Seq[String]].head()
      got == want
    }

  // --- count-min sketch: one-sided error + partition invariance -------

  property("CMS estimate >= exact count and sketch is partition-invariant") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 40L)),
      Gen.chooseNum(1, 7)) { (vals, parts) =>
      import graft.functions.CmsSketch
      val w = 32
      val d = 4
      def sketchOf(p: Int): Seq[Long] = vals.toDF("v").repartition(p)
        .agg(CmsSketch.cmsSketch(w, d)(col("v")))
        .head().getSeq[Long](0)
      val sk = sketchOf(parts)
      val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val estOk = exact.forall { case (v, c) =>
        val est = (0 until d).map(r => sk(r * w + CmsSketch.bucket(v, r, w))).min
        est >= c
      }
      estOk && sk == sketchOf(1)
    }

  // --- hash-reservoir sample: model equality + partition invariance ---

  property("hash reservoir equals the k-smallest-hash model incl. collisions") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 500L), Gen.chooseNum(-5.0, 5.0))),
      Gen.chooseNum(1, 6)) { (rows, parts) =>
      import graft.functions.{KmvSketch, ReservoirSketch}
      val k = 8
      val want = rows
        .groupBy { case (key, _) => KmvSketch.hash(key) }
        .map { case (h, g) => h -> g.map(_._2).min } // min value per hash
        .toSeq.sortBy(_._1).take(k).map(_._2).sorted
      val got = rows.toDF("k", "v").repartition(parts)
        .agg(ReservoirSketch.reservoir(k)(col("k"), col("v")))
        .head().getSeq[Double](0)
      got == want
    }

  // --- keyed sampling: deterministic and repartition-invariant --------

  property("hash sampling is repartition-invariant and deterministic") =
    Prop.forAll(Gen.choose(1, 500), Gen.choose(2, 10)) { (n, den) =>
      val df = (1L to n.toLong).map(i => (i, s"v$i")).toDF("k", "v")
      val a = graft.ops.Sampling.hashSample(df, "k", 1, den)
        .collect().map(_.getLong(0)).toSet
      val b = graft.ops.Sampling.hashSample(df.repartition(7), "k", 1, den)
        .collect().map(_.getLong(0)).toSet
      a == b
    }

  // --- keep-best keeper invariants ------------------------------------

  /** Random pair lists + random integer scores: in every cluster the
    * keeper must (a) exist exactly once, (b) carry the cluster's max
    * score, (c) have the lowest id among max-score members.
    */
  property("dedupClustersKeepBest keeper is the (score, -id) argmax of its cluster") =
    Prop.forAll(
      Gen.choose(2, 12),
      Gen.listOf(Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))),
      Gen.listOfN(12, Gen.choose(0L, 5L))) { (n, rawPairs, scores) =>
      val ids = (0L until n.toLong)
      val docs = ids.map(i => (i, scores(i.toInt))).toDF("doc_id", "w")
      val filtered = rawPairs.filter { case (a, b) => a != b && a < n && b < n }
      // connectedComponents contracts on a non-empty pair list (the
      // dedup pipelines always feed one); pin a seed edge
      val pairs = if (filtered.isEmpty) Seq((0L, 1L)) else filtered
      val pairsDf = pairs.toDF("a", "b")
      val out = graft.ops.Clusters.dedupClustersKeepBest(
        docs, "doc_id", col("w"), pairsDf, "a", "b")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
          r.getAs[Long]("score"), r.getAs[Long]("is_keeper")))
      val byCluster = out.groupBy(_._2)
      out.length == n && byCluster.forall { case (_, members) =>
        val keepers = members.filter(_._4 == 1L)
        val maxScore = members.map(_._3).max
        keepers.length == 1 &&
          keepers.head._3 == maxScore &&
          keepers.head._1 == members.filter(_._3 == maxScore).map(_._1).min
      }
    }

  // --- DSv2 connector pushdown vs Spark filter semantics --------------

  import graft.source.github.PrScanPrune

  /** Timestamps in both wire formats the corpus carries: ISO-8601 and
    * the reference mock's space-separated variant
    * (mock_github_api.py:16).
    */
  private val wireTsGen: Gen[String] = for {
    month <- Gen.choose(1, 12)
    day <- Gen.choose(1, 28)
    hour <- Gen.choose(0, 23)
    sep <- Gen.oneOf("T", " ")
  } yield f"2023-$month%02d-$day%02d$sep$hour%02d:30:00Z"

  private val prRowGen: Gen[(Option[String], Option[String])] = for {
    state <- Gen.option(Gen.oneOf("open", "closed"))
    created <- Gen.option(wireTsGen)
  } yield (state, created)

  private val pruneGen: Gen[PrScanPrune] = for {
    state <- Gen.oneOf("all", "open", "closed")
    min <- Gen.option(wireTsGen)
    minIncl <- Gen.oneOf(true, false)
    max <- Gen.option(wireTsGen)
    maxIncl <- Gen.oneOf(true, false)
  } yield PrScanPrune(state, min, minIncl, max, maxIncl)

  /** A fully-pushed filter must admit exactly the rows Spark's own
    * StringType comparisons would keep (null comparison → dropped).
    */
  property("PrScanPrune.admits == Spark string-filter semantics") =
    Prop.forAll(prRowGen, pruneGen) { case ((state, created), prune) =>
      val sparkKeeps =
        (prune.state == "all" || state.contains(prune.state)) &&
          prune.minCreated.forall(b => created.exists(c =>
            if (prune.minInclusive) c.compareTo(b) >= 0 else c.compareTo(b) > 0)) &&
          prune.maxCreated.forall(b => created.exists(c =>
            if (prune.maxInclusive) c.compareTo(b) <= 0 else c.compareTo(b) < 0))
      prune.admits(state, created) == sparkKeeps
    }

  /** Early pagination stop is lossless: on the created-ascending walk
    * (semantic order — normalize the mock's space separator), once a
    * row trips `pastUpperBound`, no later row can be admissible, in
    * EITHER wire format.
    */
  property("PrScanPrune.pastUpperBound never drops an admissible later row") =
    Prop.forAll(Gen.listOfN(12, wireTsGen), pruneGen) { (tss, prune0) =>
      val prune = prune0.copy(state = "all", minCreated = None)
      val walk = tss.sortBy(_.replace(' ', 'T')) // server sort order
      val stopAt = walk.indexWhere(ts => prune.pastUpperBound(Some(ts)))
      stopAt < 0 || walk.drop(stopAt + 1).forall(ts => !prune.admits(None, Some(ts)))
    }

  // --- round-6 stats/timeseries/sequence operators vs models ----------

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  /** Same cents quantization the operators apply (floor of the double
    * product — NOT v itself, so the model can't disagree on ties like
    * 0.29·100 = 28.999…).
    */
  private def cents(centsIn: Int): Long =
    math.floor(centsIn / 100.0 * 100).toLong

  property("ewmaFir equals the sequential FIR model on random series") =
    Prop.forAll(
      Gen.listOfN(30, Gen.choose(0, 5000)), Gen.choose(1, 5)) { (vs, parts) =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (1L, t0, i.toLong, v / 100.0)
      }
      val got = Timeseries
        .ewmaFir(rows.toDF("e", "t", "i", "v").repartition(parts),
          "e", "t", "i", "v")
        .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
      val xs = vs.map(cents)
      val want = xs.indices.map { n =>
        val taps = xs.slice(math.max(0, n - 7), n + 1).reverse
        val num = taps.zipWithIndex.map { case (x, j) => x * (128L >> j) }.sum
        val den = taps.zipWithIndex.map { case (_, j) => 128L >> j }.sum
        n.toLong -> num.toDouble / den.toDouble
      }.toMap
      got == want
    }

  property("transitionCounts equals the sequential pair model") =
    Prop.forAll(Gen.listOfN(40,
      Gen.zip(Gen.choose(1L, 4L), Gen.oneOf("a", "b", "c")))) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, a), i) =>
        (u, t0, i.toLong, a)
      }
      val got = Sequences
        .transitionCounts(rows.toDF("u", "t", "i", "a"), "u", "t", "i", "a")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3)))
        .toMap
      val pairs = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        val seq = es.sortBy(_._3).map(_._4)
        seq.zip(seq.drop(1))
      }
      val cnt = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val fromTotal = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val want = cnt.map { case ((f, t), c) =>
        (f, t) -> (c, 1000000L * c / fromTotal(f))
      }
      got == want
    }

  property("momentsByGroup equals the BigInt raw-moment model") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0L, 60L))) { xs =>
      val r = Moments.momentsByGroup(
        xs.map(("g", _)).toDF("k", "x"), "k", "x").collect().head
      def s(p: Int): Double = xs.map(BigInt(_).pow(p)).sum.toDouble
      val n = xs.size.toDouble
      val mean = s(1) / n
      val variance = s(2) / n - (s(1) / n) * (s(1) / n)
      val close = (a: Double, b: Double) =>
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      r.getLong(1) == xs.size.toLong &&
        close(r.getDouble(2), mean) && close(r.getDouble(3), variance)
    }

  property("cusumChangePoint equals the sequential argmax model") =
    Prop.forAll(
      Gen.listOfN(25, Gen.choose(0, 2000)), Gen.choose(1, 4)) { (vs, parts) =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (1L, t0, i.toLong, v / 100.0)
      }
      val r = Anomaly.cusumChangePoint(
        rows.toDF("u", "t", "i", "v").repartition(parts),
        "u", "t", "i", "v").collect().head
      val xs = vs.map(cents)
      val sTot = BigInt(xs.sum)
      val n = BigInt(xs.size)
      val cs = xs.scanLeft(BigInt(0))(_ + _).drop(1).zipWithIndex.map {
        case (pk, i) => (n * pk - BigInt(i + 1) * sTot, i + 1)
      }
      // argmax by (abs, c, k, ord) — ord == k-1 here, same order
      val best = cs.maxBy { case (c, k) => (c.abs, c, k) }
      r.getLong(2) == best._2.toLong &&
        r.getLong(4) == best._1.toLong &&
        r.getLong(5) == best._1.abs.toLong
    }

  // --- winnowing vs brute-force rightmost-min model --------------------

  private def modelWinnow(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < k + w - 1) Set.empty
    else {
      def wh(x: String) =
        x.length.toLong * 10007L + x.head.toLong * 101L + x.last.toLong
      val hs = ws.sliding(k)
        .map(_.foldLeft(0L)((a, x) => (a * 31 + wh(x)) % 1000000007L))
        .toVector
      (w - 1 until hs.length).map { p =>
        val win = p - w + 1 to p
        val mn = win.map(hs).min
        val pos = win.filter(i => hs(i) == mn).max
        (pos.toLong, hs(pos))
      }.toSet
    }
  }

  property("winnowing fingerprints equal the rightmost-min window model") =
    Prop.forAll(Gen.listOfN(6, Gen.choose(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "ee")).map(_.mkString(" "))))) {
      texts =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        val got = graft.ops.Winnow
          .fingerprints(docs.toDF("doc_id", "text"), "doc_id", "text", 3, 4)
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSet
        val want = docs.flatMap { case (id, t) =>
          modelWinnow(t, 3, 4).map(fp => (id, fp))
        }.toSet
        got == want
    }

  // --- interval merge vs brute-force sweep model -----------------------

  property("mergeIntervals equals the sorted running-max sweep model") =
    Prop.forAll(Gen.listOfN(24, for {
      k <- Gen.oneOf("u1", "u2", "u3")
      s <- Gen.choose(0L, 60L)
      len <- Gen.choose(0L, 15L)
    } yield (k, s, s + len))) { spans0 =>
      val spans = spans0.zipWithIndex
        .map { case ((k, s, e), i) => (k, s, e, i.toLong) }
      val got = graft.ops.Intervals
        .mergeIntervals(spans.toDF("k", "s", "e", "id"),
          col("k"), col("s"), col("e"), col("id"))
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val want = spans.groupBy(_._1).flatMap { case (k, ss) =>
        val sorted = ss.sortBy(x => (x._2, x._4))
        val islands = sorted.foldLeft(List.empty[(Long, Long, Long)]) {
          case (acc, (_, s, e, _)) => acc match {
            case (st, en, n) :: rest if s <= en =>
              (st, math.max(en, e), n + 1) :: rest
            case _ => (s, e, 1L) :: acc
          }
        }
        islands.map { case (st, en, n) => (k, st, en, n) }
      }.toSet
      got == want
    }

  property("containmentPairs equals brute-force asymmetric sets") =
    Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.containmentPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", 3, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def shingles(t: String): Set[String] = {
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < 3) Set.empty
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val sh = docs.map { case (id, t) => id -> shingles(t) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
        inter = (sa & sb).size
        if 5L * inter >= 3L * math.min(sa.size, sb.size)
      } yield (ia, ib)).toSet
      got == want
    }
}
