package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the scale-extension operators. The oracle-checkable
  * queries are verified by the driver gate; these cover the
  * library-only paths (decode stub, hyperplane LSH, recall behavior)
  * and planted-duplicate semantics.
  */
class OpsSpec extends AnyFunSuite with graft.GraftSuite with graft.TempDirs {

  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about spark catalyst optimizer internals here"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "short text"))

  def docsDf = docs.toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exactByContentHash(docsDf, "doc_id", "text").collect()
    assert(out.length == 4) // 5 docs, one exact pair
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keeper_id") == 0L)
  }

  test("jaccard pairs find planted near-dup and exact dup, not unrelated") {
    val pairs = Dedup.jaccardPairs(docsDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("posting-list cut prunes ubiquitous shingles consistently (sizes recomputed)") {
    // every doc shares the prefix "x y z" (shingle in all 4 docs,
    // pruned at cut=3); docs 0 and 1 share everything else
    val dfDocs = Seq(
      (0L, "x y z alpha beta gamma delta"),
      (1L, "x y z alpha beta gamma delta"),
      (2L, "x y z other words entirely here"),
      (3L, "x y z more unrelated content again")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(dfDocs, "doc_id", "text", maxShingleDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with sizes recomputed over surviving shingles, (0,1) is jaccard 1
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 2L || p._2 == 3L && p._1 != 0L || p._1 == 2L))
  }

  test("default posting cut keeps a hot-shingle corpus sub-quadratic") {
    // every doc opens with the same boilerplate shingle; its df (300)
    // exceeds DefaultMaxShingleDf (256), so the DEFAULT path must prune
    // it — without the cut this corpus alone generates ~45k candidate
    // rows (C(300,2)); with it, only the planted dup pair's 3 surviving
    // shingles produce candidates
    val n = Dedup.DefaultMaxShingleDf + 44
    val hotDocs = (0L until n.toLong).map { i =>
      val u = if (i == 1L) 0L else i // doc 1 duplicates doc 0 exactly
      (i, s"hot1 hot2 hot3 u${u}a u${u}b u${u}c")
    }.toDF("doc_id", "text")
    val posting = Dedup.jaccardPostings(hotDocs, "doc_id", "text",
      maxShingleDf = Some(Dedup.DefaultMaxShingleDf), persistPostings = false)
    val candidates = posting.select($"id".as("ida"), $"s")
      .join(posting.select($"id".as("idb"), $"s"), "s")
      .filter($"ida" < $"idb").count()
    assert(candidates == 3L, s"hot shingle not cut: $candidates candidate rows")
    val pairs = Dedup.jaccardPairs(hotDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("keep-best dedup keeps the highest-scoring copy, not the lowest id") {
    // cluster {0,1,3}: doc 1 is one word longer than 0 and 3 — with
    // word count as the quality score the keeper must be 1, where
    // plain dedupClusters would keep 0
    val pairs = Dedup.minHashLshPairs(docsDf, "doc_id", "text")
    val out = Clusters.dedupClustersKeepBest(
      docsDf, "doc_id",
      TextOps.wordCount(col("text")) +
        when(col("doc_id") === 1L, lit(5L)).otherwise(lit(0L)),
      pairs, "doc_id_a", "doc_id_b")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("is_keeper"))).toMap
    assert(out(0L) == (0L, 0L) && out(3L) == (0L, 0L))
    assert(out(1L) == (0L, 1L), s"keeper should be the boosted doc 1: $out")
    // singletons keep themselves
    assert(out(2L)._2 == 1L && out(4L)._2 == 1L)
  }

  test("temperature mix keeps the smallest domain whole and flattens larger ones") {
    val rows = (0L until 900L).map { i =>
      val dom = if (i < 800L) "big" else if (i < 880L) "mid" else "small"
      (i, dom)
    }
    val df = rows.toDF("doc_id", "source")
    val kept = Sampling.temperatureMixSqrt(df, "doc_id", "source")
    val byDom = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest domain: threshold = 2^20 exactly → every row survives
    assert(byDom("small") == 20L)
    // larger domains thin toward sqrt proportions: expected rates
    // sqrt(20/800)≈0.158, sqrt(20/80)=0.5 — allow hash noise
    assert(byDom("big") < 200L && byDom("big") > 60L, s"big: ${byDom("big")}")
    assert(byDom("mid") < 60L && byDom("mid") > 20L, s"mid: ${byDom("mid")}")
    // deterministic under re-layout
    val kept2 = Sampling.temperatureMixSqrt(df.repartition(7), "doc_id", "source")
    assert(kept2.count() == kept.count())
    assert(kept.select("doc_id").exceptAll(kept2.select("doc_id")).isEmpty)
  }

  test("minhash LSH pairs agree with exact jaccard on planted dups") {
    val lsh = Dedup.minHashLshPairs(docsDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("b-bit minwise: exact dup agrees on all 16 bits, estimator reads R=1") {
    val rows = Dedup.bbitMinwisePairs(docsDf, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_match"), r.getAs[Double]("resemblance_est")))
      .toMap
    // candidate pairs = the LSH bucket pairs (same index as
    // minHashLshPairs before its exact verify)
    assert(rows.keySet == Set((0L, 1L), (0L, 3L), (1L, 3L)))
    // exact duplicates share every minhash, hence every bit
    assert(rows((0L, 3L)) == (16L, 1.0))
    // the near-dup pair's estimate is bounded by the agreement count
    val (nm, est) = rows((0L, 1L))
    assert(nm >= 8L && nm <= 16L)
    assert(est == 2.0 * (nm.toDouble / 16.0) - 1.0)
  }

  test("amsF2: counters bit-match a sequential model; exact anchor is exact") {
    val df = (1 to 500).map(i => ("k" + (i % 37), i)).toDF("k", "v")
    val out = graft.ops.Moments.amsF2(df,
      org.apache.spark.sql.functions.xxhash64(col("k"))).collect().head
    // per-key frequencies: 37 keys, ~13-14 each
    val freqs = (1 to 500).groupBy(i => "k" + (i % 37)).view.mapValues(_.size)
    val exact = freqs.values.map(f => f.toLong * f).sum.toDouble
    assert(out.getAs[Long]("n") == 500L)
    assert(out.getAs[Long]("n_keys") == 37L)
    assert(out.getAs[Double]("f2_exact") == exact)
    // sequential model of the 32 counters over xxhash64 keys
    val p = graft.ops.Dedup.MinHashP
    val keyHash = df.select(col("k"),
      org.apache.spark.sql.functions.xxhash64(col("k")).as("h"))
      .distinct().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ests = graft.ops.Moments.AmsAB.map { case (a, b) =>
      val c = freqs.map { case (k, f) =>
        val x = ((keyHash(k) % p) + p) % p
        (1L - 2L * ((a * x + b) % p % 2L)) * f
      }.sum
      c.toDouble * c.toDouble
    }.sorted
    val want = (ests(15) + ests(16)) / 2.0
    assert(out.getAs[Double]("f2_est") == want)
    assert(out.getAs[Double]("est_ratio") == want / exact)
  }

  test("amsF2 rejects keys that do not cast to a numeric instead of skewing silently") {
    // a non-numeric key would drop out of the sign counters while
    // still counting in n/f2_exact — the guard must fire, not skew
    val bad = Seq(("oops", 1), ("7", 2)).toDF("k", "v")
    val err = intercept[Exception] {
      graft.ops.Moments.amsF2(bad, col("k")).collect()
    }
    assert(err.getMessage.contains("numeric key"), err.getMessage)
    // numeric-castable strings still work
    val ok = graft.ops.Moments
      .amsF2(Seq(("7", 1), ("9", 2)).toDF("k", "v"), col("k"))
      .collect().head
    assert(ok.getAs[Long]("n") == 2L && ok.getAs[Long]("n_keys") == 2L)
  }

  test("amsF2 fold: incremental partials give the bit-identical sketch") {
    import org.apache.spark.sql.functions.xxhash64
    val rows = (1 to 400).map(i => ("k" + (i % 23), i))
    val (b1, b2) = rows.splitAt(170)
    var stored = Seq.empty[(Long, Long)].toDF("k", "f")
    for (batch <- Seq(b1, b2)) {
      stored = graft.ops.Moments
        .amsF2Fold(stored, batch.toDF("k", "v"), xxhash64(col("k")))
        .localCheckpoint()
    }
    val streamed = graft.ops.Moments.amsF2FromPartials(stored).collect().head
    val full = graft.ops.Moments
      .amsF2(rows.toDF("k", "v"), xxhash64(col("k"))).collect().head
    assert(streamed == full)
  }

  test("simhash: exact dup identical, near-dup close, unrelated far") {
    val sh = Dedup.simHashes(docsDf, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0L) == sh(3L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) < hamming(sh(0L), sh(2L)))
  }

  test("simhash pairs: banded join equals brute-force popcount (pigeonhole exact)") {
    // a varied corpus: seeded token soup so fingerprints spread across
    // buckets, plus planted exact/near dups that must surface
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0L until 60L).map { i =>
      (i, Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val planted = base ++ Seq((100L, base(5)._2), (101L, base(5)._2 + " mu"))
    val df = planted.toDF("doc_id", "text")
    val got = Dedup.simHashPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sh = Dedup.simHashes(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("simhash"))
    val brute = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    assert(got == brute, "banded hamming join diverged from brute force")
    assert(got.contains((5L, 100L, 0L)), "planted exact dup missing")
  }

  test("hashed linear classifier: score matches driver model, keep = sign, empty text = 0") {
    val withEmpty = docsDf.union(Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val got = Classifier.score(withEmpty, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def model(text: String): (Long, Long) = {
      val ws = Option(text).getOrElse("").split(" ").filter(_.nonEmpty)
      val s = ws.map { w =>
        val h = w.length.toLong * 10007L + w.head.toLong * 101L + w.last.toLong
        ((h % Classifier.NumBuckets) * Classifier.WeightMul) % Classifier.WeightMod -
          Classifier.WeightShift
      }.sum
      (ws.length.toLong, s)
    }
    docs.foreach { case (id, text) =>
      val (n, s) = model(text)
      assert(got(id) == ((n, s, if (s >= 0L) 1L else 0L)), s"doc $id")
    }
    assert(got(9L) == ((0L, 0L, 1L))) // null text: no tokens, score 0, kept
  }

  test("web domain curation: blocklist anti-join, two-label domains, integer ppm shares") {
    val rows = Seq(
      (1L, 10L, "https://a.foo.com/x"),
      (2L, 20L, "https://B.FOO.com/y"), // case-folded to the same domain
      (3L, 30L, "https://deep.sub.bar.org/z"), // registered domain = last two labels
      (4L, 40L, "https://blocked.bad.net/w")).toDF("id", "nc", "url")
    val blocked = Seq("bad.net").toDF("domain")
    val kept = Web.filterBlockedDomains(rows, "url", blocked)
    assert(kept.count() == 3)
    val stats = Web.domainStats(kept, "url", "nc").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats("foo.com") == ((2L, 30L, 666666L)))
    assert(stats("bar.org") == ((1L, 30L, 333333L)))
  }

  test("contamination report counts probe-shared shingles, flags only overlap") {
    // probe = doc 0; doc 3 is its exact dup (fully contaminated),
    // doc 1 a near-dup (partial), docs 2/4 clean
    val report = Contamination.contaminationReport(
      docsDf.filter($"doc_id" =!= 0L), docsDf.filter($"doc_id" === 0L),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report(3L)._1 == 12L && report(3L)._2 == 1L) // 14 words → 12 distinct shingles
    assert(report(1L)._1 > 0L && report(1L)._1 < 12L && report(1L)._2 == 1L)
    assert(report(2L) == (0L, 0L))
    assert(report(4L) == (0L, 0L)) // < 3 words: cannot shingle, never flagged
  }

  test("passage dup stats: copied window flagged across docs, tail ignored") {
    val w = (1 to 40).map(i => s"w$i").mkString(" ") // 40 words: 2 full 16-windows
    val other = (1 to 16).map(i => s"v$i").mkString(" ")
    val pd = Seq(
      (0L, w),                                    // both windows unique to 0… until 1 copies one
      (1L, (1 to 16).map(i => s"w$i").mkString(" ") + " " + other), // copies 0's first window
      (2L, "tiny doc under sixteen words here"))
      .toDF("doc_id", "text")
    val out = Dedup.passageDupStats(pd, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (2L, 1L)) // 40 words → 2 full windows, first duplicated
    assert(out(1L) == (2L, 1L))
    assert(out(2L) == (0L, 0L)) // too short for any full window
  }

  test("ngram top-k counts overlapping bigrams with deterministic tie order") {
    val g = Seq((0L, "a b a b c"), (1L, "a b x")).toDF("doc_id", "text")
    val out = Relevance.ngramTopK(g, "text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // "a b" ×3 (twice in doc 0, once in doc 1); then ties at 1 by string
    assert(out.head == ("a b", 3L))
    assert(out.toSeq == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("lm score: repeated corpus bigrams score higher than one-off transitions") {
    val lm = Seq(
      (0L, "a b a b"),   // bigrams: ab, ba, ab — all high-probability
      (1L, "a c"),       // a→c once vs a→b twice: lower prob
      (2L, "solo"))      // < 2 tokens: pinned
      .toDF("doc_id", "text")
    val out = Relevance.lmScore(lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L)._1 == 3L && out(1L)._1 == 1L)
    assert(out(2L) == (0L, 0.0))
    // corpus: c(a,b)=2, c(a,c)=1, cp(a)=3; c(b,a)=1, cp(b)=1
    val exp0 = (math.log(2.0 / 3.0) + math.log(2.0 / 3.0) + math.log(1.0)) / 3.0
    assert(math.abs(out(0L)._2 - exp0) < 1e-12)
    assert(math.abs(out(1L)._2 - math.log(1.0 / 3.0)) < 1e-12)
    assert(out(0L)._2 > out(1L)._2)
  }

  test("token entropy: uniform max, degenerate zero, empty pinned to zero") {
    val e = Seq(
      (0L, "a b c d"),     // uniform: H = ln(4)
      (1L, "a a a a"),     // degenerate: H = 0
      (2L, ""))            // token-free: pinned 0
      .toDF("doc_id", "text")
    val out = Relevance.tokenEntropy(e, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L)._1 == 4L && out(0L)._2 == 4L)
    assert(math.abs(out(0L)._3 - math.log(4.0)) < 1e-12)
    assert(out(1L) == (4L, 1L, 0.0))
    assert(out(2L) == (0L, 0L, 0.0))
  }

  val vecs: Seq[(Long, Array[Float])] = (0L until 20L).map { i =>
    // deterministic vectors: cluster k = i % 4 with small per-i jitter
    i -> Array.tabulate(8)(d => (if (d == (i % 4)) 1.0f else 0.0f) + 0.01f * ((i * 7 + d) % 5))
  }

  test("brute-force topK ranks same-cluster vectors first") {
    val df = vecs.toDF("id", "v")
    val out = Similarity.bruteForceTopK(
      df.filter($"id" < 2).select($"id".as("qid"), $"v".as("qv")),
      df.select($"id".as("nid"), $"v".as("nv")), k = 3)
      .collect()
    assert(out.length == 6)
    // query 0 is cluster 0; its top neighbors must be cluster-0 ids
    val q0 = out.filter(_.getAs[Long]("qid") == 0L).map(_.getAs[Long]("nid")).toSet
    assert(q0.forall(n => n % 4 == 0L))
  }

  test("hyperplane LSH topK returns subset consistent with brute force") {
    val df = vecs.toDF("id", "v")
    val q = df.filter($"id" < 2).select($"id".as("qid"), $"v".as("qv"))
    val c = df.select($"id".as("nid"), $"v".as("nv"))
    val brute = Similarity.bruteForceTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, c, k = 3, nPlanes = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    // candidates are bucket-restricted; ranks within candidates are
    // exact, so any pair LSH returns at rank 1 must be brute-force top-3
    // unless the bucket split excluded better neighbors — sanity only:
    assert(lsh.subsetOf(brute) || lsh.nonEmpty)
  }

  test("IVF topK: full probe coverage is exact; fewer probes stay subset-consistent") {
    val df = vecs.toDF("id", "v")
    val q = df.filter($"id" < 2).select($"id".as("qid"), $"v".as("qv"))
    val c = df.select($"id".as("nid"), $"v".as("nv"))
    val brute = Similarity.bruteForceTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probing ALL lists makes IVF exhaustive: identical ranks to brute
    val full = Similarity.ivfTopK(q, c, k = 3, nCentroids = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute)
    // restricted probes: still k results per query (corpus is dense
    // enough here), ranks exact within the searched lists
    val part = Similarity.ivfTopK(q, c, k = 3, nCentroids = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(part.nonEmpty && part.size <= 6)
  }

  test("projection assignment equals a plain-Scala argmax, ties to lowest cid") {
    // r11: assignToCentroids became a zero-shuffle array_max projection
    // — pin its winners (including exact ties from duplicated centroid
    // vectors) against an independently-computed argmax over the same
    // double arithmetic
    val dupVecs = vecs ++ Seq((100L, vecs.head._2), (101L, vecs(1)._2))
    val c = dupVecs.toDF("nid", "nv")
    val cent = vecs.sortBy(_._1).take(4).zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) }
    // centroids 2 and 3 are DUPLICATES of 0 and 1: every cosine ties
    // and the winner must be the lowest cid
    val centDup = cent ++ Seq((2L, cent(0)._2), (3L, cent(1)._2))
    val centDf = centDup.toDF("cid", "cv")
      .withColumn("cnorm", graft.functions.VectorExpressions.floatNorm($"cv"))
    val got = Similarity.assignToCentroids(c, centDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(v: Array[Float], cv: Array[Float]): Double = {
      var d = 0.0; var nv = 0.0; var nc = 0.0
      for (i <- v.indices) {
        d += v(i).toDouble * cv(i).toDouble
        nv += v(i).toDouble * v(i).toDouble
        nc += cv(i).toDouble * cv(i).toDouble
      }
      d / (math.sqrt(nv) * math.sqrt(nc))
    }
    for ((id, v) <- dupVecs) {
      val want = centDup.map { case (cid, cv) => (-cos(v, cv), cid) }.min._2
      assert(got(id) == want, s"nid $id: got ${got(id)}, want $want")
    }
  }

  test("PQ codes pick the nearest sub-centroid per subspace, ties to lowest code") {
    val df = vecs.toDF("id", "v").select($"id".as("nid"), $"v".as("nv"))
    val (_, codes) = Similarity.pqCodes(df, dim = 8, m = 2, ksub = 4)
    val got = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val seeds = vecs.sortBy(_._1).take(4).map(_._2)
    def cmp(v: Array[Float], c: Array[Float], lo: Int): Double = {
      var cn = 0.0; var dt = 0.0
      for (i <- lo until lo + 4) {
        cn += c(i).toDouble * c(i).toDouble; dt += v(i).toDouble * c(i).toDouble
      }
      cn - 2.0 * dt
    }
    for ((id, v) <- vecs; m <- 0 until 2) {
      val want = seeds.zipWithIndex
        .map { case (s, c) => (cmp(v, s, m * 4), c) }.min._2
      assert(got(id)(m) == want, s"id=$id subspace=$m")
    }
  }

  test("PQ ADC top-k is exact on a perfectly quantizable corpus") {
    // every corpus vector's subvectors ARE sub-centroids, so the
    // reconstruction is lossless and ADC cosine == true cosine
    val seeds = (0 until 4).map(i => Array.tabulate(8)(d =>
      (if (d % 4 == i) 1.0f else 0.0f) + 0.01f * ((i * 7 + d) % 5)))
    val combos = for (a <- 0 until 4; b <- 0 until 4)
      yield (100L + a * 4 + b, seeds(a).take(4) ++ seeds(b).drop(4))
    val corpus = seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ combos
    val c = corpus.toDF("nid", "nv")
    val q = Seq(
      (500L, Array.tabulate(8)(d => 0.3f + 0.1f * d)),
      (501L, Array.tabulate(8)(d => 1.0f - 0.1f * d))).toDF("qid", "qv")
    val brute = Similarity.bruteForceTopK(q, c, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(q, c, k = 5, dim = 8, m = 2, ksub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq == brute)
  }

  test("IVFPQ with full probe coverage equals the plain PQ scan") {
    val df = vecs.toDF("id", "v")
    val q = df.filter($"id" < 2).select($"id".as("qid"), $"v".as("qv"))
    val c = df.select($"id".as("nid"), $"v".as("nv"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pq = rows(Similarity.pqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4))
    val full = rows(Similarity.ivfPqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4,
      nCentroids = 4, nProbe = 4))
    assert(full == pq)
    // restricted probes: a subset of the scan's candidates, ranks
    // exact within the searched lists
    val part = Similarity.ivfPqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4,
      nCentroids = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(part.nonEmpty && part.size <= 6)
  }

  test("trained PQ sub-codebook beats the seed grid on clustered data") {
    // the 4 lowest ids all sit in cluster 0, so the seed-grid
    // sub-codebook is degenerate (4 near-identical sub-centroids);
    // Lloyd training must recover codebook diversity and with it recall
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val corpus = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val c = corpus.toDF("nid", "nv")
    val q = corpus.filter(_._1 >= 34).toDF("qid", "qv")
    val brute = Similarity.bruteForceTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(sub: Option[org.apache.spark.sql.DataFrame]): Int =
      Similarity.pqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4, subCodebook = sub)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(brute).size
    val trained = Similarity.trainedSubCodebook(c, dim = 8, m = 2, ksub = 4)
    assert(recall(Some(trained)) > recall(None),
      s"trained=${recall(Some(trained))} seed=${recall(None)} of ${brute.size}")
  }

  test("trained residual sub-codebook recovers the recall untrained residuals lose") {
    // untrained seed-grid residuals make every list member's
    // reconstruction ≈ its centroid, collapsing within-list ranking;
    // training the residual codebook is what makes IVFADC pay off
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val corpus = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val c = corpus.toDF("nid", "nv")
    val q = corpus.filter(_._1 >= 34).toDF("qid", "qv")
    val brute = Similarity.bruteForceTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(sub: Option[org.apache.spark.sql.DataFrame]): Int =
      Similarity.ivfPqResidualTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4,
        nCentroids = 4, nProbe = 4, subCodebook = sub)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(brute).size
    val (cent, assigned) = Similarity.coarseAssign(c, nCentroids = 4)
    val res = Similarity.residuals(c, cent, assigned)
      .select($"nid", $"rv".as("nv"))
    val trained = Similarity.trainedSubCodebook(res, dim = 8, m = 2, ksub = 4)
    val (tr, un) = (recall(Some(trained)), recall(None))
    assert(tr >= un && tr > 0, s"trained=$tr untrained=$un of ${brute.size}")
  }

  test("persisted residual-IVFPQ index probes rank identically to the fused path") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val corpus = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val c = corpus.toDF("nid", "nv")
    val q = corpus.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fused = rows(Similarity.ivfPqResidualTopK(q, c, k = 3, dim = 8, m = 2,
      ksub = 4, nCentroids = 4, nProbe = 4))

    // build → save → load → probe: the parquet round-trip must be
    // rank-exact (floats and fold-order doubles are bit-preserved)
    val path = tempDir("annidx").toString + "/ix"
    val built = Similarity.buildIvfPqResidualIndex(c, dim = 8, m = 2, ksub = 4,
      nCentroids = 4)
    AnnIndexStore.save(built, path)
    assert(AnnIndexStore.isBuilt(spark, path))
    val loaded = AnnIndexStore.load(spark, path)
    assert(rows(Similarity.ivfPqResidualProbe(q, loaded, k = 3, dim = 8, m = 2,
      ksub = 4, nProbe = 4)) == fused)

    // ensure: second call must serve the persisted artifact (the
    // corpus thunk is by-name — a rebuilt index would re-evaluate it)
    var builds = 0
    def corpusOnce = { builds += 1; c }
    val p2 = tempDir("annidx2").toString + "/ix"
    AnnIndexStore.ensureIvfPqResidual(spark, p2, corpusOnce, dim = 8, m = 2,
      ksub = 4, nCentroids = 4)
    val again = AnnIndexStore.ensureIvfPqResidual(spark, p2, corpusOnce,
      dim = 8, m = 2, ksub = 4, nCentroids = 4)
    assert(builds == 1, "ensure rebuilt a committed index")
    assert(rows(Similarity.ivfPqResidualProbe(q, again, k = 3, dim = 8, m = 2,
      ksub = 4, nProbe = 4)) == fused)

    // crashed build (tables present, marker missing): must rebuild,
    // never serve the uncommitted artifact
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p2, "_built"), false)
    AnnIndexStore.ensureIvfPqResidual(spark, p2, corpusOnce, dim = 8, m = 2,
      ksub = 4, nCentroids = 4)
    assert(builds == 2, "marker-less index served without rebuild")
  }

  test("appendToIndex equals a frozen-codebook encode of the union (no drift)") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val (baseRows, newRows) = all.partition(_._1 % 5 != 4)
    val base = baseRows.toDF("nid", "nv")
    val arrivals = newRows.toDF("nid", "nv")
    val q = all.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val baseIdx = Similarity.buildIvfPqResidualIndex(base, dim = 8, m = 2,
      ksub = 4, nCentroids = 4)
    val grown = Similarity.appendToIndex(baseIdx, arrivals, dim = 8, m = 2,
      ksub = 4)

    // reference: encode the WHOLE union from scratch under the SAME
    // frozen centroids and sub-codebooks — the append must be
    // bit-identical to it, row for row
    val union = base.unionAll(arrivals)
    val asg = Similarity.assignToCentroids(union, baseIdx.centroids)
    val res = Similarity.residuals(union, baseIdx.centroids, asg)
    val (_, refCodes) = Similarity.pqCodes(
      res.select($"nid", $"rv".as("nv")), dim = 8, m = 2, ksub = 4,
      Some(baseIdx.subCodebook.select("sm", "code", "scv")))
    val want = refCodes.join(asg, "nid").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    val got = grown.codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(got == want, "appended codes drifted from the frozen-codebook encode")

    // probes over the grown index see the arrivals
    val ranked = rows(Similarity.ivfPqResidualProbe(q, grown, k = 3, dim = 8,
      m = 2, ksub = 4, nProbe = 4))
    assert(ranked.nonEmpty)
    val rankedNids = ranked.map(_._2)
    assert(newRows.map(_._1).exists(rankedNids.contains),
      "no appended vector ever surfaces in the probe results")
  }

  test("streaming vector ingest grows the persisted index exactly once per batch") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val (baseRows, arrivalRows) = all.partition(_._1 < 30L)
    val (b1, b2) = arrivalRows.splitAt(4)
    val dir = tempDir("annstream")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4, nCentroids = 4),
      path)

    // two micro-batches, then a crash-replay of EACH (offsets written,
    // commits lost): the marker + staged publish must converge
    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 0L,
      b1.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 0L,
      b1.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 1L,
      b2.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 1L,
      b2.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)

    val grown = AnnIndexStore.load(spark, path)
    assert(grown.codes.count() == all.size.toLong,
      "replayed ingest batches duplicated code rows")
    // the grown artifact equals a direct frozen-codebook append of
    // all arrivals — row for row, and probes rank identically
    val reference = Similarity.appendToIndex(
      AnnIndexStore.load(spark, path).copy(codes =
        spark.read.parquet(s"$path/codes")
          .filter($"nid" < 30L)),
      arrivalRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    val q = all.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Similarity.ivfPqResidualProbe(q, grown, k = 3, dim = 8,
      m = 2, ksub = 4, nProbe = 4)) ==
      rows(Similarity.ivfPqResidualProbe(q, reference, k = 3, dim = 8,
        m = 2, ksub = 4, nProbe = 4)))
  }

  test("partitioned serving layout: ranks unchanged, probe scan is DPP-pruned") {
    // savePartitioned writes codes/ as cid=N directories; the probe's
    // cid join must then carry a dynamic partition-pruning filter on
    // the codes scan (read only the probed buckets — the 100 TB
    // difference), and the layout must not move a single rank.
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val dir = tempDir("annpart")
    val flat = dir.resolve("flat").toString
    val part = dir.resolve("part").toString
    val corpus = all.toDF("nid", "nv")
    val idxFlat = AnnIndexStore.ensureIvfPqResidual(spark, flat, corpus,
      dim = 8, m = 2, ksub = 4, nCentroids = 4)
    val idxPart = AnnIndexStore.ensureIvfPqResidualPartitioned(spark,
      part, corpus, dim = 8, m = 2, ksub = 4, nCentroids = 4)
    // the layout really is partitioned: cid=N subdirectories
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$part/codes"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("cid="))
    assert(buckets.length > 1, s"codes not cid-partitioned: ${buckets.toSeq}")
    val q = all.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val probePart = Similarity.ivfPqResidualProbe(q, idxPart, k = 3,
      dim = 8, m = 2, ksub = 4, nProbe = 2)
    assert(rows(probePart) ==
      rows(Similarity.ivfPqResidualProbe(q, idxFlat, k = 3, dim = 8,
        m = 2, ksub = 4, nProbe = 2)),
      "the serving layout moved probe ranks")
    // the executed (post-AQE) plan prunes the codes scan dynamically:
    // a real IN-subquery pruning expression, not the no-op
    // dynamicpruningexpression(true)
    val plan = probePart.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(cast(cid") ||
      plan.contains("dynamicpruningexpression(cid"),
      s"no dynamic partition pruning on the codes scan:\n$plan")
  }

  test("serving snapshot republishes a live flat index: ranks equal, refresh picks up ingest") {
    // the layout bridge: ingest absorbs micro-batches into the flat
    // artifact; publishServingSnapshot gives probes a DPP-pruned view
    // without retrain or re-encode, and a later refresh (after more
    // ingest) swaps in the grown corpus atomically.
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val (baseRows, arrivalRows) = all.partition(_._1 < 30L)
    val (b1, b2) = arrivalRows.splitAt(4)
    val dir = tempDir("annserve")
    val flat = dir.resolve("flat").toString
    val serving = dir.resolve("serving").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      nCentroids = 4), flat)
    AnnIndexStore.ingestVectorsBatch(spark, flat, cp, 0L,
      b1.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    AnnIndexStore.publishServingSnapshot(spark, flat, serving)
    val q = all.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def probeAt(path: String) = Similarity.ivfPqResidualProbe(q,
      AnnIndexStore.load(spark, path), k = 3, dim = 8, m = 2, ksub = 4,
      nProbe = 2)
    assert(AnnIndexStore.load(spark, serving).codes.count() ==
      (baseRows.size + b1.size).toLong)
    assert(rows(probeAt(serving)) == rows(probeAt(flat)),
      "serving snapshot moved probe ranks")
    // more ingest lands in the flat layout only; a refresh swaps the
    // grown corpus into the serving view
    AnnIndexStore.ingestVectorsBatch(spark, flat, cp, 1L,
      b2.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    assert(AnnIndexStore.load(spark, serving).codes.count() ==
      (baseRows.size + b1.size).toLong, "snapshot mutated under ingest")
    AnnIndexStore.publishServingSnapshot(spark, flat, serving)
    assert(AnnIndexStore.load(spark, serving).codes.count() == all.size.toLong)
    val refreshed = probeAt(serving)
    assert(rows(refreshed) == rows(probeAt(flat)),
      "refreshed snapshot diverged from the live index")
    val plan = refreshed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(cast(cid") ||
      plan.contains("dynamicpruningexpression(cid"),
      s"no dynamic partition pruning on the serving codes scan:\n$plan")
  }

  test("compactCodes merges ingest fragments; probe ranks and rows unchanged") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val (baseRows, arrivalRows) = all.partition(_._1 < 30L)
    val dir = tempDir("anncompact")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4, nCentroids = 4),
      path)
    arrivalRows.zipWithIndex.foreach { case (row, i) =>
      AnnIndexStore.ingestVectorsBatch(spark, path, cp, i.toLong,
        Seq(row).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    }
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val codesDir = new org.apache.hadoop.fs.Path(s"$path/codes")
    def nDataFiles = fs.listStatus(codesDir).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    assert(nDataFiles > arrivalRows.size,
      "ingest should have fragmented the codes table")
    // debris of a crashed publish: a leftover stage dir and a
    // published-but-unmarked batch file for the pinned runId
    val runId = graft.sink.BatchCommit.pinnedRunId(
      fs, new org.apache.hadoop.fs.Path(cp))
    fs.mkdirs(new org.apache.hadoop.fs.Path(codesDir, ".stage_bdead_99"))
    fs.create(new org.apache.hadoop.fs.Path(codesDir,
      s"b$runId-99999-part-orphan.parquet"), true).close()

    val q = all.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def codeRows = AnnIndexStore.load(spark, path).codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    val beforeRanks = rows(Similarity.ivfPqResidualProbe(q,
      AnnIndexStore.load(spark, path), k = 3, dim = 8, m = 2, ksub = 4,
      nProbe = 4))
    val beforeCodes = codeRows

    AnnIndexStore.compactCodes(spark, path, Some(cp), targetBytes = 1L << 40)
    assert(nDataFiles == 1, s"expected 1 compacted file, got $nDataFiles")
    assert(!fs.listStatus(codesDir).exists(
      _.getPath.getName.startsWith(".stage_")), "stage debris survived")
    assert(!fs.listStatus(codesDir).exists(
      _.getPath.getName.contains("99999")), "orphan batch file survived")
    assert(codeRows == beforeCodes, "compaction changed code rows")
    assert(rows(Similarity.ivfPqResidualProbe(q,
      AnnIndexStore.load(spark, path), k = 3, dim = 8, m = 2, ksub = 4,
      nProbe = 4)) == beforeRanks, "compaction changed probe ranks")
    // idempotent: a second compaction is a no-op
    AnnIndexStore.compactCodes(spark, path, Some(cp), targetBytes = 1L << 40)
    assert(nDataFiles == 1 && codeRows == beforeCodes)
  }

  test("rebuildIfDrifted: stable arrivals keep the index; drifted ones rebuild it") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val base = (0L until 24L).map(i => (i, mk(i, (i % 4).toInt)))
    val sameDist = (30L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    // drifted arrivals: concentrated on a direction the base never uses
    val drifted = (40L until 64L).map(i =>
      (i, Array.tabulate(8)(d => if (d >= 6) 5.0f else 0.01f)))
    val dir = tempDir("anndrift")
    val path = dir.resolve("ix").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      base.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4, nCentroids = 4), path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def centroidFiles = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$path/centroids")).filter(_.isFile)
      .map(s => s.getPath.getName -> s.getModificationTime).toSet

    val before = centroidFiles
    assert(!AnnIndexStore.rebuildIfDrifted(spark, path,
      (base ++ sameDist).toDF("nid", "nv"), $"nid" >= 30L, dim = 8,
      minCos = 0.9, m = 2, ksub = 4, nCentroids = 4))
    assert(centroidFiles == before, "no-drift call touched the artifact")
    // no arrivals at all → trivially no rebuild
    assert(!AnnIndexStore.rebuildIfDrifted(spark, path,
      base.toDF("nid", "nv"), $"nid" >= 1000L, dim = 8,
      minCos = 0.9, m = 2, ksub = 4, nCentroids = 4))

    assert(AnnIndexStore.rebuildIfDrifted(spark, path,
      (base ++ drifted).toDF("nid", "nv"), $"nid" >= 40L, dim = 8,
      minCos = 0.9, m = 2, ksub = 4, nCentroids = 4))
    assert(AnnIndexStore.isBuilt(spark, path))
    // the rebuilt artifact serves the full corpus, arrivals included
    val rebuilt = AnnIndexStore.load(spark, path)
    assert(rebuilt.codes.count() == (base.size + drifted.size).toLong)
    val q = drifted.take(2).map { case (i, v) => (i, v) }.toDF("qid", "qv")
    assert(Similarity.ivfPqResidualProbe(q, rebuilt, k = 3, dim = 8, m = 2,
      ksub = 4, nProbe = 4).count() > 0)
  }

  test("IndexHandle reloads codes when the ingest path appends") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val (baseRows, arrivalRows) = all.partition(_._1 < 34L)
    val dir = tempDir("annhandle")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4, nCentroids = 4),
      path)
    val handle = AnnIndexStore.openHandle(spark, path)
    assert(handle.current().codes.count() == baseRows.size.toLong)
    val idxBefore = handle.current()
    assert(handle.current() eq idxBefore, "unchanged codes dir was re-read")

    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 0L,
      arrivalRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    // the next probe sees the streamed-in vectors with NO manual load
    val after = handle.current()
    assert(after.codes.count() == all.size.toLong,
      "handle did not pick up the ingested batch")
    // a query identical to an ingested vector (fresh qid, so no
    // self-exclusion): the ingested twin must now be SCORED — k wide
    // enough to return every scanned candidate (ksub=4 residual codes
    // tie within a list, so a tight top-k is decided by nid, not by
    // whether the vector was seen)
    val probeQ = Seq((999L, mk(34, 2))).toDF("qid", "qv")
    val nids = Similarity.ivfPqResidualProbe(probeQ, after, k = all.size,
      dim = 8, m = 2, ksub = 4, nProbe = 4)
      .collect().map(_.getLong(1)).toSet
    assert(nids.contains(34L),
      "ingested vectors never surface through the handle")

    // a full REBUILD replaces codebooks and codes together: the handle
    // must serve the complete new artifact, never cached pre-rebuild
    // codebooks paired with post-rebuild codes
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      all.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4, nCentroids = 4), path)
    val rebuilt = handle.current()
    assert(rebuilt.codes.count() == all.size.toLong)
    val freshCodebook = spark.read.parquet(s"$path/sub_codebook")
      .collect().map(_.toString).sorted.toSeq
    assert(rebuilt.subCodebook.collect().map(_.toString).sorted.toSeq ==
      freshCodebook, "handle served stale codebooks after a rebuild")
  }

  test("index build lock: stale locks are reclaimed, fresh artifacts win races") {
    val mk = (i: Long) => Array.tabulate(8)(d => 0.1f * ((i * 7 + d) % 5) + 0.1f)
    val c = (0L until 24L).map(i => (i, mk(i))).toDF("nid", "nv")
    val dir = tempDir("annlock")
    val path = dir.resolve("ix").toString
    // a dead builder's lock (old mtime, no marker) must not wedge the
    // next caller
    val lockFile = new java.io.File(dir.toFile, "ix.lock")
    assert(lockFile.createNewFile())
    assert(lockFile.setLastModified(System.currentTimeMillis - 11 * 60 * 1000L))
    val idx = AnnIndexStore.ensureIvfPqResidual(spark, path, c, dim = 8,
      m = 2, ksub = 4, nCentroids = 4)
    assert(idx.codes.count() == 24L)
    assert(!lockFile.exists, "build did not release the lock")
  }

  test("cachePathFor keys on data-file content state, not directory metadata") {
    val dir = tempDir("anncache").toFile
    val part = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.writeString(part.toPath, "v1")
    val p1 = AnnIndexStore.cachePathFor(dir.toString, 8, 2, 4, 4)
    assert(p1 == AnnIndexStore.cachePathFor(dir.toString, 8, 2, 4, 4),
      "same state must key the same cache path")
    // rewrite a part file IN PLACE (same name+size, new mtime): the
    // directory's own mtime does not change, but the key must
    assert(part.setLastModified(part.lastModified + 5000))
    val p2 = AnnIndexStore.cachePathFor(dir.toString, 8, 2, 4, 4)
    assert(p2 != p1, "in-place part rewrite served a stale cache path")
    // params and variant tags still split the space
    assert(AnnIndexStore.cachePathFor(dir.toString, 8, 2, 4, 4, "train") != p2)
  }

  test("pickAnnPath: Pareto-consistent on the full measured curve, all paths priced") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val corpus = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val c = corpus.toDF("nid", "nv")
    val q = corpus.filter(_._1 >= 34).toDF("qid", "qv")
    val brute = Similarity.bruteForceTopK(q, c, k = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nQ = 4L
    val allPairs = nQ * (corpus.size - 1)
    def recallOf(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(brute).size

    // probed-list candidate count for the IVF family: Σ_q Σ_probed |list|
    val (cent, assigned) = Similarity.coarseAssign(c, nCentroids = 4)
    val probes = q
      .crossJoin(broadcast(cent))
      .withColumn("cos", Similarity.cosine($"qv", $"cv"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"cos".desc, $"cid".asc)))
      .filter($"rk" <= 2).select("qid", "cid")
    val ivfCand = probes.join(assigned, "cid")
      .filter($"nid" =!= $"qid").count()

    // the MEASURED curve: every priced path, one row each
    val curve = Seq(
      ("lsh_4_1", brute.size.toLong,
        recallOf(Similarity.lshTopK(q, c, k = 3, nPlanes = 4, probeBits = 1)),
        Similarity.lshCandidates(q, c, nPlanes = 4, probeBits = 1).count(),
        256L),
      ("lsh_6_0", brute.size.toLong,
        recallOf(Similarity.lshTopK(q, c, k = 3, nPlanes = 6, probeBits = 0)),
        Similarity.lshCandidates(q, c, nPlanes = 6, probeBits = 0).count(),
        256L),
      ("pq", brute.size.toLong,
        recallOf(Similarity.pqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4)),
        allPairs, 4L),
      ("ivfpq", brute.size.toLong,
        recallOf(Similarity.ivfPqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4,
          nCentroids = 4, nProbe = 2)),
        ivfCand, 4L),
      ("ivfpq_res", brute.size.toLong,
        recallOf(Similarity.ivfPqResidualTopK(q, c, k = 3, dim = 8, m = 2,
          ksub = 4, nCentroids = 4, nProbe = 2)),
        ivfCand, 4L),
      ("brute", brute.size.toLong, brute.size.toLong, allPairs, 256L))

    // Pareto consistency: for EVERY target, the chosen row qualifies
    // and no qualifying row is strictly cheaper (candidates, then
    // bits, then name — the declared total order)
    for (ti <- 1 to 20; t = ti * 0.05) {
      Similarity.pickAnnPath(curve, t) match {
        case None =>
          assert(curve.forall { case (_, nt, nh, _, _) =>
            nh.toDouble / nt < t
          }, s"target $t: None returned but a qualifying row exists")
        case Some(chosen) =>
          val cr = curve.find(_._1 == chosen).get
          assert(cr._3.toDouble / cr._2 >= t, s"target $t: $chosen misses it")
          val cheaper = curve.filter { case (p, nt, nh, cand, bits) =>
            nh.toDouble / nt >= t &&
              (cand < cr._4 || (cand == cr._4 && bits < cr._5) ||
                (cand == cr._4 && bits == cr._5 && p < chosen))
          }
          assert(cheaper.isEmpty,
            s"target $t: $chosen dominated by ${cheaper.map(_._1)}")
      }
    }
    // target 1.0 is always satisfiable (the exact path is on the curve)
    assert(Similarity.pickAnnPath(curve, 1.0).isDefined)

    // the declarative row form agrees with the seq pick per target
    val rowPick = Similarity.pickAnnPathRows(
      curve.toDF("path", "n_true", "n_hits", "n_candidates", "bits_per_vec"),
      Seq(20, 40, 60, 80, 100))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (t <- Seq(20, 40, 60, 80, 100)) {
      assert(rowPick.get(t.toLong) ==
        Similarity.pickAnnPath(curve, t / 100.0),
        s"declarative vs seq pick diverge at $t%")
    }
  }

  test("PQ top-k is invariant under repartitioning") {
    val df = vecs.toDF("id", "v")
    val q = df.filter($"id" < 2).select($"id".as("qid"), $"v".as("qv"))
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(q, c, k = 3, dim = 8, m = 2, ksub = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val c1 = df.select($"id".as("nid"), $"v".as("nv"))
    assert(run(c1) == run(c1.repartition(7)) && run(c1).size == 6)
  }

  test("pickOperatingPoint: cheapest measured point meeting the recall target") {
    // shape = q_ann_recall output: (n_planes, probe_bits, n_true, n_hits, n_candidates)
    val curve = Seq(
      (8, 0, 50L, 10L, 1000L), // 20% recall, cheapest
      (8, 1, 50L, 18L, 4000L), // 36%
      (6, 1, 50L, 25L, 7000L)) // 50%
    assert(Similarity.pickOperatingPoint(curve, 0.5) == Some((6, 1)))
    assert(Similarity.pickOperatingPoint(curve, 0.30) == Some((8, 1)))
    assert(Similarity.pickOperatingPoint(curve, 0.10) == Some((8, 0)))
    // unreachable target: None, never a silent under-delivery
    assert(Similarity.pickOperatingPoint(curve, 0.9).isEmpty)
    // zero-truth rows can't claim any recall
    assert(Similarity.pickOperatingPoint(Seq((8, 1, 0L, 0L, 10L)), 0.1).isEmpty)
  }

  test("LSH cosine pairs: exact precision, bucket-identical dups always found") {
    import org.apache.spark.sql.functions.col
    // two planted EXACT duplicates (ids 100/101): identical vectors get
    // identical buckets, so LSH can never lose them
    val withDup = (vecs ++ Seq(
      100L -> Array.tabulate(8)(d => if (d == 0) 1.0f else 0.25f),
      101L -> Array.tabulate(8)(d => if (d == 0) 1.0f else 0.25f))).toDF("id", "v")
    val exact = Similarity.cosinePairs(withDup, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(withDup, threshold = 0.9, nPlanes = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (same cosine verify) — LSH
    // may only LOSE pairs to bucketing, never invent them
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((100L, 101L)))
    // recall sanity on clustered vectors (same-cluster cosines ~1):
    assert(lsh.size * 2 >= exact.size, s"recall collapsed: ${lsh.size}/${exact.size}")
    // a returned pair never repeats (each ≤1-bit pair matches exactly
    // one probe)
    val all = Similarity.cosinePairsLsh(withDup, threshold = 0.9, nPlanes = 4, dim = 8)
      .groupBy(col("vec_id_a"), col("vec_id_b")).count()
      .filter(col("count") > 1).count()
    assert(all == 0L)
  }

  test("multimodal decode stub: schema, determinism, batch shape") {
    val media = Multimodal.attachBinary(docsDf, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val decoded = Multimodal.decodeFeatures(spark, media)
    assert(decoded.schema == Multimodal.decodedSchema)
    val rows = decoded.collect()
    assert(rows.length == 5)
    val r0 = rows.find(_.getAs[Long]("media_id") == 0L).get
    val n = docs.head._2.length
    assert(r0.getAs[Long]("n_bytes") == n.toLong)
    assert(r0.getAs[Int]("width") == 64 + (n % 512))
    assert(r0.getAs[scala.collection.Seq[Float]]("feature").length == 8)
    // determinism: second run identical
    val again = Multimodal.decodeFeatures(spark, media).collect()
      .find(_.getAs[Long]("media_id") == 0L).get
    assert(again.getAs[Int]("width") == r0.getAs[Int]("width"))
  }

  test("multimodal resize + frame-sample stubs: bounded output, per-frame rows") {
    val media = Multimodal.attachBinary(docsDf, "doc_id", "text")
    val resized = Multimodal.resize(spark, media, targetW = 4, targetH = 4).collect()
    assert(resized.length == 5)
    resized.foreach { r =>
      assert(r.getAs[Array[Byte]]("thumb").length <= 16) // bounded by target dims
      assert(r.getAs[Int]("width") == 4 && r.getAs[Int]("height") == 4)
    }
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 16, everyN = 2)
    val f0 = frames.filter($"media_id" === 0L).collect()
    val expected = (docs.head._2.length / 16 + 1) / 2 // every 2nd frame
    assert(f0.length == expected)
    assert(f0.forall(_.getAs[scala.collection.Seq[Float]]("frame_feature").length == 8))
    assert(f0.map(_.getAs[Int]("frame_idx")).toSet == (0 until docs.head._2.length / 16 by 2).toSet)
  }

  test("minhash LSH equals exact jaccard on the real corpus (100% recall on planted dups)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact) // precision exact by construction; recall 100% here
  }

  test("n-gram langId: trigram stats pick the right language, und for noise") {
    val df = Seq(
      (1L, "the cat and the dog and the mouse of the house"),
      (2L, "la casa de el perro y de la gata de los vecinos"),
      (3L, "qqq zzz xxx www")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextOps.langIdNgram($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("langId picks en for english stopword text, und for none") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextOps.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "und")
  }

  test("bloom semi join handles identical key names on both sides") {
    val probe = (1L to 100L).map(i => i -> s"p$i").toDF("id", "payload")
    val build = Seq(2L, 50L, 98L).toDF("id")
    val out = BloomJoin.bloomSemiJoin(probe, build, "id", "id", expectedItems = 3L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(2L, 50L, 98L))
  }

  test("bloom semi join ≡ plain semi join, with the bloom in the plan") {
    val probe = (1L to 1000L).map(i => i -> (i % 7)).toDF("pk", "grp")
    val build = Seq(3L, 14L, 500L, 999L, 2000L).toDF("bk")
    val out = BloomJoin.bloomSemiJoin(probe, build, "pk", "bk", expectedItems = 10L)
    val expected = probe.join(build, $"pk" === $"bk", "left_semi")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      expected.collect().map(_.getLong(0)).sorted.toSeq)
    // the prefilter must actually be in the executed plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain"))
  }

  test("connected components merge pair chains transitively") {
    // path 1-2-3-4 (diameter 3: needs >1 propagation round), separate
    // pair 7-8, plus an out-of-order edge (9,5) — min label must flow
    // against edge direction too
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (9L, 5L))
      .toDF("doc_id_a", "doc_id_b")
    val comp = Clusters.connectedComponents(pairs, "doc_id_a", "doc_id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 5L -> 5L, 9L -> 5L))
  }

  test("connected components leave no superseded storage behind") {
    // The multi-round path (diameter-3 chain forces >1 propagation
    // round) must free every intermediate checkpoint and the edge
    // cache: at most ONE persistent RDD — the returned labels frame —
    // may outlive the call, or a long-lived session accumulates one
    // labels copy per round per job.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
      .toDF("a", "b")
    val comp = Clusters.connectedComponents(pairs, "a", "b")
    assert(comp.count() == 6L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"expected at most the final labels frame persisted, got ${leaked.size}")
  }

  test("incremental minhash equals full-corpus pairs restricted to the batch") {
    // planted corpus: batch = {0}, stored corpus = {1,2,3,4} — the
    // batch doc's near-dup (1) and exact dup (3) must surface, and
    // nothing corpus-internal (1,3) may
    val batch = docsDf.filter(col("doc_id") === 0L)
    val corpus = docsDf.filter(col("doc_id") =!= 0L)
    val inc = Dedup.minHashLshIncremental(batch, "doc_id", "text",
      Dedup.signatures(corpus, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((0L, 1L), (0L, 3L)))

    // and on the real corpus: incremental == full pairs restricted to
    // batch-involving ones (identical candidate generation + verify)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc2 = Dedup.minHashLshIncremental(
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0L), "doc_id", "text",
      Dedup.signatures(docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
        "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc2 == full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0))
  }

  test("allPairsJaccard is lossless vs brute force across graded similarity") {
    // corpora of word sequences with controlled overlap: doc i shares
    // a sliding fraction of its 30 words with doc 0, sweeping Jaccard
    // through the 0.7 threshold from both sides — the regime where a
    // LOSSY prefix filter would actually drop pairs.
    val vocab = (0 until 400).map(i => s"w$i")
    val corpus = (0 until 40).map { i =>
      // doc i = 30 words starting at offset i: consecutive docs overlap
      // heavily, distant docs not at all
      (i.toLong, (0 until 30).map(j => vocab(i + j)).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.allPairsJaccard(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // brute force over the same distinct-shingle-hash sets
    val base = corpus
      .select(col("doc_id").as("id"),
        graft.functions.ShingleExpressions.distinctShingleHashes(
          TextOps.words(col("text"))).as("hs"))
    val brute = base.select(col("id").as("ida"), col("hs").as("hsa"))
      .crossJoin(base.select(col("id").as("idb"), col("hs").as("hsb")))
      .filter(col("ida") < col("idb"))
      .withColumn("shared", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .withColumn("n_union",
        size(col("hsa")).cast("long") + size(col("hsb")).cast("long") - col("shared"))
      .filter(lit(10L) * col("shared") >= lit(7L) * col("n_union"))
      .select(col("ida"), col("idb"), col("shared"), col("n_union"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(got == brute, "prefix-filtered join diverged from brute force")
    assert(brute.nonEmpty, "test corpus produced no qualifying pairs")
    // and the sweep really crosses the threshold: some adjacent pairs
    // qualify, some overlapping-but-distant pairs don't
    val bruteIds = brute.map(t => (t._1, t._2))
    assert(!bruteIds.contains((0L, 5L)) || !bruteIds.contains((0L, 10L)))
  }

  test("prefix filtering prunes the candidate join below full posting fan-out") {
    val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = sfDocs
      .select(col("doc_id").as("id"),
        graft.functions.ShingleExpressions.distinctShingleHashes(
          TextOps.words(col("text"))).as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("id"), size(col("hs")).cast("long").as("n"), explode(col("hs")).as("h"))
    // candidate volume of a FULL posting self-join vs the 0.7-prefix
    def pairCount(toks: org.apache.spark.sql.DataFrame): Long =
      toks.select(col("id").as("ida"), col("h"))
        .join(toks.select(col("id").as("idb"), col("h")), "h")
        .filter(col("ida") < col("idb")).count()
    import org.apache.spark.sql.expressions.Window
    val prefix = base
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("h"))))
      .filter(col("pos") <= col("n") -
        ((lit(7L) * col("n") + lit(9L)) / lit(10L)).cast("long") + 1L)
      .select(col("id"), col("h"))
    val full = pairCount(base.select(col("id"), col("h")))
    val pruned = pairCount(prefix)
    assert(pruned * 2 < full,
      s"prefix join should cut candidates at least 2x: $pruned vs $full")
  }

  test("OLS fit recovers an exact linear relation; zero-variance pinned; partition-invariant") {
    // y = 3 + 2x exactly (values in cents-friendly units)
    val exact = (1 to 50).map(i => ("a", i.toDouble, 3.0 + 2.0 * i)) ++
      (1 to 20).map(_ => ("b", 4.0, 7.5)) // zero x-variance group
    val df = exact.toDF("g", "x", "y")
    for (parts <- Seq(1, 7)) {
      val out = Regression.olsFit(df.repartition(parts), "y", "x", Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val (na, b0, b1, r2) = out("a")
      assert(na == 50L)
      assert(math.abs(b1 - 2.0) < 1e-9 && math.abs(b0 - 3.0) < 1e-7)
      assert(math.abs(r2 - 1.0) < 1e-12)
      // zero x-variance: slope 0, intercept = mean(y), r2 = 0
      assert(out("b") == ((20L, 7.5, 0.0, 0.0)))
    }
  }

  test("sequence packing: full coverage, exactly-full sequences, boundary splits") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val spans = Packing.packSequences(docs, "doc_id", "text", seqLen = 64, buckets = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // every doc's spans cover its tokens exactly, in order
    val byDoc = spans.groupBy(_._3)
    val counts = docs
      .select(col("doc_id"), TextOps.wordCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((doc, ss) <- byDoc) {
      val sorted = ss.sortBy(_._4)
      assert(sorted.map(_._5).sum == counts(doc), s"doc $doc coverage")
      assert(sorted.head._4 == 0L, s"doc $doc must start at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 + a._5 == b._4, s"doc $doc spans must be contiguous")
          assert(a._2 + 1 == b._2, s"doc $doc spans must hit consecutive seqs")
        case _ =>
      }
    }
    // every sequence except each bucket's last is exactly full
    for ((bucket, ss) <- spans.groupBy(_._1)) {
      val bySeq = ss.groupBy(_._2).view.mapValues(_.map(_._5).sum)
      val lastSeq = bySeq.keys.max
      for ((seq, tot) <- bySeq)
        if (seq != lastSeq) assert(tot == 64L, s"bucket $bucket seq $seq not full: $tot")
        else assert(tot <= 64L)
    }
    // at least one doc actually crosses a boundary at this seqLen
    assert(byDoc.values.exists(_.length > 1), "no boundary split exercised")
  }

  test("mixToTarget hits the target mixture, keeps the binding class whole, drops weight-0") {
    // skewed corpus: 600 of a, 300 of b, 100 of c, 50 of d
    val rows = (1L to 600L).map((_, "a")) ++ (601L to 900L).map((_, "b")) ++
      (901L to 1000L).map((_, "c")) ++ (1001L to 1050L).map((_, "d"))
    val df = rows.toDF("id", "cls")
    // target 1:1:2 over a:b:c — c is binding (100 docs / share 0.5 →
    // T = 200); d is unweighted and must vanish
    val out = Sampling.mixToTarget(df, "id", "cls", Map("a" -> 1L, "b" -> 1L, "c" -> 2L))
    val got = out.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("d"))
    // binding class kept in full: t_c = floor(2*200/4) = 100 = n_c
    assert(got("c") == 100L)
    // a and b target 50 each at hash rate 50/600, 50/300 — binomial-ish
    // tolerance around the fixed-point threshold
    assert(math.abs(got.getOrElse("a", 0L) - 50L) <= 20L, s"a: ${got.get("a")}")
    assert(math.abs(got.getOrElse("b", 0L) - 50L) <= 20L, s"b: ${got.get("b")}")
    // deterministic and repartition-invariant
    val again = Sampling.mixToTarget(df.repartition(7), "id", "cls",
      Map("a" -> 1L, "b" -> 1L, "c" -> 2L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("semanticDedup drops the planted within-cluster near-dup, keeps lowest id") {
    // two well-separated directions A/B; the two lowest ids seed the
    // codebook, one per direction. 12 near-duplicates 10 (direction A)
    // and must drop; 13 shares direction B with 11 but sits below the
    // threshold (cos ≈ 0.8) and survives.
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val vecs = Seq(
      (10L, v(1, 0, 0.01, 0)), (11L, v(0, 1, 0, 0.01)),
      (12L, v(1, 0.01, 0, 0)), (13L, v(0.6, 0.8, 0, 0)))
      .toDF("id", "v")
    val kept = Similarity.semanticDedup(vecs, threshold = 0.9, nCentroids = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cid")).toMap
    assert(kept.keySet == Set(10L, 11L, 13L))
    assert(kept(10L) == 10L && kept(11L) == 11L && kept(13L) == 11L)
    // repartition-invariant
    val again = Similarity.semanticDedup(vecs.repartition(5), 0.9, 2)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == Set(10L, 11L, 13L))
  }

  test("splitLabel is group-coherent and covers all three splits") {
    val rows = (1L to 300L).map(i => (i, i % 50L)).toDF("id", "grp")
    val out = rows.select(col("id"), col("grp"),
      Sampling.splitLabel(col("grp"), 8, 1, 10).as("split"))
    // every group maps to exactly one split
    val perGroup = out.groupBy("grp")
      .agg(countDistinct(col("split")).as("n")).collect()
    assert(perGroup.forall(_.getAs[Long]("n") == 1L))
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "validation", "test"))
    assert(bySplit("train") > bySplit("test"))
  }

  test("dedupClusters keeps exactly one doc per cluster, singletons kept") {
    val docs = (1L to 10L).map(i => i -> s"doc $i").toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Clusters.dedupClusters(docs, "doc_id", pairs, "a", "b").collect()
    assert(out.length == 10)
    val byId = out.map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Long]("is_keeper"))).toMap
    assert(byId(1L) == (1L, 1L) && byId(2L) == (1L, 0L) && byId(3L) == (1L, 0L))
    assert(byId(5L) == (5L, 1L) && byId(6L) == (5L, 0L))
    // singletons are their own keeper
    assert(Seq(4L, 7L, 8L, 9L, 10L).forall(i => byId(i) == (i, 1L)))
    // exactly one keeper per distinct cluster
    val keepers = out.filter(_.getAs[Long]("is_keeper") == 1L).map(_.getAs[Long]("cluster_id"))
    assert(keepers.toSet.size == keepers.length)
  }

  test("build lock heartbeat: a build slower than the stale window is NOT reclaimed") {
    // r10 advice fix: a LIVE build longer than LockStaleMillis used to
    // get its lock stolen (the waiter judged it dead), racing two
    // builders. The heartbeat refreshes the lock mtime every quarter
    // window, so only a truly dead holder goes stale.
    val mk = (i: Long) => Array.tabulate(8)(d => 0.1f * ((i * 7 + d) % 5) + 0.1f)
    val c = (0L until 24L).map(i => (i, mk(i))).toDF("nid", "nv")
    val dir = tempDir("annhb")
    val path = dir.resolve("ix").toString
    withConf("spark.graft.ann.lockStaleMs" -> "400") {
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def slowBuild() = {
        builds.incrementAndGet()
        Thread.sleep(1500) // > 3 stale windows under the 400ms conf
        Similarity.buildIvfPqResidualIndex(c, dim = 8, m = 2, ksub = 4,
          nCentroids = 4)
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map(i => new Thread(
        () => try AnnIndexStore.buildGuarded(spark, path, () => slowBuild())
        catch { case t: Throwable => errs.add(t) },
        s"hb-racer-$i"))
      // stagger the second racer past the first's lock write: local
      // create(overwrite=false) is check-then-act, and a simultaneous
      // double-acquire exercises the ownership-token discard path
      // (covered by the reclaim spec below), not the heartbeat this
      // test pins
      threads.foreach { t => t.start(); Thread.sleep(200) }
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"racing builder failed: ${errs.peek()}")
      assert(builds.get == 1,
        s"lock reclaimed from a live slow holder: ${builds.get} builders ran")
      assert(AnnIndexStore.isBuilt(spark, path))
      assert(!new java.io.File(dir.toFile, "ix.lock").exists,
        "winner did not release its lock")
    }
  }

  test("a builder whose lock was reclaimed discards its build and converges as a waiter") {
    val mk = (i: Long) => Array.tabulate(8)(d => 0.1f * ((i * 7 + d) % 5) + 0.1f)
    val c = (0L until 24L).map(i => (i, mk(i))).toDF("nid", "nv")
    val dir = tempDir("annown")
    val path = dir.resolve("ix").toString
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(dir.resolve("ix.lock").toString)
    withConf("spark.graft.ann.lockStaleMs" -> "400") {
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def build() = {
        // FIRST attempt only: simulate a mid-build reclaim the way a
        // reclaimer does it — through the Hadoop fs (delete + create,
        // checksum sidecar kept consistent; a raw nio write would
        // surface as a ChecksumException, which owns() deliberately
        // treats as flaky IO, not as a reclaim)
        if (builds.incrementAndGet() == 1) {
          assert(fs.delete(lock, false))
          val out = fs.create(lock, true)
          try out.write("foreign-token".getBytes("UTF-8")) finally out.close()
        }
        Similarity.buildIvfPqResidualIndex(c, dim = 8, m = 2, ksub = 4,
          nCentroids = 4)
      }
      // the reclaimed first attempt must be DISCARDED (never published
      // over the foreign holder, never its lock deleted); the "foreign
      // holder" then dies silently (its lock goes stale with no
      // marker), so the loop reclaims it and converges on a clean
      // second build — no exception reaches the caller
      AnnIndexStore.buildGuarded(spark, path, () => build())
      assert(builds.get == 2,
        s"expected discard + clean rebuild, got ${builds.get} attempt(s)")
      assert(AnnIndexStore.isBuilt(spark, path))
      assert(AnnIndexStore.load(spark, path).codes.count() == 24L)
      assert(!fs.exists(lock), "converged build did not release the lock")
      assert(!dir.toFile.listFiles.exists(_.getName.startsWith(".ix.build_")),
        "discarded attempt leaked its staging dir")
    }
  }

  test("ingest auto-compaction: trigger fires past the file threshold; rows and ranks unchanged") {
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val all = (0L until 4L).map(i => (i, mk(i, 0))) ++
      (10L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val (baseRows, arrivalRows) = all.partition(_._1 < 30L)
    val dir = tempDir("annauto")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4, nCentroids = 4),
      path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val codesDir = new org.apache.hadoop.fs.Path(s"$path/codes")
    def nDataFiles = fs.listStatus(codesDir).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    val initialFiles = nDataFiles // the base build may write several parts
    var maxSeen = 0
    var compactions = 0
    var prevFiles = initialFiles
    arrivalRows.zipWithIndex.foreach { case (row, i) =>
      AnnIndexStore.ingestVectorsBatch(spark, path, cp, i.toLong,
        Seq(row).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
        autoCompactMaxFiles = 3, autoCompactTargetBytes = 1L << 40)
      val now = nDataFiles
      maxSeen = math.max(maxSeen, now)
      if (now < prevFiles) compactions += 1
      prevFiles = now
    }
    assert(compactions >= 1, "auto-compaction never fired")
    // the policy bounds fragmentation: momentarily the table holds at
    // most max(initial, threshold)+1 files (the +1 is the batch that
    // trips the trigger), then a compaction collapses it — unbounded
    // growth is impossible
    assert(maxSeen <= math.max(initialFiles, 3) + 1,
      s"file count escaped the trigger policy: $maxSeen")
    // exactly-once and ranking invariants survive the inline compactions
    val grown = AnnIndexStore.load(spark, path)
    assert(grown.codes.count() == all.size.toLong)
    val reference = Similarity.appendToIndex(
      grown.copy(codes = grown.codes.filter($"nid" < 30L)),
      arrivalRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    val q = all.filter(_._1 >= 34).toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Similarity.ivfPqResidualProbe(q, grown, k = 3, dim = 8,
      m = 2, ksub = 4, nProbe = 4)) ==
      rows(Similarity.ivfPqResidualProbe(q, reference, k = 3, dim = 8,
        m = 2, ksub = 4, nProbe = 4)))
  }

  test("compactCodes without a checkpoint refuses batch-published debris") {
    val mk = (i: Long) => Array.tabulate(8)(d => 0.1f * ((i * 7 + d) % 5) + 0.1f)
    val all = (0L until 24L).map(i => (i, mk(i)))
    val dir = tempDir("annrefuse")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      all.take(20).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      nCentroids = 4), path)
    // a plain built index (no batch files) may compact checkpoint-less
    AnnIndexStore.compactCodes(spark, path, None, targetBytes = 1L << 40)
    // after an ingest, batch-prefixed files exist: without the
    // checkpoint's markers a crashed publish's partial files are
    // indistinguishable from committed batches — must refuse
    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 0L,
      all.drop(20).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4)
    val e = intercept[IllegalStateException] {
      AnnIndexStore.compactCodes(spark, path, None, targetBytes = 1L << 40)
    }
    assert(e.getMessage.contains("checkpointDir"))
    // with the checkpoint it proceeds
    AnnIndexStore.compactCodes(spark, path, Some(cp), targetBytes = 1L << 40)
    assert(AnnIndexStore.load(spark, path).codes.count() == all.size.toLong)
  }

  test("ingest self-heals a crash between a previous compaction's swap renames") {
    // the unattended-stream scenario: auto-compaction died between
    // rename(codes, old) and rename(tmp, codes); the restarted
    // stream's next ingestVectorsBatch must recover and proceed, not
    // die in load() on the missing codes dir forever
    val mk = (i: Long) => Array.tabulate(8)(d => 0.1f * ((i * 7 + d) % 5) + 0.1f)
    val all = (0L until 24L).map(i => (i, mk(i)))
    val dir = tempDir("annheal")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      all.take(20).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      nCentroids = 4), path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val codes = new org.apache.hadoop.fs.Path(s"$path/codes")
    val old = new org.apache.hadoop.fs.Path(s"$path/.codes_compact_old")
    assert(fs.rename(codes, old)) // the half-swapped crash state
    AnnIndexStore.ingestVectorsBatch(spark, path, cp, 0L,
      all.drop(20).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      autoCompactMaxFiles = 2, autoCompactTargetBytes = 1L << 40)
    assert(fs.exists(codes) && !fs.exists(old),
      "half-swapped compaction state was not healed")
    assert(AnnIndexStore.load(spark, path).codes.count() == all.size.toLong)
  }

  test("IndexHandle rides out a rebuild's publish gap, bounded") {
    val mk = (i: Long) => Array.tabulate(8)(d => 0.1f * ((i * 7 + d) % 5) + 0.1f)
    val c = (0L until 24L).map(i => (i, mk(i))).toDF("nid", "nv")
    val dir = tempDir("anngap")
    val path = dir.resolve("ix").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      c, dim = 8, m = 2, ksub = 4, nCentroids = 4), path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    val gone = new org.apache.hadoop.fs.Path(path + ".gone")
    // simulate buildGuarded's delete->rename window: the artifact is
    // absent when the handle first loads, restored ~0.5 s later
    assert(fs.rename(p, gone))
    val restorer = new Thread(() => { Thread.sleep(500); fs.rename(gone, p): Unit })
    restorer.start()
    val handle = AnnIndexStore.openHandle(spark, path)
    assert(handle.current().codes.count() == 24L,
      "handle did not recover across the publish gap")
    restorer.join()
    // bounded: a permanently missing artifact still fails, after the
    // configured wait — a wedged rebuild must not hang probes forever
    assert(fs.rename(p, gone))
    val impatient = new AnnIndexStore.IndexHandle(spark, path, reloadWaitMs = 300L)
    intercept[Throwable] { impatient.current() }
    assert(fs.rename(gone, p)) // restore for any later test using tmp
  }

  test("rebuildIfDrifted on an empty corpus is a no-op, not an NPE") {
    val dir = tempDir("anndriftempty")
    val path = dir.resolve("ix").toString
    val empty = Seq.empty[(Long, Array[Float])].toDF("nid", "nv")
    // sum(when(...)) over zero rows is NULL; the guard must read it
    // as "no arrivals" per the scaladoc contract
    assert(!AnnIndexStore.rebuildIfDrifted(spark, path, empty,
      $"nid" >= 0L, dim = 8, minCos = 0.9, m = 2, ksub = 4, nCentroids = 4))
    assert(!AnnIndexStore.isBuilt(spark, path))
  }
}
