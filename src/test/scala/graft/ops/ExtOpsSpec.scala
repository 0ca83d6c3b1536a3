package graft.ops

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.source.github.{GithubSource, MockGithubServer}

class ExtOpsSpec extends AnyFunSuite with graft.GraftSuite with graft.TempDirs {

  import spark.implicits._

  /** A session on the shared context as a user who builds their own
    * session sees it: without the graft functions, which every
    * GraftSession (the shared one included) carries through
    * GraftExtensions. Only `GraftFunctions.register` can supply them.
    */
  private def sessionWithoutGraftFunctions(): SparkSession = {
    val s = spark.newSession().asInstanceOf[SparkSession]
    GraftFunctions.all.foreach { case (name, _) =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    }
    intercept[AnalysisException](
      s.sql("SELECT graft_float_norm(array(CAST(3.0 AS FLOAT)))").collect())
    s
  }

  test("SQL registration: custom expressions callable from spark.sql") {
    val spark = sessionWithoutGraftFunctions()
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps")).toDF("id", "text")
      .createOrReplaceTempView("sqldocs")
    val row = spark.sql(
      """SELECT graft_word_shingles(filter(split(text, ' '), w -> w != '')) AS ss,
                graft_shingle_hashes(filter(split(text, ' '), w -> w != '')) AS hs
         FROM sqldocs""").collect().head
    assert(row.getAs[scala.collection.Seq[String]]("ss") ==
      Seq("the quick brown", "quick brown fox", "brown fox jumps"))
    // content anchors: SQL surface agrees with the DataFrame API
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val sqlAnchors = spark.sql(
      s"SELECT graft_content_anchors('$t', 10, '0') AS a").collect().head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("a")
      .map(r => (r.getInt(0), r.getString(1)))
    val apiAnchors = SubstrDedup.anchors(
      Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text", k = 10)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(sqlAnchors == apiAnchors)
    assert(sqlAnchors.forall(_._2.startsWith("0")))
    assert(row.getAs[scala.collection.Seq[Long]]("hs").length == 3)

    val dot = spark.sql(
      """SELECT graft_float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
                graft_float_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n""")
      .collect().head
    assert(dot.getDouble(0) == 11.0)
    assert(dot.getDouble(1) == 5.0)
  }

  test("KMV sketch is partition-invariant (mergeable) and sane") {
    import graft.functions.KmvSketch
    val kmv = KmvSketch.kmvDistinct(64)
    val df = (1 to 5000).map(i => ("g", (i % 937).toLong)).toDF("g", "v")
    def run(parts: Int): Double =
      df.repartition(parts).groupBy($"g").agg(kmv($"v").as("e"))
        .collect().head.getAs[Double]("e")
    val e1 = run(1)
    val e16 = run(16)
    assert(e1 == e16) // merge order must not change the sketch
    assert(math.abs(e1 - 937.0) / 937.0 < 0.3) // within KMV error bounds
    // under k distinct values -> exact
    val small = (1 to 40).map(i => ("g", i.toLong)).toDF("g", "v")
    assert(small.groupBy($"g").agg(kmv($"v").as("e")).collect().head.getAs[Double]("e") == 40.0)
  }

  test("HLL sketch is partition-invariant, matches the register model, sane accuracy") {
    import graft.functions.{HllSketch, KmvSketch}
    val hll = HllSketch.hllFp20()
    val n = 937L
    val df = (1 to 5000).map(i => ("g", (i % n).toLong)).toDF("g", "v")
    def run(parts: Int): Long =
      df.repartition(parts).groupBy($"g").agg(hll($"v").as("e"))
        .collect().head.getAs[Long]("e")
    val e1 = run(1)
    val e16 = run(16)
    assert(e1 == e16) // elementwise-max merge is order-free
    // independent register model on the driver
    val regs = new Array[Int](HllSketch.M)
    (0L until n).foreach { v =>
      val h = KmvSketch.hash(v)
      val i = HllSketch.bucketOf(h)
      regs(i) = math.max(regs(i), HllSketch.rhoOf(h))
    }
    assert(e1 == HllSketch.estFp20(regs))
    val est = e1.toDouble / (1L << 20).toDouble
    assert(math.abs(est - n.toDouble) / n.toDouble < 0.35) // raw-HLL m=64 error regime
  }

  test("merged per-group KMV sketches reproduce the from-scratch global sketch") {
    import org.apache.spark.sql.functions.{
      array_distinct, array_sort, collect_list, flatten, slice}
    import graft.functions.KmvSketch
    val k = 16
    // 3 groups with overlapping value sets, more than k distinct overall
    val df = (1 to 3000)
      .map(i => (s"g${i % 3}", (i % 211).toLong)).toDF("g", "v")
    val mergedHashes = df.groupBy($"g")
      .agg(KmvSketch.kmvHashes(k)($"v").as("sk"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list($"sk")))), 1, k)
        .as("mh"))
      .as[Seq[Long]].head()
    val globalHashes = df.agg(KmvSketch.kmvHashes(k)($"v").as("sk"))
      .as[Seq[Long]].head()
    assert(mergedHashes == globalHashes)
    assert(KmvSketch.estimateFrom(mergedHashes, k) ==
      KmvSketch.estimateFrom(globalHashes, k))
  }

  test("GraftSession registers SQL functions on the shared session") {
    // getOrCreate returns the thread's active session, so make that one
    // without the functions: only GraftSession's register call adds them
    val bare = sessionWithoutGraftFunctions()
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(bare)
    val s2 = try graft.GraftSession.getOrCreate("local[4]", 4)
    finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(s2 eq bare)
    assert(s2.sql("SELECT graft_float_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      .collect().head.getDouble(0) == 5.0)
  }

  test("salted aggregation equals plain aggregation (skew-immune form)") {
    // zipfian: one hot key with 10k rows, 10 cold keys
    val rows = (1 to 10000).map(i => ("hot", (i % 7).toDouble)) ++
      (1 to 10).flatMap(k => Seq((s"cold$k", k.toDouble)))
    val df = rows.toDF("k", "v")
    val plain = df.groupBy($"k")
      .agg(sum($"v".cast("decimal(28,6)")).cast("double").as("sum_value"),
        count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(df, "k", "v", saltBuckets = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted join equals plain join on zipfian keys") {
    val fact = ((1 to 5000).map(_ => 1L) ++ (2L to 50L)).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("row_id", "k")
    val dim = (1L to 60L).map(k => (k, s"dim$k")).toDF("dk", "payload")
    val plain = fact.join(dim, $"k" === $"dk")
      .select($"row_id", $"payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", saltBuckets = 8)
      .select($"row_id", $"payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain)
  }

  test("batch sessionize splits on the gap, aggregates per session") {
    def ts(sec: Long) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val ev = Seq(
      (10L, 1L, ts(0)),    // user 1, session 1
      (11L, 1L, ts(100)),  // same session (gap 100s < 1800s)
      (12L, 1L, ts(2000)), // gap 1900s > 1800s → session 2
      (20L, 2L, ts(50)),   // user 2, own session
      (31L, 3L, ts(100)),  // user 3: ids NOT in timestamp order —
      (30L, 3L, ts(200)))  // the session-OPENING id is 31, not min=30
      .toDF("event_id", "user_id", "ts")
    val out = Sessions.sessionize(ev, "user_id", "ts", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(out((1L, 1L)) == (2L, 10L, 100L)) // 2 events, 100s duration
    assert(out((1L, 2L)) == (1L, 12L, 0L))
    assert(out((2L, 1L)) == (1L, 20L, 0L))
    assert(out((3L, 1L)) == (2L, 31L, 100L)) // temporally first, not min
  }

  test("snapshot diff classifies added/removed/changed/unchanged, null-safe") {
    val prev = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None), (4L, Some(40.0)))
      .toDF("k", "v")
    val cur = Seq((1L, Some(10.0)), (2L, Some(21.0)), (3L, None), (5L, Some(50.0)))
      .toDF("k", "v")
    val out = SnapshotDiff.diffSnapshots(prev, cur, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "added"))
  }

  test("weightedHashSample: all-NULL / empty weights sample empty, oversized fail fast") {
    val df = Seq((1L, Option.empty[Double]), (2L, None), (3L, None)).toDF("k", "w")
    assert(Sampling.weightedHashSample(df, "k", "w", 1, 2).count() == 0)
    assert(Sampling.weightedHashSample(df.filter("k > 99"), "k", "w", 1, 2).count() == 0)
    // past the 2^22/den cross-product ceiling: abort, never mis-sample
    val big = Seq((1L, 5.0e6)).toDF("k", "w")
    val e = intercept[Exception](Sampling.weightedHashSample(big, "k", "w", 1, 2).count())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("weightedHashSample"))
  }

  test("line dedup keeps first occurrence and reassembles in order") {
    val docs = Seq(
      (1L, "alpha beta\ngamma delta"),
      (2L, "gamma delta\nepsilon zeta"),
      (3L, "alpha beta")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 owns both its lines; doc 2 loses "gamma delta" to doc 1;
    // doc 3 loses its only line to doc 1 and keeps empty text
    assert(out(1L) == ((2L, 0L, "alpha beta\ngamma delta")))
    assert(out(2L) == ((1L, 1L, "epsilon zeta")))
    assert(out(3L) == ((0L, 1L, "")))
  }

  test("BPE learns the classic low/lower/newest merges with tie-breaks") {
    val docs = Seq(
      (1L, "low low low"), (2L, "lower lower"), (3L, "newest")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(docs, "text", 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // round 1: "l o" and "o w" tie at 5; pair-string ascending keeps "l o"
    assert(m(0) == ((1L, "l", "o", "lo", 5L)))
    assert(m(1) == ((2L, "lo", "w", "low", 5L)))
    // round 3: "e r" (2, in lower) beats "low e" (2) on the tie-break
    assert(m(2) == ((3L, "e", "r", "er", 2L)))
  }

  test("BPE greedy merge on overlapping runs matches the replace contract") {
    // " a a a a " merges left-to-right without rescanning: [aa, a, a]
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(docs, "text", 2).orderBy("round").collect()
    assert(m(0).getString(3) == "aa" && m(0).getLong(4) == 3L)
    // round 2 counts pairs of [aa, a, a]: "a a" (1) ties "aa a" (1), asc wins
    assert((m(1).getString(1), m(1).getString(2), m(1).getLong(4)) == (("a", "a", 1L)))
  }

  test("BPE encode applies merges in order and reports the spectrum") {
    val docs = Seq((1L, "low low low"), (2L, "lower")).toDF("doc_id", "text")
    val got = Bpe.encodeTokens(docs, "text", Seq(("l", "o"), ("lo", "w")))
      .as[(String, Long)].collect().toMap
    // "low"×3 -> [low]; "lower" -> [low, e, r]
    assert(got == Map("low" -> 4L, "e" -> 1L, "r" -> 1L))
  }

  test("tableStats profiles nulls, NDV, min/max, and lengths in one pass") {
    val t = Seq(
      (Some(1L), Some("aa")), (Some(2L), None), (Some(2L), Some("bbb")),
      (None, Some("aa"))).toDF("k", "s")
    val got = Profile.tableStats(t, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getLong(6)))).toMap
    assert(got("k") == ((4L, 1L, 2L, "1", "2", 3L)))
    assert(got("s") == ((4L, 1L, 2L, "aa", "bbb", 7L)))
  }

  test("latestSnapshot keeps exactly the newest change per key") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val changes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "a", 1.0),
      (1L, ts("2024-01-02 10:00:00"), 101L, "b", 2.0),
      // same-ts tie broken by the higher ord
      (2L, ts("2024-01-01 00:00:00"), 200L, "x", 5.0),
      (2L, ts("2024-01-01 00:00:00"), 201L, "y", 6.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    for (parts <- Seq(1, 4)) {
      val got = Scd.latestSnapshot(changes.repartition(parts),
        "user_id", "ts", "event_id", Seq("event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3),
          r.getDouble(4))).toSet
      assert(got == Set((1L, 101L, "b", 2.0), (2L, 201L, "y", 6.0)))
    }
  }

  test("weighted cumDist reads give the weighted median") {
    // values 10 (weight 1) and 20 (weight 9): weighted median = 20,
    // unweighted = 10
    val rows = Seq(("g", 10L, 1L), ("g", 20L, 9L))
      .toDF("grp", "v", "w")
    val weighted = Quantiles.cumDist(rows, col("grp"), col("v"), col("w"))
      .groupBy("g")
      .agg(min(when(col("cum") * 2 >= col("n"), col("v"))).as("m"))
      .collect().head.getLong(1)
    assert(weighted == 20L)
    val unweighted = Quantiles.cumDist(rows, col("grp"), col("v"))
      .groupBy("g")
      .agg(min(when(col("cum") * 2 >= col("n"), col("v"))).as("m"))
      .collect().head.getLong(1)
    assert(unweighted == 10L)
  }

  test("collocations lift separates a fixed phrase from chance pairs") {
    // "new york" always together; "the" pairs with everything
    val docs = Seq(
      "new york is big", "new york is old", "the cat sat", "the dog sat",
      "cat and dog and cat").map(Tuple1(_)).toDF("text")
    val got = Relevance.collocations(docs, "text", minCount = 2L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // "new york": c_xy=2, cl(new)=2, cr(york)=2, nb=14 -> lift 7.0
    assert(got("new york") == ((2L, 7.0)))
    // no pair below minCount leaks through
    assert(!got.contains("the cat"))
    // model-check every returned lift against brute-force counts
    val bigrams = docs.collect().map(_.getString(0))
      .flatMap(t => t.split(" ").filter(_.nonEmpty).sliding(2)
        .filter(_.length == 2).map(_.mkString(" ")))
    val nb = bigrams.length.toLong
    val cnt = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cl = bigrams.groupBy(_.split(" ")(0)).view.mapValues(_.length.toLong).toMap
    val cr = bigrams.groupBy(_.split(" ")(1)).view.mapValues(_.length.toLong).toMap
    for ((b, (c, lift)) <- got) {
      assert(c == cnt(b))
      val Array(w1, w2) = b.split(" ")
      assert(lift == (c.toDouble * nb.toDouble) / (cl(w1).toDouble * cr(w2).toDouble))
    }
  }

  test("exactQuotaSample keeps precisely floor(n*p) rows per stratum") {
    val rows = (1L to 97L).map(i => (if (i % 3 == 0) "a" else "b", i)) ++
      Seq(("tiny", 500L), ("tiny", 501L)) // quota floor(2*3/10) = 0
    val df = rows.toDF("stratum", "key")
    for (parts <- Seq(1, 5)) {
      val got = Sampling.exactQuotaSample(
        df.repartition(parts), "stratum", "key", num = 3, den = 10)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val sizes = got.groupBy(_._1).view.mapValues(_.length).toMap
      // a: 32 members -> 9; b: 65 -> 19; tiny: 2 -> 0
      assert(sizes == Map("a" -> 9, "b" -> 19))
      // the kept set is the quota smallest hashes — replicate
      val byStratum = rows.groupBy(_._1)
      for ((s, members) <- byStratum if s != "tiny") {
        val want = members.map(_._2)
          .sortBy(k => Math.floorMod(k * Sampling.HashA, Sampling.HashP))
          .take(members.size * 3 / 10).toSet
        assert(got.filter(_._1 == s).map(_._2).toSet == want)
      }
    }
  }

  test("kCorePeel strips pendants and matches a sequential model") {
    def model(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      var e = edges.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
        .filter(t => t._1 != t._2).distinct
      for (_ <- 1 to rounds) {
        val deg = (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= k).keySet
        e = e.filter(t => keep(t._1) && keep(t._2))
      }
      (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    }
    // triangle core 1-2-3 with a chain of pendants hanging off it
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
    for (parts <- Seq(1, 4)) {
      val got = Graphs.kCorePeel(
        edges.toDF("a", "b").repartition(parts), "a", "b", k = 2, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model(edges, 2, 3))
      assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L)) // chain fully peeled
    }
    // random graph, model equality
    val rnd = new scala.util.Random(31)
    val rand = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val got = Graphs.kCorePeel(rand.toDF("a", "b"), "a", "b", k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == model(rand, 3, 3))
  }

  test("kTrussPeel keeps triangle-dense edges and matches a sequential model") {
    def model(edges: Seq[(Long, Long)], k: Int,
        rounds: Int): Map[(Long, Long), Long] = {
      var e = edges.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
        .filter(t => t._1 != t._2).distinct
      def support(es: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
        val adj = (es ++ es.map(_.swap)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        es.map { case (a, b) =>
          (a, b) -> (adj(a) & adj(b)).size.toLong
        }.toMap
      }
      for (_ <- 1 to rounds) {
        val s = support(e)
        e = e.filter(t => s(t) >= k - 2)
      }
      support(e)
    }
    // two triangles sharing an edge (all edges support >= 1) plus a
    // pendant triangle attached by one BRIDGE edge: the bridge has
    // support 0 and must peel, then the far triangle still stands
    // on its own
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L), // two triangles
      (4L, 5L), // bridge, in no triangle
      (5L, 6L), (6L, 7L), (7L, 5L)) // pendant triangle
    for (parts <- Seq(1, 4)) {
      val got = Graphs.kTrussPeel(
        edges.toDF("a", "b").repartition(parts), "a", "b", k = 3, rounds = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
        .toMap
      assert(got == model(edges, 3, 2))
      assert(!got.contains((4L, 5L)), "bridge edge must peel")
      assert(got.contains((5L, 6L)), "detached triangle must survive")
    }
    // random graph, model equality at k=3 and k=4
    val rnd = new scala.util.Random(43)
    val rand = (1 to 250).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    for (k <- Seq(3, 4)) {
      val got = Graphs.kTrussPeel(rand.toDF("a", "b"), "a", "b", k, rounds = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
        .toMap
      assert(got == model(rand, k, 2), s"k=$k mismatch")
    }
  }

  test("kTrussPeel broadcastAdjacency variant equals the shuffled path") {
    // r11: the flag only swaps the four per-round joins to broadcast
    // (degrees into the orientation, adjacency into the closure) —
    // same exact-integer supports either way
    val rnd = new scala.util.Random(47)
    val rand = (1 to 250).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    def run(bc: Boolean): Map[(Long, Long), Long] =
      Graphs.kTrussPeel(rand.toDF("a", "b").repartition(4), "a", "b",
        k = 3, rounds = 2, broadcastAdjacency = bc)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
        .toMap
    assert(run(bc = true) == run(bc = false))
    def runConv(bc: Boolean): Map[(Long, Long), Long] =
      Graphs.kTrussConverged(rand.toDF("a", "b").repartition(4), "a", "b",
        k = 3, broadcastAdjacency = bc)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("support"))
        .toMap
    assert(runConv(bc = true) == runConv(bc = false))
  }

  test("converged peels reach the true core/truss where fixed rounds provably fall short") {
    // k-core: a 4-cycle with a pendant chain of 6 — the cascade
    // strips one chain layer per round, so 2 rounds leave chain
    // nodes that are NOT in the 2-core; converged = the cycle alone
    val lolli = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // cycle
      (4L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L))
    val twoRounds = Graphs.kCorePeel(lolli.toDF("a", "b"), "a", "b",
      k = 2, rounds = 2).collect().map(_.getLong(0)).toSet
    assert(twoRounds.exists(_ >= 10L),
      "premise broken: 2 rounds already converged on the chain")
    val core = Graphs.kCoreConverged(lolli.toDF("a", "b"), "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // once stable, extra fixed rounds are no-ops: converged equals
    // any sufficiently-unrolled fixed peel (the oracle contract)
    val unrolled = Graphs.kCorePeel(lolli.toDF("a", "b"), "a", "b",
      k = 2, rounds = 10).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == unrolled)

    // k-truss: an 8×8 triangular lattice — interior edges sit in 2
    // triangles, boundary edges in 1, so the k=4 peel dissolves ONE
    // boundary layer per round (8 rounds to empty, simulated); after
    // 2 rounds 85 uncertified edges remain. The true 4-truss of any
    // finite lattice is empty.
    val W = 8L
    val lattice = for {
      r <- 0L until W; c <- 0L until W
      e <- Seq(
        if (c + 1 < W) Some((r * W + c, r * W + c + 1)) else None,
        if (r + 1 < W) Some((r * W + c, (r + 1) * W + c)) else None,
        if (r + 1 < W && c + 1 < W) Some((r * W + c, (r + 1) * W + c + 1))
        else None).flatten
    } yield e
    val fixed = Graphs.kTrussPeel(lattice.toDF("a", "b"), "a", "b",
      k = 4, rounds = 2).collect()
    assert(fixed.length == 85,
      s"premise drifted: expected 85 survivors after 2 rounds, got ${fixed.length}")
    val truss = Graphs.kTrussConverged(lattice.toDF("a", "b"), "a", "b", k = 4)
      .collect()
    assert(truss.isEmpty, "4-truss of a finite lattice must be empty")
    // and where a true truss EXISTS it is found exactly: lattice + a
    // 5-clique (every clique edge in 3 triangles, survives k=4)
    val clique = (1000L until 1005L).flatMap(a =>
      ((a + 1) until 1005L).map(b => (a, b)))
    val got = Graphs.kTrussConverged((lattice ++ clique).toDF("a", "b"),
      "a", "b", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == clique.toSet && got.values.forall(_ == 3L))
    val unrolledT = Graphs.kTrussPeel((lattice ++ clique).toDF("a", "b"),
      "a", "b", k = 4, rounds = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == unrolledT)

    // the cap is a contract, not a silent truncation
    val err = intercept[IllegalStateException] {
      Graphs.kCoreConverged(lolli.toDF("a", "b"), "a", "b", k = 2,
        maxRounds = 1).collect()
    }
    assert(err.getMessage.contains("converge"))
  }

  test("incremental partials merge to exactly the full recompute") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 500).map(i =>
      (rnd.nextInt(20).toLong, (rnd.nextInt(10000) / 100.0)))
    val df = rows.toDF("k", "v")
    val full = Incremental.partials(df, "k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (cut <- Seq(0, 100, 250, 500); parts <- Seq(1, 4)) {
      val a = Incremental.partials(
        rows.take(cut).toDF("k", "v").repartition(math.max(parts, 1)), "k", "v")
      val b = Incremental.partials(rows.drop(cut).toDF("k", "v"), "k", "v")
      val merged = Incremental.merge(a, b, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == full, s"cut=$cut parts=$parts")
    }
  }

  test("applyChangeLog upserts, deletes, resurrects, and inserts") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val base = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "a", 1.0), // will be upserted
      (2L, ts("2024-01-01 00:00:00"), 20L, "b", 2.0), // will be deleted
      (3L, ts("2024-01-01 00:00:00"), 30L, "c", 3.0), // untouched
      (4L, ts("2024-01-01 00:00:00"), 40L, "d", 4.0)) // deleted then re-upserted
      .toDF("k", "ts", "ord", "attr", "v")
    val changes = Seq(
      (1L, ts("2024-02-01 00:00:00"), 100L, "U", "a2", 1.5),
      (2L, ts("2024-02-01 00:00:00"), 200L, "D", "b", 2.0),
      (4L, ts("2024-02-01 00:00:00"), 400L, "D", "d", 4.0),
      (4L, ts("2024-02-02 00:00:00"), 401L, "U", "d2", 4.5), // later wins
      (5L, ts("2024-02-01 00:00:00"), 500L, "U", "e", 5.0)) // brand-new key
      .toDF("k", "ts", "ord", "op", "attr", "v")
    for (parts <- Seq(1, 4)) {
      val got = Scd.applyChangeLog(
        base.repartition(parts), changes.repartition(parts),
        "k", "ts", "ord", "op", Seq("attr", "v"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getDouble(4)))
        .toSet
      assert(got == Set(
        (1L, 100L, "a2", 1.5),
        (3L, 30L, "c", 3.0),
        (4L, 401L, "d2", 4.5),
        (5L, 500L, "e", 5.0)))
    }
  }

  test("quality checks count violations exactly and fail loudly") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(
      (1L, Some("a"), 5.0), (1L, Some("a"), 5.0), // duplicate key pair
      (2L, None, -1.0),                           // null attr, out of range
      (9L, Some("zzz"), 10.0))                    // orphan FK, bad domain
      .toDF("fk", "attr", "v")
    val rep = Checks.reportAll(Seq(
      Checks.unique(child, "u", Seq("fk", "attr", "v")),
      Checks.unique(child, "u2", Seq("fk")),
      Checks.nonNull(child, "nn", "attr"),
      Checks.inRange(child, "rg", "v", 0.0, 9.0),
      Checks.inDomain(child, "dom", "attr", Seq("a", "b")),
      Checks.refIntegrity(child, "fk", "fk", parent, "pk")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(rep("u") == ((1L, 4L, false)))   // one exact duplicate row
    assert(rep("u2") == ((1L, 4L, false)))  // fk 1 twice -> 1 beyond-first
    assert(rep("nn") == ((1L, 4L, false)))
    assert(rep("rg") == ((2L, 4L, false)))  // -1.0 and 10.0
    assert(rep("dom") == ((2L, 4L, false))) // null and zzz
    assert(rep("fk") == ((1L, 4L, false)))  // orphan 9
    // a clean table passes everything
    val clean = Seq((1L, Some("a"), 5.0)).toDF("fk", "attr", "v")
    val ok = Checks.reportAll(Seq(
      Checks.unique(clean, "u", Seq("fk")),
      Checks.refIntegrity(clean, "fk", "fk", parent, "pk")))
      .collect().map(_.getBoolean(3))
    assert(ok.forall(identity))
  }

  test("winsorize clips to exact rank bounds; robustZ is outlier-immune") {
    // 20 values 1..20 (cents 100..2000) plus one huge outlier
    val rows = ((1L to 20L).map(i => ("g", i, i.toDouble)) :+ ("g", 99L, 1e6))
      .toDF("grp", "id", "x")
    val clipped = Features.winsorize(rows, "grp", "x", Seq("id"),
      loNum = 1, loDen = 10, hiNum = 9, hiDen = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // n=21: p10 = value at first cum*10 >= 21 -> rank 3 (300);
    // p90 = first cum*10 >= 189 -> rank 19 (1900)
    assert(clipped(1L) == 300L && clipped(2L) == 300L && clipped(3L) == 300L)
    assert(clipped(10L) == 1000L)
    assert(clipped(19L) == 1900L && clipped(20L) == 1900L && clipped(99L) == 1900L)
    val rz = Features.robustZ(rows, "grp", "x", Seq("id"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    // median = rank 11 -> 1100 cents; MAD = median of the 21
    // deviations {0, 100,100, ..., 900,900, 1000, huge} -> 500
    val med = 1100.0; val mad = 500.0
    assert(math.abs(rz(11L).get - 0.0) < 1e-12)
    assert(math.abs(rz(1L).get - (100.0 - med) / (mad * 1.4826)) < 1e-12)
    // the outlier scores huge — but DOESN'T drag everyone else's score
    assert(rz(99L).get > 1000.0)
    // classic zscore for comparison: the outlier drags the mean so
    // far every regular point looks identical
    val z = Features.zscore(rows, "grp", Seq("x"), Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(z(1L) - z(20L)) < 0.01) // indistinguishable under zscore
    assert(math.abs(rz(1L).get - rz(20L).get) > 1.0) // separated under robustZ
  }

  test("zscore standardizes per group; zero variance yields null") {
    val rows = Seq(
      ("a", 1L, 10.0, 5.0), ("a", 2L, 20.0, 5.0), ("a", 3L, 30.0, 5.0),
      ("b", 4L, 7.0, 1.0), ("b", 5L, 9.0, 3.0))
      .toDF("grp", "id", "x", "y")
    val got = Features.zscore(rows, "grp", Seq("x", "y"), Seq("id"))
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // group a: x in {10,20,30} cents {1000,2000,3000}, pop std
    // sqrt(2/3)*1000; y constant -> null
    val sd = math.sqrt(2.0 / 3.0) * 1000.0
    assert(math.abs(got(1L)._1.get - (-1000.0 / sd)) < 1e-12)
    assert(math.abs(got(2L)._1.get - 0.0) < 1e-12)
    assert(math.abs(got(3L)._1.get - 1000.0 / sd) < 1e-12)
    assert(got(1L)._2.isEmpty && got(3L)._2.isEmpty)
    // group b: symmetric two-point -> z = ±1
    assert(math.abs(got(4L)._1.get + 1.0) < 1e-12)
    assert(math.abs(got(5L)._1.get - 1.0) < 1e-12)
    assert(math.abs(got(4L)._2.get + 1.0) < 1e-12)
    // per-group mean/std: z of y in b is ±1 even though y is constant in a
    assert(math.abs(got(5L)._2.get - 1.0) < 1e-12)
  }

  test("exact grouped quantiles pick the positional value") {
    // group g: values 10,20,30,40 -> p25=10 (cum 1*4>=4), p50=20,
    // p75=30, p90=40; ties collapse to one distinct row
    val df = Seq(("g", 10L), ("g", 20L), ("g", 30L), ("g", 40L))
      .toDF("g", "v")
    val dist = df.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
    val cum = dist
      .withColumn("cum", sum(col("cnt")).over(
        w.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Long.MinValue, 0)))
      .withColumn("n", sum(col("cnt")).over(w.partitionBy(col("g"))))
    val row = cum.groupBy(col("g"))
      .agg(
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("p25"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("p50"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("p75"),
        min(when(col("cum") * 10 >= col("n") * 9, col("v"))).as("p90"))
      .collect().head
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      ((10L, 20L, 30L, 40L)))
  }

  test("int8 quantization is symmetric, bounded, and zero-safe") {
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Embeddings.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toSeq))).toMap
    // mx=0.5 -> scale_fp = 0.5*2^20; extremes hit exactly ±127;
    // -0.25 -> -63.5 rounds half-up to -63
    assert(got(1L) == ((524288L, Seq(127L, -63L, 32L))))
    assert(got(2L) == ((0L, Seq(0L, 0L, 0L))))
  }

  test("chi-square grid includes zero cells and sums to the classic statistic") {
    // 2×2: a1:(x:30,y:10), a2:(x:10,y:30) -> chi2 = 20 exactly;
    // a3 has only x, so (a3,y) must appear as a zero cell
    val rows = Seq.fill(30)(("a1", "x")) ++ Seq.fill(10)(("a1", "y")) ++
      Seq.fill(10)(("a2", "x")) ++ Seq.fill(30)(("a2", "y")) ++
      Seq.fill(4)(("a3", "x"))
    val out = Profile.chiSquareCells(rows.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(out.size == 6 && out(("a3", "y"))._1 == 0L)
    assert(out(("a1", "x"))._2 == 40L && out(("a1", "x"))._3 == 44L &&
      out(("a1", "x"))._4 == 84L)
    // zero cell carries its expected-count mass: E = 4*40/84
    val e3y = out(("a3", "y"))._5
    assert(math.abs(e3y - 4.0 * 40 / 84) < 1e-9)
  }

  test("point-in-time SCD2 lookup binds the covering version only") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (1L, ts("2024-01-03 00:00:00"), 2L, "b"),
      (2L, ts("2024-01-02 00:00:00"), 3L, "z"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val hist = Scd.scd2History(log, "user_id", "ts", "event_id", "event_type")
    val facts = Seq(
      (1L, ts("2023-12-31 00:00:00")), // before first version -> null
      (1L, ts("2024-01-02 00:00:00")), // inside [01-01, 01-03) -> a
      (1L, ts("2024-01-03 00:00:00")), // boundary -> the NEW version b
      (2L, ts("2024-01-05 00:00:00"))) // open run -> z
      .toDF("user_id", "ts")
    val got = Scd.pointInTime(facts, hist, "user_id", "ts", "event_type")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString) ->
        Option(r.getString(2))).toMap
    assert(got((1L, "2023-12-31 00:00:00.0")).isEmpty)
    assert(got((1L, "2024-01-02 00:00:00.0")).contains("a"))
    assert(got((1L, "2024-01-03 00:00:00.0")).contains("b"))
    assert(got((2L, "2024-01-05 00:00:00.0")).contains("z"))
  }

  test("quantized power iteration matches a sequential BigInt model") {
    // two clear clusters along a dominant direction in 4 dims
    val vecs = Seq(
      Array(1.0f, 0.9f, 0.1f, 0.0f), Array(0.9f, 1.0f, 0.0f, 0.1f),
      Array(-1.0f, -0.8f, 0.1f, 0.0f), Array(0.1f, 0.0f, 0.3f, -0.2f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    for (parts <- Seq(1, 3)) {
      val got = Pca.powerIterationTop(
        df.repartition(parts), "embedding", iters = 3, dim = 4)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      // sequential model: same quantization, BigInt arithmetic
      val xq = vecs.map(_.map(x => BigInt(math.floor(x.toDouble * 1024).toLong)))
      var v = IndexedSeq.fill(4)(BigInt(1L << 20))
      for (_ <- 1 to 3) {
        val u = (0 until 4).map(k =>
          xq.map(row => row.zip(v).map { case (x, w) => x * w }.sum * row(k)).sum)
        val mx = u.map(_.abs).max
        if (mx > 0) v = u.map(_ * (1L << 20) / mx)
      }
      assert(got.toSeq == (0 until 4).map(k => (k.toLong, v(k).toLong)))
      // dominant direction: first two components carry the weight
      assert(math.abs(v(0).toLong) > math.abs(v(2).toLong) &&
        math.abs(v(1).toLong) > math.abs(v(3).toLong))
    }
  }

  test("capPerDomain keeps the lowest ids per registered domain") {
    val docs = Seq(
      (1L, "https://a.example.com/x"), (2L, "https://b.example.com/x"),
      (3L, "https://c.example.com/x"), (4L, "https://other.net/y"),
      (5L, "https://www.other.net/z")).toDF("doc_id", "url")
    val kept = Web.capPerDomain(docs, "url", "doc_id", 2)
      .select("doc_id", "domain").as[(Long, String)].collect().toSet
    assert(kept == Set((1L, "example.com"), (2L, "example.com"),
      (4L, "other.net"), (5L, "other.net")))
  }

  test("anomaly flags an exact-integer spike over a trailing baseline") {
    // 26 hourly click buckets: constant 10, except 30 at hour 24;
    // one stray view hour that never accumulates a full history
    val rows = (0 until 26).flatMap { h =>
      val cnt = if (h == 24) 30 else 10
      (0 until cnt).map(i => (h, i, "click"))
    } ++ (0 until 10).map(i => (0, i, "view"))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = rows.toDF("h", "i", "event_type").select(
      (lit(base).cast("long") + col("h") * 3600L + col("i"))
        .cast("timestamp").as("ts"),
      col("event_type"))
    val out = Anomaly.hourlyAnomalies(events, "event_type", "ts", 24, 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // only click hours 24 and 25 carry a full 24-observation history
    assert(out.length == 2 && out.forall(_._1 == "click"))
    // hour 24: dev = 24*30 - 240 = 480 on a zero-variance baseline
    val spike = out.find(_._3 == 30L).get
    assert(spike._2 == "2024-01-02 00" && spike._4 == 480L &&
      spike._5 == 0L && spike._6 == 1L)
    // hour 25's baseline contains the spike: S = 23*10 + 30 = 260,
    // Sxx = 23*100 + 900 = 3200, dev = 240 - 260 = -20,
    // var_nsq = 24*3200 - 260^2 = 9200; 400 <= 9*9200 -> calm
    val calm = out.find(_._3 == 10L).get
    assert(calm._2 == "2024-01-02 01" && calm._4 == -20L &&
      calm._5 == 9200L && calm._6 == 0L)
  }

  test("tfCosinePairs matches a sequential pruned-cosine model") {
    // deterministic corpus: words from a small alphabet, some hub
    // words everywhere (df-cut them with maxDf=6), some near-dup docs
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 60).map(i => f"w$i%02d").toVector
    val base = (1 to 8).map { i =>
      (i.toLong, (1 to 12).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ") + " hub hub")
    }
    val dups = base.take(2).map { case (id, t) => (id + 100, t + " w01") }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val got = Relevance.tfCosinePairs(docs, "doc_id", "text", maxDf = 6L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // sequential model
    val toks = (base ++ dups).map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val tf = toks.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, g) => (id, w, g.size.toLong) } }
    val df = tf.groupBy(_._2).map { case (w, g) => w -> g.size }
    val kept = tf.filter(t => df(t._2) <= 6)
    val norms = kept.groupBy(_._1)
      .map { case (id, g) => id -> g.map(t => t._3 * t._3).sum }
    val byDoc = kept.groupBy(_._1)
      .map { case (id, g) => id -> g.map(t => t._2 -> t._3).toMap }
    val ids = byDoc.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      dot = byDoc(a).keySet.intersect(byDoc(b).keySet).toSeq
        .map(w => byDoc(a)(w) * byDoc(b)(w)).sum
      if dot > 0 && 4 * dot * dot >= norms(a) * norms(b)
    } yield (a, b) -> (dot, norms(a), norms(b),
      dot.toDouble / (math.sqrt(norms(a).toDouble) *
        math.sqrt(norms(b).toDouble)))).toMap
    assert(got.keySet == want.keySet,
      s"pairs ${got.keySet} != ${want.keySet}")
    for ((k, v) <- want) assert(got(k) == v, s"$k: ${got(k)} != $v")
    // the planted near-dups survive the threshold
    assert(got.contains((1L, 101L)) && got.contains((2L, 102L)))
  }

  test("quantileNormalize maps group ranks onto pooled values, hand example") {
    // A = [1,1,2], B = [5]; pooled distinct CDF: 1→[1,2], 2→[3,3],
    // 5→[4,4] (n_p = 4). Targets: A v=1 cum 2/3 → t=⌈8/3⌉=3 → 2;
    // A v=2 cum 3/3 → t=4 → 5; B v=5 cum 1/1 → t=4 → 5.
    val df = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 5L)).toDF("src", "x")
    val out = Features.quantileNormalize(df, col("src"), col("x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("A", 1L)) == ((2L, 3L, 3L, 2L)))
    assert(out(("A", 2L)) == ((3L, 3L, 4L, 5L)))
    assert(out(("B", 5L)) == ((1L, 1L, 4L, 5L)))
    // identical groups are already aligned: normalization is identity
    val same = Seq(("A", 10L), ("A", 20L), ("B", 10L), ("B", 20L))
      .toDF("src", "x")
    val outSame = Features.quantileNormalize(same, col("src"), col("x"))
      .collect().map(r => (r.getLong(1), r.getLong(5)))
    assert(outSame.forall { case (v, vn) => v == vn })
  }

  test("isotonicRates pools adjacent violators and matches sequential PAVA") {
    // rates 0.5, 0.2, 0.8 over equal bins: PAVA pools (0.5, 0.2) into
    // 0.35 and leaves 0.8 — fitted nondecreasing
    val bins = Seq((0L, 10L, 5L), (1L, 10L, 2L), (2L, 10L, 8L))
      .toDF("bin", "n", "pos")
    val out = Classifier.isotonicRates(bins).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(out(0L) == 0.35 && out(1L) == 0.35 && out(2L) == 0.8)
    // randomized: minimax == sequential pool-adjacent-violators
    val rnd = new scala.util.Random(11)
    val rb = (0L to 9L).map(b => (b, rnd.nextInt(50) + 1L))
      .map { case (b, n) => (b, n, rnd.nextInt(n.toInt + 1).toLong) }
    val got = Classifier.isotonicRates(rb.toDF("bin", "n", "pos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // sequential PAVA on (n, pos) blocks
    case class Blk(var n: Long, var pos: Long, var size: Int)
    val stack = scala.collection.mutable.ArrayBuffer[Blk]()
    for ((_, n, pos) <- rb) {
      stack += Blk(n, pos, 1)
      while (stack.length > 1 && {
        val a = stack(stack.length - 2); val b = stack.last
        a.pos.toDouble / a.n >= b.pos.toDouble / b.n
      }) {
        val b = stack.remove(stack.length - 1)
        val a = stack.last
        a.n += b.n; a.pos += b.pos; a.size += b.size
      }
    }
    val want = stack.flatMap(b =>
      Seq.fill(b.size)(b.pos.toDouble / b.n)).zipWithIndex
      .map { case (r, i) => i.toLong -> r }.toMap
    for (b <- 0L to 9L)
      assert(math.abs(got(b) - want(b)) < 1e-12, s"bin $b: ${got(b)} vs ${want(b)}")
    // monotone by construction
    assert((0L to 8L).forall(b => got(b) <= got(b + 1) + 1e-15))
  }

  test("quantileNormalize matches a sequential model on a randomized corpus") {
    // deterministic pseudo-random corpus (fixed seed, no RNG state)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val g = "g" + (rnd.nextInt(3) + 1)
      (g, (rnd.nextInt(20) + 1).toLong)
    }
    val df = rows.toDF("src", "x")
    val out = Features.quantileNormalize(df, col("src"), col("x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(5)).toMap
    // model: pooled sorted multiset; v_norm = pooled value at rank
    // ceil(cum_g(v) * n_pool / n_g)
    val pooled = rows.map(_._2).sorted
    val byG = rows.groupBy(_._1)
    for ((g, vs) <- byG; v <- vs.map(_._2).distinct) {
      val cum = vs.count(_._2 <= v).toLong
      val t = ((cum * pooled.size + vs.size - 1) / vs.size).toInt
      val want = pooled(t - 1)
      assert(out((g, v)) == want, s"($g,$v): ${out((g, v))} != $want")
    }
  }

  test("chunked ETL: bounded-memory per-page loop, idempotent rerun") {
    val server = new MockGithubServer
    server.start()
    try {
      val out = tempDir("graft-chunked").toString
      val opts = GithubSource.Options(apiUrl = server.url, chunkSize = 3)
      val sink = new graft.sink.ParquetSnapshotSink(spark, out)
      val stats = graft.jobs.ChunkedEtl.run(
        spark, "o/r", opts, sink, java.sql.Date.valueOf("2024-06-01"))
      assert(stats.chunks == 2 && stats.prs == 5)
      assert(spark.read.parquet(s"$out/pull_requests").count() == 4)
      assert(spark.read.parquet(s"$out/commits").count() == 16)
      // rerun: the up-front delete clears the partitions, appends
      // rebuild them — same totals, no duplicates
      val stats2 = graft.jobs.ChunkedEtl.run(
        spark, "o/r", opts, sink, java.sql.Date.valueOf("2024-06-01"))
      assert(stats2.chunks == 2)
      assert(spark.read.parquet(s"$out/pull_requests").count() == 4)
      assert(spark.read.parquet(s"$out/commits").count() == 16)
    } finally server.stop()
  }
}
