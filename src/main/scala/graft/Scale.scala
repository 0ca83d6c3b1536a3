package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-slope harness: a deterministic ~10× blow-up of the heavy
  * tables OUTSIDE the read-only testdata tree, plus a bench main that
  * times the heavy operator family at 1× and 10× and reports the
  * wall-time ratios — converting "the plans look 100×-safe" from
  * plan-reading into measured slopes (anything superlinear is a plan
  * bug or gets a documented cause in BENCH_NOTES.md).
  *
  * Blow-up construction (factor k replicas, keyed offsets, fully
  * deterministic — no RNG):
  *
  *  - `documents`: replica k rewrites every word NOT at a position
  *    where `(i·7 + k) % 3 == 0` to `word_k`. The perturbation
  *    depends only on (position, k), so a near-duplicate pair in the
  *    original stays a near-duplicate in every replica (pair count
  *    scales linearly — the per-capita duplicate rate is preserved),
  *    while replicas of the SAME document across k differ in ~2/3 of
  *    words and do not become spurious near-dups.
  *  - `embeddings`: replica k adds a deterministic ±0.025 per-slot
  *    offset — same cluster geometry, 10× corpus.
  *  - `events`: ids and users offset per replica — 10× users at the
  *    same per-user density (the natural growth direction).
  *  - `lineitem` (graph family): orders offset; part/supplier keys
  *    scattered over a 10× key universe with an affine map — 10×
  *    nodes and edges at the SAME average degree, so per-edge closure
  *    cost should hold and total cost should scale ~linearly.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/scaledata/x10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.forHost()

    val docs = Tables.documents(spark, src)
    val nDocs = docs.agg(max("doc_id")).head.getLong(0) + 1
    (0 until factor).map { k =>
      if (k == 0) docs.select("doc_id", "text", "lang", "source", "n_chars")
      else docs.select(
        (col("doc_id") + lit(k * nDocs)).as("doc_id"),
        expr(s"""array_join(transform(split(text, ' '),
                 (w, i) -> CASE WHEN (i * 7 + $k) % 3 = 0 THEN w
                           ELSE concat(w, '_$k') END), ' ')""").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, src)
    val nVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    (0 until factor).map { k =>
      if (k == 0) emb.select("vec_id", "embedding", "label")
      else emb.select(
        (col("vec_id") + lit(k * nVec)).as("vec_id"),
        expr(s"""transform(embedding, (x, i) -> CAST(x +
                 (CAST((vec_id * 31 + i * 17 + $k * 97) % 1000 AS DOUBLE)
                  - 500.0) / 20000.0 AS FLOAT))""").as("embedding"),
        col("label"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = Tables.events(spark, src)
    val nEv = ev.agg(max("event_id")).head.getLong(0) + 1
    val nUsr = ev.agg(max("user_id")).head.getLong(0) + 1
    (0 until factor).map { k =>
      ev.select(
        (col("event_id") + lit(k * nEv)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * nUsr)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val li = Tables.lineitem(spark, src)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate")
    val b = li.agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
    val (nOrd, nPart, nSupp) =
      (b.getLong(0) + 1, b.getLong(1) + 1, b.getLong(2) + 1)
    (0 until factor).map { k =>
      if (k == 0) li
      else li.select(
        (col("l_orderkey") + lit(k * nOrd)).as("l_orderkey"),
        pmod(col("l_partkey") * 7919L + lit(k * 104729L),
          lit(nPart * factor)).as("l_partkey"),
        pmod(col("l_suppkey") * 6271L + lit(k * 15485863L),
          lit(nSupp * factor)).as("l_suppkey"),
        col("l_shipdate"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(s"""{"scalegen": "$out", "factor": $factor}""")
    spark.stop()
  }
}

/** Times the heavy operator family on two directories (1× and the
  * [[ScaleGen]] blow-up) and prints per-op medians and the wall-time
  * ratio, each through [[Bench.timed]].
  */
object ScaleBench {
  import graft.ops.{Dedup, Graphs, Similarity, SubstrDedup, Winnow}

  private def liGraphEdges(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(col("ps")).as("pb"))
      .filter(col("pa") < col("pb"))

  /** q_ktruss's exact input: the ≥2-co-occurrence subgraph. */
  private def liTrussEdges(li: DataFrame): DataFrame =
    liGraphEdges(li)
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2L)

  /** The graded heavy family, parameterized exactly like its graded
    * queries (same thresholds, k's, rounds).
    */
  def ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "minhash_pairs" -> ((s, d) =>
      Dedup.minHashLshPairs(Tables.documents(s, d), "doc_id", "text")),
    "minhash_bbit" -> ((s, d) =>
      Dedup.bbitMinwisePairs(Tables.documents(s, d), "doc_id", "text")),
    "simhash" -> ((s, d) =>
      Dedup.simHashes(Tables.documents(s, d), "doc_id", "text")),
    "substr_dedup" -> ((s, d) =>
      SubstrDedup.dupStats(Tables.documents(s, d), "doc_id", "text", k = 30)),
    "winnow_pairs" -> ((s, d) =>
      Winnow.overlapPairs(Tables.documents(s, d), "doc_id", "text",
        k = 3, w = 4, minShared = 2)),
    "triangles" -> ((s, d) =>
      Graphs.triangleCounts(liGraphEdges(Tables.lineitem(s, d)), "pa", "pb",
        broadcastAdjacency = true)),
    "ktruss" -> ((s, d) =>
      Graphs.kTrussPeel(liTrussEdges(Tables.lineitem(s, d)), "pa", "pb",
        k = 3, rounds = 2)),
    // q_ktruss's exact configuration (broadcastAdjacency on): the r11
    // call-site opt-in was bench-neutral at sf0.1 because AQE already
    // converts those small joins — this row is the scale evidence the
    // flag's contract rests on, measured against the shuffled "ktruss"
    // row above at 1× and 10×
    "ktruss_bcast" -> ((s, d) =>
      Graphs.kTrussPeel(liTrussEdges(Tables.lineitem(s, d)), "pa", "pb",
        k = 3, rounds = 2, broadcastAdjacency = true)),
    // the same peel WITHOUT the ≥2-co-occurrence cut — a graph 20×
    // the graded one, the stress row for the closure's scaling
    "ktruss_dense" -> ((s, d) =>
      Graphs.kTrussPeel(liGraphEdges(Tables.lineitem(s, d)), "pa", "pb",
        k = 3, rounds = 2)),
    "pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp_ntz"))
        .select((col("l_suppkey") * 2L + 1L).as("sn"),
          (col("l_partkey") * 2L).as("pn"))
      val edges = li.select(col("sn").as("src"), col("pn").as("dst"))
        .unionAll(li.select(col("pn").as("src"), col("sn").as("dst")))
      Graphs.integerPageRank(edges, "src", "dst", iters = 3)
    }),
    "ann_build" -> ((s, d) =>
      Similarity.buildIvfPqResidualIndex(
        Tables.embeddings(s, d)
          .select(col("vec_id").as("nid"), col("embedding").as("nv")),
        dim = 64).codes),
    // the amortized path: probe the persisted artifact (built once by
    // the first timed run, cached for the rest — the median prices
    // the probe)
    "ann_probe" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = graft.ops.AnnIndexStore.ensureIvfPqResidual(s,
        graft.ops.AnnIndexStore.cachePathFor(s"$d/embeddings.parquet",
          64, 4, 8, 16),
        e.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        dim = 64)
      Similarity.ivfPqResidualProbe(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        idx, k = 5, dim = 64)
    }))

  /** The cheapest heavy ops — the ones a second measured decade
    * (x100) is affordable for; one more point on the slope turns
    * "linear at 10×" into "linear across two decades".
    */
  val secondDecadeOps: Set[String] = Set("minhash_pairs", "pagerank", "ann_probe")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("/root/scaledata/x10")
    val huge = args.lift(2) // optional x100 dir → second slope decade
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = GraftSession.forHost()
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def time(fn: (SparkSession, String) => DataFrame, d: String): Double =
      BenchGuard.median(Seq.fill(runs)(Bench.timed(fn(spark, d))._1))
    // the Bench window-health sentinel (one shared definition, or the
    // two harnesses' ratios stop being comparable), applied to the
    // slope table too: the r9 triangles reading (4.46x in-sweep vs
    // 2.53x isolated) showed slopes inherit window degradation — each
    // op row carries the machine-health ratio at its measurement time
    // so a ratio taken in a degraded stretch is legible as such
    Bench.sentinelOnce(spark) // codegen warmup
    val sentinelBase = Bench.sentinel(spark)

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val rows = ops.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val sent = Bench.sentinel(spark) / sentinelBase
        val t1 = time(fn, base)
        val t10 = time(fn, big)
        val r = t10 / t1
        // the x100 decade: only the cheapest heavy ops, and the ratio
        // that matters is t100/t10 (another 10× step) — ≤ ~linear in
        // the second decade is the 100 TB evidence the x10 row alone
        // can't give
        val t100 = huge.filter(_ => secondDecadeOps.contains(name))
          .map(h => time(fn, h))
        val x100Json = t100.map(t =>
          f""","t100":$t%.2f,"ratio100":${t / t10}%.2f""").getOrElse("")
        println(f"""{"op":"$name","t1":$t1%.2f,"t10":$t10%.2f,""" +
          f""""ratio":$r%.2f,"sentinel":$sent%.2f$x100Json}""")
        (name, t1, t10, r, t100)
      }
    // constant arity: ops without an x100 measurement pad the two
    // second-decade cells so the Markdown table stays well-formed
    val table = rows.map { case (n, t1, t10, r, t100) =>
      val tail =
        if (huge.isEmpty) ""
        else t100.map(t => f" $t%.2f | ${t / t10}%.1f× |")
          .getOrElse(" - | - |")
      f"| $n | $t1%.2f | $t10%.2f | $r%.1f× |$tail"
    }.mkString("\n")
    println(table)

    // the continuous-ingest steady state, end to end, at both scales:
    // build once, then K (ingest micro-batch → probe) cycles through
    // an IndexHandle (each probe must see the vectors the previous
    // ingest appended), then compaction and the probe again — pricing
    // ingest cost, fragmented-probe cost, compaction, and
    // compacted-probe cost separately
    if (only.forall(_.contains("ingest_probe")))
      for (d <- Seq(base, big)) {
        val r = steadyState(spark, d)
        println(s"""{"op":"ingest_probe","dir":"$d",""" +
          f""""ingest_med":${r.ingestMed}%.2f,"probe_frag_med":${r.probeMed}%.2f,""" +
          f""""files_frag":${r.filesFrag},"compact_sec":${r.compactSec}%.2f,""" +
          f""""files_compact":${r.filesCompact},"probe_compacted":${r.probeCompacted}%.2f}""")
      }
    spark.stop()
  }

  final case class SteadyState(
      ingestMed: Double, probeMed: Double, filesFrag: Int,
      compactSec: Double, filesCompact: Int, probeCompacted: Double)

  /** K ingest→probe cycles against a fresh index built on the 80%
    * split, through [[graft.ops.AnnIndexStore.IndexHandle]] (every
    * probe asserts it sees the rows ingested so far), then
    * [[graft.ops.AnnIndexStore.compactCodes]] and one more probe.
    */
  def steadyState(
      spark: SparkSession, d: String, batches: Int = 8): SteadyState = {
    import graft.ops.{AnnIndexStore, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graft_steady")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    val e = Tables.embeddings(spark, d)
    val base = e.filter(col("vec_id") % 10 < 8)
      .select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val nBase = base.count()
    AnnIndexStore.save(
      Similarity.buildIvfPqResidualIndex(base, dim = 64), path)
    val handle = AnnIndexStore.openHandle(spark, path)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def probeOnce(): Double =
      Bench.timed(Similarity.ivfPqResidualProbe(q, handle.current(), k = 5, dim = 64))._1
    var ingests = List.empty[Double]
    var probes = List.empty[Double]
    var expected = nBase
    for (b <- 0 until batches) {
      val arr = e.filter(col("vec_id") % 10 >= 8 &&
          col("vec_id") % batches === b)
        .select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val nArr = arr.count()
      val t0 = System.nanoTime()
      AnnIndexStore.ingestVectorsBatch(spark, path, cp, b.toLong, arr,
        dim = 64)
      ingests ::= (System.nanoTime() - t0) / 1e9
      expected += nArr
      probes ::= probeOnce()
      val seen = handle.current().codes.count()
      require(seen == expected,
        s"probe $b saw $seen codes, expected $expected")
    }
    def nFiles: Int = {
      val p = new org.apache.hadoop.fs.Path(s"$path/codes")
      graft.sink.BatchCommit.dataFiles(
        p.getFileSystem(spark.sessionState.newHadoopConf()), p).size
    }
    val filesFrag = nFiles
    val t0 = System.nanoTime()
    graft.ops.AnnIndexStore.compactCodes(spark, path, Some(cp))
    val compactSec = (System.nanoTime() - t0) / 1e9
    val probeCompacted = BenchGuard.median(Seq.fill(3)(probeOnce()))
    require(handle.current().codes.count() == expected,
      "compaction changed the code row count")
    val filesAfter = nFiles
    // every measurement is done — reclaim the per-run index copy so
    // repeated steady-state runs don't accumulate tmp disk
    val rootP = new org.apache.hadoop.fs.Path(dir.toString)
    rootP.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(rootP, true)
    SteadyState(BenchGuard.median(ingests), BenchGuard.median(probes), filesFrag,
      compactSec, filesAfter, probeCompacted)
  }
}

/** Measures the [[graft.plans.PrefixScanRewrite]] trade on a 30M-row
  * global row_number so the numbers quoted in PLANS.md are
  * reproducible. One session; the rule's size gate
  * (`PrefixScanRewrite.MinBytesKey`) is set to `Long.MaxValue` for the
  * plain side and to 0 for the rewrite side. Each side is warmed
  * (codegen/JIT) and timed as a 3-run minimum through [[Bench.timed]].
  * Fails with a non-zero exit unless the rule fires on the rewrite
  * side only (checked before any timing), and unless the rewrite stays
  * under 3× the plain window.
  * Correctness of the rewrite is PrefixRewriteSpec's.
  *
  * Usage: runMain graft.PrefixRewriteBench
  */
object PrefixRewriteBench {
  import graft.plans.PrefixScanRewrite

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.forHost()
    val q = "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM big"
    spark.range(30000000L).selectExpr("id", "hash(id) AS k").createOrReplaceTempView("big")
    def gate[A](minBytes: Long)(body: => A): A = {
      spark.conf.set(PrefixScanRewrite.MinBytesKey, minBytes)
      body
    }
    def fires: Boolean =
      spark.sql(q).queryExecution.optimizedPlan.toString.contains("__pfx_pid")
    def bestOf3: Double = {
      Bench.timed(spark.sql(q)) // warm codegen
      Seq.fill(3)(Bench.timed(spark.sql(q))._1).min
    }
    try {
      val (firedPlain, firedRewrite) = (gate(Long.MaxValue)(fires), gate(0L)(fires))
      require(firedRewrite && !firedPlain,
        s"rule fired on the rewrite side: $firedRewrite, on the plain side: $firedPlain")
      val plain = gate(Long.MaxValue)(bestOf3)
      val rewritten = gate(0L)(bestOf3)
      println(f"[prefix] rewritten: $rewritten%.2f s, single-task window: $plain%.2f s")
      // parity bound, not a win bound: at local scale the single task
      // still fits one core's memory bandwidth, while the rewrite pays
      // two extra full exchanges — its value is that the plan SURVIVES
      // sizes where one task cannot. Guard against the rewrite being
      // catastrophically slower.
      require(rewritten < plain * 3.0, f"rewrite pathological: $rewritten%.2f vs $plain%.2f")
    } finally spark.stop()
  }
}
