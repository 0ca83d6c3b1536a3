package perfbench

import java.io.File

import scala.collection.mutable

/** `query_sweep` and `query_iterative`: closed-loop passes over a query
  * list with one client, the session cache cleared at every query
  * boundary as `graft.Bench` does. Each query's digest is checked
  * against queries.json, the expected-digest table of every registered
  * query over the fixed data set.
  */
object QueryWorkload {
  /** One query per `SweepStride` registered queries. */
  val SweepStride = 42

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = Main.session(ctx, s"local[${ctx.cores}]")
    val counters = if (ctx.trace) Some(new Counters(spark.sparkContext)) else None
    val tracer = new Tracer(ctx.trace, s"${ctx.workload}-${ctx.seed}")
    val table = Main.readQueryTable(s"${ctx.benchDir}/queries.json")
    val registered = graft.SparkEntry.queries
    val list =
      if (ctx.workload == "query_sweep")
        Queries.sweepSample(table.toSeq.map { case (n, (_, c)) => n -> c }, SweepStride)
      else new scala.util.Random(ctx.seed).shuffle(Queries.Iterative)

    // set-up: the first Spark job of a JVM costs seconds whatever it
    // does. ANN artifacts are not prebuilt: java.io.tmpdir is empty in
    // every run, so a probe query builds its artifact on its first call,
    // the same way in every run
    val sessionS = (System.currentTimeMillis() - ctx.launchedMs) / 1e3
    spark.range(0, 1000, 1, ctx.cores).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - ctx.launchedMs) / 1e3

    val tmpDir = new File(sys.props("java.io.tmpdir"))
    val tmp0 = Main.fileCount(tmpDir)
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val gc0 = Jvm.gcMs()
    for (_ <- 1 to Main.passes(ctx.seconds, if (ctx.workload == "query_sweep") 20.0 else 45.0)) {
      val p0 = System.nanoTime()
      tracer("pass") {
        for (name <- list) {
          val r = Queries.run(spark, ctx.dataDir, name, registered(name), counters, tracer)
          runs += r
          val expected = table.get(name).map(_._1)
          if (r.error.nonEmpty || !expected.contains(r.digest))
            failures += s"$name: ${r.error.getOrElse(s"digest ${r.digest}, expected ${expected.getOrElse("none")}")}"
        }
      }
      passSeconds += (System.nanoTime() - p0) / 1e9
    }
    val gcS = (Jvm.gcMs() - gc0) / 1e3
    val n = runs.size.toDouble
    val build = runs.map(_.buildSnap).foldLeft(Snap())(_ + _)
    val exec = runs.map(_.execSnap).foldLeft(Snap())(_ + _)
    val both = build + exec
    val execS = runs.map(_.exec).sum
    val latencies = runs.map(_.latency).toSeq
    val layers = Map[String, Double](
      "tables.infer_jobs" -> both.jobsIn("Tables.scala") / n,
      "build.s" -> runs.map(_.build).sum / n,
      "build.jobs" -> build.jobs / n,
      "plan.s" -> runs.map(_.plan).sum / n,
      "codegen.compile_s" -> both.compileNs / 1e9 / n,
      "codegen.compiles" -> both.compiles / n,
      "exec.s" -> execS / n,
      "exec.jobs" -> exec.jobs / n,
      "exec.stages" -> exec.stages / n,
      "exec.tasks" -> exec.tasks / n,
      "exec.stage_p50_ms" -> Stats.median(exec.stageMs.map(_.toDouble)),
      "exec.executor_run_s" -> exec.runNs / 1e9 / n,
      "exec.executor_cpu_s" -> exec.cpuNs / 1e9 / n,
      "exec.slot_util" -> (if (execS > 0) exec.runNs / 1e9 / (execS * ctx.cores) else 0.0),
      "exec.shuffle_read_mb" -> exec.shuffleRead / 1e6 / n,
      "exec.shuffle_write_mb" -> exec.shuffleWrite / 1e6 / n,
      "exec.spill_mb" -> exec.spill / 1e6 / n,
      "cache.entries_at_boundary" -> runs.map(_.cacheEntries).sum / n,
      "state.tmp_files_left" -> (Main.fileCount(tmpDir) - tmp0).toDouble,
      "jvm.gc_s" -> gcS / passSeconds.size,
      "jvm.peak_rss_mb" -> Jvm.peakRssMb())
    if (ctx.trace) tracer.write(s"${ctx.runDir}/spans.jsonl")
    Map(
      "attempted" -> runs.size, "failed" -> failures.size, "failures" -> failures.toSeq,
      "e2e" -> Map(
        "setup_s" -> setupS,
        "pass_s" -> Stats.median(passSeconds.toSeq),
        // per-query view: at the geometric mean of the latencies every
        // query weighs the same, where pass_s is mostly the long ones
        "items_per_s" -> 1 / math.exp(latencies.map(math.log).sum / latencies.size)),
      "layers" -> layers,
      "info" -> Map(
        "setup_phases_s" -> Map("jvm+session" -> sessionS, "first job" -> (setupS - sessionS)),
        "queries" -> list, "passes" -> passSeconds.size, "ops" -> latencies.size,
        "self_s" -> tracer.selfSeconds, "jobs_by_file" -> both.jobsByFile,
        "latency_s" -> runs.map(r => r.name -> r.latency).toMap))
  }
}
