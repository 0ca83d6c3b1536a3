package perfbench

import java.io.File
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.jobs.{ChunkedEtl, EtlJob}
import graft.sink.{ParquetSnapshotSink, SnapshotSink, SnapshotWriter}
import graft.source.github.GithubSource
import graft.transform.GithubTransform

/** The GitHub API server process and its request tallies. The process
  * starts with the object; `url` waits until it listens, so its start
  * overlaps whatever runs in between.
  */
final class MockServer(ctx: Ctx, corpus: Corpus) extends AutoCloseable {
  private val proc = new ProcessBuilder(
    ProcessHandle.current.info.command.orElse("java"),
    "-Xmx512m", "-XX:+UseSerialGC", "-Dsun.net.httpserver.nodelay=true",
    "-cp", System.getProperty("java.class.path"), "perfbench.LoadGen",
    corpus.seed.toString, corpus.repos.toString, corpus.prsPerRepo.toString,
    ctx.cores.toString, s"${ctx.runDir}/requests.tsv")
    .redirectError(new File(s"${ctx.runDir}/loadgen.err"))
    .start()
  private lazy val port: Int = {
    val line = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream)).readLine()
    require(line != null && line.startsWith("PORT "), s"load generator failed to start: $line")
    line.drop(5).trim.toInt
  }
  lazy val url: String = s"http://127.0.0.1:$port"

  /** Totals per endpoint class since start, plus the request window
    * since the previous call: (class -> (requests, limited, bytes,
    * service_ns), windowStartUs, windowEndUs).
    */
  def stats(): (Map[String, Seq[Long]], Long, Long) = {
    val body = scala.io.Source.fromURL(s"$url/_stats").mkString
    val classes = LoadGen.Classes.map { c =>
      val m = s""""$c": \\{"requests": (\\d+), "limited": (\\d+), "bytes": (\\d+), "service_ns": (\\d+)\\}""".r
        .findFirstMatchIn(body).get
      c -> (1 to 4).map(i => m.group(i).toLong)
    }.toMap
    def num(k: String) = s""""$k": (-?\\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
    (classes, num("window_start_us"), num("window_end_us"))
  }

  override def close(): Unit = {
    proc.getOutputStream.close() // EOF on the server's stdin stops it
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}

/** `SnapshotSink` decorator recording a span around each sink call,
  * and the chunk spans between them. ChunkedEtl extracts a page,
  * transforms it and appends its four tables, so a chunk runs from the
  * end of the previous chunk (or of the delete) to the end of its last
  * append; the part before its first append is the page's extraction.
  */
final class TimingSink(inner: SnapshotSink, tracer: Tracer) extends SnapshotSink {
  private var mark = System.nanoTime()
  private val appends = mutable.ArrayBuffer.empty[(Long, Long)]
  val chunkSeconds = mutable.ArrayBuffer.empty[Double]

  override def exists(repo: String, d: Date): Boolean = tracer("sink.exists")(inner.exists(repo, d))
  override def deleteSnapshot(repo: String, d: Date): Unit = {
    tracer("sink.delete")(inner.deleteSnapshot(repo, d))
    mark = System.nanoTime()
  }
  override def writeSnapshot(t: GithubTransform.GithubTables, skipIfEmpty: Boolean): Unit =
    inner.writeSnapshot(t, skipIfEmpty)
  override def append(table: String, df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    inner.append(table, df)
    appends += ((t0, System.nanoTime()))
    if (appends.size == SnapshotWriter.TableNames.size) {
      val end = appends.last._2
      val chunk = tracer.record("chunk", tracer.current, mark, end)
      tracer.record("source.extract", chunk, mark, appends.head._1)
      appends.foreach { case (a, b) => tracer.record("sink.append", chunk, a, b) }
      chunkSeconds += (end - mark) / 1e9
      appends.clear()
      mark = end
    }
  }
  override def finalizeSnapshot(repo: String, d: Date): Unit =
    tracer("sink.finalize")(inner.finalizeSnapshot(repo, d))
}

/** `etl_chunked` and `etl_dsv2`: closed-loop passes of `EtlJob.run`,
  * each a fresh load into an empty output root and then an idempotent
  * rerun over the snapshot it wrote. Set-up ends with an untimed
  * `EtlJob.run` over the corpus's small warm-up repo into its own
  * output root, so the timed loads run warm. The traced chunked run
  * calls `ChunkedEtl.run` per repo, the same path EtlJob takes, with a
  * [[TimingSink]] so the sink layer can be timed; the traced DSv2 run
  * calls `EtlJob.run` and takes its sink figures from the listener.
  */
object EtlWorkload {
  /** Files whose jobs and SQL executions are the sink's. */
  val SinkFiles = Seq("SnapshotWriter.scala", "SnapshotSink.scala", "BatchCommit.scala")

  /** (repos, PRs per repo, a pass's nominal seconds on 4 cores). Neither
    * size depends on `--cores`, so a `local[1]` run loads the same
    * corpus. Chunked: two pages, so two chunks of four appends, then the
    * finalize compaction. DSv2: one input partition per repo.
    */
  def shape(ctx: Ctx): (Int, Int, Double) =
    if (ctx.workload == "etl_dsv2") (4, 100, 10.0) else (1, 120, 10.0)

  final case class Load(seconds: Double, requests: Map[String, Seq[Long]], windowS: Double)

  def run(ctx: Ctx): Map[String, Any] = {
    val dsv2 = ctx.workload == "etl_dsv2"
    val (repoN, prsPerRepo, nominalS) = shape(ctx)
    val corpus = new Corpus(ctx.seed, repoN, prsPerRepo)
    val repos = (0 until corpus.repos).map(corpus.repoName)
    val server = new MockServer(ctx, corpus)
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (ctx.trace) Some(new Counters(spark.sparkContext)) else None
    val tracer = new Tracer(ctx.trace, s"${ctx.workload}-${ctx.seed}")
    val sessionS = (System.currentTimeMillis() - ctx.launchedMs) / 1e3
    server.url
    val mockS = (System.currentTimeMillis() - ctx.launchedMs) / 1e3 - sessionS
    try {
      val expectedRows = repos.indices.map(r => repos(r) -> corpus.expectedRows(r)).toMap
      val failures = mutable.ArrayBuffer.empty[String]
      var attempted = 0

      def check(what: String)(ok: Boolean): Unit = {
        attempted += 1
        if (!ok) failures += what
      }

      def opts = GithubSource.Options(apiUrl = server.url)
      def env(dir: String, repoList: Seq[String]): Map[String, String] = Map(
        "GITHUB_REPOS" -> repoList.mkString(","), "GRAFT_OUTPUT_DIR" -> dir,
        "GITHUB_API_URL" -> server.url) +
        (if (dsv2) "GRAFT_USE_DSV2" -> "1" else "GRAFT_CHUNKED" -> "1")

      val chunkSeconds = mutable.ArrayBuffer.empty[Double]
      def etl(dir: String): Load = {
        val (c0, _, _) = server.stats()
        val t0 = System.nanoTime()
        if (ctx.trace && !dsv2) {
          // EtlJob's chunked loop, with a timing sink
          val sink = new TimingSink(new ParquetSnapshotSink(spark, dir), tracer)
          val date = Date.valueOf(LocalDate.now(java.time.ZoneOffset.UTC))
          repos.foreach { repo =>
            sink.exists(repo, date)
            tracer("jobs.chunked_etl")(ChunkedEtl.run(spark, repo, opts, sink, date))
          }
          chunkSeconds ++= sink.chunkSeconds
        } else EtlJob.run(env(dir, repos), Some(spark))
        val seconds = (System.nanoTime() - t0) / 1e9
        val (c1, w0, w1) = server.stats()
        Load(seconds, c1.map { case (k, v) => k -> v.zip(c0(k)).map { case (a, b) => a - b } },
          if (w1 > w0) (w1 - w0) / 1e6 else 0.0)
      }

      /** The snapshot a load wrote (EtlJob stamps the current UTC date,
        * so the date is read from the partition directory, not
        * predicted): per table, per repo, rows and a content digest
        * without the date. One aggregate job per table.
        */
      def readBack(dir: String): Map[String, Map[String, (Long, String)]] =
        SnapshotWriter.TableNames.map { table =>
          val dates = Option(new File(s"$dir/$table").listFiles).getOrElse(Array.empty[File])
            .map(_.getName).filter(_.startsWith("snapshot_date=")).map(_.drop(14))
          table -> (if (dates.length != 1) Map(s"${dates.length} snapshot dates" -> (0L, ""))
          else Digest.renderBy(spark.read.parquet(s"$dir/$table")
            .where(col("snapshot_date") === dates.head).drop("snapshot_date"), "target_repository"))
        }.toMap

      def rowsOk(got: Map[String, Map[String, (Long, String)]]): Boolean =
        SnapshotWriter.TableNames.forall(t =>
          got(t).map { case (r, (n, _)) => r -> n } == repos.map(r => r -> expectedRows(r)(t)).toMap)

      // the JVM's first ETL call costs seconds of class loading and code
      // generation: make it here, untimed, over the warm-up repo
      EtlJob.run(env(s"${ctx.runDir}/warmup", Seq(corpus.repoName(corpus.warmRepo))), Some(spark))
      val setupS = (System.currentTimeMillis() - ctx.launchedMs) / 1e3

      val tmp0 = Main.fileCount(new File(sys.props("java.io.tmpdir")))
      val loads = mutable.ArrayBuffer.empty[Load]
      val reruns = mutable.ArrayBuffer.empty[Load]
      val passSeconds = mutable.ArrayBuffer.empty[Double]
      val passSnaps = mutable.ArrayBuffer.empty[Snap]
      val files = mutable.ArrayBuffer.empty[Long]
      val loadedContent = mutable.ArrayBuffer.empty[Map[String, Map[String, (Long, String)]]]
      val gc0 = Jvm.gcMs()
      for (_ <- 1 to Main.passes(ctx.seconds, nominalS)) {
        val pass = passSeconds.size + 1
        val dir = s"${ctx.runDir}/out/pass-$pass"
        val s0 = counters.map(_.snap()).getOrElse(Snap())
        val (load, loaded, rerun) = tracer("etl_pass") {
          val l = tracer("load")(etl(dir))
          val got = tracer("verify")(readBack(dir))
          files += Main.fileCount(new File(dir))
          (l, got, tracer("rerun")(etl(dir)))
        }
        passSeconds += load.seconds + rerun.seconds
        passSnaps += counters.map(_.snap() - s0).getOrElse(Snap())
        loads += load
        reruns += rerun
        val reread = readBack(dir)
        check(s"pass $pass: rows per repo after the load")(rowsOk(loaded))
        check(s"pass $pass: the rerun changed the snapshot")(reread == loaded)
        loadedContent += loaded
      }
      // GithubTransform applied to the generator's own documents (after
      // the passes, so it cannot warm the timed path): both ETL paths are
      // held to it, so chunked and DSv2 write the same content
      val reference = {
        import spark.implicits._
        val date = Date.valueOf("2000-01-01")
        repos.indices.map { r =>
          val docs = corpus.prs(r).map(corpus.enrichedJson).toSeq
          val t = GithubTransform(spark.read.schema(graft.model.GithubSchemas.rawPullRequest)
            .json(docs.toDS), repos(r), date)
          Seq(t.pullRequests, t.commits, t.reviewers, t.comments).map(_.drop("snapshot_date"))
        }.transpose.map(_.reduce(_ union _)).zip(SnapshotWriter.TableNames)
          .map { case (df, n) => n -> Digest.renderBy(df, "target_repository") }.toMap
      }
      check("the load's content differs from GithubTransform over the generator's documents")(
        loadedContent.forall(_ == reference))
      val passes = passSeconds.size.toDouble
      val gcS = (Jvm.gcMs() - gc0) / 1e3

      // traced run only: the transform alone, over one load's raw
      // documents, written to the no-op sink
      val (transformS, transformRows) =
        if (!ctx.trace) (0.0, 0L)
        else {
          import spark.implicits._
          val date = Date.valueOf(LocalDate.now(java.time.ZoneOffset.UTC))
          val raw = repos.map(r => r -> GithubSource.fetchRaw(r, opts))
          tracer("transform") {
            val t = System.nanoTime()
            for ((repo, docs) <- raw) {
              val tables = GithubTransform(spark.read.schema(graft.model.GithubSchemas.rawPullRequest)
                .json(docs.toDS), repo, date)
              Seq(tables.pullRequests, tables.commits, tables.reviewers, tables.comments)
                .foreach(_.write.format("noop").mode("overwrite").save())
            }
            ((System.nanoTime() - t) / 1e9, loadedContent.head.values.map(_.values.map(_._1).sum).sum)
          }
        }

      val prRows = expectedRows.values.map(_("pull_requests")).sum.toDouble
      def perLoad(f: Load => Double): Double = loads.map(f).sum / loads.size
      def reqs(l: Load, cls: String): Double = l.requests(cls).head.toDouble
      val spans = tracer.totalSeconds
      def spanPerPass(name: String) = spans.getOrElse(name, 0.0) / passes
      val snap = passSnaps.foldLeft(Snap())(_ + _)
      val layers = Map[String, Double](
        "etl.rerun_prs_per_s" -> prRows / Stats.median(reruns.map(_.seconds).toSeq),
        "etl.requests_per_pr" -> perLoad(l => l.requests.values.map(_.head).sum.toDouble) / prRows,
        "source.requests" -> perLoad(l => l.requests.values.map(_.head).sum.toDouble),
        "source.retries" -> perLoad(l => l.requests.values.map(_(1)).sum.toDouble),
        "source.response_mb" -> perLoad(l => l.requests.values.map(_(2)).sum / 1e6),
        "source.extract_s" -> (if (dsv2) perLoad(_.windowS) else spanPerPass("source.extract") / 2),
        "mock.service_s" -> perLoad(l => l.requests.values.map(_(3)).sum / 1e9),
        "transform.s" -> transformS,
        "transform.rows_out" -> transformRows.toDouble,
        "sink.delete_s" -> spanPerPass("sink.delete"),
        "sink.append_s" -> spanPerPass("sink.append"),
        "sink.finalize_s" -> spanPerPass("sink.finalize"),
        // DSv2: EtlJob's one writeSnapshot, as the listener saw its SQL
        // executions; the first includes the extraction that fills the
        // persisted source
        "sink.write_s" -> (if (dsv2) SinkFiles.map(snap.sqlSecondsIn).sum / passes else 0.0),
        "sink.jobs" -> SinkFiles.map(snap.jobsIn).sum / passes,
        "sink.files_written" -> files.sum / passes,
        "sink.bytes_written_mb" -> snap.bytesWritten / 1e6 / passes,
        "jobs.chunks" -> (if (dsv2) 0.0 else chunkSeconds.size / passes / 2),
        "jobs.chunk_p50_s" -> (if (chunkSeconds.isEmpty) 0.0 else Stats.median(chunkSeconds.toSeq)),
        "jvm.gc_s" -> gcS / passes,
        "jvm.peak_rss_mb" -> Jvm.peakRssMb(),
        "state.tmp_files_left" ->
          (Main.fileCount(new File(sys.props("java.io.tmpdir"))) - tmp0).toDouble) ++
        LoadGen.Classes.filter(_ != "other").map(c => s"source.requests.$c" -> perLoad(reqs(_, c)))
      if (ctx.trace) tracer.write(s"${ctx.runDir}/spans.jsonl")
      Map(
        "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
        "e2e" -> Map(
          "setup_s" -> setupS,
          "pass_s" -> Stats.median(passSeconds.toSeq),
          "items_per_s" -> prRows / Stats.median(loads.map(_.seconds).toSeq)),
        "layers" -> layers,
        "info" -> Map(
          "setup_phases_s" -> Map("jvm+session" -> sessionS, "mock" -> mockS,
            "warm-up etl" -> (setupS - sessionS - mockS)),
          "passes" -> passes, "ops" -> (loads.size + reruns.size),
          "self_s" -> tracer.selfSeconds, "jobs_by_file" -> snap.jobsByFile,
          "load_s" -> loads.map(_.seconds).toSeq, "rerun_s" -> reruns.map(_.seconds).toSeq))
    } finally server.close()
  }
}
