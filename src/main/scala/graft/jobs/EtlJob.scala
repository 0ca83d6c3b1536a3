package graft.jobs

import java.sql.Date
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.source.github.{GithubAuth, GithubDataSource, GithubSource}
import graft.sink.{BigQuerySnapshotSink, HttpBigQueryTransport, NdjsonSnapshotSink,
  ParquetSnapshotSink, SnapshotSink}
import graft.transform.GithubTransform

/** Full ETL run reproducing the reference's `_main()` contract
  * (main.py:746-904): env-driven config, run-scoped
  * snapshot date, fail-fast error taxonomy (config error → exit 1;
  * API error → propagated job abort).
  *
  * Env contract (X6):
  *  - `GITHUB_REPOS` (required): comma-separated, trimmed;
  *  - `GRAFT_OUTPUT_DIR` (required): snapshot table root (the local /
  *    object-store stand-in for the reference's BigQuery dataset);
  *  - `GITHUB_APP_ID` + `GITHUB_PRIVATE_KEY` (optional; warn when
  *    absent and proceed unauthenticated, main.py:774-778);
  *  - `GITHUB_API_URL` (optional override, main.py:799-801);
  *  - `GITHUB_TOKEN` (optional pre-minted token, test convenience).
  *
  * Modes: by default every repo is extracted in one DataSource V2 scan
  * (one input partition per repo) and written in one pass;
  * `GRAFT_CHUNKED=1` runs the reference's bounded-memory page loop
  * per repo ([[ChunkedEtl]]); `GRAFT_STREAMING=1` runs that loop as a
  * checkpointed Structured Streaming query ([[StreamingEtl]]).
  */
object EtlJob {

  def main(args: Array[String]): Unit =
    try run(sys.env)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"Configuration error: ${e.getMessage}")
        sys.exit(1)
    }

  /** `bqTransport` injects the warehouse transport for tests (the
    * same recorded-request seam the sink spec uses); production runs
    * leave it None and get the real HTTP client.
    */
  def run(
      env: Map[String, String],
      sparkOpt: Option[SparkSession] = None,
      bqTransport: Option[graft.sink.BigQueryTransport] = None): Unit = {
    val repos = env.getOrElse("GITHUB_REPOS",
      throw new IllegalArgumentException("GITHUB_REPOS environment variable is required"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    if (repos.isEmpty)
      throw new IllegalArgumentException("GITHUB_REPOS contains no repositories")
    val outDir = env.getOrElse("GRAFT_OUTPUT_DIR",
      throw new IllegalArgumentException("GRAFT_OUTPUT_DIR environment variable is required"))

    val appId = env.get("GITHUB_APP_ID")
    val pem = env.get("GITHUB_PRIVATE_KEY").map(GithubAuth.normalizePem)
    if (appId.isEmpty || pem.isEmpty)
      System.err.println(
        "WARNING: GITHUB_APP_ID/GITHUB_PRIVATE_KEY not set; proceeding without App auth")

    val opts = GithubSource.Options(
      apiUrl = env.getOrElse("GITHUB_API_URL", "https://api.github.com"),
      appId = appId,
      privateKeyPem = pem,
      token = env.get("GITHUB_TOKEN"))

    val spark = sparkOpt.getOrElse(graft.GraftSession.forHost(sys.env.get("SPARK_MASTER")))
    spark.sparkContext.setLogLevel("WARN")

    // one snapshot date per run, computed up front so a run crossing
    // midnight stays consistent (main.py:827, 700-702)
    val snapshotDate = Date.valueOf(LocalDate.now(ZoneOffset.UTC))

    // pluggable destination (X6): GRAFT_SINK=ndjson selects the
    // BigQuery-wire-shaped file sink; GRAFT_SINK=bigquery the REST
    // adapter against the reference's actual warehouse
    // (GRAFT_BQ_PROJECT/GRAFT_BQ_DATASET required, GRAFT_BQ_TOKEN
    // optional bearer auth). GRAFT_EMULATOR_HOST flips either to
    // streaming inserts and points the REST adapter at the emulator,
    // mirroring BIGQUERY_EMULATOR_HOST (main.py:805-814).
    // GRAFT_SINK=orc selects the ORC file lake (same lifecycle as
    // parquet). Default is the parquet lake.
    val sink: SnapshotSink = env.get("GRAFT_SINK") match {
      case Some("ndjson") => new NdjsonSnapshotSink(spark, outDir,
        streamingInserts = env.contains("GRAFT_EMULATOR_HOST"))
      case Some("bigquery") =>
        def required(k: String): String = env.getOrElse(k,
          throw new IllegalArgumentException(s"$k is required for GRAFT_SINK=bigquery"))
        val emulator = env.get("GRAFT_EMULATOR_HOST")
        new BigQuerySnapshotSink(
          spark,
          bqTransport.getOrElse(new HttpBigQueryTransport(env.get("GRAFT_BQ_TOKEN"))),
          required("GRAFT_BQ_PROJECT"),
          required("GRAFT_BQ_DATASET"),
          apiBase = emulator.map(h => s"http://$h/bigquery/v2")
            .getOrElse("https://bigquery.googleapis.com/bigquery/v2"),
          uploadBase = emulator.map(h => s"http://$h/upload/bigquery/v2")
            .getOrElse("https://bigquery.googleapis.com/upload/bigquery/v2"),
          streamingInserts = emulator.nonEmpty)
      case Some("orc") => new graft.sink.OrcSnapshotSink(spark, outDir)
      case Some(other) if other != "parquet" =>
        throw new IllegalArgumentException(s"unknown GRAFT_SINK '$other'")
      case _ => new ParquetSnapshotSink(spark, outDir)
    }

    if (env.get("GRAFT_STREAMING").contains("1")) {
      // streaming mode: the chunk loop as a checkpointed micro-batch
      // query — resume-on-restart, optional per-trigger page cap
      // (GRAFT_MAX_PAGES_PER_TRIGGER) for rate-limit backpressure
      val checkpoint = env.getOrElse("GRAFT_CHECKPOINT_DIR",
        s"$outDir/_checkpoints/etl")
      // snapshotDate here is a PROPOSAL: a resumed run keeps the date
      // pinned in its checkpoint (so a crash+resume across UTC
      // midnight doesn't split one snapshot over two partitions)
      val stats = StreamingEtl.run(
        spark, repos.toSeq, opts, sink, snapshotDate, checkpoint,
        env.get("GRAFT_MAX_PAGES_PER_TRIGGER").flatMap(_.toIntOption))
      println(s"[etl] ${repos.length} repos via streaming: wrote snapshot " +
        s"${stats.snapshotDate} (${stats.batches} micro-batches, ${stats.rows} PRs)")
      return
    }

    // informational probe, once per repo before any delete
    // (main.py:833-839); the deletes below make the run idempotent
    for (repo <- repos if sink.exists(repo, snapshotDate))
      println(s"[etl] snapshot ($snapshotDate, $repo) exists; overwriting partitions")

    if (env.get("GRAFT_CHUNKED").contains("1")) {
      // reference-faithful bounded-memory mode: extract page →
      // transform → append, one chunk at a time (main.py:871-898)
      for (repo <- repos) {
        val stats = ChunkedEtl.run(spark, repo, opts, sink, snapshotDate)
        println(s"[etl] $repo: wrote snapshot $snapshotDate " +
          s"(${stats.chunks} chunks, ${stats.prs} PRs)")
      }
      return
    }

    // default: all repos in one distributed read (one input partition
    // per repo), transformed in a single pass keyed by the repo column.
    // Persist the parsed rows BEFORE fanning out into four table
    // writes: the first write action fills the cache (one API
    // extraction), the other three reuse it. Without this each write
    // would re-run the full pagination + enrichment — four
    // extractions, each seeing a different API state, i.e. a mutually
    // inconsistent snapshot.
    val typed = GithubDataSource.typedDocs(spark.read.format("github")
      .options(GithubDataSource.encodeOptions(opts))
      .option("repos", repos.mkString(","))
      .load())
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val t = GithubTransform.applyMulti(typed, snapshotDate)
      // one shuffle keyed by the write partitioning → exactly one file
      // per (date, repo) partition at write time; no post-hoc
      // compaction pass (which would be |repos|×4 driver-serial jobs
      // re-reading data this job just wrote)
      def onePerPartition(df: DataFrame) =
        df.repartition(col("snapshot_date"), col("target_repository"))
      val tables = GithubTransform.GithubTables(
        onePerPartition(t.pullRequests), onePerPartition(t.commits),
        onePerPartition(t.reviewers), onePerPartition(t.comments))
      // explicit up-front delete (K1): dynamic overwrite alone can't
      // clear a partition for a table whose new frame is empty, which
      // would leave stale rows on rerun
      repos.foreach(r => sink.deleteSnapshot(r, snapshotDate))
      // skipIfEmpty=false: no per-table isEmpty action on this path
      sink.writeSnapshot(tables, skipIfEmpty = false)
      println(s"[etl] ${repos.length} repos: wrote snapshot $snapshotDate")
    } finally typed.unpersist()
  }
}
