package graft.jobs

import java.nio.charset.StandardCharsets
import java.sql.Date

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sink.SnapshotSink
import graft.source.github.{GithubDataSource, GithubSource}
import graft.transform.GithubTransform

/** Streaming ETL: the reference's chunk loop (main.py:871-898)
  * expressed as a Structured Streaming query over the micro-batch
  * GitHub source — each micro-batch of PR pages is parsed,
  * transformed, and appended to the snapshot through `foreachBatch`,
  * with the page cursor checkpointed so a crashed or stopped run
  * resumes mid-scan instead of starting over (the capability the
  * hand-rolled loop never had).
  *
  * Write semantics mirror [[ChunkedEtl]] (and the reference): one
  * up-front partition DELETE for this run's (snapshot_date, repo)
  * pairs, then per-micro-batch appends. The delete runs ONLY on a
  * fresh run — a resumed run must keep the batches it already
  * appended — which is exactly why the appends themselves must be
  * exactly-once: the reference re-runs a crashed load whole and
  * re-enters the delete-first gate (main.py:833-839), so it can never
  * duplicate; a streaming resume deliberately SKIPS the delete, and
  * Spark writes `offsets/N` before executing batch N, so a crash
  * after the append but before `commits/N` replays the batch. Each
  * batch therefore goes through [[graft.sink.SnapshotSink.appendBatch]]
  * (the staged batchId-keyed publish of [[graft.sink.BatchCommit]])
  * and is skipped outright when its
  * `<checkpoint>/_graft_appends/<batchId>` marker says it already
  * landed — crash-replay converges to the same file set
  * (spec: "crash-replayed micro-batch appends no duplicate rows").
  *
  * Two resume-path invariants (both were silent-data-loss bugs when
  * this was gated on `java.nio.file.Files.exists(checkpointDir)`):
  *
  *  - '''Fresh-run detection goes through Hadoop's FileSystem''' and
  *    tests for entries in the checkpoint's `offsets/` write-ahead
  *    log, not the bare directory. `checkpointLocation` is any
  *    Hadoop path (HDFS/S3/local); with a non-local URI every
  *    restart used to look "fresh" and re-ran the delete, wiping
  *    batches the interrupted run had already appended. Conversely an
  *    operator-pre-created empty local dir used to skip the delete
  *    and leave stale same-date rows in the new snapshot. Spark
  *    writes `offsets/N` before executing batch N, so "any offsets
  *    entry exists" is exactly "an append may already have happened".
  *
  *  - '''The run's snapshot date is pinned in the checkpoint.''' The
  *    caller proposes `snapshotDate` (computed from the wall clock,
  *    main.py:827); a fresh run persists it to
  *    `<checkpoint>/_graft_snapshot_date` and a resume reads it back,
  *    ignoring the proposal. Without this, a run that crashed and was
  *    resumed after UTC midnight continued from the checkpointed page
  *    cursor but appended the remaining pages under the NEXT day's
  *    date — one logical snapshot split across two partitions, both
  *    incomplete. The effective date is returned in [[StreamStats]].
  */
object StreamingEtl extends org.apache.spark.internal.Logging {

  final case class StreamStats(batches: Long, rows: Long, snapshotDate: Date)

  private val DateFileName = "_graft_snapshot_date"

  def run(
      spark: SparkSession,
      repos: Seq[String],
      opts: GithubSource.Options,
      sink: SnapshotSink,
      snapshotDate: Date,
      checkpointDir: String,
      maxPagesPerTrigger: Option[Int] = None): StreamStats = {

    val cpPath = new Path(checkpointDir)
    val fs = cpPath.getFileSystem(spark.sessionState.newHadoopConf())
    val offsetsPath = new Path(cpPath, "offsets")
    val freshRun = !fs.exists(offsetsPath) ||
      !fs.listStatus(offsetsPath).exists(_.isFile)

    val datePath = new Path(cpPath, DateFileName)
    val effectiveDate: Date =
      if (freshRun) {
        repos.foreach(r => sink.deleteSnapshot(r, snapshotDate))
        // pin the date AFTER the delete: a crash in between re-enters
        // the fresh branch next run (offsets still empty — nothing was
        // appended yet), which re-deletes and re-pins harmlessly
        val out = fs.create(datePath, true)
        try out.write(snapshotDate.toString.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        snapshotDate
      } else if (fs.exists(datePath)) {
        val in = fs.open(datePath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        Date.valueOf(txt)
      } else {
        // pre-pinning checkpoint (or the file was removed): fall back
        // to the proposal rather than failing the resume
        logWarning(
          s"checkpoint $checkpointDir has no $DateFileName; " +
            s"resuming under proposed date $snapshotDate")
        snapshotDate
      }

    val reader = spark.readStream.format("graft.source.github.GithubDataSource")
      .options(GithubDataSource.encodeOptions(opts))
      .option("repos", repos.mkString(","))
      .options(maxPagesPerTrigger.map("maxPagesPerTrigger" -> _.toString).toMap)

    val runId = graft.sink.BatchCommit.pinnedRunId(fs, cpPath)
    // before any batch runs: reap this run's crashed-publish debris
    // (stage dirs + files past the newest marker — exactly the set
    // the first replayed batch would rebuild anyway)
    sink.sweepBatchDebris(checkpointDir)
    var batches = 0L
    var rows = 0L
    val writeBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (graft.sink.BatchCommit.isCommitted(fs, cpPath, batchId)) {
        // crash-replay of a fully-appended batch: offsets/N existed
        // but commits/N didn't, so Spark re-runs it — the marker says
        // its rows already landed, so appending again would duplicate
        logInfo(s"batch $batchId already appended; skipping replay")
      } else {
        val typed = GithubDataSource.typedDocs(batch)
          // each of the four table writes below consumes this frame; a
          // micro-batch is one page per repo, so the cache is small and
          // saves re-parsing the JSON four times
          .persist()
        try {
          val t = GithubTransform.applyMulti(typed, effectiveDate)
          for ((name, df) <- t.named) sink.appendBatch(name, df, runId, batchId)
          graft.sink.BatchCommit.markCommitted(fs, cpPath, batchId)
          batches += 1
          rows += typed.count()
        } finally typed.unpersist()
      }
    }

    val q = reader.load().writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch)
      .start()
    q.awaitTermination()

    repos.foreach(r => sink.finalizeSnapshot(r, effectiveDate))
    StreamStats(batches, rows, effectiveDate)
  }
}
