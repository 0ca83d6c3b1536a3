package graft.sink

import java.sql.Date

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.transform.GithubTransform.GithubTables

/** Destination abstraction for the four snapshot tables (reference
  * main.py:604-683). The reference's contract, which every
  * implementation must honor:
  *
  *  - `deleteSnapshot` removes all rows of a (snapshot_date, repo)
  *    pair from every table — run BEFORE loading so a rerun over a
  *    crashed run repairs it (main.py:604-638);
  *  - loads are append-shaped (WRITE_APPEND, main.py:673-677), so the
  *    delete-then-append ORDER is what makes runs idempotent;
  *  - `exists` is the informational probe (main.py:552-601);
  *  - `appendChunk` returns only after all of a chunk's appends
  *    finished, so appends to one table never overlap.
  *
  * [[ParquetSnapshotSink]] is the local/object-store implementation;
  * [[NdjsonSnapshotSink]] speaks the reference's BigQuery wire shape
  * (newline-delimited JSON payloads with explicit nulls) and carries
  * its streaming-insert fallback switch. A real warehouse sink drops
  * in behind this trait without touching the jobs.
  */
trait SnapshotSink {
  def exists(repo: String, snapshotDate: Date): Boolean
  def deleteSnapshot(repo: String, snapshotDate: Date): Unit

  /** Load a full snapshot (all four tables). Callers delete first;
    * `skipIfEmpty=false` avoids per-table isEmpty actions when the
    * input is expensive to recompute.
    */
  def writeSnapshot(tables: GithubTables, skipIfEmpty: Boolean = true): Unit

  /** WRITE_APPEND one chunk of `table`. */
  def append(table: String, df: DataFrame): Unit

  /** WRITE_APPEND one chunk of all four tables (ChunkedEtl's per-page
    * load). Returns only once every table's append has finished, so
    * appends to one table never overlap: the next chunk's append to a
    * path starts after this chunk's append to it returned. The default
    * calls [[append]] once per table, in table order, on the calling
    * thread; a sink may run the four appends concurrently (they target
    * four different tables), as [[ParquetSnapshotSink]] does.
    */
  def appendChunk(tables: GithubTables): Unit =
    tables.named.foreach { case (name, df) => append(name, df) }

  /** Append one streaming micro-batch such that a crash-replay of the
    * same (runId, batchId) does NOT duplicate rows. File-lake sinks
    * override with the staged batchId-keyed publish
    * ([[BatchCommit.stageAndPublish]]); the default falls back to
    * the at-least-once plain append for sinks with no stronger
    * primitive.
    */
  def appendBatch(table: String, df: DataFrame, runId: String,
      batchId: Long): Unit = append(table, df)

  /** Post-load maintenance for the (snapshot_date, repo) pair this
    * run touched. Default no-op — warehouse sinks (BigQuery et al.)
    * manage their own storage; file-lake sinks override to merge the
    * per-chunk small files chunked loading leaves behind, where a
    * reader would pay for them.
    */
  def finalizeSnapshot(repo: String, snapshotDate: Date): Unit = ()

  /** Startup sweep of this run's crashed-publish debris.
    *
    * The staged batch publish ([[graft.sink.BatchCommit]]) is a
    * rename loop, not one atomic commit: a crash mid-publish leaves
    * the batch's already-renamed files visible to readers until the
    * SAME checkpoint resumes and replays the batch — '''resuming the
    * checkpoint is part of the sink's exactly-once contract''', and
    * an abandoned checkpoint leaves that partial batch (plus its
    * hidden stage directory) in place indefinitely. Calling this at
    * stream startup bounds the window to one run: it deletes the
    * pinned runId's stage directories and its published files newer
    * than the newest committed marker (exactly the set a replay
    * rebuilds). Default no-op for sinks without a file layout.
    */
  def sweepBatchDebris(checkpointDir: String): Unit = ()
}

/** Parquet tables partitioned by (snapshot_date, target_repository);
  * full-snapshot loads use dynamic partition overwrite, so they are
  * idempotent even WITHOUT the explicit delete (the delete still runs
  * for tables whose new content is empty — overwrite can't clear a
  * partition it writes no rows to).
  */
class ParquetSnapshotSink(
    spark: SparkSession,
    rootDir: String,
    fmt: String = "parquet") extends SnapshotSink {
  override def exists(repo: String, snapshotDate: Date): Boolean =
    SnapshotWriter.snapshotExists(spark, rootDir, repo, snapshotDate)
  override def deleteSnapshot(repo: String, snapshotDate: Date): Unit =
    SnapshotWriter.deleteSnapshot(spark, rootDir, repo, snapshotDate)
  override def writeSnapshot(tables: GithubTables, skipIfEmpty: Boolean): Unit =
    SnapshotWriter.write(tables, rootDir, skipIfEmpty, fmt)
  override def append(table: String, df: DataFrame): Unit =
    SnapshotWriter.appendTable(df, s"$rootDir/$table", fmt)
  /** The four appends run concurrently ([[SnapshotWriter.writeAll]]),
    * each through [[append]], so a subclass overriding `append` must
    * be thread-safe.
    */
  override def appendChunk(tables: GithubTables): Unit =
    SnapshotWriter.writeAll(tables.named.map { case (name, df) => () => append(name, df) })
  override def appendBatch(table: String, df: DataFrame, runId: String,
      batchId: Long): Unit =
    BatchCommit.stageAndPublish(df, s"$rootDir/$table", runId, batchId, fmt)
  /** Compacts the (snapshot_date, repo) partition of each table whose
    * files would cost a reader more than one read split
    * ([[SnapshotWriter.compactionPays]]), those tables concurrently.
    * A chunked load of a few chunks leaves a few small files per
    * partition and rewrites nothing; one of many chunks is merged.
    */
  override def finalizeSnapshot(repo: String, snapshotDate: Date): Unit =
    SnapshotWriter.writeAll(SnapshotWriter.TableNames
      .filter(SnapshotWriter.compactionPays(spark, rootDir, _, repo, snapshotDate))
      .map(table => () => SnapshotWriter.compactPartition(spark, rootDir, table, repo,
        snapshotDate, fmt = fmt)))
  override def sweepBatchDebris(checkpointDir: String): Unit =
    for (table <- SnapshotWriter.TableNames)
      BatchCommit.sweepOrphans(spark, s"$rootDir/$table", checkpointDir)
}

/** Same file-lake contract over ORC (built into Spark's jars — no
  * extra dependency): dynamic partition overwrite, explicit delete,
  * per-chunk append, and rename-swap compaction are all
  * format-agnostic file-source behaviors, so the whole lifecycle
  * rides the parquet implementation with a different codec.
  */
class OrcSnapshotSink(spark: SparkSession, rootDir: String)
  extends ParquetSnapshotSink(spark, rootDir, "orc")

object NdjsonSnapshotSink {
  /** One NDJSON line per row, every field explicit (null included) —
    * the exact payload shape of the reference's load jobs.
    */
  private[sink] def jsonLines(df: DataFrame): DataFrame =
    df.select(
      to_json(struct(df.columns.map(col): _*),
        java.util.Collections.singletonMap("ignoreNullFields", "false")).as("value"),
      col("snapshot_date").cast("string").as("snapshot_date"),
      col("target_repository"))
}

/** BigQuery-shaped NDJSON sink. Two load modes, mirroring
  * main.py:641-683:
  *
  *  - **load jobs** (default): one committed Spark text write per
  *    call — all-or-nothing per chunk, rows immediately visible and
  *    deletable, the mode the DELETE-before-append ordering relies on;
  *  - **streaming inserts** (`streamingInserts=true`, the reference's
  *    `BIGQUERY_EMULATOR_HOST` fallback, main.py:805-814): each input
  *    partition writes its row batches directly (one file per
  *    (partition, batch), no job-level commit) — the insert-RPC
  *    analogue, kept for emulator/test parity.
  *
  * Files land under the same Hive-style partition directories as the
  * parquet sink, so `deleteSnapshot`/`exists` share one path scheme.
  */
class NdjsonSnapshotSink(
    spark: SparkSession,
    rootDir: String,
    streamingInserts: Boolean = false) extends SnapshotSink {

  override def exists(repo: String, snapshotDate: Date): Boolean =
    SnapshotWriter.snapshotExists(spark, rootDir, repo, snapshotDate)

  override def deleteSnapshot(repo: String, snapshotDate: Date): Unit =
    SnapshotWriter.deleteSnapshot(spark, rootDir, repo, snapshotDate)

  override def writeSnapshot(tables: GithubTables, skipIfEmpty: Boolean): Unit =
    for ((name, df) <- tables.named if !skipIfEmpty || !df.isEmpty) append(name, df)

  override def append(table: String, df: DataFrame): Unit = {
    val lines = NdjsonSnapshotSink.jsonLines(df)
    if (streamingInserts) {
      // direct per-batch writes, no commit protocol: the streaming
      // buffer analogue. Local vals only — the closure must not
      // capture the sink (SparkSession isn't serializable).
      val root = rootDir
      val tbl = table
      lines.foreachPartition { rows: Iterator[Row] =>
        val conf = new org.apache.hadoop.conf.Configuration()
        rows.toSeq.groupBy(r => (r.getString(1), r.getString(2))).foreach {
          case ((sd, repo), batch) =>
            val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(repo)
            val dir = new Path(s"$root/$tbl/snapshot_date=$sd/target_repository=$esc")
            val fs = dir.getFileSystem(conf)
            fs.mkdirs(dir)
            val out = fs.create(
              new Path(dir, s"insert-${java.util.UUID.randomUUID}.ndjson"), false)
            try batch.foreach(r => out.write((r.getString(0) + "\n").getBytes("UTF-8")))
            finally out.close()
        }
      }
    } else {
      lines.write.mode("append")
        .partitionBy("snapshot_date", "target_repository")
        .text(s"$rootDir/$table")
    }
  }

  /** Load-job mode gets the exactly-once staged publish (BigQuery load
    * jobs are retry-idempotent when keyed by a caller-chosen job id —
    * this is the file-layout analogue). Streaming-insert mode keeps
    * the plain append: insert RPCs are best-effort-deduped at most,
    * so modeling them as at-least-once is the honest parity.
    */
  override def appendBatch(table: String, df: DataFrame, runId: String,
      batchId: Long): Unit =
    if (streamingInserts) append(table, df)
    else BatchCommit.stageAndPublish(
      NdjsonSnapshotSink.jsonLines(df), s"$rootDir/$table", runId, batchId, "text")

  override def sweepBatchDebris(checkpointDir: String): Unit =
    if (!streamingInserts) // insert mode never stages
      for (table <- SnapshotWriter.TableNames)
        BatchCommit.sweepOrphans(spark, s"$rootDir/$table", checkpointDir)
}
