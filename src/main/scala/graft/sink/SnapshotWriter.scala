package graft.sink

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.transform.GithubTransform.GithubTables

/** Idempotent snapshot sink (reference K1-K5, main.py:552-743).
  *
  * The reference's probe-then-DELETE-then-append dance
  * (snapshot_exists → delete_existing_snapshot → WRITE_APPEND load
  * jobs) collapses in Spark to **dynamic partition overwrite** on
  * tables partitioned by (snapshot_date, target_repository): a rerun
  * replaces exactly the partitions it writes and leaves every other
  * (date, repo) pair untouched. The probe becomes metadata-only
  * partition pruning.
  *
  * At 100 TB this partitioning is also the query-side win: per-day /
  * per-repo reads prune to single partitions, and daily reruns never
  * rewrite history.
  */
object SnapshotWriter {

  val TableNames = Seq("pull_requests", "commits", "reviewers", "comments")

  /** Write the four tables under `rootDir/<table>/`, replacing only
    * the touched (snapshot_date, target_repository) partitions.
    * Empty inputs are skipped (K5: empty per-table list → skip).
    */
  def write(tables: GithubTables, rootDir: String, skipIfEmpty: Boolean = true,
      fmt: String = "parquet"): Unit =
    for ((name, df) <- tables.named) writeTable(df, s"$rootDir/$name", skipIfEmpty, fmt)

  /** `skipIfEmpty=false` drops the `isEmpty` probe action — writing an
    * empty DataFrame is harmless (no partition directories appear),
    * and callers whose input is expensive to recompute (the DSv2 API
    * extraction) must not pay an extra action per table.
    */
  def writeTable(df: DataFrame, path: String, skipIfEmpty: Boolean = true,
      fmt: String = "parquet"): Unit = {
    if (!skipIfEmpty || !df.isEmpty) {
      df.write
        .mode("overwrite")
        // per-write option, NOT session conf: a shared session must not
        // be left in dynamic mode behind the caller's back
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot_date", "target_repository")
        .format(fmt).save(path)
    }
  }

  /** Schema-evolving read of the whole partitioned table: snapshots
    * written before a column existed surface it as null instead of
    * failing the scan. By default Spark takes one file's footer as
    * the table schema, so a reader pinned to an OLD footer silently
    * DROPS columns added by later snapshots — `mergeSchema` unions
    * footers across all snapshot partitions (same option key for
    * parquet and ORC). Partition pruning on snapshot_date /
    * target_repository is unaffected: the merge touches footers, not
    * the directory-derived partition columns.
    */
  def readTable(spark: SparkSession, path: String,
      fmt: String = "parquet"): DataFrame =
    spark.read.option("mergeSchema", "true").format(fmt).load(path)

  /** Explicit partition delete (reference K1 DELETE, main.py:604-638):
    * removes the (snapshot_date, repo) partition directory of every
    * table. ChunkedEtl calls this once up front so per-chunk appends
    * are idempotent under rerun even when a table is empty in the
    * first chunk (dynamic overwrite alone can't clear a partition it
    * writes no rows to).
    */
  /** Hive-style partition directory for (table, repo, date) — uses
    * the SAME escaping Spark's writer uses for partition directories.
    * URLEncoder agrees for '/' but diverges on space ('+' vs '%20'),
    * '*', '~', ... and a mismatched name would silently skip deletes,
    * leaving stale rows on rerun.
    */
  def partitionPath(
      rootDir: String,
      table: String,
      repo: String,
      snapshotDate: Date): String = {
    val escapedRepo = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(repo)
    s"$rootDir/$table/snapshot_date=$snapshotDate/target_repository=$escapedRepo"
  }

  def deleteSnapshot(
      spark: SparkSession,
      rootDir: String,
      repo: String,
      snapshotDate: Date): Unit = {
    // resolve the FS from the path, not fs.defaultFS: an s3a:// table
    // root with an HDFS default would otherwise list/delete against
    // the wrong filesystem
    val fs = new org.apache.hadoop.fs.Path(rootDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (table <- TableNames) {
      val dir = new org.apache.hadoop.fs.Path(
        partitionPath(rootDir, table, repo, snapshotDate))
      if (fs.exists(dir)) fs.delete(dir, true)
      // ALSO clear compaction staging siblings: a .compact_old_ copy
      // left by a crashed swap would otherwise survive the delete and
      // be "self-healed" back by a later compactPartition — deleted
      // rows resurrecting is a breach of the K1 delete contract
      deleteStaging(fs, dir)
    }
  }

  /** Remove the hidden compaction staging siblings of a partition
    * directory (no-op when absent).
    */
  private def deleteStaging(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val parent = dir.getParent
    if (parent != null) {
      fs.delete(new org.apache.hadoop.fs.Path(parent, s".compact_tmp_${dir.getName}"), true)
      fs.delete(new org.apache.hadoop.fs.Path(parent, s".compact_old_${dir.getName}"), true)
    }
  }

  /** Per-chunk append (reference WRITE_APPEND, main.py:673-677): used
    * by ChunkedEtl after the up-front deleteSnapshot. One Spark job,
    * with no emptiness probe: appending an empty frame is harmless (no
    * partition directory appears), while a probe would be a second job
    * that re-parses and re-transforms the chunk.
    */
  def appendTable(df: DataFrame, path: String, fmt: String = "parquet"): Unit =
    df.write
      .mode("append")
      .partitionBy("snapshot_date", "target_repository")
      .format(fmt).save(path)

  /** Run independent writes (different frames, different target
    * directories) concurrently from a small thread pool, so the
    * per-job scheduling and commit latency of the small ones hides
    * under the largest. Returns only after EVERY write has finished,
    * successfully or not, and then rethrows the first error: returning
    * early would hand control to the caller's cleanup, or to its next
    * write into the same directory, while a sibling job is still
    * emitting task output there. Callers must never pass two writes to
    * the same path: they would share the committer's `_temporary` dir.
    */
  def writeAll(writes: Seq[() => Unit]): Unit = writes match {
    case Seq() => ()
    case Seq(w) => w()
    case _ =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
      try {
        val futs = writes.map(w =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = w()
          }))
        val errs = futs.flatMap { f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(Option(e.getCause).getOrElse(e))
            case e: InterruptedException => Some(e)
          }
        }
        errs.headOption.foreach(throw _)
      } finally { pool.shutdown(); () }
  }

  /** Exactly-once per-micro-batch append: [[BatchCommit.stageAndPublish]]
    * keyed by (runId, batchId), so a crash-replayed foreachBatch body
    * converges to the same file set instead of appending the batch's
    * rows a second time. The streaming bridges use this; plain
    * [[appendTable]] stays for the non-replayable ChunkedEtl path,
    * whose idempotency comes from the up-front partition delete.
    */
  def appendTableBatch(df: DataFrame, path: String, runId: String,
      batchId: Long, fmt: String = "parquet"): Unit =
    BatchCommit.stageAndPublish(df, path, runId, batchId, fmt)

  /** NDJSON serialization — the exact payload format of the
    * reference's BigQuery load jobs (main.py:673-677 serializes each
    * chunk as newline-delimited JSON). Null fields are kept explicit
    * so downstream schema-on-read matches the parquet tables.
    */
  def writeNdjson(df: DataFrame, path: String): Unit =
    if (!df.isEmpty) {
      df.select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(df.columns.map(col): _*),
        java.util.Collections.singletonMap("ignoreNullFields", "false")).as("value"))
        .write.mode("overwrite").text(path)
    }

  /** Small-file compaction for one (snapshot_date, repo) partition:
    * chunked/streaming appends leave one file per micro-batch per
    * task, and at 100 TB the resulting file-count tax (NameNode/
    * listing pressure, per-file open cost, tiny row groups defeating
    * parquet encodings) dominates read cost. Rewrites the partition
    * as ceil(bytes / targetBytes) files via an atomic
    * rename-after-write: data rewritten next to the partition, the
    * old directory swapped out only after the rewrite succeeds —
    * a crash mid-compaction never loses rows.
    *
    * Data is re-read THROUGH the partition directory (not the table
    * root), so only this partition's files are listed and no other
    * partition is touched — same isolation contract as
    * deleteSnapshot.
    *
    * Single-writer only, and NOT safe to run against a live-read
    * table: between the two swap renames the partition is briefly
    * absent, so a concurrent reader silently under-reports rows
    * rather than serving stale data. The post-load ChunkedEtl call
    * site satisfies both assumptions (compaction runs after the last
    * append, before the table is handed to readers).
    */
  def compactPartition(
      spark: SparkSession,
      rootDir: String,
      table: String,
      repo: String,
      snapshotDate: Date,
      targetBytes: Long = 128L * 1024 * 1024,
      fmt: String = "parquet"): Unit = {
    val dir = partitionPath(rootDir, table, repo, snapshotDate)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Staging dirs are DOT-prefixed siblings: Spark/Hive listing
    // skips '.'/'_'-prefixed names at every level, so readers of the
    // table root never see staged data as a bogus partition (an
    // unhidden '<leaf>._compacting' sibling WOULD be parsed as a
    // partition value and double-count every row mid-swap).
    val parent = dirPath.getParent
    val leaf = dirPath.getName
    val tmp = new org.apache.hadoop.fs.Path(parent, s".compact_tmp_$leaf")
    val old = new org.apache.hadoop.fs.Path(parent, s".compact_old_$leaf")
    // self-heal a crash between the two swap renames of a previous
    // run: the live dir is missing but the pre-compaction copy exists
    if (!fs.exists(dirPath) && fs.exists(old)) {
      if (!fs.rename(old, dirPath))
        throw new java.io.IOException(s"compaction recovery failed for $dir")
    }
    if (!fs.exists(dirPath)) return
    // clear staging debris BEFORE the already-compact early return: a
    // crash after the swap-in but before the old-copy delete leaves a
    // full hidden pre-compaction copy that would otherwise never be
    // reaped (doubled storage + a stale-restore hazard)
    fs.delete(tmp, true); fs.delete(old, true)
    val dataFiles = BatchCommit.dataFiles(fs, dirPath)
    if (dataFiles.length <= 1) return
    val totalBytes = dataFiles.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.format(fmt).load(dir).repartition(nFiles)
      .write.mode("overwrite").format(fmt).save(tmp.toString)
    // swap: current -> old, compacted -> current, drop old. A crash
    // before the first rename leaves the original untouched; between
    // the renames, the hidden old copy is restored by the self-heal
    // above on the next call; after, only hidden debris remains.
    if (!fs.rename(dirPath, old)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"compaction swap failed for $dir")
    }
    if (!fs.rename(tmp, dirPath)) {
      fs.rename(old, dirPath) // roll back
      throw new java.io.IOException(s"compaction swap failed for $dir")
    }
    fs.delete(old, true)
  }

  /** Whether [[compactPartition]] pays for this partition: true when
    * its data files, each charged Spark's per-file open cost
    * (`spark.sql.files.openCostInBytes`), overflow one maximal read
    * split (`spark.sql.files.maxPartitionBytes`), i.e.
    * Σ(length + openCost) > maxPartitionBytes. Below that a reader
    * pays at most one split's worth for the extra files, less than
    * the rewrite costs. Also true when a crashed compaction swap left
    * its hidden pre-compaction copy behind, so that compactPartition
    * restores or reaps it. Metadata calls only, no Spark job.
    */
  def compactionPays(
      spark: SparkSession,
      rootDir: String,
      table: String,
      repo: String,
      snapshotDate: Date): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(partitionPath(rootDir, table, repo, snapshotDate))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sessionState.conf
    fs.exists(new org.apache.hadoop.fs.Path(dir.getParent, s".compact_old_${dir.getName}")) ||
      fs.exists(dir) && {
        val files = BatchCommit.dataFiles(fs, dir)
        files.length > 1 &&
          files.map(_.getLen + conf.filesOpenCostInBytes).sum > conf.filesMaxPartitionBytes
      }
  }

  /** S7 existence probe (main.py:552-601) as one metadata call: does
    * the (snapshot_date, repo) partition of `pull_requests` hold a data
    * file? Data files are names starting with neither '_' nor '.', so
    * a partition holding only commit markers, checksums or staging
    * debris reads as absent. Format-agnostic: every file-lake sink
    * lays out the same partition directories.
    */
  def snapshotExists(
      spark: SparkSession,
      rootDir: String,
      repo: String,
      snapshotDate: Date): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(
      partitionPath(rootDir, "pull_requests", repo, snapshotDate))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) && BatchCommit.dataFiles(fs, dir).nonEmpty
  }
}
