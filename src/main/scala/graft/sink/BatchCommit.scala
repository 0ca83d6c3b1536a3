package graft.sink

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Exactly-once micro-batch appends over file sinks.
  *
  * Structured Streaming writes `offsets/N` to the checkpoint BEFORE
  * executing batch N and `commits/N` after, so a crash in between
  * replays batch N on resume. A plain `mode("append")` inside
  * `foreachBatch` therefore duplicates the batch's rows — the
  * at-least-once window the reference never has, because its crashed
  * runs are re-run whole and re-enter the delete-first gate
  * (main.py:833-839) which wipes the partial snapshot before the
  * re-append.
  *
  * This helper closes the window with a staged, batchId-keyed publish:
  *
  *  1. '''stage''': write the batch under a hidden
  *     `.stage_b<runId>_<batchId>` directory with `mode("overwrite")`
  *     — a replay of the same batch re-stages the identical rows
  *     (offsets pin the batch contents) and overwrite makes
  *     re-staging idempotent;
  *  2. '''clean''': in every live partition directory the stage
  *     touches, delete files carrying this batch's
  *     `b<runId>-<batchId>-` prefix — debris of a previous publish
  *     attempt that crashed partway;
  *  3. '''publish''': rename the staged files into the live partition
  *     directories under the batch prefix (renames, not copies — an
  *     object-store deployment would use its atomic-commit API here);
  *  4. '''mark''': record `<checkpoint>/_graft_appends/<batchId>`.
  *     `foreachBatch` bodies skip a batch whose marker exists, so a
  *     replay after a fully-published batch is a no-op.
  *
  * Every crash point is covered: before publish — the stage is
  * overwritten on replay; during publish — step 2 removes the partial
  * attempt; after publish but before the marker — steps 1-3 rebuild
  * the same files under the same prefix (the cleanup makes the rename
  * set exact, not additive); after the marker — the skip fires.
  *
  * The `runId` scopes file prefixes to one streaming run: two runs
  * appending to the same table (fresh checkpoints, overlapping
  * batchIds) must not clean each other's files. It is pinned in the
  * checkpoint (like the snapshot date) so a resumed run keeps cleaning
  * its own debris.
  *
  * The staged directory and the batch-prefixed files are ordinary
  * Hive-layout citizens: the stage is dot-prefixed (invisible to
  * Spark's file listing at every level), published files are plain
  * data files, so readers, `deleteSnapshot`, and `compactPartition`
  * need no special cases.
  */
object BatchCommit {

  private val AppendsDirName = "_graft_appends"
  private val RunIdFileName = "_graft_run_id"

  /** Stable per-run token pinned at `<checkpoint>/_graft_run_id`:
    * created on first call, re-read on resume. 8 hex chars — enough
    * to keep concurrent runs' file prefixes disjoint, short enough to
    * keep file names readable.
    */
  def pinnedRunId(fs: FileSystem, checkpointDir: Path): String = {
    val p = new Path(checkpointDir, RunIdFileName)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else {
      val id = java.util.UUID.randomUUID.toString.take(8)
      val out = fs.create(p, true)
      try out.write(id.getBytes(StandardCharsets.UTF_8)) finally out.close()
      id
    }
  }

  def isCommitted(fs: FileSystem, checkpointDir: Path, batchId: Long): Boolean =
    fs.exists(new Path(new Path(checkpointDir, AppendsDirName), batchId.toString))

  /** Batch markers Spark could still ask about: the engine replays at
    * most the newest uncommitted batch, but its own offsets/commits
    * logs retain `minBatchesToRetain` (default 100) entries — keep
    * the marker window aligned so a checkpoint restored from any
    * retained log entry still sees its markers.
    */
  private val MarkersToRetain = 100L

  def markCommitted(fs: FileSystem, checkpointDir: Path, batchId: Long): Unit = {
    val dir = new Path(checkpointDir, AppendsDirName)
    fs.mkdirs(dir)
    fs.create(new Path(dir, batchId.toString), true).close()
    // reap markers that have aged out of the retained-batch window: a
    // long-running stream otherwise grows one small file per
    // micro-batch forever and isCommitted listings slow over time
    // (Spark prunes its own offsets/commits logs the same way)
    fs.listStatus(dir)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption
        .filter(_ < batchId - MarkersToRetain).map(_ => s.getPath))
      .foreach(p => fs.delete(p, false))
  }

  private[sink] def filePrefix(runId: String, batchId: Long): String =
    s"b$runId-$batchId-"

  private val batchFilePat = """^b([0-9a-f]{8})-(\d+)-.*""".r
  private val stageDirPat = """^\.stage_b([0-9a-f]{8})_(\d+)$""".r

  /** Whether `name` carries a [[filePrefix]]-shaped batch prefix —
    * i.e. it was published by [[stageAndPublish]] (runIds are 8 hex
    * chars of a UUID). Used by maintenance ops that must refuse to
    * fold possibly-orphaned batch files without a checkpoint to
    * adjudicate them against.
    */
  def isBatchPrefixed(name: String): Boolean =
    batchFilePat.pattern.matcher(name).matches()

  /** Newest committed batch marker, or -1 when none exists. */
  private def newestMarker(fs: FileSystem, checkpointDir: Path): Long = {
    val dir = new Path(checkpointDir, AppendsDirName)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .foldLeft(-1L)(math.max)
  }

  /** Startup/maintenance sweep of THIS run's publish debris on a file
    * table: deletes the pinned runId's leftover `.stage_*` directories
    * (a crashed publish re-stages from scratch on replay, so they are
    * pure garbage) and its published batch files whose batchId is
    * NEWER than the newest committed marker (publishes are sequential
    * per run, so only those can be a crashed publish's partial
    * output — the replay re-cleans and re-publishes them in full).
    * Files at or below the newest marker are NEVER touched: their
    * markers may simply have been reaped by the retention window.
    *
    * Call it before the stream starts (never while a publish is in
    * flight). Other runIds' files are left alone — they may belong to
    * a live writer on another checkpoint; an abandoned foreign
    * checkpoint's debris needs that checkpoint (or a quiesced-table
    * maintenance op like the ANN store's compactCodes) to claim it.
    */
  def sweepOrphans(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      checkpointDir: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val cp = new Path(checkpointDir)
    val runId = pinnedRunId(fs, cp)
    for (s <- fs.listStatus(root))
      if (s.isDirectory && s.getPath.getName.startsWith(s".stage_b${runId}_"))
        fs.delete(s.getPath, true)
    val pre = s"b$runId-"
    val newest = newestMarker(fs, cp)
    for (leaf <- leafDataDirs(fs, root); s <- fs.listStatus(leaf))
      if (s.isFile && s.getPath.getName.startsWith(pre)) {
        val bid = s.getPath.getName.stripPrefix(pre).takeWhile(_ != '-')
        if (scala.util.Try(bid.toLong).toOption.exists(_ > newest))
          fs.delete(s.getPath, false)
      }
  }

  /** One row of [[listOrphans]]'s report. `batch_id` is -1 for an
    * unparseable name (never expected — the patterns mirror
    * [[filePrefix]]/stage naming exactly).
    */
  final case class OrphanReportRow(
      kind: String, // "stage_dir" | "batch_file"
      run_id: String,
      batch_id: Long,
      path: String,
      bytes: Long,
      modified_ms: Long,
      status: String)

  /** READ-ONLY debris inventory for a batch-published file table: one
    * row per leftover `.stage_*` directory and per batch-prefixed data
    * file, with its runId, batchId, size, and mtime — so an operator
    * can SEE abandoned publish debris (a crashed foreign run's stage,
    * a partial publish awaiting replay) without running a compaction
    * that would claim it. Nothing is deleted or created: when
    * `checkpointDir` is given its pinned runId is only read if
    * present (never minted), and statuses are adjudicated against its
    * markers —
    *
    *  - `committed`: this checkpoint's file at or below the newest
    *    marker (its own marker may merely have been reaped);
    *  - `orphan_suspect`: this checkpoint's file PAST the newest
    *    marker — a crashed publish's partial output; the checkpoint's
    *    replay will re-clean and re-publish it;
    *  - `stage_leftover`: a stage directory (replays re-stage from
    *    scratch, so any surviving stage is garbage once its writer is
    *    quiesced — check the mtime before acting);
    *  - `unknown_run` / `unknown`: a different runId's debris, or no
    *    checkpoint to adjudicate against — needs that run's checkpoint
    *    (or a quiesced-table maintenance op) to claim.
    */
  def listOrphans(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // the checkpoint may live on a different filesystem than the
    // table — derive its FileSystem from its own path
    val pinned: Option[String] = checkpointDir.flatMap { c =>
      val cfs = new Path(c).getFileSystem(conf)
      val rid = new Path(new Path(c), RunIdFileName)
      if (!cfs.exists(rid)) None
      else {
        val in = cfs.open(rid)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    }
    val newest: Long = checkpointDir
      .map(c => newestMarker(new Path(c).getFileSystem(conf), new Path(c)))
      .getOrElse(-1L)
    def statusOf(runId: String, batchId: Long, isStage: Boolean): String =
      if (isStage) "stage_leftover"
      else if (pinned.isEmpty) "unknown"
      else if (!pinned.contains(runId)) "unknown_run"
      else if (batchId > newest) "orphan_suspect"
      else "committed"
    def dataFilesUnder(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory)
          // skip hidden dirs: a stage's inner files are reported via
          // the stage row, not as individual batch files
          if (s.getPath.getName.startsWith(".")) Nil
          else dataFilesUnder(s.getPath)
        else Seq(s)
      }
    val rows: Seq[OrphanReportRow] =
      if (!fs.exists(root)) Nil
      else {
        val stages = fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage_"))
          .map { s =>
            val (rid, bid) = s.getPath.getName match {
              case stageDirPat(r, b) => (r, b.toLong)
              case _ => ("", -1L)
            }
            OrphanReportRow("stage_dir", rid, bid, s.getPath.toString,
              0L, s.getModificationTime, statusOf(rid, bid, isStage = true))
          }
        val batchFiles = dataFilesUnder(root)
          .filter(s => isBatchPrefixed(s.getPath.getName))
          .map { s =>
            val (rid, bid) = s.getPath.getName match {
              case batchFilePat(r, b) => (r, b.toLong)
              case _ => ("", -1L)
            }
            OrphanReportRow("batch_file", rid, bid, s.getPath.toString,
              s.getLen, s.getModificationTime,
              statusOf(rid, bid, isStage = false))
          }
        stages ++ batchFiles
      }
    spark.createDataFrame(rows)
  }

  /** Steps 1-3 above: stage `df` under `path` (Hive-partitioned by
    * `partitionCols` — the snapshot pair for the ETL tables, empty
    * for flat tables like ANN code stores), then clean-and-rename
    * into the live partition directories under the batch prefix.
    * Re-invoking with the same (runId, batchId) and the same rows
    * converges to the same file set — the append is idempotent
    * whatever the previous attempt's crash point.
    */
  def stageAndPublish(
      df: DataFrame,
      path: String,
      runId: String,
      batchId: Long,
      fmt: String = "parquet",
      partitionCols: Seq[String] = Seq("snapshot_date", "target_repository"))
      : Unit = {
    val spark = df.sparkSession
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // qualify BOTH roots: listStatus returns fully-qualified paths, and
    // relativize against a scheme-less stage URI would return the leaf
    // unchanged — publishing files onto themselves inside the stage
    val root = fs.makeQualified(new Path(path))
    val stage = fs.makeQualified(new Path(root, s".stage_b${runId}_$batchId"))
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .format(fmt).save(stage.toString)
    val prefix = filePrefix(runId, batchId)
    for (leaf <- leafDataDirs(fs, stage)) {
      val rel = stage.toUri.relativize(leaf.toUri).getPath
      // empty rel = an unpartitioned write's files sit at the stage
      // root itself (Path can't represent "", so branch before it)
      require(rel.isEmpty || !new Path(rel).isAbsolute,
        s"unrelativizable stage leaf: $leaf")
      val live = if (rel.isEmpty) root else new Path(root, rel)
      fs.mkdirs(live)
      fs.listStatus(live)
        .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
        .foreach(s => fs.delete(s.getPath, false))
      for (f <- dataFiles(fs, leaf).map(_.getPath))
        if (!fs.rename(f, new Path(live, prefix + f.getName)))
          throw new java.io.IOException(s"batch publish rename failed: $f")
    }
    fs.delete(stage, true)
  }

  /** The data files directly under `dir`: plain files whose names
    * start with neither '_' (commit markers) nor '.' (checksums,
    * staging debris). The one definition every sink, index and
    * harness listing uses.
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    }

  /** Directories under `dir` (inclusive) that directly hold data
    * files — the partition leaves of the staged write.
    */
  private def leafDataDirs(fs: FileSystem, dir: Path): Seq[Path] = {
    val here = if (dataFiles(fs, dir).nonEmpty) Seq(dir) else Seq.empty
    here ++ fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(s => leafDataDirs(fs, s.getPath))
  }
}
