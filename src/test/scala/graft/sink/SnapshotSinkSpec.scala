package graft.sink

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.transform.GithubTransform.GithubTables

/** The sink CONTRACT (delete-then-append idempotency, untouched
  * partitions preserved, existence probe) run against every
  * implementation — a new warehouse sink must pass this suite
  * unchanged.
  */
class SnapshotSinkSpec extends AnyFunSuite with graft.GraftSuite with graft.TempDirs {

  import spark.implicits._

  val d1: Date = Date.valueOf("2024-05-01")
  val d2: Date = Date.valueOf("2024-05-02")

  def rows(repo: String, d: Date, marker: String): DataFrame =
    Seq((1L, marker, d, repo), (2L, marker, d, repo))
      .toDF("pull_request_id", "title", "snapshot_date", "target_repository")

  def tablesOf(df: DataFrame): GithubTables = GithubTables(df, df, df, df)

  /** Read back one table's rows as (id, marker, repo) regardless of
    * the sink's storage format.
    */
  def readBack(sinkKind: String, root: String, table: String): Set[(Long, String, String)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$table"))) return Set.empty
    val normalized = sinkKind match {
      case "parquet" | "orc" =>
        val df = spark.read.format(sinkKind).load(s"$root/$table")
        df.select(df("pull_request_id").cast("long"), df("title"), df("target_repository"))
      case _ =>
        import org.apache.spark.sql.functions.{col, get_json_object}
        spark.read.textFile(s"$root/$table/*/*/*").toDF("value").select(
          get_json_object(col("value"), "$.pull_request_id").cast("long").as("id"),
          get_json_object(col("value"), "$.title").as("title"),
          get_json_object(col("value"), "$.target_repository").as("repo"))
    }
    normalized.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
  }

  test("schema-evolving read unions footers; old snapshots null-fill new columns") {
    val root = tempDir("evo").toString
    val path = s"$root/pull_requests"
    // snapshot 1: no bug_id column yet
    SnapshotWriter.writeTable(
      Seq((1L, "old", d1, "r/a"))
        .toDF("pull_request_id", "title", "snapshot_date", "target_repository"),
      path)
    // snapshot 2: schema grew a bug_id column
    SnapshotWriter.writeTable(
      Seq((2L, "new", 77L, d2, "r/a"))
        .toDF("pull_request_id", "title", "bug_id", "snapshot_date", "target_repository"),
      path)
    val evo = SnapshotWriter.readTable(spark, path)
    assert(evo.columns.contains("bug_id"))
    val got = evo.select("pull_request_id", "bug_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got == Map(1L -> None, 2L -> Some(77L)))
    // partition pruning still works on the evolved table
    val pruned = evo.filter(evo("snapshot_date") === d2)
    assert(pruned.count() == 1L)
    assert(pruned.queryExecution.executedPlan.toString()
      .contains("PartitionFilters"))
  }

  test("delete-then-append rerun is idempotent; other partitions untouched") {
    for ((kind, mk) <- Seq[(String, String => SnapshotSink)](
        ("parquet", r => new ParquetSnapshotSink(spark, r)),
        ("orc", r => new OrcSnapshotSink(spark, r)),
        ("ndjson", r => new NdjsonSnapshotSink(spark, r)),
        ("ndjson-streaming", r => new NdjsonSnapshotSink(spark, r, streamingInserts = true)))) {
      val root = tempDir(s"graft-sink-$kind").toString
      val sink = mk(root)

      assert(!sink.exists("o/r", d1), s"[$kind] exists before any write")
      sink.deleteSnapshot("o/r", d1)
      sink.writeSnapshot(tablesOf(rows("o/r", d1, "run1")))
      assert(sink.exists("o/r", d1), s"[$kind] probe after write")

      // a second (repo, date) partition that the rerun must not touch
      sink.deleteSnapshot("o/other", d2)
      sink.writeSnapshot(tablesOf(rows("o/other", d2, "keep")))

      // rerun of (o/r, d1) with changed content — the reference crash
      // recovery path: delete first, then append
      sink.deleteSnapshot("o/r", d1)
      sink.writeSnapshot(tablesOf(rows("o/r", d1, "run2")))

      val got = readBack(kind, root, "pull_requests")
      assert(got == Set(
        (1L, "run2", "o/r"), (2L, "run2", "o/r"),
        (1L, "keep", "o/other"), (2L, "keep", "o/other")),
        s"[$kind] rerun not idempotent: $got")

      // chunked appends accumulate (WRITE_APPEND), delete clears them
      sink.append("commits", rows("o/r", d1, "chunk2"))
      val commits = readBack(kind, root, "commits")
      assert(commits.count(_._2 == "chunk2") == 2, s"[$kind] append lost rows")
      sink.deleteSnapshot("o/r", d1)
      assert(!sink.exists("o/r", d1), s"[$kind] delete left the partition")
    }
  }

  test("compaction merges append-fragmented partitions without losing rows") {
    val root = tempDir("compact").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // 4 chunked appends -> >= 4 files in the (d1, o/r) partition
    for (chunk <- 1 to 4)
      SnapshotWriter.appendTable(rows("o/r", d1, s"c$chunk"), s"$root/commits")
    SnapshotWriter.appendTable(rows("o/other", d1, "keep"), s"$root/commits")
    def partFiles(repo: String): Int = {
      val dir = SnapshotWriter.partitionPath(root, "commits", repo, d1)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    }
    val before = partFiles("o/r")
    assert(before >= 4)
    val otherBefore = partFiles("o/other")
    val beforeRows = spark.read.parquet(s"$root/commits")
      .select("pull_request_id", "title", "target_repository")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    SnapshotWriter.compactPartition(spark, root, "commits", "o/r", d1)
    assert(partFiles("o/r") == 1, "partition not compacted to target file count")
    assert(partFiles("o/other") == otherBefore, "untouched partition modified")
    val afterRows = spark.read.parquet(s"$root/commits")
      .select("pull_request_id", "title", "target_repository")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(afterRows == beforeRows, "compaction changed the data")
    // no leftover staging directories, and nothing partition-visible:
    // every sibling of the partition dirs must be a real partition or
    // hidden ('.'/'_'-prefixed, skipped by Spark's listing)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/commits/snapshot_date=$d1")).map(_.getPath.getName)
    assert(!leftovers.exists(n => n.startsWith(".compact_")), leftovers.mkString(","))
    assert(leftovers.forall(n =>
      n.startsWith("target_repository=") || n.startsWith(".") || n.startsWith("_")),
      leftovers.mkString(","))
    // single-file partition: second run is a no-op
    SnapshotWriter.compactPartition(spark, root, "commits", "o/r", d1)
    assert(partFiles("o/r") == 1)
  }

  test("compaction self-heals a crash between the swap renames") {
    val root = tempDir("compactheal").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (chunk <- 1 to 3)
      SnapshotWriter.appendTable(rows("o/r", d1, s"c$chunk"), s"$root/commits")
    val expected = spark.read.parquet(s"$root/commits")
      .select("pull_request_id", "title")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // simulate the crash window: live dir moved aside, swap-in never ran
    val dir = new org.apache.hadoop.fs.Path(
      SnapshotWriter.partitionPath(root, "commits", "o/r", d1))
    val old = new org.apache.hadoop.fs.Path(dir.getParent, s".compact_old_${dir.getName}")
    assert(fs.rename(dir, old))
    // the hidden copy is invisible to readers mid-crash: either zero
    // rows, or — with no visible files at all — schema inference
    // itself fails; a bogus partition would instead return rows
    val midCrash =
      try spark.read.parquet(s"$root/commits").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(midCrash == 0L)
    // next maintenance call restores, then compacts
    SnapshotWriter.compactPartition(spark, root, "commits", "o/r", d1)
    val healed = spark.read.parquet(s"$root/commits")
      .select("pull_request_id", "title")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(healed == expected, "self-heal lost rows")
    assert(!fs.exists(old))
  }

  test("deleteSnapshot clears crash debris so deleted rows cannot resurrect") {
    val root = tempDir("compactdel").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    SnapshotWriter.appendTable(rows("o/r", d1, "stale"), s"$root/commits")
    val dir = new org.apache.hadoop.fs.Path(
      SnapshotWriter.partitionPath(root, "commits", "o/r", d1))
    val old = new org.apache.hadoop.fs.Path(dir.getParent, s".compact_old_${dir.getName}")
    // crashed swap: data only in the hidden pre-compaction copy
    assert(fs.rename(dir, old))
    // K1 delete of the snapshot — must also reap the hidden copy
    SnapshotWriter.deleteSnapshot(spark, root, "o/r", d1)
    assert(!fs.exists(old), "delete left crash debris holding deleted rows")
    // a later maintenance pass must NOT restore the deleted partition
    SnapshotWriter.compactPartition(spark, root, "commits", "o/r", d1)
    assert(!fs.exists(dir), "deleted snapshot resurrected from crash debris")
  }

  /** Job ids with the short call site of their last stage, as a
    * listener sees them (e.g. `save at SnapshotWriter.scala:140`).
    */
  class JobLog extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.add(e.stageInfos.maxBy(_.stageId).name)
    def size: Int = { org.apache.spark.ListenerBusAccess.drain(spark.sparkContext); jobs.size }
  }

  def chunkedRun(sink: SnapshotSink, server: graft.source.github.MockGithubServer)
      : graft.jobs.ChunkedEtl.ChunkStats =
    graft.jobs.ChunkedEtl.run(spark, "o/r",
      graft.source.github.GithubSource.Options(apiUrl = server.url, chunkSize = 3), sink, d1)

  /** Every row of the four tables, as sorted strings: equal lists mean
    * equal contents with equal multiplicities.
    */
  def snapshotRows(root: String): Seq[Seq[String]] =
    SnapshotWriter.TableNames.map(t =>
      spark.read.parquet(s"$root/$t").collect().map(_.toString).toSeq.sorted)

  test("chunked load: four append jobs per chunk, none in finalizeSnapshot") {
    val server = new graft.source.github.MockGithubServer
    server.start()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val perChunk = scala.collection.mutable.ArrayBuffer.empty[Int]
      var finalizeJobs = -1
      val sink = new ParquetSnapshotSink(spark, tempDir("chunkjobs").toString) {
        override def appendChunk(tables: GithubTables): Unit = {
          val before = log.size
          super.appendChunk(tables)
          perChunk += log.size - before
        }
        override def finalizeSnapshot(repo: String, snapshotDate: Date): Unit = {
          val before = log.size
          super.finalizeSnapshot(repo, snapshotDate)
          finalizeJobs = log.size - before
        }
      }
      val before = log.size
      assert(chunkedRun(sink, server).chunks == 2)
      assert(perChunk == Seq(4, 4), s"jobs per chunk: $perChunk")
      assert(finalizeJobs == 0, s"finalizeSnapshot ran $finalizeJobs jobs")
      val sinkJobs = log.jobs.toArray.drop(before).map(_.toString)
        .filter(n => n.contains("SnapshotWriter.scala") || n.contains("SnapshotSink.scala"))
      assert(sinkJobs.length == 8, sinkJobs.mkString(", "))
    } finally {
      spark.sparkContext.removeSparkListener(log)
      server.stop()
    }
  }

  test("chunked load: a failed concurrent append stops the run with no job left running") {
    val server = new graft.source.github.MockGithubServer
    server.start()
    try {
      val clean = tempDir("chunkclean").toString
      chunkedRun(new ParquetSnapshotSink(spark, clean), server)
      val root = tempDir("chunkcrash").toString
      // chunk 2's comments append is slow (its write job sleeps per
      // row), so it is still running when the commits append fails
      val slowRow = org.apache.spark.sql.functions
        .udf(() => { Thread.sleep(1000); true }).asNondeterministic()
      val chunk = new java.util.concurrent.atomic.AtomicInteger(0)
      val failing = new ParquetSnapshotSink(spark, root) {
        override def appendChunk(tables: GithubTables): Unit = {
          chunk.incrementAndGet()
          super.appendChunk(tables)
        }
        override def append(table: String, df: DataFrame): Unit =
          (table, chunk.get) match {
            case ("commits", 2) => throw new IllegalStateException("injected failure in chunk 2")
            case ("comments", 2) => super.append(table, df.where(slowRow()))
            case _ => super.append(table, df)
          }
      }
      intercept[IllegalStateException](chunkedRun(failing, server))
      // a sibling append still writing into its table would show here
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
        "the run returned while a sibling append was still running")
      // the rerun's up-front delete clears the partial chunk 2
      chunkedRun(new ParquetSnapshotSink(spark, root), server)
      assert(snapshotRows(root) == snapshotRows(clean), "rerun differs from a clean run")
    } finally server.stop()
  }

  test("finalizeSnapshot compacts only where the files overflow one read split") {
    val root = tempDir("compactpolicy").toString
    val sink = new ParquetSnapshotSink(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (chunk <- 1 to 4) sink.append("commits", rows("o/r", d1, s"c$chunk"))
    def partFiles: Int = fs.listStatus(new org.apache.hadoop.fs.Path(
      SnapshotWriter.partitionPath(root, "commits", "o/r", d1)))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val files = partFiles
    assert(files >= 4)
    val before = readBack("parquet", root, "commits")
    // four small files fit one 128 MB split with their open cost: kept
    sink.finalizeSnapshot("o/r", d1)
    assert(partFiles == files, "finalize rewrote a partition that fits one split")
    withConf("spark.sql.files.maxPartitionBytes" -> "1m")(sink.finalizeSnapshot("o/r", d1))
    assert(partFiles == 1, "finalize left a partition that overflows one split")
    assert(readBack("parquet", root, "commits") == before, "compaction changed the rows")
  }

  test("appendChunk with an empty table writes no partition for it") {
    for ((kind, mk) <- Seq[(String, String => SnapshotSink)](
        ("parquet", r => new ParquetSnapshotSink(spark, r)),
        ("orc", r => new OrcSnapshotSink(spark, r)),
        ("ndjson", r => new NdjsonSnapshotSink(spark, r)))) {
      val root = tempDir(s"emptychunk-$kind").toString
      val full = rows("o/r", d1, "x")
      mk(root).appendChunk(GithubTables(full, full, full.limit(0), full))
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        SnapshotWriter.partitionPath(root, "reviewers", "o/r", d1))),
        s"[$kind] empty reviewers frame created a partition")
      for (t <- Seq("pull_requests", "commits", "comments"))
        assert(readBack(kind, root, t) == Set((1L, "x", "o/r"), (2L, "x", "o/r")),
          s"[$kind] $t lost rows")
    }
  }

  test("crash-replayed micro-batch appends no duplicate rows (every crash point)") {
    val root = tempDir("batchappend").toString
    val path = s"$root/pull_requests"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val b0 = rows("o/r", d1, "batch0")

    // clean append, then a full replay of the same batchId (the
    // crash-after-append-before-commits/N window)
    BatchCommit.stageAndPublish(b0, path, "run1", 0L)
    BatchCommit.stageAndPublish(b0, path, "run1", 0L)
    assert(readBack("parquet", root, "pull_requests") ==
      Set((1L, "batch0", "o/r"), (2L, "batch0", "o/r")))

    // crash DURING a previous publish: debris file under this batch's
    // prefix must be cleaned, not added to
    val leaf = new org.apache.hadoop.fs.Path(
      SnapshotWriter.partitionPath(root, "pull_requests", "o/r", d1))
    val debrisName = BatchCommit.filePrefix("run1", 1L) + "part-stale.parquet"
    val live = fs.listStatus(leaf).filter(_.isFile).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, live, fs,
      new org.apache.hadoop.fs.Path(leaf, debrisName), false,
      spark.sparkContext.hadoopConfiguration)
    val b1 = rows("o/r", d1, "batch1")
    BatchCommit.stageAndPublish(b1, path, "run1", 1L)
    assert(readBack("parquet", root, "pull_requests") ==
      Set((1L, "batch0", "o/r"), (2L, "batch0", "o/r"),
        (1L, "batch1", "o/r"), (2L, "batch1", "o/r")),
      "partial-publish debris must be replaced by the replay, not kept")

    // distinct batchIds stay independent; a foreign run's files are
    // never touched by this run's cleanup
    BatchCommit.stageAndPublish(rows("o/r", d1, "otherrun"), path, "run2", 1L)
    assert(readBack("parquet", root, "pull_requests").size == 6)
    BatchCommit.stageAndPublish(b1, path, "run1", 1L) // replay again
    assert(readBack("parquet", root, "pull_requests").size == 6)

    // no hidden stage directories left behind
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .exists(_.getPath.getName.startsWith(".stage_")), "stage dir leaked")
  }

  test("NDJSON load-job sink appendBatch is replay-idempotent") {
    val root = tempDir("batchndjson").toString
    val sink = new NdjsonSnapshotSink(spark, root)
    val b0 = rows("o/r", d1, "nb0")
    sink.appendBatch("pull_requests", b0, "runx", 0L)
    sink.appendBatch("pull_requests", b0, "runx", 0L)
    assert(readBack("ndjson", root, "pull_requests") ==
      Set((1L, "nb0", "o/r"), (2L, "nb0", "o/r")))
  }

  test("NDJSON sink keeps null fields explicit in both load modes") {
    for ((kind, streaming) <- Seq(("load-job", false), ("streaming-insert", true))) {
      val root = tempDir(s"ndjsonnull-$kind").toString
      val df = Seq((1L, Option("x"), d1, "o/r"), (2L, Option.empty[String], d1, "o/r"))
        .toDF("pull_request_id", "opt", "snapshot_date", "target_repository")
      new NdjsonSnapshotSink(spark, root, streaming).append("pull_requests", df)
      val files = s"$root/pull_requests/*/*/*"
      val lines = spark.read.textFile(files).collect()
      assert(lines.length == 2, s"[$kind] ${lines.toSeq}")
      // the load-job contract: a null column is a present field, not a
      // missing one
      assert(lines.exists(_.contains("\"opt\":null")), s"[$kind] ${lines.toSeq}")
      val back = spark.read.schema("pull_request_id LONG, opt STRING").json(files)
      assert(back.as[(Long, Option[String])].collect().toSet ==
        Set((1L, Some("x")), (2L, None)), s"[$kind] round-trip")
    }
  }

  test("batch-commit markers gate replays and pin one runId per checkpoint") {
    val cp = new org.apache.hadoop.fs.Path(
      tempDir("batchcp").toString)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!BatchCommit.isCommitted(fs, cp, 0L))
    BatchCommit.markCommitted(fs, cp, 0L)
    assert(BatchCommit.isCommitted(fs, cp, 0L))
    assert(!BatchCommit.isCommitted(fs, cp, 1L))
    val id = BatchCommit.pinnedRunId(fs, cp)
    assert(BatchCommit.pinnedRunId(fs, cp) == id, "resume must reuse the pinned runId")
  }

  test("sweepOrphans reaps this run's crashed-publish debris, never committed files") {
    val dir = tempDir("sweeporphans")
    val tableRoot = dir.resolve("t").toString
    val cp = dir.resolve("cp").toString
    val cpPath = new org.apache.hadoop.fs.Path(cp)
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val runId = BatchCommit.pinnedRunId(fs, cpPath)
    (0L to 5L).foreach(BatchCommit.markCommitted(fs, cpPath, _))
    // marker 1 reaped by the retention window — its published file
    // is COMMITTED data and must survive the sweep
    fs.delete(new org.apache.hadoop.fs.Path(cpPath, "_graft_appends/1"), false)
    def mk(name: String) =
      fs.create(new org.apache.hadoop.fs.Path(root, name), true).close()
    mk(s"b$runId-1-part-a.parquet") // committed, marker reaped → keep
    mk(s"b$runId-5-part-b.parquet") // committed, marker present → keep
    mk(s"b$runId-9-part-c.parquet") // PAST newest marker, no marker → reap
    mk("bfeedf00d-9-part-d.parquet") // foreign runId → keep
    mk("part-plain.parquet") // non-batch file → keep
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, s".stage_b${runId}_9")) // reap
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".stage_bfeedf00d_3")) // keep

    BatchCommit.sweepOrphans(spark, tableRoot, cp)
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(names == Set(s"b$runId-1-part-a.parquet", s"b$runId-5-part-b.parquet",
      "bfeedf00d-9-part-d.parquet", "part-plain.parquet", ".stage_bfeedf00d_3"),
      s"swept set wrong: $names")
    // idempotent and safe on a missing table
    BatchCommit.sweepOrphans(spark, tableRoot, cp)
    BatchCommit.sweepOrphans(spark, dir.resolve("absent").toString, cp)
  }

  test("batch-commit markers are reaped past the retained-batch window") {
    val cp = new org.apache.hadoop.fs.Path(
      tempDir("batchreap").toString)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 5L).foreach(BatchCommit.markCommitted(fs, cp, _))
    // inside the window: everything retained
    assert((0L to 5L).forall(BatchCommit.isCommitted(fs, cp, _)))
    // a marker far past the window reaps the aged-out ones (Spark
    // itself replays at most the newest uncommitted batch; the window
    // matches minBatchesToRetain so any restorable checkpoint state
    // still finds its markers)
    BatchCommit.markCommitted(fs, cp, 200L)
    assert((0L to 5L).forall(!BatchCommit.isCommitted(fs, cp, _)),
      "aged-out markers were not reaped")
    assert(BatchCommit.isCommitted(fs, cp, 200L))
    // a recent marker within the window survives the next reap
    BatchCommit.markCommitted(fs, cp, 150L)
    BatchCommit.markCommitted(fs, cp, 201L)
    assert(BatchCommit.isCommitted(fs, cp, 150L))
    assert(BatchCommit.isCommitted(fs, cp, 200L))
  }
}
