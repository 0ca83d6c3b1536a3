package graft.sink

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** [[BatchCommit.listOrphans]] — the read-only debris inventory an
  * operator consults BEFORE deciding whether a maintenance op may
  * claim leftover publish debris. Exercised over a fabricated
  * two-run layout: a pinned run with one committed file, one
  * orphan-suspect file past its newest marker, and a leftover stage;
  * plus a foreign run's file and stage that no checkpoint here can
  * adjudicate.
  */
class OrphanReportSpec extends AnyFunSuite with graft.GraftSuite with graft.TempDirs {

  private def touch(f: java.io.File, bytes: Int = 0): Unit = {
    f.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(f)
    try out.write(new Array[Byte](bytes)) finally out.close()
  }

  test("listOrphans adjudicates a two-run debris layout without touching it") {
    val dir = tempDir("orphans").toFile
    val table = new java.io.File(dir, "codes")
    // pinned run "deadbeef": markers 0..5 exist (newest = 5)
    touch(new java.io.File(table, "bdeadbeef-0-part-00000.parquet"), 10)
    touch(new java.io.File(table, "bdeadbeef-7-part-00000.parquet"), 20)
    new java.io.File(table, ".stage_bdeadbeef_7").mkdirs()
    // an in-flight/abandoned FOREIGN run "cafe0123"
    touch(new java.io.File(table, "bcafe0123-3-part-00000.parquet"), 30)
    new java.io.File(table, ".stage_bcafe0123_1").mkdirs()
    // a plain compacted data file: never reported
    touch(new java.io.File(table, "part-00000-plain.parquet"), 40)
    val cp = new java.io.File(dir, "cp")
    touch(new java.io.File(cp, "_graft_run_id")) // then write content
    java.nio.file.Files.writeString(
      new java.io.File(cp, "_graft_run_id").toPath, "deadbeef")
    touch(new java.io.File(cp, "_graft_appends/0"))
    touch(new java.io.File(cp, "_graft_appends/5"))

    def snapshot() = dir.listFiles.flatMap { f =>
      def walk(x: java.io.File): Seq[String] =
        if (x.isDirectory) x.getName +: x.listFiles.toSeq.flatMap(walk)
        else Seq(s"${x.getName}:${x.length}")
      walk(f)
    }.sorted.toSeq

    val before = snapshot()
    val rows = BatchCommit.listOrphans(spark, table.toString,
      Some(cp.toString)).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[String]("run_id"),
        r.getAs[Long]("batch_id"), r.getAs[String]("status"),
        r.getAs[Long]("bytes")))
      .toSet
    assert(snapshot() == before, "a READ-ONLY report mutated the layout")

    assert(rows == Set(
      ("batch_file", "deadbeef", 0L, "committed", 10L),
      ("batch_file", "deadbeef", 7L, "orphan_suspect", 20L),
      ("stage_dir", "deadbeef", 7L, "stage_leftover", 0L),
      ("batch_file", "cafe0123", 3L, "unknown_run", 30L),
      ("stage_dir", "cafe0123", 1L, "stage_leftover", 0L)),
      s"unexpected report: $rows")

    // without a checkpoint nothing can be adjudicated
    val blind = BatchCommit.listOrphans(spark, table.toString, None)
      .collect().map(r =>
        (r.getAs[String]("kind"), r.getAs[String]("status"))).toSet
    assert(blind == Set(
      ("batch_file", "unknown"), ("stage_dir", "stage_leftover")))

    // a checkpoint whose run id file was never written: also blind —
    // and the report must NOT mint one (pinnedRunId would)
    val cpEmpty = new java.io.File(dir, "cp_empty")
    cpEmpty.mkdirs()
    val blind2 = BatchCommit.listOrphans(spark, table.toString,
      Some(cpEmpty.toString)).collect()
      .map(_.getAs[String]("status")).toSet
    assert(blind2 == Set("unknown", "stage_leftover"))
    assert(!new java.io.File(cpEmpty, "_graft_run_id").exists,
      "read-only report minted a run id")

    // empty/missing table: empty frame, schema intact
    val none = BatchCommit.listOrphans(spark,
      new java.io.File(dir, "nope").toString, Some(cp.toString))
    assert(none.columns.toSeq == Seq("kind", "run_id", "batch_id",
      "path", "bytes", "modified_ms", "status"))
    assert(none.count() == 0L)
  }
}
