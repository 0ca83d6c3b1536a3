package graft.jobs

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.GithubSchemas
import graft.sink.SnapshotSink
import graft.source.github.GithubSource
import graft.transform.GithubTransform

/** Memory-bounded chunked ETL — the faithful analogue of the
  * reference's streaming/chunked architecture (main.py:871-898,
  * README "Benefits of Chunked Processing"): extract one API page,
  * transform it, load it, repeat. Driver memory holds at most one
  * chunk of raw JSON at a time, so arbitrarily large repositories
  * stream through at bounded memory. [[EtlJob]]'s default mode
  * extracts all repos in one parallel DataSource V2 scan instead, and
  * caches the parsed rows (spilling to disk) until its four table
  * writes finish.
  *
  * Idempotency across chunks mirrors the reference exactly: one
  * up-front partition DELETE for this run's (snapshot_date, repo)
  * pair (main.py:604-638), then WRITE_APPEND per chunk
  * (main.py:673-677). Dynamic overwrite alone is not enough here —
  * a table empty in the first chunk would never clear its stale
  * partition on rerun.
  *
  * Each chunk costs four Spark jobs, one append per table, which the
  * sink may run concurrently ([[SnapshotSink.appendChunk]]): the page
  * is parsed into a single input partition, so each append is one task
  * and writes one file per (snapshot_date, repo) partition, and no
  * emptiness probe runs (an empty append writes nothing). The closing
  * `finalizeSnapshot` compacts a table's partition only where a reader
  * would pay for its files: when they overflow one maximal read split
  * ([[graft.sink.SnapshotWriter.compactionPays]]). A load of a few
  * chunks is left as written; one of many chunks is merged.
  */
object ChunkedEtl {

  final case class ChunkStats(chunks: Int, prs: Long)

  def run(
      spark: SparkSession,
      repo: String,
      opts: GithubSource.Options,
      sink: SnapshotSink,
      snapshotDate: Date): ChunkStats = {
    import spark.implicits._

    val (extractor, refreshAuth) = GithubSource.openExtractor(repo, opts)

    sink.deleteSnapshot(repo, snapshotDate)

    var chunks = 0
    var prs = 0L
    extractor.pages(repo, opts.chunkSize, refreshAuth).foreach { chunk =>
      val raw: DataFrame = spark.read
        .schema(GithubSchemas.rawPullRequest).json(chunk.toDS).coalesce(1)
      sink.appendChunk(GithubTransform(raw, repo, snapshotDate))
      chunks += 1
      prs += chunk.size
    }
    // merge the one-file-per-chunk files this loop leaves, where they
    // cost a reader more than one split (no-op for warehouse sinks)
    sink.finalizeSnapshot(repo, snapshotDate)
    ChunkStats(chunks, prs)
  }
}
