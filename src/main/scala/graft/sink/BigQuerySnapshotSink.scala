package graft.sink

import java.sql.Date

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.transform.GithubTransform.GithubTables

/** One HTTP exchange against the BigQuery REST surface. */
final case class BigQueryResponse(status: Int, body: String)

/** Transport seam under [[BigQuerySnapshotSink]]: the adapter builds
  * every request (URLs, DML, job configs, NDJSON payloads) and hands
  * them to this trait, so the full warehouse protocol is unit-testable
  * against a recorded-request fake — the same seam discipline as
  * `GithubHttp`. [[HttpBigQueryTransport]] is the wire implementation.
  */
trait BigQueryTransport {
  def request(
      method: String,
      url: String,
      contentType: String,
      body: Array[Byte]): BigQueryResponse
}

/** `java.net.http` transport. Auth is a bearer token supplied by the
  * environment (for the production API an access token minted from
  * application-default credentials; the emulator needs none) — token
  * REFRESH is deliberately out of scope for this adapter, as the
  * reference delegates it to its client library the same way.
  */
class HttpBigQueryTransport(token: Option[String] = None) extends BigQueryTransport {
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30))
    .build()

  override def request(
      method: String,
      url: String,
      contentType: String,
      body: Array[Byte]): BigQueryResponse = {
    val builder = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(120))
    token.foreach(t => builder.header("Authorization", s"Bearer $t"))
    val req = (method match {
      case "POST" =>
        builder.header("Content-Type", contentType)
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
      case _ => builder.GET()
    }).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    BigQueryResponse(resp.statusCode(), resp.body())
  }
}

class BigQueryConfigError(msg: String) extends IllegalArgumentException(msg)
class BigQueryApiError(msg: String) extends RuntimeException(msg)

/** The reference's ACTUAL destination: BigQuery, reached over its REST
  * v2 surface (reference main.py:552-683). Honors the `SnapshotSink`
  * contract with the reference's exact semantics:
  *
  *  - `exists` — `SELECT 1 … LIMIT 1` sentinel against
  *    `pull_requests` (main.py:552-601): a missing TABLE is "no
  *    snapshot yet" (first run); a missing DATASET is a configuration
  *    error and fails loudly;
  *  - `deleteSnapshot` — one parameterized DML DELETE per table for
  *    the (snapshot_date, repo) pair, in fixed table order
  *    (main.py:604-638); run before loads, it makes reruns repair
  *    crashed runs;
  *  - `append` — NDJSON load jobs with WRITE_APPEND (main.py:673-683:
  *    load jobs write straight to storage, so rows are immediately
  *    deletable — the delete-then-append ordering relies on this), or
  *    streaming `insertAll` batches when `streamingInserts` is set
  *    (the reference's `BIGQUERY_EMULATOR_HOST` fallback,
  *    main.py:805-814, emulators not supporting load jobs);
  *  - empty tables are skipped, as in load_data (main.py:716-719).
  *
  * Scale note: this adapter is the reference-faithful DIRECT-load
  * path — rows stream through the driver one partition at a time
  * (`toLocalIterator`, never a whole-table collect) and the NDJSON
  * buffer flushes as its own load job every `loadChunkBytes` (64 MB
  * default), so driver memory stays bounded regardless of table
  * size. A 100 TB bulk load should instead land parquet in object
  * storage via `ParquetSnapshotSink` and load from URIs; this class
  * exists for drop-in parity with the reference's warehouse, not as
  * the bulk path.
  */
class BigQuerySnapshotSink(
    spark: SparkSession,
    transport: BigQueryTransport,
    project: String,
    dataset: String,
    apiBase: String = "https://bigquery.googleapis.com/bigquery/v2",
    uploadBase: String = "https://bigquery.googleapis.com/upload/bigquery/v2",
    streamingInserts: Boolean = false,
    insertBatchSize: Int = 500,
    sleeper: Long => Unit = Thread.sleep,
    maxPollAttempts: Int = 300,
    pollIntervalMs: Long = 2000L,
    loadChunkBytes: Int = 64 << 20) extends SnapshotSink {

  private val mapper = new ObjectMapper()

  /** Real BigQuery reports a missing dataset in either URL-path form
    * (`…/datasets/ds`) or prose form (`Not found: Dataset proj:ds`);
    * both must fail loudly everywhere a 404 is tolerated for a
    * missing TABLE.
    */
  private def isMissingDataset(body: String): Boolean =
    body.contains(s"datasets/$dataset") ||
      body.contains(s"Dataset $project:$dataset")

  // --- exists (main.py:552-601) ---------------------------------------

  override def exists(repo: String, snapshotDate: Date): Boolean = {
    val sql =
      s"""SELECT 1 FROM `$project.$dataset.pull_requests`
          WHERE snapshot_date = @snapshot_date AND target_repository = @repo
          LIMIT 1"""
    val resp = query(sql, snapshotDate, repo)
    if (resp.status == 404) {
      if (isMissingDataset(resp.body))
        throw new BigQueryConfigError(
          s"BigQuery dataset '$dataset' not found — check dataset config: ${resp.body}")
      false // missing table: expected on first run, no snapshot yet
    } else {
      val node = completedQuery(resp, "existence probe")
      Option(node.get("totalRows")).exists(_.asText("0").toLong > 0) ||
        Option(node.get("rows")).exists(_.size > 0)
    }
  }

  // --- delete (main.py:604-638) ---------------------------------------

  override def deleteSnapshot(repo: String, snapshotDate: Date): Unit =
    for (table <- SnapshotWriter.TableNames) {
      val dml =
        s"""DELETE FROM `$project.$dataset.$table`
            WHERE snapshot_date = @snapshot_date AND target_repository = @repo"""
      val resp = query(dml, snapshotDate, repo)
      if (resp.status == 404) {
        // a missing DATASET is a config error and must abort BEFORE
        // appends (same detection as exists); a missing TABLE has
        // nothing to delete and is expected on first run
        if (isMissingDataset(resp.body))
          throw new BigQueryConfigError(
            s"BigQuery dataset '$dataset' not found — check dataset config: ${resp.body}")
      } else completedQuery(resp, s"DELETE from $table"): Unit
    }

  /** jobs.query is synchronous only up to its server-side timeout: a
    * 200 with `jobComplete: false` means the statement is STILL
    * RUNNING. Returning then would let WRITE_APPEND loads race an
    * in-flight DELETE (BigQuery may apply the delete after the load
    * commits — an empty snapshot) and would make `exists` report
    * false for present rows (an incomplete response carries no
    * totalRows/rows). Poll getQueryResults until the job completes,
    * as the reference's client library does inside its blocking
    * query call.
    */
  private def completedQuery(resp: BigQueryResponse, what: String): ObjectNode = {
    var node = parsed(resp, what)
    var attempts = 0
    while (!Option(node.get("jobComplete")).forall(_.asBoolean(true))) {
      attempts += 1
      if (attempts > maxPollAttempts)
        throw new BigQueryApiError(
          s"BigQuery query did not complete after $maxPollAttempts polls during $what")
      val jobId = node.at("/jobReference/jobId").asText("")
      if (jobId.isEmpty)
        throw new BigQueryApiError(
          s"incomplete BigQuery query returned no jobId during $what")
      sleeper(pollIntervalMs)
      node = parsed(
        transport.request("GET", s"$apiBase/projects/$project/queries/$jobId",
          "application/json", Array.emptyByteArray),
        s"query poll during $what")
    }
    node
  }

  private def query(sql: String, snapshotDate: Date, repo: String): BigQueryResponse = {
    val body = mapper.createObjectNode()
    body.put("query", sql)
    body.put("useLegacySql", false)
    body.put("parameterMode", "NAMED")
    val params = body.putArray("queryParameters")
    def param(name: String, typ: String, value: String): Unit = {
      val p = params.addObject()
      p.put("name", name)
      p.putObject("parameterType").put("type", typ)
      p.putObject("parameterValue").put("value", value)
    }
    param("snapshot_date", "DATE", snapshotDate.toString)
    param("repo", "STRING", repo)
    transport.request("POST", s"$apiBase/projects/$project/queries",
      "application/json", mapper.writeValueAsBytes(body))
  }

  // --- load (main.py:641-683) -----------------------------------------

  override def writeSnapshot(tables: GithubTables, skipIfEmpty: Boolean): Unit =
    for ((name, df) <- tables.named if !skipIfEmpty || !df.isEmpty) append(name, df)

  override def append(table: String, df: DataFrame): Unit = {
    // one partition in driver memory at a time — never a full collect
    val lines = NdjsonSnapshotSink.jsonLines(df).select("value").toLocalIterator()
    if (streamingInserts) {
      val batch = new scala.collection.mutable.ArrayBuffer[String](insertBatchSize)
      while (lines.hasNext) {
        batch += lines.next().getString(0)
        if (batch.size >= insertBatchSize) { insertAll(table, batch.toSeq); batch.clear() }
      }
      if (batch.nonEmpty) insertAll(table, batch.toSeq)
    } else {
      // chunked load jobs: flush whenever the buffered NDJSON reaches
      // loadChunkBytes, so driver memory stays bounded no matter the
      // table size (WRITE_APPEND makes one-job-per-chunk equivalent to
      // one big job). Chunks break on line boundaries only.
      val payload = new java.io.ByteArrayOutputStream()
      while (lines.hasNext) {
        payload.write(lines.next().getString(0).getBytes("UTF-8"))
        payload.write('\n')
        if (payload.size >= loadChunkBytes) {
          loadJob(table, payload.toByteArray)
          payload.reset()
        }
      }
      if (payload.size > 0) loadJob(table, payload.toByteArray)
    }
  }

  /** Streaming insert RPC: tabledata.insertAll with per-row JSON.
    * Insert errors are per-row and partial — any error fails the job,
    * as in the reference (main.py:663-668).
    */
  private def insertAll(table: String, rows: Seq[String]): Unit = {
    val body = new StringBuilder("{\"rows\":[")
    var first = true
    rows.foreach { line =>
      if (!first) body.append(',')
      body.append("{\"json\":").append(line).append('}')
      first = false
    }
    body.append("]}")
    val resp = transport.request("POST",
      s"$apiBase/projects/$project/datasets/$dataset/tables/$table/insertAll",
      "application/json", body.toString.getBytes("UTF-8"))
    val node = parsed(resp, s"insertAll into $table")
    Option(node.get("insertErrors")).filter(_.size > 0).foreach { errs =>
      throw new BigQueryApiError(s"BigQuery insert errors for table $table: $errs")
    }
  }

  /** Multipart media-upload load job (WRITE_APPEND, NDJSON source
    * format — main.py:673-677), polled to completion so a failed load
    * surfaces as a job abort, not a silent partial snapshot.
    */
  private def loadJob(table: String, ndjson: Array[Byte]): Unit = {
    val config = mapper.createObjectNode()
    val load = config.putObject("configuration").putObject("load")
    val dest = load.putObject("destinationTable")
    dest.put("projectId", project)
    dest.put("datasetId", dataset)
    dest.put("tableId", table)
    load.put("writeDisposition", "WRITE_APPEND")
    load.put("sourceFormat", "NEWLINE_DELIMITED_JSON")

    val boundary = "graft_boundary"
    val out = new java.io.ByteArrayOutputStream()
    def writeStr(s: String): Unit = out.write(s.getBytes("UTF-8"))
    writeStr(s"--$boundary\r\nContent-Type: application/json; charset=UTF-8\r\n\r\n")
    out.write(mapper.writeValueAsBytes(config))
    writeStr(s"\r\n--$boundary\r\nContent-Type: application/octet-stream\r\n\r\n")
    out.write(ndjson)
    writeStr(s"\r\n--$boundary--\r\n")

    val resp = transport.request("POST",
      s"$uploadBase/projects/$project/jobs?uploadType=multipart",
      s"multipart/related; boundary=$boundary", out.toByteArray)
    awaitJob(parsed(resp, s"load job for $table"), table)
  }

  /** Follow a job resource to DONE (load jobs are async; the reference
    * blocks on `load_job.result()` the same way). The default budget
    * is 300 polls × 2 s = 10 minutes — production load jobs routinely
    * run past one minute under warehouse load, and a spurious timeout
    * here aborts a run whose job then succeeds server-side.
    */
  private def awaitJob(initial: ObjectNode, table: String): Unit = {
    var node = initial
    var attempts = 0
    while (Option(node.at("/status/state")).map(_.asText("")).getOrElse("") != "DONE") {
      attempts += 1
      if (attempts > maxPollAttempts)
        throw new BigQueryApiError(
          s"BigQuery load job for $table did not complete after $maxPollAttempts polls")
      sleeper(pollIntervalMs)
      val jobId = node.at("/jobReference/jobId").asText("")
      if (jobId.isEmpty)
        throw new BigQueryApiError(s"BigQuery load job for $table returned no jobId")
      node = parsed(
        transport.request("GET", s"$apiBase/projects/$project/jobs/$jobId",
          "application/json", Array.emptyByteArray),
        s"load job poll for $table")
    }
    val err = node.at("/status/errorResult")
    if (!err.isMissingNode && !err.isNull)
      throw new BigQueryApiError(s"BigQuery load errors for table $table: $err")
  }

  private def parsed(resp: BigQueryResponse, what: String): ObjectNode = {
    if (resp.status < 200 || resp.status >= 300)
      throw new BigQueryApiError(
        s"BigQuery API error ${resp.status} during $what: ${resp.body}")
    mapper.readTree(resp.body) match {
      case o: ObjectNode => o
      case other => throw new BigQueryApiError(
        s"unexpected BigQuery response during $what: $other")
    }
  }
}
