package graft.sink

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.transform.GithubTransform.GithubTables

/** The BigQuery REST adapter against a recorded-request fake — the
  * same seam discipline as the GithubHttp specs: every wire-visible
  * behavior the reference mandates (DML delete ordering, WRITE_APPEND
  * NDJSON load jobs, streaming-insert fallback, sentinel existence
  * probe, async job completion) asserted without a network.
  */
class BigQuerySinkSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  val d1: Date = Date.valueOf("2024-05-01")

  def rows(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"pr $i", d1, "o/r"))
      .toDF("pull_request_id", "title", "snapshot_date", "target_repository")

  def tablesOf(df: DataFrame): GithubTables = GithubTables(df, df, df, df)

  val doneJob =
    """{"jobReference": {"jobId": "j1"}, "status": {"state": "DONE"}}"""

  class FakeTransport(
      script: PartialFunction[(String, String), BigQueryResponse] = PartialFunction.empty)
      extends BigQueryTransport {
    val requests = collection.mutable.Buffer[(String, String, String, String)]()
    override def request(method: String, url: String, contentType: String,
        body: Array[Byte]): BigQueryResponse = {
      val b = new String(body, "UTF-8")
      requests.synchronized { requests += ((method, url, contentType, b)) }
      script.applyOrElse((method, url),
        (_: (String, String)) => BigQueryResponse(200, doneJob))
    }
  }

  def sinkOf(t: BigQueryTransport, streaming: Boolean = false,
      batch: Int = 500, chunk: Int = 64 << 20): BigQuerySnapshotSink =
    new BigQuerySnapshotSink(spark, t, "proj", "ds",
      apiBase = "http://bq/bigquery/v2", uploadBase = "http://bq/upload/bigquery/v2",
      streamingInserts = streaming, insertBatchSize = batch, sleeper = _ => (),
      loadChunkBytes = chunk)

  test("delete issues one parameterized DML per table, in order, before loads") {
    val t = new FakeTransport()
    val sink = sinkOf(t)
    sink.deleteSnapshot("o/r", d1)
    sink.writeSnapshot(tablesOf(rows(2)))
    val deletes = t.requests.take(4)
    assert(deletes.forall(_._2 == "http://bq/bigquery/v2/projects/proj/queries"))
    SnapshotWriter.TableNames.zip(deletes).foreach { case (table, (_, _, _, body)) =>
      assert(body.contains(s"DELETE FROM `proj.ds.$table`"), s"missing DML for $table")
      assert(body.contains("@snapshot_date") && body.contains("@repo"))
      assert(body.contains("\"2024-05-01\"") && body.contains("\"o/r\""))
      assert(body.contains("\"parameterMode\":\"NAMED\""))
    }
    // loads strictly after every delete (the idempotent-rerun ordering)
    val loads = t.requests.drop(4)
    assert(loads.nonEmpty && loads.forall(_._2.startsWith("http://bq/upload/")))
  }

  test("load jobs are multipart WRITE_APPEND NDJSON with the table's rows") {
    val t = new FakeTransport()
    sinkOf(t).append("pull_requests", rows(3))
    val (method, url, contentType, body) = t.requests.head
    assert(method == "POST")
    assert(url == "http://bq/upload/bigquery/v2/projects/proj/jobs?uploadType=multipart")
    assert(contentType.startsWith("multipart/related"))
    assert(body.contains("\"writeDisposition\":\"WRITE_APPEND\""))
    assert(body.contains("\"sourceFormat\":\"NEWLINE_DELIMITED_JSON\""))
    assert(body.contains("\"tableId\":\"pull_requests\""))
    // one NDJSON line per row, every field explicit
    (1 to 3).foreach(i => assert(body.contains(s"""\"pull_request_id\":$i""")))
  }

  test("async load job is polled to DONE; an errorResult aborts the load") {
    val pending =
      """{"jobReference": {"jobId": "j9"}, "status": {"state": "PENDING"}}"""
    val t = new FakeTransport({
      case ("POST", url) if url.startsWith("http://bq/upload/") =>
        BigQueryResponse(200, pending)
      case ("GET", "http://bq/bigquery/v2/projects/proj/jobs/j9") =>
        BigQueryResponse(200, doneJob)
    })
    sinkOf(t).append("commits", rows(1))
    assert(t.requests.map(_._1).toSeq == Seq("POST", "GET"))

    val failed = new FakeTransport({
      case ("POST", url) if url.startsWith("http://bq/upload/") =>
        BigQueryResponse(200,
          """{"jobReference": {"jobId": "j9"},
             "status": {"state": "DONE", "errorResult": {"message": "bad row"}}}""")
    })
    val e = intercept[BigQueryApiError](sinkOf(failed).append("commits", rows(1)))
    assert(e.getMessage.contains("bad row"))
  }

  test("streaming-insert fallback batches insertAll calls per table") {
    val t = new FakeTransport()
    sinkOf(t, streaming = true, batch = 2).append("comments", rows(5))
    val urls = t.requests.map(_._2)
    assert(urls.forall(
      _ == "http://bq/bigquery/v2/projects/proj/datasets/ds/tables/comments/insertAll"))
    assert(urls.size == 3) // 5 rows at batch size 2 → 2 + 2 + 1
    val sizes = t.requests.map(_._4.split("\\{\"json\":").length - 1)
    assert(sizes.toSeq == Seq(2, 2, 1))
    assert(t.requests.head._4.startsWith("""{"rows":[{"json":{"""))
  }

  test("streaming-insert errors fail the load, as the reference mandates") {
    val t = new FakeTransport({
      case ("POST", url) if url.endsWith("/insertAll") =>
        BigQueryResponse(200, """{"insertErrors": [{"index": 0}]}""")
    })
    val e = intercept[BigQueryApiError](
      sinkOf(t, streaming = true).append("comments", rows(1)))
    assert(e.getMessage.contains("insert errors"))
  }

  test("exists: sentinel rows → true; missing table → false; missing dataset → loud") {
    val hasRows = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        BigQueryResponse(200, """{"jobComplete": true, "totalRows": "1",
          "rows": [{"f": [{"v": "1"}]}]}""")
    })
    assert(sinkOf(hasRows).exists("o/r", d1))
    val q = hasRows.requests.head._4
    assert(q.contains("SELECT 1") && q.contains("`proj.ds.pull_requests`") &&
      q.contains("LIMIT 1"))

    val noTable = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        BigQueryResponse(404, """{"error": {"message":
          "Not found: Table proj:ds.pull_requests"}}""")
    })
    assert(!sinkOf(noTable).exists("o/r", d1))

    val noDataset = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        BigQueryResponse(404, """{"error": {"message":
          "Not found: Dataset proj:ds was not found"}}""")
    })
    intercept[BigQueryConfigError](sinkOf(noDataset).exists("o/r", d1))
  }

  test("jobComplete:false DML is polled to completion before loads may start") {
    var polls = 0
    val running =
      """{"jobComplete": false, "jobReference": {"jobId": "q7"}}"""
    val t = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        polls = 0 // each table's DELETE restarts its poll sequence
        BigQueryResponse(200, running)
      case ("GET", "http://bq/bigquery/v2/projects/proj/queries/q7") =>
        polls += 1
        if (polls < 3) BigQueryResponse(200, running)
        else BigQueryResponse(200, """{"jobComplete": true}""")
    })
    sinkOf(t).deleteSnapshot("o/r", d1)
    // 4 DELETEs, each followed by 3 getQueryResults polls to done
    assert(t.requests.count(_._1 == "POST") == 4)
    assert(t.requests.count(_._1 == "GET") == 12)
    // POST → GET GET GET strictly interleaved: no delete left running
    t.requests.map(_._1).grouped(4).foreach(g =>
      assert(g.toSeq == Seq("POST", "GET", "GET", "GET")))
  }

  test("jobComplete:false existence probe polls through to the real row count") {
    var polled = false
    val t = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        BigQueryResponse(200, """{"jobComplete": false, "jobReference": {"jobId": "q8"}}""")
      case ("GET", "http://bq/bigquery/v2/projects/proj/queries/q8") =>
        polled = true
        BigQueryResponse(200,
          """{"jobComplete": true, "totalRows": "1", "rows": [{"f": [{"v": "1"}]}]}""")
    })
    // without the poll this reports false (no rows in the incomplete response)
    assert(sinkOf(t).exists("o/r", d1))
    assert(polled)
  }

  test("delete: missing dataset fails loudly in prose form too; missing table no-ops") {
    val noDataset = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        BigQueryResponse(404, """{"error": {"message":
          "Not found: Dataset proj:ds was not found in location US"}}""")
    })
    intercept[BigQueryConfigError](sinkOf(noDataset).deleteSnapshot("o/r", d1))

    val noTable = new FakeTransport({
      case ("POST", url) if url.endsWith("/queries") =>
        BigQueryResponse(404, """{"error": {"message":
          "Not found: Table proj:ds.commits"}}""")
    })
    sinkOf(noTable).deleteSnapshot("o/r", d1) // nothing to delete: no throw
    assert(noTable.requests.size == 4)
  }

  test("load payloads flush as separate WRITE_APPEND jobs at the chunk boundary") {
    val t = new FakeTransport()
    // ~80-byte lines against a 64-byte chunk: every row flushes alone
    sinkOf(t, chunk = 64).append("pull_requests", rows(5))
    val loads = t.requests.filter(_._2.startsWith("http://bq/upload/"))
    assert(loads.size == 5, s"expected one chunked job per row, got ${loads.size}")
    // chunks break on line boundaries and every row lands exactly once
    val bodies = loads.map(_._4)
    (1 to 5).foreach { i =>
      assert(bodies.count(_.contains(s"\"pull_request_id\":$i")) == 1)
    }
    assert(bodies.forall(_.contains("\"writeDisposition\":\"WRITE_APPEND\"")))
  }

  test("empty tables are skipped by default, loaded when skipIfEmpty=false") {
    val t = new FakeTransport()
    val empty = rows(1).filter("pull_request_id > 99")
    sinkOf(t).writeSnapshot(GithubTables(rows(1), empty, empty, empty))
    assert(t.requests.size == 1) // only pull_requests loaded
    val t2 = new FakeTransport()
    // skipIfEmpty=false still loads nothing for an empty frame (no
    // payload to ship) but must not fail
    sinkOf(t2).writeSnapshot(GithubTables(rows(1), empty, empty, empty),
      skipIfEmpty = false)
    assert(t2.requests.size == 1)
  }
}
