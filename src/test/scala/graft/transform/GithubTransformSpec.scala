package graft.transform

import java.sql.{Date, Timestamp}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.GithubSchemas

/** Golden tests for the relational core, ported from the reference's
  * tests/test_transform_data.py (the correctness contract per
  * SURVEY.md §5 / FIXTURES.md §2). Comparisons are order-insensitive.
  */
class GithubTransformSpec extends AnyFunSuite with graft.GraftSuite {

  val repo = "mozilla/test-repo"
  val snap: Date = Date.valueOf("2024-06-01")

  def raw(jsons: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(GithubSchemas.rawPullRequest).json(jsons.toDS)
  }

  def ts(iso: String): Timestamp = Timestamp.from(Instant.parse(iso))

  /** Minimal PR json with overridable fields; children default empty. */
  def pr(
      number: String = "1",
      title: String = "\"t\"",
      extra: String = ""): String =
    s"""{"number": $number, "title": $title, "state": "open",
        "created_at": "2023-01-15T10:30:00Z",
        "updated_at": "2023-01-16T14:20:00Z",
        "merged_at": null, "labels": [],
        "commit_data": [], "reviewer_data": [], "comment_data": []$extra}"""

  // --- basic PR mapping (test_transform_data.py:6-32) -----------------

  test("basic PR field mapping and renames") {
    val in = raw(
      """{"number": 123, "title": "Bug 1234567 - Fix crash", "state": "closed",
          "created_at": "2023-01-15T10:30:00Z", "updated_at": "2023-01-16T14:20:00Z",
          "merged_at": "2023-01-17T09:00:00Z", "labels": [],
          "commit_data": [], "reviewer_data": [], "comment_data": []}""")
    val out = GithubTransform(in, repo, snap).pullRequests.collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("pull_request_id") == 123L)
    assert(r.getAs[String]("current_status") == "closed")
    assert(r.getAs[Timestamp]("date_created") == ts("2023-01-15T10:30:00Z"))
    assert(r.getAs[Timestamp]("date_modified") == ts("2023-01-16T14:20:00Z"))
    assert(r.getAs[Timestamp]("date_landed") == ts("2023-01-17T09:00:00Z"))
    assert(r.getAs[Timestamp]("date_approved") == null)
    assert(r.getAs[String]("target_repository") == repo)
    assert(r.getAs[Long]("bug_id") == 1234567L)
    assert(r.getAs[scala.collection.Seq[String]]("labels") == Seq.empty)
    assert(r.getAs[Date]("snapshot_date") == snap)
  }

  test("mock-server nonstandard timestamp format parses identically") {
    val in = raw(pr(number = "7").replace("2023-01-15T10:30:00Z", "2023-01-15 10:30:00Z"))
    val r = GithubTransform(in, repo, snap).pullRequests.collect().head
    assert(r.getAs[Timestamp]("date_created") == ts("2023-01-15T10:30:00Z"))
  }

  // --- bug-id extraction (test_transform_data.py:35-113) --------------

  def bugIdOf(title: String): Option[Long] = {
    val r = GithubTransform(raw(pr(title = s""""$title"""")), repo, snap).pullRequests
      .collect().head
    Option(r.getAs[java.lang.Long]("bug_id")).map(_.longValue)
  }

  test("bug-id formats") {
    assert(bugIdOf("Bug 1234567 - Fix the crash") == Some(1234567L))
    assert(bugIdOf("bug 1234567: fix it") == Some(1234567L))
    assert(bugIdOf("Fix for bug 7654321") == Some(7654321L))
    assert(bugIdOf("b=9876543 - update tests") == Some(9876543L))
    assert(bugIdOf("Bug #1234567 with hash") == Some(1234567L))
  }

  test("bug-id >= 1e8 filtered; first survivor wins; oversize safe") {
    assert(bugIdOf("Bug 999999999 - too big") == None)
    assert(bugIdOf("Bug 100000000 - boundary") == None)
    assert(bugIdOf("Bug 99999999 - under boundary") == Some(99999999L))
    assert(bugIdOf("Bug 999999999 first, but bug 123 survives") == Some(123L))
    assert(bugIdOf("Bug 99999999999999999999999 - overflows int64") == None)
    assert(bugIdOf("Bug 0001234 - leading zeros") == Some(1234L))
    assert(bugIdOf("Update documentation") == None)
    assert(bugIdOf("Fixes issue 1234567") == None)
  }

  // --- labels (test_transform_data.py:116-157) ------------------------

  test("labels: names, empty, null, null-name kept") {
    def labelsOf(json: String): scala.collection.Seq[String] = {
      val in = raw(json)
      GithubTransform(in, repo, snap).pullRequests.collect().head
        .getAs[scala.collection.Seq[String]]("labels")
    }
    val withLabels = pr(number = "1")
      .replace(""""labels": []""",
        """"labels": [{"name": "P1"}, {"name": "backend"}, {"name": "urgent"}]""")
    assert(labelsOf(withLabels).sorted == Seq("P1", "backend", "urgent"))
    assert(labelsOf(pr(number = "2")) == Seq.empty)
    val nullLabels = pr(number = "3").replace(""""labels": []""", """"labels": null""")
    assert(labelsOf(nullLabels) == Seq.empty)
    val nullName = pr(number = "4")
      .replace(""""labels": []""", """"labels": [{"name": null}]""")
    assert(labelsOf(nullName) == Seq(null))
  }

  // --- commits grain (test_transform_data.py:160-276) -----------------

  val commitJson: String =
    """"commit_data": [
        {"sha": "abc123",
         "commit": {"author": {"name": "Alice", "email": "a@x", "date": "2023-01-15T11:00:00Z"}},
         "files": [{"filename": "f1.py", "additions": 10, "deletions": 2, "status": "modified"},
                   {"filename": "f2.py", "additions": 5, "deletions": 0, "status": "added"},
                   {"filename": "f3.py", "additions": 1, "deletions": 7, "status": "removed"}]}]"""

  test("commit-file grain: one row per (commit, file), fields repeated") {
    val in = raw(pr(number = "42").replace(""""commit_data": []""", commitJson))
    val out = GithubTransform(in, repo, snap).commits.collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[String]("filename")).toSet == Set("f1.py", "f2.py", "f3.py"))
    out.foreach { r =>
      assert(r.getAs[Long]("pull_request_id") == 42L)
      assert(r.getAs[String]("commit_sha") == "abc123")
      assert(r.getAs[String]("author_username") == "Alice")
      assert(r.getAs[String]("author_email") == null)
      assert(r.getAs[Timestamp]("date_created") == ts("2023-01-15T11:00:00Z"))
    }
    val f1 = out.find(_.getAs[String]("filename") == "f1.py").get
    assert(f1.getAs[Long]("lines_added") == 10L)
    assert(f1.getAs[Long]("lines_removed") == 2L)
  }

  test("multiple commits flatten; empty-files commit vanishes (inner explode)") {
    val two =
      """"commit_data": [
          {"sha": "c1", "commit": {"author": {"name": "A", "email": "e", "date": "2023-01-01T00:00:00Z"}},
           "files": [{"filename": "x", "additions": 1, "deletions": 1, "status": "m"}]},
          {"sha": "c2", "commit": {"author": {"name": "B", "email": "e", "date": "2023-01-02T00:00:00Z"}},
           "files": [{"filename": "y", "additions": 2, "deletions": 2, "status": "m"},
                     {"filename": "z", "additions": 3, "deletions": 3, "status": "m"}]},
          {"sha": "c3", "commit": {"author": {"name": "C", "email": "e", "date": "2023-01-03T00:00:00Z"}},
           "files": []}]"""
    val in = raw(pr(number = "5").replace(""""commit_data": []""", two))
    val out = GithubTransform(in, repo, snap).commits.collect()
    assert(out.length == 3)
    assert(out.map(r => (r.getAs[String]("commit_sha"), r.getAs[String]("filename"))).toSet ==
      Set(("c1", "x"), ("c2", "y"), ("c2", "z")))
  }

  // --- reviewers (test_transform_data.py:278-349) ---------------------

  val reviewsJson: String =
    """"reviewer_data": [
        {"id": 1, "user": {"login": "rev1"}, "state": "APPROVED", "submitted_at": "2023-01-16T10:00:00Z"},
        {"id": 2, "user": {"login": "rev2"}, "state": "CHANGES_REQUESTED", "submitted_at": "2023-01-16T11:00:00Z"},
        {"id": 3, "user": {"login": "rev3"}, "state": "COMMENTED", "submitted_at": "2023-01-16T12:00:00Z"}]"""

  test("reviewer flatten: states preserved, email null") {
    val in = raw(pr(number = "9").replace(""""reviewer_data": []""", reviewsJson))
    val out = GithubTransform(in, repo, snap).reviewers.collect()
    assert(out.length == 3)
    assert(out.map(r => (r.getAs[String]("reviewer_username"), r.getAs[String]("status"))).toSet ==
      Set(("rev1", "APPROVED"), ("rev2", "CHANGES_REQUESTED"), ("rev3", "COMMENTED")))
    out.foreach(r => assert(r.getAs[String]("reviewer_email") == null))
  }

  test("null review user → null username") {
    val j = """"reviewer_data": [{"id": 1, "user": null, "state": "APPROVED", "submitted_at": "2023-01-16T10:00:00Z"}]"""
    val in = raw(pr(number = "9").replace(""""reviewer_data": []""", j))
    val out = GithubTransform(in, repo, snap).reviewers.collect()
    assert(out.head.getAs[String]("reviewer_username") == null)
  }

  // --- earliest approval (test_transform_data.py:352-389) -------------

  test("date_approved = earliest APPROVED; null when none") {
    val approvals =
      """"reviewer_data": [
          {"id": 1, "user": {"login": "a"}, "state": "APPROVED", "submitted_at": "2023-01-16T12:00:00Z"},
          {"id": 2, "user": {"login": "b"}, "state": "APPROVED", "submitted_at": "2023-01-16T10:00:00Z"},
          {"id": 3, "user": {"login": "c"}, "state": "APPROVED", "submitted_at": "2023-01-16T14:00:00Z"}]"""
    val in = raw(pr(number = "1").replace(""""reviewer_data": []""", approvals))
    val r = GithubTransform(in, repo, snap).pullRequests.collect().head
    assert(r.getAs[Timestamp]("date_approved") == ts("2023-01-16T10:00:00Z"))

    val noApproval = raw(pr(number = "2").replace(""""reviewer_data": []""", reviewsJson
      .replace("APPROVED", "DISMISSED")))
    val r2 = GithubTransform(noApproval, repo, snap).pullRequests.collect().head
    assert(r2.getAs[Timestamp]("date_approved") == null)
  }

  // --- comments (test_transform_data.py:391-523) ----------------------

  test("comment mapping, char counts incl. null/empty body") {
    val cj =
      """"comment_data": [
          {"id": 100, "user": {"login": "u1"}, "body": "This looks great!", "created_at": "2023-01-16T09:00:00Z", "pull_request_review_id": null},
          {"id": 101, "user": {"login": "u2"}, "body": "Short", "created_at": "2023-01-16T09:01:00Z", "pull_request_review_id": null},
          {"id": 102, "user": {"login": "u3"}, "body": null, "created_at": "2023-01-16T09:02:00Z", "pull_request_review_id": null},
          {"id": 103, "user": {"login": "u4"}, "body": "", "created_at": "2023-01-16T09:03:00Z", "pull_request_review_id": null}]"""
    val in = raw(pr(number = "1").replace(""""comment_data": []""", cj))
    val out = GithubTransform(in, repo, snap).comments.collect()
    val counts = out.map(r => r.getAs[Long]("comment_id") -> r.getAs[Long]("character_count")).toMap
    assert(counts == Map(100L -> 17L, 101L -> 5L, 102L -> 0L, 103L -> 0L))
    out.foreach { r =>
      assert(r.getAs[String]("author_email") == null)
      assert(r.getAs[String]("status") == null)
    }
  }

  test("comment status join: matching review id, else null; last wins on dupes") {
    val rj =
      """"reviewer_data": [
          {"id": 789, "user": {"login": "r"}, "state": "APPROVED", "submitted_at": "2023-01-16T10:00:00Z"},
          {"id": 790, "user": {"login": "r2"}, "state": "COMMENTED", "submitted_at": "2023-01-16T11:00:00Z"},
          {"id": 789, "user": {"login": "r3"}, "state": "CHANGES_REQUESTED", "submitted_at": "2023-01-16T12:00:00Z"}]"""
    val cj =
      """"comment_data": [
          {"id": 1, "user": {"login": "u"}, "body": "x", "created_at": "2023-01-16T09:00:00Z", "pull_request_review_id": 789},
          {"id": 2, "user": {"login": "u"}, "body": "y", "created_at": "2023-01-16T09:00:00Z", "pull_request_review_id": 790},
          {"id": 3, "user": {"login": "u"}, "body": "z", "created_at": "2023-01-16T09:00:00Z", "pull_request_review_id": 999},
          {"id": 4, "user": {"login": "u"}, "body": "w", "created_at": "2023-01-16T09:00:00Z", "pull_request_review_id": null}]"""
    val in = raw(pr(number = "1")
      .replace(""""reviewer_data": []""", rj)
      .replace(""""comment_data": []""", cj))
    val out = GithubTransform(in, repo, snap).comments.collect()
    val statuses = out.map(r => r.getAs[Long]("comment_id") -> r.getAs[String]("status")).toMap
    // id 789 appears twice: Python dict keeps the last state.
    assert(statuses == Map(1L -> "CHANGES_REQUESTED", 2L -> "COMMENTED", 3L -> null, 4L -> null))
  }

  // --- structure / empties (test_transform_data.py:526-619) -----------

  test("empty input → four empty tables") {
    val in = raw()
    val t = GithubTransform(in, repo, snap)
    assert(t.pullRequests.count() == 0)
    assert(t.commits.count() == 0)
    assert(t.reviewers.count() == 0)
    assert(t.comments.count() == 0)
  }

  test("minimal PR: 1 PR row, 0 child rows; PR without number dropped") {
    val in = raw(pr(number = "11"), pr(number = "null"))
    val t = GithubTransform(in, repo, snap)
    assert(t.pullRequests.count() == 1)
    assert(t.commits.count() == 0)
    assert(t.reviewers.count() == 0)
    assert(t.comments.count() == 0)
  }

  test("repo + snapshot stamped on all four tables; schemas match data.yml") {
    val in = raw(pr(number = "1")
      .replace(""""commit_data": []""", commitJson)
      .replace(""""reviewer_data": []""", reviewsJson)
      .replace(""""comment_data": []""",
        """"comment_data": [{"id": 1, "user": {"login": "u"}, "body": "b", "created_at": "2023-01-16T09:00:00Z", "pull_request_review_id": null}]"""))
    val t = GithubTransform(in, repo, snap)
    for ((df, schema) <- Seq(
        t.pullRequests -> GithubSchemas.pullRequests,
        t.commits -> GithubSchemas.commits,
        t.reviewers -> GithubSchemas.reviewers,
        t.comments -> GithubSchemas.comments)) {
      assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq)
      df.collect().foreach { r: Row =>
        assert(r.getAs[String]("target_repository") == repo)
        assert(r.getAs[Date]("snapshot_date") == snap)
      }
    }
  }
}
