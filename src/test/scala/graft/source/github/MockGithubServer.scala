package graft.source.github

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the reference's Flask mock
  * (mock_github_api.py): 5 PRs over 2 pages with Link-header
  * pagination, per-PR commits (+detail files), reviews (one null
  * user), issue comments (one null body, one null user), App-auth
  * endpoints, and an optional one-shot 403 rate-limit trip.
  *
  * `scalePrs > 0` switches to the reference's INTEGRATION corpus
  * shape (mock_github_api.py:271-276,300-359): that many PRs paginated
  * by the caller's per_page (250 at the default chunk size of 100 →
  * 3 pages), with randomized-but-SEEDED per-PR fan-out in the
  * reference's envelopes — 1-20 commits, 1-15 files per commit, 0-5
  * reviews, 0-10 comments — plus the same deterministic edge cases
  * the small corpus carries (missing `number`, nonstandard timestamp,
  * null users, empty bodies), so mode-equivalence can be asserted at
  * real corpus scale.
  */
class MockGithubServer(val scalePrs: Int = 0) {
  val requestCount = new AtomicInteger(0)
  /** Requests per repo name (for pushdown-pruning assertions). */
  val repoRequests = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  /** Query strings of every /pulls list request (state= pushdown assertions). */
  val pullsQueries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var rateLimitOnce: Boolean = false
  private val rateLimitTripped = new AtomicInteger(0)
  /** One-shot secondary (abuse) limit: 403 with Retry-After but a
    * healthy X-RateLimit-Remaining — the shape that must be retried
    * after the advertised delay, not fail-fasted.
    */
  @volatile var secondaryLimitOnce: Boolean = false
  private val secondaryTripped = new AtomicInteger(0)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  private def prJson(n: Int): String = {
    // page-2 PR #4 has no "number" → must stay unenriched and be
    // dropped by the transform; #5 uses the nonstandard timestamp.
    val numberField = if (n == 4) "" else s""""number": $n,"""
    val ts = if (n == 5) "2023-01-05 10:30:00Z" else s"2023-01-0${n}T10:30:00Z"
    val merged = if (n % 2 == 0) "null" else s""""$ts""""
    s"""{$numberField "title": "Bug ${1000000 + n} - change $n", "state": "${if (n % 2 == 0) "open" else "closed"}",
        "created_at": "$ts", "updated_at": "$ts", "merged_at": $merged,
        "labels": [{"name": "L$n"}]}"""
  }

  private def commitsJson(pr: Int): String =
    s"""[{"sha": "sha$pr-1", "commit": {"author": {"name": "dev$pr", "email": "d@x", "date": "2023-01-0${pr}T11:00:00Z"}}},
         {"sha": "sha$pr-2", "commit": {"author": {"name": "dev$pr", "email": "d@x", "date": "2023-01-0${pr}T12:00:00Z"}}}]"""

  private def commitDetailJson(sha: String): String =
    s"""{"sha": "$sha", "files": [
         {"filename": "$sha/a.scala", "additions": 5, "deletions": 2, "status": "modified"},
         {"filename": "$sha/b.scala", "additions": 1, "deletions": 0, "status": "added"}]}"""

  private def reviewsJson(pr: Int): String =
    s"""[{"id": ${7000 + pr}, "user": {"login": "rev$pr"}, "state": "APPROVED", "submitted_at": "2023-01-0${pr}T13:00:00Z"},
         {"id": ${7100 + pr}, "user": null, "state": "COMMENTED", "submitted_at": "2023-01-0${pr}T14:00:00Z"},
         {"id": ${7200 + pr}, "user": {"login": "rev${pr}b"}, "state": "CHANGES_REQUESTED", "submitted_at": "2023-01-0${pr}T15:00:00Z"}]"""

  private def commentsJson(pr: Int): String =
    s"""[{"id": ${9000 + pr}, "user": {"login": "u$pr"}, "body": "looks good $pr", "created_at": "2023-01-0${pr}T16:00:00Z", "pull_request_review_id": ${7000 + pr}},
         {"id": ${9100 + pr}, "user": null, "body": "dropped", "created_at": "2023-01-0${pr}T16:01:00Z", "pull_request_review_id": null},
         {"id": ${9200 + pr}, "user": {"login": "u${pr}b"}, "body": "", "created_at": "2023-01-0${pr}T16:02:00Z", "pull_request_review_id": null}]"""

  // --- seeded scale-corpus generators ---------------------------------
  // Multiplicative-congruence hash: "random" fan-out that is identical
  // across runs and across the three ETL modes.
  private def h(seed: Long): Int =
    (((seed * 2654435761L) % 2147483647L) & 0x7fffffffL).toInt

  private def scaleTs(n: Int, nonstandard: Boolean): String = {
    val month = 1 + n % 12
    val day = 1 + n % 28
    if (nonstandard) f"2023-$month%02d-$day%02d 10:30:00Z"
    else f"2023-$month%02d-$day%02dT10:30:00Z"
  }

  private def scalePrJson(n: Int): String = {
    // every 50th-ish PR lacks "number" (must stay unenriched and be
    // dropped); every 10th-ish uses the nonstandard timestamp format
    val numberField = if (n % 50 == 17) "" else s""""number": $n,"""
    val ts = scaleTs(n, nonstandard = n % 10 == 3)
    val merged = if (n % 2 == 0) "null" else s""""$ts""""
    val labels = (0 until h(n * 11L) % 4)
      .map(i => s"""{"name": "L$n-$i"}""").mkString(",")
    s"""{$numberField "title": "Bug ${1000000 + n} - change $n",
        "state": "${if (n % 2 == 0) "open" else "closed"}",
        "created_at": "$ts", "updated_at": "$ts", "merged_at": $merged,
        "labels": [$labels]}"""
  }

  private def scaleCommitsJson(pr: Int): String = {
    val c = 1 + h(pr.toLong) % 20 // reference: randint(1, 20)
    (1 to c).map { i =>
      s"""{"sha": "s$pr-$i", "commit": {"author": {"name": "dev$pr",
          "email": "d@x", "date": "${scaleTs(pr, nonstandard = false)}"}}}"""
    }.mkString("[", ",", "]")
  }

  private def scaleCommitDetailJson(sha: String): String = {
    val seed = sha.foldLeft(7L)((a, c) => a * 31 + c)
    val f = 1 + h(seed) % 15 // reference: randint(1, 15)
    val files = (1 to f).map { i =>
      s"""{"filename": "$sha/f$i.scala", "additions": ${h(seed + i) % 100},
          "deletions": ${h(seed + i * 2) % 50}, "status": "modified"}"""
    }.mkString(",")
    s"""{"sha": "$sha", "files": [$files]}"""
  }

  private def scaleReviewsJson(pr: Int): String = {
    val rc = h(pr * 3L) % 6 // reference: randint(0, 5)
    val states = Seq("APPROVED", "COMMENTED", "CHANGES_REQUESTED")
    val real = (0 until rc).map { i =>
      s"""{"id": ${700000 + pr * 10 + i}, "user": {"login": "rev$pr-$i"},
          "state": "${states(i % 3)}",
          "submitted_at": "${scaleTs(pr, nonstandard = false)}"}"""
    }
    // null-user review always present: the filter must hold at scale
    val withNull = real :+
      s"""{"id": ${709999 - pr}, "user": null, "state": "COMMENTED",
          "submitted_at": "${scaleTs(pr, nonstandard = false)}"}"""
    withNull.mkString("[", ",", "]")
  }

  private def scaleCommentsJson(pr: Int): String = {
    val cc = h(pr * 5L) % 11 // reference: randint(0, 10)
    val reviewId =
      if (h(pr * 3L) % 6 > 0) (700000 + pr * 10).toString else "null"
    val real = (0 until cc).map { i =>
      s"""{"id": ${900000 + pr * 20 + i}, "user": {"login": "u$pr-$i"},
          "body": "comment $pr $i",
          "created_at": "${scaleTs(pr, nonstandard = false)}",
          "pull_request_review_id": ${if (i % 3 == 0) reviewId else "null"}}"""
    }
    val withEdgeCases = real ++ Seq(
      s"""{"id": ${919999 - pr}, "user": null, "body": "dropped",
          "created_at": "${scaleTs(pr, nonstandard = false)}",
          "pull_request_review_id": null}""",
      s"""{"id": ${929999 - pr}, "user": {"login": "u${pr}e"}, "body": "",
          "created_at": "${scaleTs(pr, nonstandard = false)}",
          "pull_request_review_id": null}""")
    withEdgeCases.mkString("[", ",", "]")
  }

  private def scalePullsResponse(ex: HttpExchange, query: String): Unit = {
    val page = "(?:^|&)page=(\\d+)".r
      .findFirstMatchIn(query).map(_.group(1).toInt).getOrElse(1)
    val perPage = "(?:^|&)per_page=(\\d+)".r
      .findFirstMatchIn(query).map(_.group(1).toInt).getOrElse(30)
    val start = (page - 1) * perPage + 1
    val end = math.min(start + perPage - 1, scalePrs)
    val body = (start to end).map(scalePrJson).mkString("[", ",", "]")
    val lastPage = (scalePrs + perPage - 1) / perPage
    val lastLink =
      s"""<$url/repos/o/r/pulls?per_page=$perPage&page=$lastPage>; rel="last""""
    val link =
      if (end < scalePrs)
        s"""<$url/repos/o/r/pulls?per_page=$perPage&page=${page + 1}>; rel="next", $lastLink"""
      else lastLink
    respond(ex, 200, body, Map("Link" -> link))
  }

  private def respond(ex: HttpExchange, status: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    ex.getResponseHeaders.set("X-RateLimit-Remaining", "4999")
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  server.createContext("/", (ex: HttpExchange) => {
    requestCount.incrementAndGet()
    val path = ex.getRequestURI.getPath
    "/repos/([^/]+/[^/]+)".r.findFirstMatchIn(path).foreach { m =>
      repoRequests.merge(m.group(1), 1, (a, b) => a + b)
    }
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    if (rateLimitOnce && rateLimitTripped.compareAndSet(0, 1)) {
      respond(ex, 403, """{"message": "rate limited"}""", Map(
        "X-RateLimit-Remaining" -> "0",
        "X-RateLimit-Reset" -> (System.currentTimeMillis() / 1000).toString))
    } else if (secondaryLimitOnce && secondaryTripped.compareAndSet(0, 1)) {
      // X-RateLimit-Remaining stays at respond()'s healthy 4999: the
      // secondary limiter's documented shape is NOT remaining-0
      respond(ex, 403,
        """{"message": "You have exceeded a secondary rate limit"}""",
        Map("Retry-After" -> "2"))
    } else path match {
      case p if p.endsWith("/pulls") && scalePrs > 0 =>
        pullsQueries.add(query)
        scalePullsResponse(ex, query)
      case p if p.endsWith("/pulls") =>
        pullsQueries.add(query)
        // honor state= like the real API (reference hard-codes
        // state=all; the DSv2 state pushdown spec needs the server to
        // actually prune): PR n is open when n is even.
        val state = "(?:^|&)state=([a-z]+)".r
          .findFirstMatchIn(query).map(_.group(1)).getOrElse("all")
        def pageJson(ns: Seq[Int]): String =
          ns.filter(n => state == "all" ||
              (if (n % 2 == 0) "open" else "closed") == state)
            .map(prJson).mkString("[", ",", "]")
        val page = "(?:^|&)page=(\\d+)".r.findFirstMatchIn(query).map(_.group(1).toInt).getOrElse(1)
        if (page == 1)
          respond(ex, 200, pageJson(Seq(1, 2, 3)),
            Map("Link" -> (s"""<$url/repos/o/r/pulls?per_page=3&page=2>; rel="next", """ +
              s"""<$url/repos/o/r/pulls?per_page=3&page=2>; rel="last"""")))
        else
          respond(ex, 200, pageJson(Seq(4, 5)),
            Map("Link" -> s"""<$url/repos/o/r/pulls?per_page=3&page=2>; rel="last""""))
      case p if p.matches(".*/pulls/\\d+/commits") =>
        val pr = p.split("/").takeRight(2).head.toInt
        respond(ex, 200, if (scalePrs > 0) scaleCommitsJson(pr) else commitsJson(pr))
      case p if p.matches(".*/commits/[^/]+") =>
        val sha = p.split("/").last
        respond(ex, 200,
          if (scalePrs > 0) scaleCommitDetailJson(sha) else commitDetailJson(sha))
      case p if p.matches(".*/pulls/\\d+/reviews") =>
        val pr = p.split("/").takeRight(2).head.toInt
        respond(ex, 200, if (scalePrs > 0) scaleReviewsJson(pr) else reviewsJson(pr))
      case p if p.matches(".*/issues/\\d+/comments") =>
        val pr = p.split("/").takeRight(2).head.toInt
        respond(ex, 200, if (scalePrs > 0) scaleCommentsJson(pr) else commentsJson(pr))
      case p if p.endsWith("/installation") =>
        respond(ex, 200, """{"id": 42}""")
      case p if p.matches(".*/app/installations/\\d+/access_tokens") =>
        respond(ex, 201,
          s"""{"token": "tok-${requestCount.get}", "expires_at": "${java.time.Instant.now.plusSeconds(3600)}"}""")
      case _ =>
        respond(ex, 404, s"""{"message": "not found: $path"}""")
    }
  })

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
}
