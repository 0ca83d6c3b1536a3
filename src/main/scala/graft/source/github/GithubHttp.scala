package graft.source.github

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP layer with the reference's retry policy (main.py:380-423):
  * 200/expected → return; 403 with `X-RateLimit-Remaining: 0` → sleep
  * until `X-RateLimit-Reset` then retry forever; anything else is a
  * fatal job error. Clock and sleeper are injectable for tests.
  *
  * One documented GitHub behavior the reference never modeled is
  * handled on top: '''secondary rate limits''', 403/429 WITHOUT
  * `X-RateLimit-Remaining: 0`, carrying `Retry-After` seconds — the
  * abuse limiter. Previously these hit the fail-fast branch and
  * aborted the job; now the advertised delay is honored, within the
  * same bounded retry budget.
  */
final case class GithubResponse(
    status: Int,
    body: String,
    headers: Map[String, String]) {
  def header(name: String): Option[String] =
    headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
}

class GithubApiError(msg: String) extends RuntimeException(msg)

class GithubHttp(
    sleeper: Long => Unit = millis => Thread.sleep(millis),
    clock: () => Long = () => System.currentTimeMillis() / 1000L) {

  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30))
    // renamed/transferred repos answer 301; the reference's
    // requests.Session follows redirects transparently
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  protected def send(url: String, method: String, headers: Map[String, String]): GithubResponse = {
    val builder = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(60))
    headers.foreach { case (k, v) => builder.header(k, v) }
    val req = (method match {
      case "POST" => builder.POST(HttpRequest.BodyPublishers.noBody())
      case _ => builder.GET()
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val hdrs = {
      import scala.jdk.CollectionConverters._
      resp.headers().map().asScala.map { case (k, v) =>
        k -> v.asScala.headOption.getOrElse("")
      }.toMap
    }
    GithubResponse(resp.statusCode(), resp.body(), hdrs)
  }

  private def isRateLimited(r: GithubResponse): Boolean =
    r.status == 403 && r.header("X-RateLimit-Remaining").map(_.trim).contains("0")

  /** Secondary (abuse) rate limit: 403 or 429 that is NOT the primary
    * remaining-0 shape, with a `Retry-After` hint. A 403 carrying
    * neither remaining-0 nor Retry-After stays a fatal error — real
    * permission failures must not be retried into.
    */
  private def isSecondaryLimited(r: GithubResponse): Boolean =
    (r.status == 403 || r.status == 429) && !isRateLimited(r) &&
      r.header("Retry-After").isDefined

  /** Floor applied when the reset header is absent/invalid, or when a
    * passed reset keeps answering 403 — without it a server that never
    * advertises a usable reset would be hammered in a zero-sleep loop.
    */
  val MinBackoffMs: Long = 5000L

  /** Consecutive rate-limited responses tolerated before the job
    * aborts; a healthy limiter clears after one sleep, so hitting this
    * means the advertised reset is not actually resetting.
    */
  val MaxRateLimitRetries: Int = 20

  /** Milliseconds until the advertised reset second (main.py:380-389);
    * None when the header is absent or unparseable.
    */
  private def resetDelayMs(r: GithubResponse): Option[Long] =
    r.header("X-RateLimit-Reset").flatMap(_.trim.toLongOption)
      .map(reset => math.max(0L, reset - clock()) * 1000L)

  private def sleepForRateLimit(r: GithubResponse, attempt: Int): Unit =
    resetDelayMs(r) match {
      case Some(ms) if ms > 0 => sleeper(ms)
      // reset already passed: retry promptly once (the window usually
      // HAS reset), then assume a stale header and back off
      case Some(_) => sleeper(if (attempt <= 1) 0L else MinBackoffMs)
      case None => sleeper(MinBackoffMs)
    }

  /** GET with the retry-on-rate-limit loop; non-200 aborts the job. */
  def get(url: String, headers: Map[String, String] = Map.empty): GithubResponse = {
    var rateLimited = 0
    while (true) {
      val resp = send(url, "GET", headers)
      if (resp.status == 200) return resp
      val limited = isRateLimited(resp) || isSecondaryLimited(resp)
      if (limited) {
        rateLimited += 1
        if (rateLimited > MaxRateLimitRetries)
          throw new GithubApiError(
            s"GitHub API rate limit did not clear after $MaxRateLimitRetries retries for $url")
        if (isRateLimited(resp)) sleepForRateLimit(resp, rateLimited)
        else sleeper(
          // the secondary limiter's own advertised delay; an
          // unparseable header falls back to the floor
          resp.header("Retry-After").flatMap(_.trim.toLongOption)
            .map(s => math.max(0L, s) * 1000L).getOrElse(MinBackoffMs))
      } else throw new GithubApiError(
        s"GitHub API error ${resp.status} for $url: " +
          (if (resp.body.isEmpty) "No response text" else resp.body))
    }
    throw new IllegalStateException("unreachable")
  }

  /** POST for the token exchange; single rate-limit retry like the
    * reference (main.py:96-144), status validation left to callers.
    */
  def post(url: String, headers: Map[String, String] = Map.empty): GithubResponse = {
    val resp = send(url, "POST", headers)
    if (isRateLimited(resp)) {
      sleepForRateLimit(resp, attempt = 1)
      send(url, "POST", headers)
    } else resp
  }
}
