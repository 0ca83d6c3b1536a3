package graft.source.github

import java.net.{URI, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import scala.jdk.CollectionConverters._

/** One PR list-page document plus the two scalar fields the DSv2
  * source can project or filter without touching `value`'s
  * enrichment fetches. Captured at parse time — no re-parse per row.
  */
final case class PrDoc(json: String, state: Option[String], createdAt: Option[String])

/** Server/source-side pruning for the PR walk, produced by DSv2
  * filter pushdown (or reader options):
  *
  *  - `state` ("open"/"closed") rides the list request as the
  *    `state=` query param — the server returns fewer PRs, so fewer
  *    pages AND fewer per-PR enrichment fetches. Rows are ALSO
  *    filtered source-side, so correctness never depends on the
  *    server honoring the param.
  *  - `created_at` bounds are enforced row-side with PLAIN
  *    lexicographic string comparison — bit-identical to Spark's
  *    `StringType` comparison, so a fully-pushed filter (no residual)
  *    yields exactly the rows an unpushed plan would. Rows with the
  *    field missing fail any bound (SQL null comparison semantics).
  *  - an upper bound additionally stops pagination early: the walk is
  *    server-sorted `sort=created&direction=asc`, so once a page
  *    contains a PR whose created DATE (first 10 chars — identical
  *    across the ISO and the reference mock's space-separated format,
  *    mock_github_api.py:16) is strictly past the bound's date, no
  *    later page can hold a qualifying row. The date-part guard keeps
  *    the stop format-agnostic; same-date rows still get row-filtered.
  *
  * A lower bound cannot skip earlier PAGES on an ascending walk (the
  * GitHub pulls API has no `since` param), but dropping the row
  * before enrichment still saves the ~4 HTTP fetches per PR that
  * dominate scan cost.
  */
final case class PrScanPrune(
    state: String = "all",
    minCreated: Option[String] = None,
    minInclusive: Boolean = true,
    maxCreated: Option[String] = None,
    maxInclusive: Boolean = true) {

  def isNoop: Boolean = state == "all" && minCreated.isEmpty && maxCreated.isEmpty

  /** Row-level admission — Spark `StringType` comparison semantics. */
  def admits(state: Option[String], createdAt: Option[String]): Boolean = {
    val stateOk = this.state == "all" || state.contains(this.state)
    val minOk = minCreated.forall(b => createdAt.exists(c =>
      if (minInclusive) c >= b else c > b))
    val maxOk = maxCreated.forall(b => createdAt.exists(c =>
      if (maxInclusive) c <= b else c < b))
    stateOk && minOk && maxOk
  }

  /** True once `createdAt`'s date-part proves every later row of the
    * ascending walk fails the upper bound.
    */
  def pastUpperBound(createdAt: Option[String]): Boolean =
    maxCreated.exists(b => createdAt.exists(_.take(10) > b.take(10)))
}

/** Paginated PR extraction with per-PR enrichment, mirroring the
  * reference generator (main.py:176-377):
  *
  *  - `GET /repos/{repo}/pulls?state=all&sort=created&direction=asc&
  *    per_page=N`, following the RFC-5988 `Link: rel="next"` header by
  *    extracting its `page` parameter (stop on missing/invalid page,
  *    empty batch, or no next link);
  *  - per PR (skipping PRs without `number` — they stay in the batch
  *    unenriched, main.py:228-230): commits list + per-commit detail
  *    fetch merged as `files`, reviews filtered to non-null `user`,
  *    issue comments filtered to non-null `user` and non-empty `body`.
  *    Pages are walked in order, but a page's PRs are enriched
  *    [[GithubExtractor.EnrichInFlight]] at a time (one PR's requests
  *    stay in order on one thread);
  *  - `refreshAuth` invoked before every page fetch so 1-hour
  *    installation tokens can't expire mid-scan (main.py:213-215).
  *
  * Yields chunks of enriched PR documents as single-line JSON strings
  * (chunk = one API page), ready for `from_json` with
  * [[graft.model.GithubSchemas.rawPullRequest]].
  */
class GithubExtractor(
    http: GithubHttp,
    apiUrl: String,
    authHeaders: () => Map[String, String] = () => Map.empty) {

  private val mapper = new ObjectMapper

  private def getJson(url: String): JsonNode =
    mapper.readTree(http.get(url, authHeaders()).body)

  /** Commits for a PR, each enriched with the detail fetch's `files`
    * array (main.py:274-307).
    */
  def extractCommits(repo: String, prNumber: Long,
      fetch: String => JsonNode = getJson): ArrayNode = {
    val commits = fetch(s"$apiUrl/repos/$repo/pulls/$prNumber/commits")
      .asInstanceOf[ArrayNode]
    commits.elements.asScala.foreach { commit =>
      val sha = Option(commit.get("sha")).map(_.asText).getOrElse("")
      val detail = fetch(s"$apiUrl/repos/$repo/commits/$sha")
      val files = Option(detail.get("files"))
        .getOrElse(mapper.createArrayNode)
      commit.asInstanceOf[ObjectNode].set[JsonNode]("files", files)
    }
    commits
  }

  /** Reviews with null users dropped (main.py:310-341). */
  def extractReviewers(repo: String, prNumber: Long,
      fetch: String => JsonNode = getJson): ArrayNode = {
    val reviews = fetch(s"$apiUrl/repos/$repo/pulls/$prNumber/reviews")
    val out = mapper.createArrayNode
    reviews.elements.asScala
      .filter(r => r.hasNonNull("user"))
      .foreach(out.add)
    out
  }

  /** Issue comments with null user or null/empty body dropped
    * (main.py:344-377).
    */
  def extractComments(repo: String, prNumber: Long,
      fetch: String => JsonNode = getJson): ArrayNode = {
    val comments = fetch(s"$apiUrl/repos/$repo/issues/$prNumber/comments")
    val out = mapper.createArrayNode
    comments.elements.asScala
      .filter(c => c.hasNonNull("user") &&
        c.hasNonNull("body") && c.get("body").asText.nonEmpty)
      .foreach(out.add)
    out
  }

  /** Parse the `page` query param out of the Link URL for `rel`;
    * None reproduces every reference stop condition
    * (main.py:244-268).
    */
  private[github] def linkPage(linkHeader: Option[String], rel: String): Option[Int] = for {
    link <- linkHeader
    url <- link.split(",").collectFirst {
      case part if part.contains(s"""rel="$rel"""") =>
        part.trim.stripPrefix("<").takeWhile(_ != '>')
    }
    query <- Option(URI.create(url).getRawQuery)
    pageVal <- query.split("&").collectFirst {
      case kv if kv.startsWith("page=") =>
        URLDecoder.decode(kv.drop(5), UTF_8)
    }
    page <- pageVal.toIntOption if page > 0
  } yield page

  private[github] def nextPage(linkHeader: Option[String]): Option[Int] =
    linkPage(linkHeader, "next")

  /** Total page count for (repo, chunkSize) from page 1's Link
    * rel="last"; 1 when there is no last link (single page). Used by
    * the DSv2 source to plan page-range partitions.
    */
  def pageCount(repo: String, chunkSize: Int, state: String = "all"): Int = {
    val url = s"$apiUrl/repos/$repo/pulls?state=$state&per_page=$chunkSize" +
      "&sort=created&direction=asc"
    val resp = http.get(url, authHeaders())
    linkPage(resp.header("Link"), "last").getOrElse(1)
  }

  /** Chunked extraction: one `Seq[String]` of enriched PR JSON per
    * API page. `startPage`/`endPage` bound the walk for page-range
    * partitions (endPage < 0 = follow links to the end, the
    * reference-faithful default).
    *
    * `enrich = false` skips the per-PR commit/review/comment fetches
    * and yields the bare list-page documents — the DSv2 source uses
    * this when the query's required columns don't include `value`,
    * turning a (1 + ~4·|PRs|)-request scan into a pages-only walk.
    */
  def pages(
      repo: String,
      chunkSize: Int = 100,
      refreshAuth: () => Unit = () => (),
      startPage: Int = 1,
      endPage: Int = -1,
      enrich: Boolean = true): Iterator[Seq[String]] =
    pagesDocs(repo, chunkSize, refreshAuth, startPage, endPage, enrich)
      .map(_.map(_.json))

  /** `pages` with the per-row scalars exposed and `prune` applied
    * BEFORE enrichment: a pruned-away PR costs zero per-PR fetches,
    * and a pushed upper created-bound stops the page walk early
    * (see [[PrScanPrune]] for the exact admission semantics).
    */
  def pagesDocs(
      repo: String,
      chunkSize: Int = 100,
      refreshAuth: () => Unit = () => (),
      startPage: Int = 1,
      endPage: Int = -1,
      enrich: Boolean = true,
      prune: PrScanPrune = PrScanPrune()): Iterator[Seq[PrDoc]] =
    new Iterator[Seq[PrDoc]] {
      private var page: Option[Int] = Some(startPage)
      private var first = startPage == 1

      override def hasNext: Boolean = page.isDefined

      override def next(): Seq[PrDoc] = {
        val p = page.getOrElse(throw new NoSuchElementException)
        refreshAuth()
        val url = s"$apiUrl/repos/$repo/pulls?state=${prune.state}" +
          s"&per_page=$chunkSize&sort=created&direction=asc" +
          (if (first) "" else s"&page=$p")
        first = false
        val resp = http.get(url, authHeaders())
        val batch = mapper.readTree(resp.body).asInstanceOf[ArrayNode]
        var sawPastUpper = false
        val admitted = batch.elements.asScala.flatMap { pr =>
          val state = Option(pr.get("state")).filter(!_.isNull).map(_.asText)
          val created = Option(pr.get("created_at")).filter(!_.isNull).map(_.asText)
          sawPastUpper ||= prune.pastUpperBound(created)
          if (prune.admits(state, created)) Some((pr, state, created)) else None
        }.toIndexedSeq
        // unenriched: no number (main.py:228-230) or pruned value
        if (enrich) enrichPage(repo, admitted.flatMap { case (pr, _, _) =>
          Option(pr.get("number")).filter(n => n.canConvertToLong && n.asLong != 0L)
            .map(n => (pr.asInstanceOf[ObjectNode], n.asLong))
        })
        page =
          if (batch.size == 0 || sawPastUpper) None
          else nextPage(resp.header("Link")).filter(n => endPage < 0 || n <= endPage)
        admitted.map { case (pr, state, created) =>
          PrDoc(mapper.writeValueAsString(pr), state, created)
        }
      }
    }.filter(_.nonEmpty)

  /** Sets `commit_data`, `reviewer_data` and `comment_data` on each of
    * a page's numbered PRs. The calling thread and up to
    * `EnrichInFlight - 1` workers each claim the next PR and run its
    * fetches in the reference's order. The first failure stops every
    * thread before its next GET, and is rethrown as itself once all
    * have stopped. The workers live for this call only: they are
    * joined in the `finally`, so none outlives a page, a failure or
    * an interrupt.
    */
  private def enrichPage(repo: String, prs: IndexedSeq[(ObjectNode, Long)]): Unit = {
    val claimed = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    def fetch(url: String): JsonNode =
      if (failure.get != null) throw GithubExtractor.Stopped else getJson(url)
    def work(): Unit = {
      var i = claimed.getAndIncrement()
      while (i < prs.size && failure.get == null) {
        val (pr, n) = prs(i)
        try {
          pr.set[JsonNode]("commit_data", extractCommits(repo, n, fetch))
          pr.set[JsonNode]("reviewer_data", extractReviewers(repo, n, fetch))
          pr.set[JsonNode]("comment_data", extractComments(repo, n, fetch))
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
        i = claimed.getAndIncrement()
      }
    }
    val workers = Seq.fill(math.min(GithubExtractor.EnrichInFlight, prs.size) - 1) {
      val t = new Thread(() => work(), "github-enrich")
      t.setDaemon(true)
      t
    }
    try {
      workers.foreach(_.start())
      work()
      workers.foreach(_.join())
    } finally {
      // reached early only on an interrupt or a failed start: stop
      // the workers' requests
      workers.foreach(_.interrupt())
      workers.foreach(_.join())
    }
    Option(failure.get).foreach(e => throw e)
  }
}

object GithubExtractor {
  /** PRs of one page enriched at once by one extractor. The per-PR
    * fan-out (commits list, one detail per commit, reviews, comments;
    * about 14 requests a PR) is the extraction's cost, and one
    * request stream leaves a multi-core host idle: on 4 cores the
    * chunked load read about 80 PRs/s with 2 in flight, 100 with 4
    * and 88 with 8. GitHub's secondary limit allows 100 concurrent
    * requests per token; a DSv2 read keeps at most 4 per running
    * repo partition in flight, and `GithubHttp`'s Retry-After branch
    * stays the backstop.
    */
  val EnrichInFlight: Int = 4

  /** Thrown instead of a GET once another PR of the page has failed. */
  private object Stopped extends RuntimeException(null, null, false, false)
}
