package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Seeded GitHub REST corpus for the ETL workloads.
  *
  * Repo `r` of a corpus is `bench-org/repo-r`; its PRs are numbered
  * 1..size(r). Repos 0 until `repos` hold `prsPerRepo` PRs each; one
  * more, `warmRepo`, holds `Corpus.WarmPrs` PRs for the untimed warm-up
  * load in set-up. PR `n`'s content (state, timestamps, title, labels,
  * line counts) is drawn from a generator seeded by (seed, r, n) and
  * its fan-out from a seed-permuted slot, so a repo's content does not
  * depend on how many repos the corpus has.
  * Fan-out covers the reference mock's envelope evenly: 1-20 commits
  * per PR, 1-15 files per commit, 0-5 reviews, 0-10 comments. Edge cases the
  * transform must handle are kept: a PR without `number` (about 1 in
  * 50), nonstandard `created_at` timestamps (about 1 in 10), reviews
  * and comments with null users, and comments with empty bodies.
  */
final class Corpus(val seed: Long, val repos: Int, val prsPerRepo: Int) {

  def repoName(r: Int): String = s"bench-org/repo-$r"

  val warmRepo: Int = repos

  def size(r: Int): Int = if (r == warmRepo) Corpus.WarmPrs else prsPerRepo

  final case class Pr(repo: Int, n: Int, slot: Int, hasNumber: Boolean, nonstandardTs: Boolean,
      state: String, merged: Boolean, day: Int, labels: Int, bug: Long,
      commits: IndexedSeq[Int], reviews: Int, nullUserReview: Boolean,
      comments: Int, nullUserComment: Boolean, emptyBodyComment: Boolean)

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(0x9E3779B97F4A7C15L ^ seed)((h, p) =>
      java.lang.Long.rotateLeft(h * 0xBF58476D1CE4E5B9L + p, 23) ^ (h >>> 29)))

  /** PR `n` of repo `r` takes fan-out slot `slots(r)(n - 1)`: the seed
    * permutes which PR gets which slot, so the content changes with the
    * seed while a repo's total work (commits, files, reviews, comments,
    * edge cases) does not.
    */
  private val slots = new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()
  private def slot(r: Int, n: Int): Int = slots.computeIfAbsent(r, _ => {
    val g = rng(r.toLong, -1L)
    val a = Array.range(0, size(r))
    for (i <- a.indices.reverse) { val j = g.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  })(n - 1)

  def pr(r: Int, n: Int): Pr = {
    val g = rng(r.toLong, n.toLong)
    val k = slot(r, n)
    Pr(repo = r, n = n, slot = k,
      hasNumber = k % 50 != 17,
      nonstandardTs = k % 10 == 3,
      state = if (g.nextBoolean()) "open" else "closed",
      merged = g.nextBoolean(),
      day = g.nextInt(365),
      labels = g.nextInt(4),
      bug = if (g.nextInt(4) == 0) 0L else 1000000L + g.nextInt(9000000),
      commits = IndexedSeq.tabulate(1 + k * 7 % 20)(i => 1 + (k * 13 + i * 7) % 15),
      reviews = k * 5 % 6,
      nullUserReview = k % 3 == 0,
      comments = k * 3 % 11,
      nullUserComment = k % 4 == 1,
      emptyBodyComment = k % 4 == 2)
  }

  def prs(r: Int): Iterator[Pr] = (1 to size(r)).iterator.map(pr(r, _))

  private def ts(p: Pr, minute: Int, nonstandard: Boolean = false): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(p.day.toLong)
    val sep = if (nonstandard) " " else "T"
    f"$d$sep${10 + minute / 60}%02d:${minute % 60}%02d:00Z"
  }

  def sha(p: Pr, i: Int): String = {
    val g = rng(p.repo.toLong, p.n.toLong, 1000L + i)
    f"${g.nextLong()}%016x${g.nextLong()}%016x${g.nextInt()}%08x"
  }

  private def q(s: String): String = "\"" + s + "\""

  def prJson(p: Pr): String = {
    val number = if (p.hasNumber) s""""number": ${p.n}, """ else ""
    val created = ts(p, 0, p.nonstandardTs)
    val title = if (p.bug > 0) s"Bug ${p.bug} - change ${p.n}" else s"Refactor module ${p.n}"
    val labels = (0 until p.labels).map(i => s"""{"name": "area-$i"}""").mkString("[", ", ", "]")
    s"""{${number}"title": ${q(title)}, "state": ${q(p.state)}, "created_at": ${q(created)}, """ +
      s""""updated_at": ${q(ts(p, 90))}, "merged_at": ${if (p.merged) q(ts(p, 120)) else "null"}, """ +
      s""""labels": $labels, "user": {"login": "author-${p.n % 17}"}}"""
  }

  private def commit(p: Pr, i: Int, files: String): String =
    s"""{"sha": ${q(sha(p, i))}, "commit": {"author": {"name": "dev-${(p.n + i) % 23}", """ +
      s""""email": "dev@example.com", "date": ${q(ts(p, 5 + i))}}}$files}"""

  def commitsJson(p: Pr): String = p.commits.indices.map(commit(p, _, "")).mkString("[", ", ", "]")

  private def files(p: Pr, i: Int): String = {
    val g = rng(p.repo.toLong, p.n.toLong, 2000L + i)
    (1 to p.commits(i)).map { f =>
      s"""{"filename": "src/mod${g.nextInt(40)}/file$f.scala", "additions": ${g.nextInt(200)}, """ +
        s""""deletions": ${g.nextInt(80)}, "status": "modified"}"""
    }.mkString("[", ", ", "]")
  }

  def commitDetailJson(p: Pr, i: Int): String = s"""{"sha": ${q(sha(p, i))}, "files": ${files(p, i)}}"""

  private val reviewStates = IndexedSeq("APPROVED", "COMMENTED", "CHANGES_REQUESTED")

  def reviewId(p: Pr, i: Int): Long = (p.repo.toLong * 100000L + p.n) * 10L + i

  private def reviews(p: Pr): Seq[String] = (0 until p.reviews).map { i =>
    s"""{"id": ${reviewId(p, i)}, "user": {"login": "rev-${(p.n + i) % 13}"}, """ +
      s""""state": ${q(reviewStates(i % 3))}, "submitted_at": ${q(ts(p, 30 + i))}}"""
  }

  def reviewsJson(p: Pr): String = {
    val edge = if (p.nullUserReview)
      Seq(s"""{"id": ${reviewId(p, 9)}, "user": null, "state": "COMMENTED", "submitted_at": ${q(ts(p, 59))}}""")
    else Nil
    (reviews(p) ++ edge).mkString("[", ", ", "]")
  }

  private def comments(p: Pr): Seq[String] = {
    val base = (p.repo.toLong * 100000L + p.n) * 20L
    (0 until p.comments).map { i =>
      val reviewRef = if (i % 3 == 0 && p.reviews > 0) reviewId(p, 0).toString else "null"
      s"""{"id": ${base + i}, "user": {"login": "u-${(p.n + i) % 29}"}, "body": "comment ${p.n} $i", """ +
        s""""created_at": ${q(ts(p, 60 + i))}, "pull_request_review_id": $reviewRef}"""
    }
  }

  def commentsJson(p: Pr): String = {
    val base = (p.repo.toLong * 100000L + p.n) * 20L
    val nullUser = if (p.nullUserComment)
      Seq(s"""{"id": ${base + 18}, "user": null, "body": "dropped", "created_at": ${q(ts(p, 80))}, "pull_request_review_id": null}""")
    else Nil
    val emptyBody = if (p.emptyBodyComment)
      Seq(s"""{"id": ${base + 19}, "user": {"login": "u-empty"}, "body": "", "created_at": ${q(ts(p, 81))}, "pull_request_review_id": null}""")
    else Nil
    (comments(p) ++ nullUser ++ emptyBody).mkString("[", ", ", "]")
  }

  /** The enriched document the extractor should build for PR `p`,
    * written straight from the generator: commits carrying their detail
    * `files`, reviews without the null-user one, comments without the
    * null-user and empty-body ones. PRs without `number` stay bare.
    */
  def enrichedJson(p: Pr): String =
    if (!p.hasNumber) prJson(p)
    else prJson(p).dropRight(1) +
      p.commits.indices.map(i => commit(p, i, s""", "files": ${files(p, i)}"""))
        .mkString(""", "commit_data": [""", ", ", "], ") +
      reviews(p).mkString(""""reviewer_data": [""", ", ", "], ") +
      comments(p).mkString(""""comment_data": [""", ", ", "]}")

  /** Rows each snapshot table must hold for repo `r` after a load:
    * PRs without `number` are dropped; the commits grain is one row per
    * (commit, file); null-user reviews and null-user or empty-body
    * comments are filtered by the extractor.
    */
  def expectedRows(r: Int): Map[String, Long] = {
    val numbered = prs(r).filter(_.hasNumber).toSeq
    Map(
      "pull_requests" -> numbered.size.toLong,
      "commits" -> numbered.map(_.commits.sum.toLong).sum,
      "reviewers" -> numbered.map(_.reviews.toLong).sum,
      "comments" -> numbered.map(_.comments.toLong).sum)
  }

  def listPages(r: Int, perPage: Int): Int = math.max(1, (size(r) + perPage - 1) / perPage)
}

object Corpus {
  /** PRs of the warm-up repo: one page, so one chunk of four appends. */
  val WarmPrs = 30
}

/** The benchmark's GitHub API server. Runs in its own JVM so its
  * handler work does not share the benchmark JVM's heap, GC or JIT.
  *
  * Usage: LoadGen <seed> <repos> <prsPerRepo> <threads> <requestLog>
  * Prints `PORT <n>` once listening; exits when its stdin closes.
  *
  * - TCP_NODELAY is set through `sun.net.httpserver.nodelay` by the
  *   launcher: without it each response stalls on Nagle plus delayed
  *   ACK (about 44 ms per request against 2.1 ms).
  * - At most `threads` handler threads; the JDK dispatcher parks idle
  *   keep-alive connections, so a client's idle pool costs no handler.
  * - About 1 in 64 of the per-PR URLs (commits, commit detail, reviews,
  *   comments) answers every other request with a secondary-rate-limit
  *   403 carrying `Retry-After: 0`, so each fetch of such a URL costs
  *   exactly one retry. The URLs are chosen by the PR's fan-out slot:
  *   the seed decides which PRs they belong to, not how many there are,
  *   so every seed makes the same number of retries.
  * - Every request is logged (endpoint class, status, bytes, service
  *   microseconds) to `requestLog`; `GET /_stats` returns running
  *   totals per endpoint class, and the wall-clock window (epoch
  *   microseconds) the requests since the previous `/_stats` spanned;
  *   it is not itself counted.
  */
object LoadGen {
  val Classes: Seq[String] = Seq("list", "commits", "commit_detail", "reviews", "comments", "other")

  final class Tally {
    val requests = new AtomicLong
    val limited = new AtomicLong
    val bytes = new AtomicLong
    val serviceNs = new AtomicLong
  }

  def main(args: Array[String]): Unit = {
    val Array(seedS, reposS, prsS, threadsS, logPath) = args
    val corpus = new Corpus(seedS.toLong, reposS.toInt, prsS.toInt)
    val tallies = Classes.map(_ -> new Tally).toMap
    val urlHits = new ConcurrentHashMap[String, AtomicInteger]()
    val log = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(logPath), 1 << 16))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"

    def classify(path: String): String = path.split("/").toSeq.drop(1) match {
      case Seq("repos", _, _, "pulls") => "list"
      case Seq("repos", _, _, "pulls", _, "commits") => "commits"
      case Seq("repos", _, _, "commits", _) => "commit_detail"
      case Seq("repos", _, _, "pulls", _, "reviews") => "reviews"
      case Seq("repos", _, _, "issues", _, "comments") => "comments"
      case _ => "other"
    }

    def param(query: String, key: String): Option[Int] =
      query.split("&").collectFirst { case kv if kv.startsWith(key + "=") => kv.drop(key.length + 1) }
        .flatMap(_.toIntOption)

    def repoIndex(owner: String, name: String): Int = {
      val r = name.stripPrefix("repo-").toIntOption.getOrElse(-1)
      require(owner == "bench-org" && r >= 0 && r <= corpus.warmRepo, s"unknown repo $owner/$name")
      r
    }

    def prOf(owner: String, name: String, n: String): corpus.Pr = {
      val (r, num) = (repoIndex(owner, name), n.toInt)
      require(num >= 1 && num <= corpus.size(r), s"unknown PR $num")
      corpus.pr(r, num)
    }

    def body(cls: String, path: String, query: String): (String, Map[String, String]) =
      (cls, path.split("/").toSeq.drop(1)) match {
        case ("list", Seq(_, owner, name, _)) =>
          val r = repoIndex(owner, name)
          val perPage = param(query, "per_page").getOrElse(30)
          val page = param(query, "page").getOrElse(1)
          val last = corpus.listPages(r, perPage)
          val from = (page - 1) * perPage + 1
          val to = math.min(page * perPage, corpus.size(r))
          val items = (from to to).map(n => corpus.prJson(corpus.pr(r, n))).mkString("[", ", ", "]")
          val url = s"$base/repos/$owner/$name/pulls?state=all&per_page=$perPage&sort=created&direction=asc"
          val lastLink = s"""<$url&page=$last>; rel="last""""
          val link = if (page < last) s"""<$url&page=${page + 1}>; rel="next", $lastLink""" else lastLink
          (items, Map("Link" -> link))
        case ("commits", Seq(_, owner, name, _, n, _)) =>
          (corpus.commitsJson(prOf(owner, name, n)), Map.empty)
        case ("commit_detail", Seq(_, owner, name, _, sha)) =>
          // a detail URL names only the sha: resolve it through the
          // per-repo index built before the port is announced
          val (p, i) = shaIndex(repoIndex(owner, name))(sha)
          (corpus.commitDetailJson(p, i), Map.empty)
        case ("reviews", Seq(_, owner, name, _, n, _)) =>
          (corpus.reviewsJson(prOf(owner, name, n)), Map.empty)
        case ("comments", Seq(_, owner, name, _, n, _)) =>
          (corpus.commentsJson(prOf(owner, name, n)), Map.empty)
        case _ => throw new NoSuchElementException(path)
      }

    lazy val shaIndexes: IndexedSeq[Map[String, (corpus.Pr, Int)]] =
      (0 to corpus.warmRepo).map { r =>
        corpus.prs(r).filter(_.hasNumber).flatMap(p =>
          p.commits.indices.map(i => corpus.sha(p, i) -> (p, i))).toMap
      }
    def shaIndex(r: Int): Map[String, (corpus.Pr, Int)] = shaIndexes(r)

    def limitedUrl(cls: String, path: String): Boolean = {
      def hit(p: corpus.Pr, i: Int) = (p.slot * 7 + Classes.indexOf(cls) * 13 + i * 29) % 64 == 0
      scala.util.Try((cls, path.split("/").toSeq.drop(1)) match {
        case ("commit_detail", Seq(_, owner, name, _, sha)) =>
          val (p, i) = shaIndex(repoIndex(owner, name))(sha)
          hit(p, i)
        case ("commits" | "reviews" | "comments", Seq(_, owner, name, _, n, _)) => hit(prOf(owner, name, n), 0)
        case _ => false
      }).getOrElse(false)
    }
    shaIndexes // corpus generation happens before the port is announced

    def send(ex: HttpExchange, status: Int, text: String, headers: Map[String, String]): Int = {
      val bytes = text.getBytes(UTF_8)
      val h = ex.getResponseHeaders
      h.set("Content-Type", "application/json")
      h.set("X-RateLimit-Remaining", "4999")
      headers.foreach { case (k, v) => h.set(k, v) }
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
      bytes.length
    }

    val windowStart = new AtomicLong(Long.MaxValue)
    val windowEnd = new AtomicLong(0L)
    def epochMicros(): Long = {
      val i = java.time.Instant.now()
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }

    server.createContext("/", (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      val start = epochMicros()
      val path = ex.getRequestURI.getPath
      val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      if (path == "/_stats") {
        val json = Classes.map { c =>
          val t = tallies(c)
          s""""$c": {"requests": ${t.requests.get}, "limited": ${t.limited.get}, """ +
            s""""bytes": ${t.bytes.get}, "service_ns": ${t.serviceNs.get}}"""
        }.mkString("{", ", ", ", ") +
          s""""window_start_us": ${windowStart.getAndSet(Long.MaxValue)}, """ +
          s""""window_end_us": ${windowEnd.getAndSet(0L)}}"""
        log.synchronized(log.flush())
        send(ex, 200, json, Map.empty)
      } else {
        val cls = classify(path)
        val url = if (query.isEmpty) path else s"$path?$query"
        val limited = limitedUrl(cls, path) &&
          urlHits.computeIfAbsent(url, _ => new AtomicInteger).getAndIncrement() % 2 == 0
        val (status, bytes) =
          if (limited) (403, send(ex, 403,
            """{"message": "You have exceeded a secondary rate limit"}""", Map("Retry-After" -> "0")))
          else try {
            val (text, headers) = body(cls, path, query)
            (200, send(ex, 200, text, headers))
          } catch {
            case e: Exception =>
              (404, send(ex, 404, s"""{"message": "Not Found: ${e.getMessage}"}""", Map.empty))
          }
        val ns = System.nanoTime() - t0
        windowStart.accumulateAndGet(start, math.min)
        windowEnd.accumulateAndGet(epochMicros(), math.max)
        val t = tallies(cls)
        t.requests.incrementAndGet()
        if (limited) t.limited.incrementAndGet()
        t.bytes.addAndGet(bytes.toLong)
        t.serviceNs.addAndGet(ns)
        log.synchronized(log.println(s"$cls\t$status\t$bytes\t${ns / 1000}"))
      }
    })
    server.setExecutor(Executors.newFixedThreadPool(threadsS.toInt))
    server.start()
    println(s"PORT ${server.getAddress.getPort}")
    System.out.flush()
    // the benchmark holds our stdin open; EOF means it is done or gone
    while (System.in.read() >= 0) {}
    server.stop(0)
    log.synchronized(log.close())
    sys.exit(0)
  }
}
