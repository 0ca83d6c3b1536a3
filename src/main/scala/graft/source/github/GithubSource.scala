package graft.source.github

/** Connection settings and extractor wiring shared by every GitHub
  * read path.
  *
  * Batch ETL extracts through the DataSource V2 scan
  * ([[GithubDataSource]], `format("github")`): one input partition per
  * repo, or per page range with `pagesPerPartition`, so repos extract
  * in parallel. Inside one partition the pages are fetched in order,
  * and each page's PR enrichment runs
  * [[GithubExtractor.EnrichInFlight]] PRs at a time: the per-PR
  * fan-out is most of the requests, and 4 in flight per extractor
  * stays far below GitHub's 100 concurrent requests per token. Each
  * partition builds its own client through [[openExtractor]], so the
  * credentials in [[Options]] travel to the executors as reader
  * options. [[graft.jobs.ChunkedEtl]] walks one repo's pages on the
  * driver instead, holding one page at a time.
  */
object GithubSource {

  final case class Options(
      apiUrl: String = "https://api.github.com",
      chunkSize: Int = 100,
      appId: Option[String] = None,
      privateKeyPem: Option[String] = None,
      token: Option[String] = None)

  /** Single wiring point for extractor construction: HTTP client,
    * optional App-auth token manager, current-token state, and the
    * per-page refresh hook (main.py:845-869). Every consumer —
    * DSv2 partition reader, micro-batch stream, chunked ETL — goes
    * through here so auth policy can't drift between them.
    *
    * Returns the extractor and the refreshAuth callback to pass to
    * `pages`.
    */
  def openExtractor(repo: String, opts: Options): (GithubExtractor, () => Unit) = {
    val http = new GithubHttp()
    val tokenManager = for {
      id <- opts.appId
      pem <- opts.privateKeyPem
    } yield new GithubTokenManager(id, pem, opts.apiUrl, http)
    var currentToken: Option[String] = opts.token
    def authHeaders(): Map[String, String] =
      Map("Accept" -> "application/vnd.github+json",
        "X-GitHub-Api-Version" -> "2022-11-28") ++
        currentToken.map(t => "Authorization" -> s"Bearer $t")
    val extractor = new GithubExtractor(http, opts.apiUrl, () => authHeaders())
    (extractor, () => tokenManager.foreach(tm => currentToken = Some(tm.token(repo))))
  }

  /** Enriched PR JSON lines, read on the driver: pages in order, each
    * page's PRs enriched [[GithubExtractor.EnrichInFlight]] at a time.
    */
  def fetchRaw(repo: String, opts: Options): Seq[String] = {
    val (extractor, refreshAuth) = openExtractor(repo, opts)
    extractor.pages(repo, opts.chunkSize, refreshAuth).flatten.toSeq
  }
}
