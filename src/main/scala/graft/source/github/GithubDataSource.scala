package graft.source.github

import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

import graft.model.GithubSchemas

/** DataSource V2 GitHub connector: `spark.read.format("github")`.
  *
  * Options:
  *  - `repos` (required): comma-separated "owner/repo" list — one
  *    input partition per repo by default (parallelism across repos;
  *    within a repo the pages stay in order, main.py:213-241, and each
  *    page's PRs are enriched [[GithubExtractor.EnrichInFlight]] at a
  *    time, well under GitHub's per-token concurrency limit);
  *  - `pagesPerPartition` (optional int): split each repo into
  *    page-range partitions using the `Link: rel="last"` page count —
  *    for deployments with per-partition tokens / generous limits.
  *    One metadata request per repo at planning time;
  *  - `apiUrl`, `chunkSize`, and either `token` or
  *    `appId`+`privateKey` (App auth; each partition mints its own
  *    installation token and refreshes it before every page fetch,
  *    mirroring main.py:213-215).
  *
  * Pushdown: `repo = 'o/r'` / `repo IN (...)` predicates prune whole
  * repos at planning time (the partition list shrinks — visible as
  * PushedFilters in explain output); `state = 'open'|'closed'` rides
  * the list request as GitHub's `state=` query param (server-side
  * pruning of pages AND enrichment fan-out; the reference hard-codes
  * `state=all`, main.py:203-208 — that stays the default); and
  * `created_at` range predicates skip per-PR enrichment for
  * out-of-range rows, an upper bound also ending the ascending
  * created-sorted page walk early. Required-column pruning reaches
  * the HTTP layer: a query that never touches `value` reads only the
  * paginated PR list (no per-PR commit/review/comment fetches) — at
  * 1000-repo scale those enrichment calls are most of the bytes moved.
  *
  * Emits rows `(repo string, value string, state string,
  * created_at string)` where `value` is one
  * enriched PR document; [[GithubDataSource.typedDocs]] gives the
  * typed form (that projection plus GithubTransform is what
  * [[graft.jobs.EtlJob]] runs).
  */
class GithubDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "github"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GithubDataSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GithubTable(properties.asScala.toMap)
}

object GithubDataSource {
  /** `state`/`created_at` are list-page scalars (free — no enrichment
    * fetch): projectable without paying for `value`, and filterable
    * with planning-time pushdown (see [[GithubScanBuilder]]).
    */
  val schema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("state", StringType, nullable = true),
    StructField("created_at", StringType, nullable = true)))

  private[github] def parseOptions(options: Map[String, String]): GithubSource.Options =
    GithubSource.Options(
      apiUrl = options.getOrElse("apiurl", "https://api.github.com"),
      chunkSize = options.get("chunksize").flatMap(_.toIntOption).getOrElse(100),
      appId = options.get("appid"),
      privateKeyPem = options.get("privatekey"),
      token = options.get("token"))

  /** Reader-option encoding of [[GithubSource.Options]], the inverse of
    * [[parseOptions]]: how the batch and streaming ETL jobs hand their
    * connection settings to `format("github")`.
    */
  def encodeOptions(opts: GithubSource.Options): Map[String, String] =
    Map("apiurl" -> opts.apiUrl, "chunksize" -> opts.chunkSize.toString) ++
      opts.appId.map("appid" -> _) ++
      opts.privateKeyPem.map("privatekey" -> _) ++
      opts.token.map("token" -> _)

  /** The source's `(repo, value, ...)` rows as typed raw PR rows: `repo`
    * followed by every field of `value` parsed against
    * [[GithubSchemas.rawPullRequest]] — the input
    * [[graft.transform.GithubTransform.applyMulti]] expects.
    */
  def typedDocs(rows: DataFrame): DataFrame =
    rows.select(col("repo"), from_json(col("value"), GithubSchemas.rawPullRequest).as("pr"))
      .select((col("repo") +: GithubSchemas.rawPullRequest.fieldNames
        .map(f => col(s"pr.$f"))): _*)

  /** Reader-option encoding of [[PrScanPrune]] — how the planned
    * pushdown travels from the driver's ScanBuilder to executor-side
    * partition readers (and how streaming users, who have no filter
    * pushdown hook, opt in via `.option("state", "open")` /
    * `.option("createdMin"/"createdMax", ts)`).
    */
  private[github] def parsePrune(options: Map[String, String]): PrScanPrune =
    PrScanPrune(
      state = options.getOrElse("state", "all"),
      minCreated = options.get("createdmin"),
      minInclusive = options.get("createdmininclusive").forall(_.toBoolean),
      maxCreated = options.get("createdmax"),
      maxInclusive = options.get("createdmaxinclusive").forall(_.toBoolean))

  private[github] def encodePrune(prune: PrScanPrune): Map[String, String] =
    Map("state" -> prune.state,
      "createdmininclusive" -> prune.minInclusive.toString,
      "createdmaxinclusive" -> prune.maxInclusive.toString) ++
      prune.minCreated.map("createdmin" -> _) ++
      prune.maxCreated.map("createdmax" -> _)
}

class GithubTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"github(${properties.getOrElse("repos", "")})"
  override def schema(): StructType = GithubDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GithubScanBuilder(properties ++ options.asScala)
}

class GithubScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GithubDataSource.schema

  /** Accepted (fully source-enforced — no residual re-evaluation):
    *  - `repo = / IN` → whole-repo partition pruning at planning time;
    *  - `state = 'open'|'closed'` → the GitHub `state=` list query
    *    param (server returns fewer PRs → fewer pages + enrichment
    *    fetches), double-checked row-side so a server that ignores
    *    the param can't leak rows;
    *  - `created_at <|<=|>|>= lit` → row-side lexicographic admission
    *    (bit-identical to Spark's StringType compare) before any
    *    enrichment fetch; an upper bound also stops the ascending
    *    created-sorted page walk early ([[PrScanPrune]]).
    * Everything else stays with Spark as a residual.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo("repo", _: String) => true
      case In("repo", vs) => vs.forall(_.isInstanceOf[String])
      case EqualTo("state", v: String) => v == "open" || v == "closed"
      case LessThan("created_at", _: String) => true
      case LessThanOrEqual("created_at", _: String) => true
      case GreaterThan("created_at", _: String) => true
      case GreaterThanOrEqual("created_at", _: String) => true
      case _ => false
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Column pruning: a query touching only `repo` (or nothing — a
    * bare count) must not pay for `value`, and `value` is not a
    * column read off disk but ~4 HTTP fetches per PR — so the reader
    * downgrades to a pages-only walk when it is pruned away.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GithubScan(options, pushed, required)
}

final case class GithubPartition(repo: String, startPage: Int, endPage: Int)
    extends InputPartition

class GithubScan(
    options: Map[String, String],
    pushed: Array[Filter],
    required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Pushed state/created filters folded over the option-level
    * defaults (filters win; multiple bounds keep the tighter one,
    * exclusive beating inclusive at a tie).
    */
  private[github] def prune: PrScanPrune =
    pushed.foldLeft(GithubDataSource.parsePrune(options)) { (p, f) =>
      def tightenMax(v: String, incl: Boolean): PrScanPrune = p.maxCreated match {
        case Some(m) if m < v || (m == v && !p.maxInclusive) => p
        case _ => p.copy(maxCreated = Some(v), maxInclusive = incl)
      }
      def tightenMin(v: String, incl: Boolean): PrScanPrune = p.minCreated match {
        case Some(m) if m > v || (m == v && !p.minInclusive) => p
        case _ => p.copy(minCreated = Some(v), minInclusive = incl)
      }
      f match {
        case EqualTo("state", v: String) => p.copy(state = v)
        case LessThan("created_at", v: String) => tightenMax(v, incl = false)
        case LessThanOrEqual("created_at", v: String) => tightenMax(v, incl = true)
        case GreaterThan("created_at", v: String) => tightenMin(v, incl = false)
        case GreaterThanOrEqual("created_at", v: String) => tightenMin(v, incl = true)
        case _ => p
      }
    }

  /** Streaming form of the same scan: repo pushdown and column
    * pruning apply identically (a pruned `value` skips enrichment
    * fetches per micro-batch too).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GithubMicroBatchStream(options, plannedRepos, required.fieldNames)

  private def allowedRepo(repo: String): Boolean =
    pushed.forall {
      case EqualTo("repo", v: String) => repo == v
      case In("repo", vs) => vs.contains(repo)
      case _ => true
    }

  /** Repo list after planning-time pushdown pruning — shared by the
    * batch partitioner and the micro-batch stream.
    */
  private[github] def plannedRepos: Seq[String] =
    options.getOrElse("repos",
      throw new IllegalArgumentException("github source requires 'repos' option"))
      .split(",").map(_.trim).filter(_.nonEmpty)
      .filter(allowedRepo).toSeq

  override def planInputPartitions(): Array[InputPartition] = {
    val repos = plannedRepos
    val perPartition = options.get("pagesperpartition").flatMap(_.toIntOption)
    perPartition.foreach(pp => require(pp > 0,
      s"pagesPerPartition must be positive, got $pp"))
    val opts = GithubDataSource.parseOptions(options)
    repos.flatMap { repo =>
      perPartition match {
        case None => Seq(GithubPartition(repo, 1, -1))
        case Some(pp) =>
          // one planning-time metadata request per repo
          val (extractor, refreshAuth) = GithubSource.openExtractor(repo, opts)
          refreshAuth()
          val last = extractor.pageCount(repo, opts.chunkSize, prune.state)
          (1 to last by pp).map(s => GithubPartition(repo, s, math.min(s + pp - 1, last)))
      }
    }.map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GithubReaderFactory(
      options ++ GithubDataSource.encodePrune(prune), required.fieldNames)
}

class GithubReaderFactory(options: Map[String, String], fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GithubPartition]
    new GithubPartitionReader(p, options, fields)
  }
}

/** Streams one repo page-range's PR docs, projected to the pruned
  * `fields`. Runs on an executor: it builds its own HTTP client and
  * token manager from the serialized options (per-partition credential
  * scope, refreshed per page). When `value` was pruned away the walk
  * skips every per-PR enrichment fetch — row multiplicity (one row per
  * PR) is all the query needs.
  */
class GithubPartitionReader(
    partition: GithubPartition,
    options: Map[String, String],
    fields: Array[String])
    extends PartitionReader[InternalRow] {

  private val needValue = fields.contains("value")

  private lazy val iter: Iterator[PrDoc] = {
    val opts = GithubDataSource.parseOptions(options)
    val prune = GithubDataSource.parsePrune(options)
    val (extractor, refreshAuth) = GithubSource.openExtractor(partition.repo, opts)
    extractor.pagesDocs(partition.repo, opts.chunkSize, refreshAuth,
      partition.startPage, partition.endPage, enrich = needValue,
      prune = prune).flatten
  }

  private var current: PrDoc = _
  override def next(): Boolean =
    if (iter.hasNext) { current = iter.next(); true } else false
  override def get(): InternalRow =
    InternalRow(fields.map {
      case "repo" => UTF8String.fromString(partition.repo)
      case "value" => UTF8String.fromString(current.json)
      case "state" => current.state.map(UTF8String.fromString).orNull
      case "created_at" => current.createdAt.map(UTF8String.fromString).orNull
    }: _*)
  override def close(): Unit = ()
}
