package graft.transform

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relational core: enriched PR documents → four output tables.
  *
  * Faithful re-expression of the reference's `transform_data`
  * (main.py:426-549) as declarative Spark column expressions. The
  * design is deliberately **shuffle-free**: the two per-PR
  * "aggregation-ish" operators — earliest-approval (A1,
  * main.py:513-518) and the comment→review status lookup (J1,
  * main.py:494-539) — are computed as array expressions on the nested
  * document *before* exploding, instead of a naive
  * explode→groupBy→join. At 100 TB this means the whole pipeline is a
  * single narrow stage per output table: scan → project/generate →
  * write, with no exchange.
  *
  * Semantics preserved (SURVEY.md §1.3 null matrix):
  *  - bug_id: first regex match in title order whose numeric value is
  *    < 100000000, else null (main.py:25, 449-454). Oversized digit
  *    runs clamp to Long.MaxValue (ANSI-safe), matching Python's
  *    arbitrary-precision compare result.
  *  - labels: `labels[].name` (null names kept), null/missing → []
  *    (main.py:465-469).
  *  - date_approved: min submitted_at over APPROVED reviews, null if
  *    none. The reference compares ISO-8601 strings lexicographically;
  *    we compare TimestampType — identical ordering for uniform-format
  *    UTC strings (SURVEY.md §7.5).
  *  - commits grain: one row per (commit, file); inner explode, so
  *    commits with no files vanish (main.py:474-491).
  *  - comment.status: dict-last-wins on duplicate review ids →
  *    `try_element_at(..., -1)`; null-key membership mirrored with
  *    null-safe equality (main.py:494-539).
  *  - character_count: null/empty body → 0 (main.py:530-532).
  *  - author_email / reviewer_email: always null (reference TODOs,
  *    main.py:486, 505, 528).
  *  - PRs without `number` are dropped (de-facto contract: the
  *    extractor skips them from enrichment, main.py:228-230, and the
  *    transform would KeyError on them).
  */
object GithubTransform {

  /** Case-insensitive bug-reference pattern (main.py:25). */
  val BugIdPattern: String = "(?i)\\b(?:bug|b=)\\s*#?(\\d+)\\b"

  final case class GithubTables(
      pullRequests: DataFrame,
      commits: DataFrame,
      reviewers: DataFrame,
      comments: DataFrame) {
    /** Each frame with its snapshot table name, in
      * [[graft.sink.SnapshotWriter.TableNames]] order.
      */
    def named: Seq[(String, DataFrame)] = graft.sink.SnapshotWriter.TableNames
      .zip(Seq(pullRequests, commits, reviewers, comments))
  }

  /** Bug-id extraction (P2): all matches, numeric guard, first
    * survivor. Pure built-in codegen'd expressions.
    */
  def bugId(title: Column): Column =
    try_element_at(
      filter(
        regexp_extract_all(coalesce(title, lit("")), lit(BugIdPattern), lit(1)),
        m => digitsToLong(m) < 100000000L),
      lit(1)).cast("long")

  /** ANSI-safe digit-run → long. Python compares with arbitrary
    * precision (main.py:452); a digit run too long for int64 is by
    * definition ≥ 1e8, so clamping to Long.MaxValue preserves the
    * guard's outcome without an ANSI overflow error. Leading zeros are
    * stripped first so "0000012" still compares as 12.
    */
  private def digitsToLong(c: Column): Column = {
    val stripped = regexp_replace(c, "^0+", "")
    when(length(stripped) === 0, lit(0L))
      .when(length(stripped) <= lit(18), stripped.cast("long"))
      .otherwise(lit(Long.MaxValue))
  }

  def apply(raw: DataFrame, repo: String, snapshotDate: Date): GithubTables =
    GithubTables(
      pullRequestsFrom(raw, lit(repo), snapshotDate),
      commitsFrom(raw, lit(repo), snapshotDate),
      reviewersFrom(raw, lit(repo), snapshotDate),
      commentsFrom(raw, lit(repo), snapshotDate))

  /** Multi-repo form: `raw` carries a `repo` string column (as
    * produced by the DSv2 source) and every output row takes its
    * `target_repository` from it — one distributed pass transforms
    * all repos at once instead of a per-repo driver loop.
    */
  def applyMulti(rawWithRepo: DataFrame, snapshotDate: Date): GithubTables = {
    val repoCol = col("repo")
    GithubTables(
      pullRequestsFrom(rawWithRepo, repoCol, snapshotDate),
      commitsFrom(rawWithRepo, repoCol, snapshotDate),
      reviewersFrom(rawWithRepo, repoCol, snapshotDate),
      commentsFrom(rawWithRepo, repoCol, snapshotDate))
  }

  private def base(raw: DataFrame): DataFrame =
    raw.filter(col("number").isNotNull)

  private def snap(d: Date): Column = lit(d).cast("date").as("snapshot_date")

  private def pullRequestsFrom(raw: DataFrame, repoCol: Column, snapshotDate: Date): DataFrame =
    base(raw).select(
      col("number").cast("long").as("pull_request_id"),
      col("state").as("current_status"),
      col("created_at").cast("timestamp").as("date_created"),
      col("updated_at").cast("timestamp").as("date_modified"),
      repoCol.as("target_repository"),
      bugId(col("title")).as("bug_id"),
      col("merged_at").cast("timestamp").as("date_landed"),
      // A1 as an array expression — no shuffle (main.py:513-518).
      array_min(transform(
        filter(col("reviewer_data"), r => r.getField("state") === "APPROVED"),
        r => r.getField("submitted_at").cast("timestamp"))).as("date_approved"),
      coalesce(
        transform(col("labels"), l => l.getField("name")),
        array().cast("array<string>")).as("labels"),
      snap(snapshotDate))

  /** F1: two-level inner explode — grain one row per (commit, file). */
  private def commitsFrom(raw: DataFrame, repoCol: Column, snapshotDate: Date): DataFrame =
    base(raw)
      .select(
        col("number").cast("long").as("pull_request_id"),
        repoCol.as("target_repository"),
        explode(col("commit_data")).as("c"))
      .select(
        col("pull_request_id"),
        col("target_repository"),
        col("c.sha").as("commit_sha"),
        col("c.commit.author.date").cast("timestamp").as("date_created"),
        col("c.commit.author.name").as("author_username"),
        lit(null).cast("string").as("author_email"),
        explode(col("c.files")).as("f"))
      .select(
        col("pull_request_id"),
        col("target_repository"),
        col("commit_sha"),
        col("date_created"),
        col("author_username"),
        col("author_email"),
        col("f.filename").as("filename"),
        col("f.deletions").cast("long").as("lines_removed"),
        col("f.additions").cast("long").as("lines_added"),
        snap(snapshotDate))

  /** F2: one row per review (main.py:496-509). */
  private def reviewersFrom(raw: DataFrame, repoCol: Column, snapshotDate: Date): DataFrame =
    base(raw)
      .select(
        col("number").cast("long").as("pull_request_id"),
        repoCol.as("target_repository"),
        explode(col("reviewer_data")).as("r"))
      .select(
        col("pull_request_id"),
        col("target_repository"),
        col("r.submitted_at").cast("timestamp").as("date_reviewed"),
        lit(null).cast("string").as("reviewer_email"),
        col("r.user.login").as("reviewer_username"),
        col("r.state").as("status"),
        snap(snapshotDate))

  /** F3 + J1: one row per comment; the review-status lookup is a
    * nested array expression over the sibling `reviewer_data` column,
    * evaluated before the explode — the reference's per-PR dict probe
    * (main.py:494-539) without materializing a join. Null-safe
    * equality mirrors Python dict membership (a None key matches a
    * None lookup); last match wins like dict overwrite.
    */
  private def commentsFrom(raw: DataFrame, repoCol: Column, snapshotDate: Date): DataFrame =
    base(raw)
      .select(
        col("number").cast("long").as("pull_request_id"),
        repoCol.as("target_repository"),
        explode(transform(col("comment_data"), cm => struct(
          cm.getField("id").cast("long").as("comment_id"),
          cm.getField("created_at").as("created_at"),
          cm.getField("user").getField("login").as("author_username"),
          cm.getField("body").as("body"),
          try_element_at(
            transform(
              filter(col("reviewer_data"),
                r => r.getField("id") <=> cm.getField("pull_request_review_id")),
              r => r.getField("state")),
            lit(-1)).as("status")))).as("cm"))
      .select(
        col("pull_request_id"),
        col("target_repository"),
        col("cm.comment_id").as("comment_id"),
        col("cm.created_at").cast("timestamp").as("date_created"),
        lit(null).cast("string").as("author_email"),
        col("cm.author_username").as("author_username"),
        when(col("cm.body").isNull || col("cm.body") === "", lit(0L))
          .otherwise(length(col("cm.body")).cast("long")).as("character_count"),
        col("cm.status").as("status"),
        snap(snapshotDate))
}
