package graft

/** Plan-audit tool: prints the formatted physical plan for every
  * registered query (arg: sfDir, default sf0.001) and for the GitHub
  * transform pipelines over a tiny in-memory fixture. Used to check
  * scan pushdown (PushedFilters/ReadSchema), broadcast vs shuffle
  * joins, and WholeStageCodegen coverage — the 100 TB design gates.
  * The plans come from the harness session ([[Bench.session]]), so
  * they are the plans Bench and Verify run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption
    val spark = Bench.session()

    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_ == name)) {
      println(s"\n========== $name ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }

    if (only.isEmpty || only.contains("github")) {
      import spark.implicits._
      val fixture =
        """{"number": 1, "title": "Bug 123 - t", "state": "open",
           "created_at": "2023-01-15T10:30:00Z", "updated_at": "2023-01-15T10:30:00Z",
           "merged_at": null, "labels": [],
           "commit_data": [], "reviewer_data": [], "comment_data": []}"""
      val raw = spark.read.schema(graft.model.GithubSchemas.rawPullRequest)
        .json(Seq(fixture).toDS)
      val t = graft.transform.GithubTransform(raw, "o/r", java.sql.Date.valueOf("2024-01-01"))
      for ((n, df) <- Seq("gh_pull_requests" -> t.pullRequests, "gh_commits" -> t.commits,
          "gh_reviewers" -> t.reviewers, "gh_comments" -> t.comments)) {
        println(s"\n========== $n ==========")
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
