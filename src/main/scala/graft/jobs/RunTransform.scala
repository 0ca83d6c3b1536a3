package graft.jobs

import java.sql.Date

import graft.model.GithubSchemas
import graft.transform.GithubTransform

/** CLI surface for the relational core: enriched-PR JSONL in, the four
  * relational tables out as parquet (reference entry point 2,
  * main.py:426-549 driven from files instead of the live API).
  *
  * Usage: RunTransform <input.jsonl> <owner/repo> <yyyy-mm-dd> <outDir>
  */
object RunTransform {
  def main(args: Array[String]): Unit = {
    val Array(input, repo, snapshotDate, outDir) = args
    val spark = graft.GraftSession.forHost(sys.env.get("SPARK_MASTER"))

    val raw = spark.read.schema(GithubSchemas.rawPullRequest).json(input)
    val t = GithubTransform(raw, repo, Date.valueOf(snapshotDate))
    for ((name, df) <- t.named) {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[transform] $name: ${spark.read.parquet(s"$outDir/$name").count()} rows")
    }
    spark.stop()
  }
}
