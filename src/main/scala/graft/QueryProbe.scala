package graft

/** Measurement-instability probe: run ONE registered query N times in
  * one session and print every individual timing (not a median), the
  * sentinel reading between runs, and the formatted plan of the first
  * and last run — the tool for pinning whether a query's cross-window
  * variance (e.g. q_daily_quantiles: 0.76 / 1.97 / 4.45 s across three
  * sentinel-healthy windows in r10) is plan instability (AQE picking
  * different shapes) or machine weather (page cache, JIT, CPU
  * contention), which look identical in a single median.
  *
  * Usage: runMain graft.QueryProbe <queryName> [runs] [sfDir]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_daily_quantiles")
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val sfDir = args.drop(2).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session()
    val fn = SparkEntry.queries(name)
    // normalize away per-session noise (expression ids, plan ids,
    // codegen ids, subquery ids) so only genuine SHAPE differences —
    // e.g. AQE choosing a different join or partition count — count
    def normalize(p: String): String = p
      .replaceAll("#\\d+[A-Z]*", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[id=#x\\]", "")
      .replaceAll("subquery\\d+", "subqueryx")
      .replaceAll("QueryStage \\d+", "QueryStage n")
      .replaceAll("cv_\\d+", "cv_x")
      .replaceAll("\\(\\d+\\)", "(n)")
    val plans = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (i <- 1 to runs) {
      val s0 = Bench.sentinelOnce(spark)
      val (sec, plan) = Bench.timed(fn(spark, sfDir))
      // the EXECUTED plan, after AQE finalized it for this run
      val executed = normalize(plan.toString)
      plans(executed) = plans.getOrElse(executed, 0) + 1
      val variant = plans.keys.toSeq.indexOf(executed)
      println(f"[probe] $name run $i%2d: $sec%8.3f s " +
        f"(sentinel $s0%6.3f s) plan_variant=$variant")
    }
    println(s"[probe] distinct executed plans across $runs runs: ${plans.size}")
    if (plans.size > 1)
      for ((p, n) <- plans) {
        println(s"[probe] ===== PLAN VARIANT (seen $n times) =====")
        println(p)
      }
    else println(plans.keys.head)
    spark.stop()
  }
}
