package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** The PrefixScanRewrite optimizer rule: global
  * `row_number() OVER (ORDER BY k)` must plan as the range-
  * partitioned prefix scan (no single-task full-data window) and
  * still produce the exact 1..N numbering; anything outside the
  * rule's narrow scope must pass through untouched.
  */
class PrefixRewriteSpec extends AnyFunSuite with graft.GraftSuite {

  // the rule is size-gated (default 4 GiB); force it on so these specs
  // exercise the rewrite on tiny fixtures
  override protected def suiteConf = Seq(PrefixScanRewrite.MinBytesKey -> "0")

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("global row_number rewrites to the prefix scan and stays exact") {
    import spark.implicits._
    val keys = scala.util.Random.shuffle((1 to 500).map(_.toLong * 3L)).toSeq
    keys.toDF("k").repartition(7).createOrReplaceTempView("pfx_t")
    val df = spark.sql(
      "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM pfx_t")
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = keys.sorted.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
    assert(got == want)
    val p = finalPlan(df)
    assert(p.contains("rangepartitioning"), s"rewrite did not fire:\n$p")
    assert(p.contains("__pfx_pid"), s"rewrite did not fire:\n$p")
    // every windowspec in the plan mentions the pid — the single-task
    // full-data window is gone
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("__pfx_pid")),
      s"a global window survived:\n${wins.mkString("\n")}")
  }

  test("the rank and count branches share ONE materialized range exchange") {
    import spark.implicits._
    // extra non-key columns matter: without the PrefixBarrier,
    // ColumnPruning specializes the count branch's copy of the
    // exchange subtree (pruning v/s), the two range exchanges stop
    // canonicalizing equal, and each samples its OWN partition bounds
    // — silently mismatching offsets against local ranks
    val keys = scala.util.Random.shuffle((1 to 2000).map(_.toLong * 7L)).toSeq
    keys.toDF("k").repartition(5)
      .selectExpr("k", "k * 2 AS v", "cast(k AS string) AS s")
      .createOrReplaceTempView("pfx_reuse")
    val df = spark.sql(
      "SELECT k, v, s, row_number() OVER (ORDER BY k) AS rn FROM pfx_reuse")
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val want = keys.sorted.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
    assert(got == want)
    val p = finalPlan(df)
    val lines = p.linesIterator.toSeq
    val materialized = lines.count(l =>
      l.contains("Exchange rangepartitioning") && !l.contains("ReusedExchange"))
    val reused = lines.count(l =>
      l.contains("ReusedExchange") && l.contains("rangepartitioning"))
    assert(materialized == 1,
      s"expected exactly one materialized range exchange, got $materialized:\n$p")
    assert(reused == 1,
      s"expected the count branch to reuse the range exchange:\n$p")
  }

  test("rewrite composes with downstream operators referencing rn") {
    import spark.implicits._
    (1L to 100L).toDF("k").createOrReplaceTempView("pfx_t2")
    val got = spark.sql(
      """SELECT rn, k FROM (
           SELECT k, row_number() OVER (ORDER BY k DESC) AS rn FROM pfx_t2)
         WHERE rn <= 3 ORDER BY rn""").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((1, 100L), (2, 99L), (3, 98L)))
  }

  test("q_rownum_sql rewrites under the engine session and matches Prefix") {
    val df = graft.SparkEntry.queries("q_rownum_sql")(spark, "/root/testdata/sf0.001")
    val p = finalPlan(df)
    assert(p.contains("__pfx_pid"), s"rule did not fire for q_rownum_sql:\n$p")
    val viaRule = df.collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    val viaOp = graft.SparkEntry.queries("q_global_ids")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaRule == viaOp)
  }

  test("below the size gate the native plan stands") {
    import spark.implicits._
    withConf(PrefixScanRewrite.MinBytesKey -> PrefixScanRewrite.MinBytesDefault.toString) {
      (1L to 100L).toDF("k").createOrReplaceTempView("pfx_small")
      val df = spark.sql(
        "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM pfx_small")
      assert(!finalPlan(df).contains("__pfx_pid"),
        "rule fired below its size threshold")
      assert(df.collect().map(_.getInt(1)).sorted.toSeq == (1 to 100))
    }
  }

  test("partitioned windows and non-row_number windows pass through") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "g")
      .createOrReplaceTempView("pfx_t3")
    val partitioned = spark.sql(
      "SELECT g, k, row_number() OVER (PARTITION BY g ORDER BY k) AS rn FROM pfx_t3")
    assert(!finalPlan(partitioned).contains("__pfx_pid"))
    assert(partitioned.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet == Set(("a", 1L, 1), ("a", 2L, 2), ("b", 3L, 1)))
    // global SUM window: outside the rule's scope, untouched (and
    // Spark's RANGE-frame tie semantics preserved)
    val sums = spark.sql(
      "SELECT k, sum(k) OVER (ORDER BY k) AS s FROM pfx_t3")
    assert(!finalPlan(sums).contains("__pfx_pid"))
    assert(sums.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 3L), (3L, 6L)))
  }
}
