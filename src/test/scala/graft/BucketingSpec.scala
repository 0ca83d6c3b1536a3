package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-table co-located join: the write-side technique that
  * removes the shuffle from repeated big-fact joins at 100 TB. Both
  * sides bucketed by the join key into the same bucket count join
  * with NO exchange on either side.
  */
class BucketingSpec extends AnyFunSuite with GraftSuite with TempDirs {

  // force non-broadcast joins
  override protected def suiteConf = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("join of co-bucketed tables plans no shuffle exchange") {
    try {
      val sf = "/root/testdata/sf0.001"
      val tmp = tempDir("graft-buckets")
      graft.ops.Layout.writeBucketed(
        spark.read.parquet(s"$sf/orders.parquet"), "orders_b",
        "o_custkey", 8, Some(tmp.resolve("orders_b").toString))
      graft.ops.Layout.writeBucketed(
        spark.read.parquet(s"$sf/customer.parquet"), "customer_b",
        "c_custkey", 8, Some(tmp.resolve("customer_b").toString))

      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          spark.table("orders_b")("o_custkey") === spark.table("customer_b")("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1500)

      // aggregation on the bucket key skips its exchange the same way
      val agg = spark.table("orders_b").groupBy("o_custkey").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"bucket-key aggregation still shuffles:\n$aggPlan")
      assert(agg.count() ==
        spark.read.parquet(s"$sf/orders.parquet")
          .select("o_custkey").distinct().count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
