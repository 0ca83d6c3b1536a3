package perfbench

import org.apache.spark.sql.{BenchAccess, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's output: columns sorted by name
  * (as tools/oracle_check.py canonicalizes), floating-point values
  * rounded to 9 significant digits, every row hashed, and the hashes
  * summed with the row count. One aggregate action over all output
  * columns, so no output expression can be pruned away.
  */
object Digest {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // + 0.0 folds -0.0 into 0.0
      format_string("%.8e", c.cast(DoubleType) + lit(0.0))
    case _ if !hasFloat(t) => c
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, v, _) => transform_values(c, (_, x) => canon(x, v))
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  // xxhash64 cannot hash maps
  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(struct(c)) else c

  /** The digest action's DataFrame: one row (rows, lo, hi) per value of
    * `by` (one row in all when `by` is empty).
    */
  def frame(df: DataFrame, by: Seq[String] = Nil): DataFrame = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.schema.fields.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => hashable(canon(col(s"c$i"), f.dataType), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val keys = by.map(k => col(s"c${df.columns.indexOf(k)}").as(k))
    renamed.select(keys :+ h.as("h"): _*).groupBy(by.map(col): _*).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  def render(df: DataFrame): String = {
    val r = df.collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** `frame(df, Seq(key))` collected: key -> (rows, "rows:lo:hi"). */
  def renderBy(df: DataFrame, key: String): Map[String, (Long, String)] =
    frame(df, Seq(key)).collect().map(r =>
      r.getString(0) -> (r.getLong(1), s"${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}")).toMap
}

/** One timed query: build (the query function, with its eager jobs),
  * plan (analysis, optimization and physical planning of the digest
  * action, read from `QueryExecution.tracker`), and exec (the digest
  * action). `latency` is wall time over all three.
  */
final case class QueryRun(name: String, latency: Double, build: Double, plan: Double,
    exec: Double, digest: String, error: Option[String], cacheEntries: Int,
    buildSnap: Snap, execSnap: Snap)

object Queries {
  /** ROADMAP's eager-job-heavy queries: build work and executor compute. */
  val Iterative: Seq[String] = Seq("q_pagerank", "q_ktruss", "q_modularity",
    "q_entity_resolution", "q_ann_drift_rebuild", "q_ann_drift_rebuild_async",
    "q_dedup_jaccard", "q_assortativity", "q_triangles")

  /** The sweep's queries, in a fixed order: the registered queries
    * sorted by their cost in queries.json are cut into strata of
    * `stride`, and each stratum's middle query is taken, so the sample
    * spans short and long queries in proportion. Neither the sample nor
    * its order depends on the seed. Every query runs for the first time
    * in its JVM, and a first call's cost depends on what ran before it:
    * with a seeded order the median latency of one pass moved by 30%
    * between seeds, and a seed-drawn sample changed a pass's total cost
    * by 9-20% (costs are heavy-tailed), more than the regressions the
    * benchmark has to resolve.
    */
  def sweepSample(costs: Seq[(String, Double)], stride: Int): Seq[String] =
    costs.sortBy { case (n, c) => (c, n) }.map(_._1).grouped(stride).map(g => g(g.size / 2)).toSeq

  def run(spark: SparkSession, dataDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, counters: Option[Counters],
      tracer: Tracer): QueryRun = tracer("query") {
    def snap() = counters.map(_.snap()).getOrElse(Snap())
    val s0 = snap()
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var s1 = s0
    var planSeconds = 0.0
    val (digest, error) =
      try {
        val out = tracer("build")(fn(spark, dataDir))
        t1 = System.nanoTime()
        s1 = snap()
        val d = Digest.frame(out)
        val qe = d.queryExecution
        tracer("plan")(qe.executedPlan)
        planSeconds = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum
        t2 = System.nanoTime()
        (tracer("exec")(Digest.render(d)), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          ("", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
      }
    val t3 = System.nanoTime()
    val s2 = snap()
    val entries = BenchAccess.cacheEntries(spark)
    spark.catalog.clearCache()
    QueryRun(name, (t3 - t0) / 1e9, (t1 - t0) / 1e9, planSeconds,
      (t3 - math.max(t2, t1)) / 1e9, digest, error, entries, s1 - s0, s2 - s1)
  }
}
