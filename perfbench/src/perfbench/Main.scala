package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark process, passed by run.py as key=value. */
final case class Ctx(args: Map[String, String]) {
  def apply(k: String): String = args.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
  val workload: String = apply("workload")
  val seed: Long = apply("seed").toLong
  val seconds: Double = apply("seconds").toDouble
  val trace: Boolean = apply("trace") == "1"
  val runDir: String = apply("run_dir")
  val dataDir: String = apply("data_dir")
  val cores: Int = apply("cores").toInt
  val launchedMs: Long = apply("launched_ms").toLong
  val benchDir: String = apply("bench_dir")
}

object Main {
  def session(ctx: Ctx, master: String): SparkSession = {
    val spark = graft.GraftSession.builder(master, ctx.cores)
      .config("spark.local.dir", s"${ctx.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${ctx.runDir}/checkpoints")
    spark
  }

  /** Whole passes in a run of `seconds`, given a pass's nominal length
    * on 4 cores. A fixed count, not a deadline: a pass that crosses a
    * deadline in some runs and not in others makes the run's median
    * bimodal.
    */
  def passes(seconds: Double, nominal: Double): Int = math.max(1, (seconds / nominal).toInt)

  def fileCount(dir: File): Long =
    Option(dir.listFiles).map(_.map(f => if (f.isDirectory) 1 + fileCount(f) else 1L).sum).getOrElse(0L)

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case None => "null"
    case Some(x) => json(x)
    case other => json(other.toString)
  }

  /** queries.json: name -> (expected digest, warm cost in seconds). */
  def readQueryTable(path: String): Map[String, (String, Double)] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"(q_[A-Za-z0-9_]+)\": \\{\"cost_s\": ([0-9.eE+-]+), \"digest\": \"([^\"]*)\"".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(3), m.group(2).toDouble)).toMap
  }

  def main(argv: Array[String]): Unit = {
    val ctx = Ctx(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    new File(s"${ctx.runDir}/tmp").mkdirs()
    val result = ctx.workload match {
      case "digests" => Digests.run(ctx)
      case "query_sweep" | "query_iterative" => QueryWorkload.run(ctx)
      case "etl_chunked" | "etl_dsv2" => EtlWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(ctx("result")), json(result).getBytes("UTF-8"))
    System.exit(0)
  }
}

/** Every registered query, twice, in name order: the expected-digest
  * table and the per-query costs the sweep's strata are cut from.
  */
object Digests {
  def run(ctx: Ctx): Map[String, Any] = {
    val spark = Main.session(ctx, s"local[${ctx.cores}]")
    val tracer = new Tracer(false, "digests")
    val out = new java.io.PrintWriter(s"${ctx.runDir}/digests.jsonl")
    for (round <- 1 to 2; (name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val r = Queries.run(spark, ctx.dataDir, name, fn, None, tracer)
      out.println(Main.json(Map("round" -> round, "name" -> name, "latency" -> r.latency,
        "build" -> r.build, "plan" -> r.plan, "exec" -> r.exec, "digest" -> r.digest,
        "error" -> r.error)))
      out.flush()
    }
    out.close()
    Map("attempted" -> 1, "failed" -> 0, "correct" -> true)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
