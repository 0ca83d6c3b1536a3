package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchAccess
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Cumulative counters at one instant; `b - a` is the work done between
  * two snapshots. Jobs are keyed by the source file of their call site
  * (`parquet at Tables.scala:15` → `Tables.scala`), which is how jobs are
  * attributed to the program's modules; so are SQL executions
  * (`sqlMsByFile`: wall milliseconds of top-level executions).
  */
final case class Snap(
    jobs: Long = 0, jobsByFile: Map[String, Long] = Map.empty,
    sqlMsByFile: Map[String, Long] = Map.empty,
    stages: Long = 0, stageMs: Vector[Long] = Vector.empty, tasks: Long = 0,
    runNs: Long = 0, cpuNs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, bytesWritten: Long = 0,
    compileNs: Long = 0, compiles: Long = 0, gcMs: Long = 0) {
  def -(o: Snap): Snap = {
    def sub(a: Map[String, Long], b: Map[String, Long]) =
      a.map { case (k, v) => k -> (v - b.getOrElse(k, 0L)) }.filter(_._2 != 0)
    Snap(jobs - o.jobs, sub(jobsByFile, o.jobsByFile), sub(sqlMsByFile, o.sqlMsByFile),
      stages - o.stages, stageMs.drop(o.stageMs.size), tasks - o.tasks,
      runNs - o.runNs, cpuNs - o.cpuNs, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, spill - o.spill, bytesWritten - o.bytesWritten,
      compileNs - o.compileNs, compiles - o.compiles, gcMs - o.gcMs)
  }
  def +(o: Snap): Snap = {
    def add(a: Map[String, Long], b: Map[String, Long]) =
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    Snap(jobs + o.jobs, add(jobsByFile, o.jobsByFile), add(sqlMsByFile, o.sqlMsByFile),
      stages + o.stages, stageMs ++ o.stageMs, tasks + o.tasks, runNs + o.runNs,
      cpuNs + o.cpuNs, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
      spill + o.spill, bytesWritten + o.bytesWritten, compileNs + o.compileNs,
      compiles + o.compiles, gcMs + o.gcMs)
  }
  def jobsIn(file: String): Long = jobsByFile.getOrElse(file, 0L)
  def sqlSecondsIn(file: String): Double = sqlMsByFile.getOrElse(file, 0L) / 1e3
}

/** SparkListener that keeps the counters behind [[Snap]]. Registered
  * only in traced runs.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private var s = Snap()

  sc.addSparkListener(this)

  private val executionFile = mutable.Map.empty[Long, String]
  /** Start time of each top-level SQL execution with a known call site. */
  private val executionStart = mutable.Map.empty[Long, Long]

  /** Source file of the first frame outside Spark, Scala and the JDK in
    * a long-form call site (one `class.method(File.scala:N)` per line).
    */
  private def firstFile(longForm: String): Option[String] =
    longForm.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case frame if !Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
          .exists(frame.startsWith) && frame.contains("(") =>
        frame.substring(frame.lastIndexOf('(') + 1).takeWhile(_ != ':')
    }

  /** A job's call site: that of its SQL execution when it has one (the
    * thread that ran the action; AQE submits stage jobs from a pool
    * thread whose own call site is a JDK frame), else its result stage's.
    */
  private def callSiteFile(e: SparkListenerJobStart): String = {
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    execution.flatMap(executionFile.get).getOrElse {
      val result = e.stageInfos.maxByOption(_.stageId)
      result.flatMap(r => firstFile(r.details)).getOrElse("?")
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      firstFile(x.details).foreach(executionFile(x.executionId) = _)
      if (x.rootExecutionId.forall(_ == x.executionId)) executionStart(x.executionId) = x.time
    }
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => synchronized {
      for (t0 <- executionStart.remove(x.executionId); file <- executionFile.get(x.executionId))
        s = s.copy(sqlMsByFile = s.sqlMsByFile.updated(file, s.sqlMsByFile.getOrElse(file, 0L) + x.time - t0))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val file = callSiteFile(e)
    s = s.copy(jobs = s.jobs + 1,
      jobsByFile = s.jobsByFile.updated(file, s.jobsByFile.getOrElse(file, 0L) + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val ms = for (a <- i.submissionTime; b <- i.completionTime) yield b - a
    s = s.copy(stages = s.stages + 1, stageMs = s.stageMs :+ ms.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    s = if (m == null) s.copy(tasks = s.tasks + 1)
    else s.copy(tasks = s.tasks + 1,
      runNs = s.runNs + m.executorRunTime * 1000000L,
      cpuNs = s.cpuNs + m.executorCpuTime,
      shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = s.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      bytesWritten = s.bytesWritten + m.outputMetrics.bytesWritten)
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(): Snap = {
    BenchAccess.drainListeners(sc)
    synchronized(s.copy(
      compileNs = CodeGenerator.compileTime,
      compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      gcMs = Jvm.gcMs()))
  }
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into each layer; kept in
  * memory and written when the run ends. Disabled (a plain call) in
  * untraced runs.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def current: Int = stack.get.headOption.getOrElse(-1)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { spans += null; spans.size - 1 }
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized(spans(id) = Span(id, parent, name, t0, t1))
      }
    }

  /** A span whose bounds were observed rather than wrapped. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) -1 else synchronized {
      spans += Span(spans.size, parent, name, startNs, endNs)
      spans.size - 1
    }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Seconds per span name of time not covered by the span's children. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { sp =>
        val covered = kids.getOrElse(sp.id, Nil)
          .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
          }._1
        (sp.endNs - sp.startNs - covered) / 1e9
      }.sum
    }
  }

  def totalSeconds: Map[String, Double] = all.groupBy(_.name).map { case (n, g) => n -> g.map(_.seconds).sum }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path)
    try all.foreach(s => out.println(
      s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""))
    finally out.close()
  }
}
