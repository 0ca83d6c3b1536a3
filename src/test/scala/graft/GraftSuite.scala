package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, BeforeAndAfterAll, Status, Suite}

/** The one test session. `Test / fork` runs every suite in one JVM, so
  * they all share [[GraftSuite.session]]: the engine's own recipe
  * ([[GraftSession]] on `local[4]` with 4 shuffle partitions), so the
  * plans the specs audit are the plans production builds.
  *
  * A suite that needs a runtime conf declares it in [[suiteConf]] or
  * scopes it to a block with [[withConf]]; both put the previous
  * values back. `afterAll` fails the suite if it left the session's
  * runtime conf other than it found it, and drops what it left
  * cached, so no spec's result depends on which suites ran before it.
  */
trait GraftSuite extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = GraftSuite.session

  /** Runtime confs this whole suite runs under. */
  protected def suiteConf: Seq[(String, String)] = Nil

  /** Runs `body` with `pairs` set on the session, then restores each
    * key's previous value (or unsets it), also when `body` throws: the
    * shape of Spark's own `withSQLConf`.
    */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally pairs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  private var confAtStart = Map.empty[String, String]

  abstract override def run(testName: Option[String], args: Args): Status =
    withConf(suiteConf: _*)(super.run(testName, args))

  override def beforeAll(): Unit = {
    confAtStart = spark.conf.getAll
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      // frames a suite left cached would substitute into a later
      // suite's plans, and every plan lookup scans all of them
      spark.catalog.clearCache()
      val now = spark.conf.getAll
      val drift = (confAtStart.keySet ++ now.keySet).toSeq.sorted
        .filter(k => confAtStart.get(k) != now.get(k))
        .map(k => s"$k: ${confAtStart.getOrElse(k, "<unset>")} -> ${now.getOrElse(k, "<unset>")}")
      assert(drift.isEmpty,
        s"$suiteName left the shared session's runtime conf changed: ${drift.mkString(", ")}")
    }
}

object GraftSuite {
  lazy val session: SparkSession = {
    val s = GraftSession.getOrCreate("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
