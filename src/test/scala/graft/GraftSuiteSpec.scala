package graft

import org.scalatest.{Args, DoNotDiscover}
import org.scalatest.events.Event
import org.scalatest.funsuite.AnyFunSuite

/** The shared session's two guards: [[GraftSuite.withConf]] puts its
  * keys back even when the body throws, and `afterAll` fails a suite
  * that leaves a runtime conf behind.
  */
class GraftSuiteSpec extends AnyFunSuite with GraftSuite {

  private val probe = "spark.graft.test.probe"
  private val shuffle = "spark.sql.shuffle.partitions"

  test("withConf restores set and unset keys when the body throws") {
    val before = spark.conf.get(shuffle)
    intercept[IllegalStateException] {
      withConf(probe -> "x", shuffle -> "7") {
        assert(spark.conf.get(probe) == "x" && spark.conf.get(shuffle) == "7")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getOption(probe).isEmpty)
    assert(spark.conf.get(shuffle) == before)
  }

  test("afterAll fails a suite that leaks a runtime conf") {
    @DoNotDiscover class Leaky extends AnyFunSuite with GraftSuite {
      test("sets a conf and keeps it") { spark.conf.set(probe, "leaked") }
    }
    try {
      val status = new Leaky().run(None, Args((_: Event) => ()))
      val failure = status.unreportedException
      assert(failure.exists(_.getMessage.contains(s"$probe: <unset> -> leaked")),
        s"the leak went unreported: $failure")
    } finally spark.conf.unset(probe)
  }
}
