package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Poisson bootstrap: exact equality with a sequential model of the
  * same integer hash ladder, partition invariance, and statistical
  * sanity of the deterministic multiplicities.
  */
class BootstrapSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._
  import Bootstrap._

  private def modelWeight(id: Long, b: Long): Long = {
    val v = Math.floorMod(id * IdMix + b * BMix, P)
    val x = Math.floorMod(HashA * v + HashB, P)
    val y = Math.floorMod(Math.floorMod(x * x, P) * HashA2 + HashB2, P)
    Thresholds.zipWithIndex.collectFirst { case (t, k) if y < t => k.toLong }
      .getOrElse(8L)
  }

  test("thresholds are the Poisson(1) CDF, ascending, capped at 8") {
    assert(Thresholds.size == 8)
    assert(Thresholds == Thresholds.sorted)
    // k=0 threshold is e^-1 * P
    assert(math.abs(Thresholds.head - math.exp(-1.0) * P) <= 1.0)
    assert(Thresholds.last < P) // weight 8 is reachable
  }

  test("resample means bit-match the sequential model, any partitioning") {
    val rows = (1 to 400).map(i => (i.toLong, i * 1.37 + 5.0))
    val want = (0L until 8L).map { b =>
      val ws = rows.map { case (id, v) =>
        (modelWeight(id, b), math.floor(v * 100).toLong)
      }
      val sw = ws.map(_._1).sum
      val swc = ws.map { case (w, c) => w * c }.sum
      (b, sw, swc.toDouble / sw.toDouble / 100.0)
    }.toSet
    for (parts <- Seq(1, 5)) {
      val got = Bootstrap.poissonBootstrapMeans(
        rows.toDF("id", "v").repartition(parts), "id", "v", resamples = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
    }
  }

  test("multiplicities behave like Poisson(1): mean ~1, CI brackets truth") {
    val n = 2000
    val ws = for (id <- 1 to n; b <- 0 until 4) yield modelWeight(id.toLong, b.toLong)
    val mean = ws.sum.toDouble / ws.size
    assert(mean > 0.95 && mean < 1.05, s"mean multiplicity $mean")
    // p(0) should be ~ e^-1
    val p0 = ws.count(_ == 0L).toDouble / ws.size
    assert(math.abs(p0 - math.exp(-1.0)) < 0.03, s"p(0) = $p0")
    // resample means should spread around the true mean
    val rows = (1 to n).map(i => (i.toLong, (i % 100).toDouble))
    val means = Bootstrap.poissonBootstrapMeans(
      rows.toDF("id", "v"), "id", "v", resamples = 16)
      .collect().map(_.getDouble(2))
    val truth = rows.map(_._2).sum / n
    assert(means.min <= truth && truth <= means.max,
      s"bootstrap spread [${means.min}, ${means.max}] misses $truth")
  }
}
