package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the Lloyd's k-means codebook trainer: bit-equality with
  * an independent sequential model, partition invariance (the point of
  * the quantized-update discipline), and empty-cluster carry-forward.
  */
class KMeansSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  /** Sequential reference model with the exact arithmetic contract:
    * float→double widening, left-to-right cosine fold, floor(x·2^10)
    * long sums, one float rounding per update, ties to lowest cid,
    * empty clusters carried forward with n = 0.
    */
  private def model(
      vecs: Seq[(Long, Array[Float])],
      k: Int,
      iters: Int): Map[(Long, Long), (Double, Long)] = {
    val scale = 1024.0
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    var cent: Vector[(Long, Array[Float], Long)] = vecs.sortBy(_._1).take(k)
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v, 0L) }.toVector
    for (_ <- 1 to iters) {
      val assigned = vecs.map { case (id, v) =>
        val best = cent
          .map { case (cid, cv, _) => (dot(v, cv) / (norm(v) * norm(cv)), cid) }
          .maxBy { case (cos, cid) => (cos, -cid) }
        (id, best._2, v)
      }
      cent = cent.map { case (cid, cv, _) =>
        val members = assigned.filter(_._2 == cid).map(_._3)
        if (members.isEmpty) (cid, cv, 0L)
        else {
          val dim = cv.length
          val next = Array.tabulate(dim) { d =>
            val qsum = members.map(m => math.floor(m(d).toDouble * scale).toLong).sum
            ((qsum.toDouble / members.size.toDouble) / scale).toFloat
          }
          (cid, next, members.size.toLong)
        }
      }
    }
    cent.flatMap { case (cid, cv, n) =>
      cv.zipWithIndex.map { case (x, pos) => (cid, pos.toLong) -> (x.toDouble, n) }
    }.toMap
  }

  private def run(
      vecs: Seq[(Long, Array[Float])],
      k: Int,
      iters: Int,
      parts: Int): Map[(Long, Long), (Double, Long)] =
    KMeans.kmeansCodebook(
      vecs.toDF("vec_id", "embedding").repartition(parts),
      "vec_id", "embedding", k, iters)
      .collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("pos")) ->
        (r.getAs[Double]("centroid"), r.getAs[Long]("n")))
      .toMap

  test("codebook bit-matches the sequential model and is partition-invariant") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(id =>
      (id, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val expected = model(vecs, k = 4, iters = 3)
    assert(run(vecs, 4, 3, parts = 1) == expected)
    assert(run(vecs, 4, 3, parts = 7) == expected)
  }

  test("empty cluster carries its centroid forward with n = 0") {
    // seed 1 is collinear with seed 0, so in round 1 every vector ties
    // on cosine (the quotients are real-identical, hence bit-identical)
    // and the tie-break sends all of them to cid 0 — cluster 1 must
    // survive untouched with n = 0, not vanish or go null. (A second
    // round would legitimately repopulate it: the trained centroid
    // drifts off-axis through quantization while the carried seed
    // stays exactly on it.)
    val vecs = Seq(
      0L -> Array(1f, 0f),
      1L -> Array(2f, 0f),
      2L -> Array(1f, 0.1f),
      3L -> Array(1f, -0.1f))
    val out = run(vecs, k = 2, iters = 1, parts = 3)
    assert(out == model(vecs, 2, 1))
    assert(out((1L, 0L)) == (2.0, 0L))
    assert(out((1L, 1L)) == (0.0, 0L))
    assert(out((0L, 0L)) == (1.25, 4L))
  }

  test("L2 trainer bit-matches its sequential model, zero vectors included") {
    // a zero vector would 0/0 the cosine objective; the L2 trainer
    // must place it with the nearest-by-L2 centroid natively
    val scale = 1024.0
    def modelL2(
        vecs: Seq[(Long, Array[Float])],
        k: Int, iters: Int): Map[(Long, Long), (Double, Long)] = {
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        acc
      }
      var cent: Vector[(Long, Array[Float], Long)] = vecs.sortBy(_._1).take(k)
        .zipWithIndex.map { case ((_, v), i) => (i.toLong, v, 0L) }.toVector
      for (_ <- 1 to iters) {
        val assigned = vecs.map { case (id, v) =>
          val best = cent
            .map { case (cid, cv, _) => (dot(cv, cv) - 2.0 * dot(v, cv), cid) }
            .minBy { case (cmp, cid) => (cmp, cid) }
          (id, best._2, v)
        }
        cent = cent.map { case (cid, cv, _) =>
          val members = assigned.filter(_._2 == cid).map(_._3)
          if (members.isEmpty) (cid, cv, 0L)
          else {
            val next = Array.tabulate(cv.length) { d =>
              val qsum = members
                .map(m => math.floor(m(d).toDouble * scale).toLong).sum
              ((qsum.toDouble / members.size.toDouble) / scale).toFloat
            }
            (cid, next, members.size.toLong)
          }
        }
      }
      cent.flatMap { case (cid, cv, n) =>
        cv.zipWithIndex.map { case (x, pos) => (cid, pos.toLong) -> (x.toDouble, n) }
      }.toMap
    }
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 30L).map { id =>
      (id, if (id == 5L) Array(0f, 0f, 0f, 0f)
           else Array.fill(4)(rnd.nextFloat() * 0.4f - 0.2f))
    }
    val expected = modelL2(vecs, k = 4, iters = 2)
    def runL2(parts: Int) = KMeans.kmeansCodebookL2(
      vecs.toDF("vec_id", "embedding").repartition(parts),
      "vec_id", "embedding", 4, 2)
      .collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("pos")) ->
        (r.getAs[Double]("centroid"), r.getAs[Long]("n")))
      .toMap
    assert(runL2(1) == expected)
    assert(runL2(5) == expected)
  }

  test("grouped L2 trainer is bit-identical to training each group alone") {
    val rnd = new scala.util.Random(13)
    val rows = for (g <- 0 until 3; id <- 0L until 25L)
      yield (g, id, Array.fill(4)(rnd.nextFloat() * 0.5f - 0.25f))
    val grouped = KMeans.kmeansCodebookL2Grouped(
      rows.toDF("grp", "id", "v").repartition(5), k = 4, iters = 2)
      .collect()
      .map(r => (r.getAs[Int]("grp"), r.getAs[Long]("cid"), r.getAs[Long]("pos")) ->
        (r.getAs[Double]("centroid"), r.getAs[Long]("n")))
      .toMap
    val solo = (0 until 3).flatMap { g =>
      KMeans.kmeansCodebookL2(
        rows.filter(_._1 == g).map(t => (t._2, t._3)).toDF("id", "v"),
        "id", "v", 4, 2)
        .collect()
        .map(r => (g, r.getAs[Long]("cid"), r.getAs[Long]("pos")) ->
          (r.getAs[Double]("centroid"), r.getAs[Long]("n")))
    }.toMap
    assert(grouped == solo)
  }

  test("one round of a single cluster is the quantized mean") {
    val vecs = Seq(
      0L -> Array(0.5f, 0.5f),
      1L -> Array(0.25f, 0.75f))
    val out = run(vecs, k = 1, iters = 1, parts = 2)
    // floor-quantized exact means: (0.5+0.25)/2, (0.5+0.75)/2 are
    // dyadic, so quantization is exact here
    assert(out((0L, 0L)) == (0.375, 2L))
    assert(out((0L, 1L)) == (0.625, 2L))
  }
}
