package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Integer PageRank: bit-equality with a sequential model, partition
  * invariance, and sanity of the rank ordering on a known graph.
  */
class GraphsSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  /** Sequential model with identical integer arithmetic. */
  private def model(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    var r = nodes.map(_ -> Graphs.Scale).toMap
    for (_ <- 1 to iters) {
      val inflow = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _) => r(s) / outdeg(s) }.sum
      }
      r = nodes.map(n =>
        n -> (15L * Graphs.Scale / 100L + 85L * inflow.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int, parts: Int): Map[Long, Long] =
    Graphs.integerPageRank(
      edges.toDF("src", "dst").repartition(parts), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pagerank bit-matches the sequential model and is partition-invariant") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val expected = model(edges, 3)
    assert(run(edges, 3, 1) == expected)
    assert(run(edges, 3, 7) == expected)
  }

  test("hub node outranks leaves on a star graph") {
    // undirected star: leaves 1..5 <-> hub 0
    val edges = (1L to 5L).flatMap(l => Seq((l, 0L), (0L, l)))
    val out = run(edges, 3, 3)
    assert(out == model(edges, 3))
    assert((1L to 5L).forall(l => out(0L) > out(l)))
  }

  test("dangling ranks leak but never go below the damping floor") {
    val out = run(Seq((1L, 2L)), 2, 2) // 2 has no out-edges
    assert(out == model(Seq((1L, 2L)), 2))
    assert(out.values.forall(_ >= 15L * Graphs.Scale / 100L))
  }

  /** Sequential walk model with the identical portable hash. */
  private def walkModel(
      edges: Seq[(Long, Long)], starts: Seq[Long], steps: Int): Set[(Long, Long, Long)] = {
    val P = 2147483647L
    val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def h(start: Long, t: Int, n: Long): Long = {
      val v = (start * 131L + 17L * t + n) % P
      val x = (1610612741L * v + 805306457L) % P
      (((x * x) % P) * 1566083941L + 12345L) % P
    }
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    for (s0 <- starts.distinct) {
      var c = s0
      out += ((s0, 0L, c))
      var t = 1
      var alive = true
      while (t <= steps && alive) {
        adj.get(c) match {
          case Some(ns) =>
            c = ns.minBy(n => (h(s0, t, n), n))
            out += ((s0, t.toLong, c))
          case None => alive = false
        }
        t += 1
      }
    }
    out.toSet
  }

  test("deterministic walks match the sequential model and are partition-invariant") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b } :+ (30L, 31L) // 31 is a sink
    val starts = (0L to 24L) :+ 30L
    val want = walkModel(edges, starts, 3)
    for (parts <- Seq(1, 6)) {
      val got = Graphs.deterministicWalks(
        edges.toDF("src", "dst").repartition(parts), "src", "dst",
        starts.toDF("n"), "n", steps = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)
    }
    // the sink's walk stops after one hop
    assert(want.filter(_._1 == 30L).map(_._2).max == 1L)
  }

  /** Sequential triangle model: brute-force over all node triples. */
  private def triModel(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val e = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = (e.map(_._1) ++ e.map(_._2)).toSeq.distinct
    val deg = nodes.map(n => n -> e.count(p => p._1 == n || p._2 == n).toLong).toMap
    val tri = nodes.map { n =>
      val nbrs = e.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
      n -> nbrs.toSeq.combinations(2).count {
        case Seq(x, y) => e.contains((x min y, x max y))
      }.toLong
    }.toMap
    nodes.map(n => n -> (deg(n), tri(n))).toMap
  }

  private def runTri(edges: Seq[(Long, Long)], parts: Int): Map[Long, (Long, Long, Double)] =
    Graphs.triangleCounts(edges.toDF("a", "b").repartition(parts), "a", "b")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("triangle counts match brute force; hub-heavy graph and duplicates handled") {
    // K4 plus a star hub: node 9 connected to everything (a skewed
    // degree distribution — the case degree orientation exists for),
    // duplicate + reversed + self edges thrown in
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val hub = (1L to 4L).map(i => (9L, i))
    val noise = Seq((2L, 1L), (1L, 2L), (7L, 7L), (9L, 1L))
    val edges = k4 ++ hub ++ noise
    val want = triModel(edges)
    for (parts <- Seq(1, 5)) {
      val got = runTri(edges, parts)
      assert(got.view.mapValues(v => (v._1, v._2)).toMap == want)
      // K4+hub: every pair of node 1..4 is connected and all see the hub
      assert(got(9L) == ((4L, 6L, 1.0))) // hub: C(4,2) triangles, all closed
      assert(got(1L)._1 == 4L && got(1L)._2 == 6L)
    }
    // star-only graph has no triangles
    val star = runTri((1L to 5L).map(i => (0L, i)), 3)
    assert(star.values.forall(_._2 == 0L))
    assert(star(0L)._3 == 0.0)
  }

  /** Sequential synchronous LPA with the same packed-long argmax. */
  private def lpaModel(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val inc = es.groupBy(_._2)
      lbl = nodes.map { n =>
        inc.get(n) match {
          case None => n -> lbl(n)
          case Some(in) =>
            val counts = in.map(e => lbl(e._1)).groupBy(identity)
              .view.mapValues(_.size.toLong).toMap
            // (count desc, label asc)
            n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }.toMap
    }
    lbl
  }

  private def runLpa(edges: Seq[(Long, Long)], iters: Int, parts: Int): Map[Long, Long] =
    Graphs.labelPropagation(
      edges.toDF("src", "dst").repartition(parts), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("label propagation matches the sequential model; ties go to min label") {
    // two triangles bridged by one edge: LPA should keep two
    // communities where connected components would merge them
    val tri1 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).flatMap(e => Seq(e, e.swap))
    val tri2 = Seq((7L, 8L), (8L, 9L), (9L, 7L)).flatMap(e => Seq(e, e.swap))
    val bridge = Seq((3L, 7L), (7L, 3L))
    val edges = tri1 ++ tri2 ++ bridge
    val want = lpaModel(edges, 3)
    for (parts <- Seq(1, 5)) assert(runLpa(edges, 3, parts) == want)
    // the two triangles converge to different labels
    val got = runLpa(edges, 3, 3)
    assert(got(1L) == got(2L))
    assert(got(8L) == got(9L))
    assert(got(1L) != got(8L))
  }

  test("label propagation is model-exact on a random directed graph") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 500).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val want = lpaModel(edges, 3)
    assert(runLpa(edges, 3, 1) == want)
    assert(runLpa(edges, 3, 6) == want)
  }

  /** Sequential BFS with the same ≤ maxHops cap. */
  private def bfsModel(
      edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Map[Long, Long] = {
    val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.distinct.map(_ -> 0L).toMap
    var frontier = seeds.distinct
    for (t <- 1 to maxHops) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .distinct.filterNot(dist.contains)
      dist ++= next.map(_ -> t.toLong)
      frontier = next
    }
    dist
  }

  private def runBfs(
      edges: Seq[(Long, Long)], seeds: Seq[Long], hops: Int, parts: Int): Map[Long, Long] =
    Graphs.bfsLayers(
      edges.toDF("src", "dst").repartition(parts), "src", "dst",
      seeds.toDF("n"), "n", hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bfs layers match the sequential model; unreachable nodes absent") {
    // chain 0->1->2->3->4 plus a detached pair 8->9; dup seeds
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
    for (parts <- Seq(1, 5)) {
      val got = runBfs(edges, Seq(0L, 0L), 3, parts)
      assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
      assert(!got.contains(4L) && !got.contains(8L)) // beyond cap / unreachable
    }
    // multi-source: first-reach wins over the longer path
    val diamond = Seq((0L, 1L), (1L, 2L), (5L, 2L), (2L, 0L))
    val got = runBfs(diamond, Seq(0L, 5L), 4, 3)
    assert(got == bfsModel(diamond, Seq(0L, 5L), 4))
    assert(got(2L) == 1L) // via seed 5, not the 2-hop path from 0
  }

  test("bfs on a random graph is partition-invariant and model-exact") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val seeds = Seq(0L, 7L, 13L)
    val want = bfsModel(edges, seeds, 3)
    assert(runBfs(edges, seeds, 3, 1) == want)
    assert(runBfs(edges, seeds, 3, 6) == want)
  }
}
