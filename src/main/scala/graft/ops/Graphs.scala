package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics beyond [[Clusters]]' connected components:
  * PageRank in exact integer arithmetic.
  *
  * Floating-point PageRank is partition-order-dependent (rank sums),
  * so this variant keeps ranks as 2^20-scaled longs: contributions
  * are `rank div outdeg` (long floor division), per-node inflow is an
  * exact long sum (order-free), and damping is integer
  * `(15·SCALE) div 100 + (85·inflow) div 100`. Every step is
  * bit-deterministic under any partitioning and exactly replicable in
  * SQL — which is what lets a fixed-iteration run hash-match a
  * cross-engine oracle, the same discipline as the quantized k-means
  * update. The deliberate cost: each division floors away < 1 rank
  * unit (≈ 2^-20), a bounded bias no ranking consumer can observe.
  *
  * Scale shape: ranks shuffle on node id, contributions on dst —
  * ordinary shuffled joins/aggs carrying (long, long) pairs only; the
  * rank frame is eagerly checkpointed per round and the superseded
  * round freed (the [[Clusters.connectedComponents]] lesson), so
  * round r+1 starts from materialized ranks instead of replaying
  * rounds 1..r.
  */
object Graphs {

  val Scale: Long = 1L << 20

  /** Fixed-iteration integer PageRank over a directed edge list
    * (duplicate edges are counted once). Returns (node, rank_scaled)
    * for every node appearing as src or dst; callers divide by
    * [[Scale]] for a float rank. Nodes with no out-edges contribute
    * nothing (rank leak) — pass a symmetrized edge list for
    * leak-free undirected semantics.
    */
  def integerPageRank(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be positive")
    // persisted PRE-PARTITIONED on src — the per-round rank join's
    // key — so each of the `iters` joins finds the edge side already
    // laid out and only the (node-sized) rank frame shuffles; without
    // this every round re-exchanges the full edge list (distinct()
    // leaves it partitioned on (src, dst), which satisfies nothing)
    val edges0 = edgesIn
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // loop-INVARIANT frames are built once and materialized, not
    // re-derived per round (the old shape recomputed the node
    // distinct and the outdeg aggregation — one full edge pass plus a
    // shuffle each — inside every iteration): outdeg is fused onto
    // the edge frame (still src-partitioned, so the per-round rank
    // join needs no edge-side exchange and no second deg join), and
    // the node universe is checkpointed. Contributions are identical
    // integer arithmetic — bit-identical ranks.
    val edges = edges0
      .join(edges0.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint()
    val nodes = edges0.select(col("src").as("node"))
      .union(edges0.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    edges0.unpersist()
    var ranks = nodes.select(col("node"), lit(Scale).as("r")).localCheckpoint()
    for (_ <- 1 to iters) {
      val inflow = edges
        .join(ranks, edges("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r div outdeg").as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("s"))
      val next = nodes
        .join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(15L * Scale / 100L) +
            expr("(85 * coalesce(s, bigint(0))) div 100")).as("r"))
        .localCheckpoint()
      Clusters.unpersistCheckpoint(ranks)
      ranks = next
    }
    Clusters.unpersistCheckpoint(edges)
    Clusters.unpersistCheckpoint(nodes)
    ranks.select(col("node"), col("r").as("rank_scaled"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list (self-loops and duplicates dropped).
    *
    * Scale shape: the classic degree-orientation trick — each
    * undirected edge is directed from its (degree, id)-smaller
    * endpoint to the larger, so a triangle u→v, u→w, v→w is found
    * exactly ONCE: at its u→v edge, as a member of
    * N⁺(u) ∩ N⁺(v). The hub that would own deg²/2 wedges in a naive
    * self-join owns almost none: all its edges point INTO it, and
    * per-node work is bounded by the ORIENTED out-degree, O(√m) on
    * any graph. The closure never materializes the wedge stream (the
    * Σ outdeg² rows that dominate every join-based formulation —
    * measured 41M wedges on a 1.2M-edge graph, 15× the row count of
    * this plan): oriented adjacency lists are aggregated once, the
    * edge frame picks up both endpoints' lists with two equi-joins,
    * and one codegen'd `array_intersect` per EDGE closes all of that
    * edge's triangles at once. Witness credits (the third vertex)
    * come from exploding the intersection — #triangles rows, not
    * #wedges.
    *
    * Determinism: counts are exact longs; the coefficient
    * 2T/(d(d−1)) is one double division of exact longs.
    *
    * @param broadcastAdjacency broadcast the oriented adjacency-list
    *        frame (Σ oriented outdeg ≈ m longs) so the closure runs
    *        without shuffling the edge frame — right whenever the
    *        edge list fits executor memory; at graphs beyond that
    *        (the 100 TB general case) leave false and the two
    *        adjacency joins shuffle on node id.
    * @return (node, degree BIGINT, n_triangles BIGINT,
    *         clustering DOUBLE) for every node in the edge set.
    */
  def triangleCounts(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      broadcastAdjacency: Boolean = false): DataFrame = {
    val e = edgesIn
      .select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      // materialize the canonical edge list ONCE (degrees read both
      // sides, the orientation joins read it again) — without this
      // the whole scan→derive→distinct lineage replicates per
      // consumer. Unlike integerPageRank's final ranks this
      // checkpoint does NOT outlive the call: once the sorted
      // adjacency frame is materialized everything downstream derives
      // from adj, so e is freed then.
      .localCheckpoint()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient each edge by the (deg, id) total order. Under
    // broadcastAdjacency the degree frame (node-sized — strictly
    // smaller than the adjacency lists already being broadcast under
    // the same memory claim) broadcasts into both joins, so the edge
    // frame reaches the orientation without ever shuffling; without
    // the flag both joins shuffle on node id as before.
    val (degA, degB) = {
      val da = deg.select(col("v").as("a"), col("deg").as("da"))
      val db = deg.select(col("v").as("b"), col("deg").as("db"))
      if (broadcastAdjacency) (broadcast(da), broadcast(db)) else (da, db)
    }
    val withDeg = e.join(degA, "a").join(degB, "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
    // one SORTED adjacency aggregation, materialized (it is tiny —
    // one row per non-sink node, Σ lengths = m): every later piece
    // reads this frame, so the deg-join lineage above runs once. The
    // sort is paid per NODE and amortized over every per-EDGE merge
    // walk below.
    val adj = oriented.groupBy(col("src"))
      .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint()
    // adj is the only frame the rest of the plan (and the returned
    // frame) reads — free the wider edge-list checkpoint now
    Clusters.unpersistCheckpoint(e)
    // the closure's edge stream is adj itself re-exploded (2 slim
    // longs per row — no second derivation of the scan→distinct→join
    // lineage); src's list arrives by equi-join, dst's by left join
    // (a sink has no list → []).
    val edgeStream = adj.select(col("src"), explode(col("nbrs")).as("dst"))
    val adjU = adj.select(col("src"), col("nbrs").as("nu"))
    val adjV = adj.select(col("src").as("dst"), col("nbrs").as("nv"))
    val (probeU, probeV) =
      if (broadcastAdjacency) (broadcast(adjU), broadcast(adjV))
      else (adjU, adjV)
    // per-edge closure: every w ∈ N⁺(src) ∩ N⁺(dst) closes one
    // triangle (src, dst, w), each counted exactly once here. Credits:
    // src and dst earn the intersection SIZE, each witness earns 1 —
    // posexploded from one flat long array (positions 0-1 are the
    // endpoints) straight into the partial agg; rows = 2·edges +
    // #triangles, never #wedges.
    val tris = edgeStream
      .join(probeU, Seq("src"))
      .join(probeV, Seq("dst"), "left")
      .withColumn("ws", graft.functions.GraphExpressions.sortedIntersect(
        col("nu"), coalesce(col("nv"), typedLit(Array.empty[Long]))))
      .withColumn("c", size(col("ws")).cast("long"))
      .filter(col("c") > 0L)
      .select(col("c"),
        posexplode(concat(array(col("src"), col("dst")), col("ws")))
          .as(Seq("pos", "node")))
      .select(col("node"),
        when(col("pos") < 2, col("c")).otherwise(lit(1L)).as("t"))
      .groupBy(col("node")).agg(sum(col("t")).as("t"))
    // rollup degree re-derived from adj (NOT deg — that would keep
    // the freed e checkpoint reachable): each undirected edge appears
    // exactly once in the oriented lists, so degree = outdeg + indeg.
    val degFromAdj = adj
      .select(col("src").as("node"), size(col("nbrs")).cast("long").as("od"))
      .join(adj.select(explode(col("nbrs")).as("node"))
        .groupBy("node").agg(count(lit(1)).as("ind")), Seq("node"), "full")
      .select(col("node"),
        (coalesce(col("od"), lit(0L)) + coalesce(col("ind"), lit(0L))).as("deg"))
    val out = degFromAdj
      .join(tris, Seq("node"), "left")
      .select(
        col("node"),
        col("deg").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2L,
          lit(2.0) * coalesce(col("t"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
    out
  }

  /** Deterministic "random" walks: from each start node, `steps`
    * hops where the next node is the out-neighbor minimizing a
    * portable hash of (start, step, neighbor) — pseudo-random
    * neighbor choice with NO RNG, so walks are bit-identical under
    * any partitioning, re-run, or engine (the sampling-without-
    * nondeterminism discipline; walks feed graph-embedding training
    * the way hash sampling feeds subset selection). Walks stop early
    * at sink nodes.
    *
    * Scale shape: each step is one equi-join current⋈edges on the
    * current node plus a per-walk min — K shuffled joins total
    * carrying (start, node) longs only; the edge list is
    * checkpointed once. The min is over a single packed long
    * (hash·2³¹ + neighbor), so ties are impossible and no engine-
    * specific arg_min tie-break leaks in. Node ids must be in
    * [0, 2^31).
    *
    * @return (start_node, step BIGINT 0..steps, node BIGINT).
    */
  def deterministicWalks(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      starts: DataFrame,
      startCol: String,
      steps: Int): DataFrame = {
    require(steps >= 1, "steps must be positive")
    val P = 2147483647L
    val A = 1610612741L
    val B = 805306457L
    val A2 = 1566083941L
    val B2 = 12345L
    val Pack = 2147483648L
    val e = edgesIn
      .select(col(srcCol).cast("long").as("c"), col(dstCol).cast("long").as("n"))
      .distinct()
      .localCheckpoint()
    var cur = starts.select(col(startCol).cast("long").as("start"))
      .distinct()
      .withColumn("c", col("start"))
    var out = cur.select(col("start").as("start_node"), lit(0L).as("step"),
      col("c").as("node"))
    for (t <- 1 to steps) {
      val v = pmod(col("start") * 131L + lit(17L * t) + col("n"), lit(P))
      val x = pmod(lit(A) * v + lit(B), lit(P))
      val y = pmod(pmod(x * x, lit(P)) * lit(A2) + lit(B2), lit(P))
      cur = cur.join(e, "c")
        .select(col("start"), (y * lit(Pack) + col("n")).as("key"))
        .groupBy("start").agg(min(col("key")).as("k"))
        .select(col("start"), pmod(col("k"), lit(Pack)).as("c"))
      out = out.unionAll(cur.select(col("start").as("start_node"),
        lit(t.toLong).as("step"), col("c").as("node")))
    }
    out
  }

  /** Multi-source BFS: exact hop distance (0..maxHops) from a seed
    * set over a directed edge list — the traversal primitive under
    * "within k hops of a trusted node" curation filters and
    * neighborhood feature extraction. Nodes unreachable within
    * `maxHops` are absent from the result.
    *
    * Scale shape: frontier expansion, not reachable-set re-derivation
    * — round t joins ONLY the nodes first reached at t−1 against the
    * edge list (an equi-join on src) and anti-joins the visited set,
    * so total join work is Σ|frontier| · avg-degree = O(m) across all
    * rounds, the textbook distributed BFS bound. The visited frame is
    * localCheckpointed per round (and its predecessor freed) so round
    * t+1 reads materialized state instead of replaying rounds 1..t —
    * the same iteration discipline as [[integerPageRank]] and
    * connected components.
    *
    * Determinism: distance is the round counter — set arithmetic
    * only, no floats, no tie-breaks — so the fixed-round result
    * hash-matches an unrolled reachable-set oracle on any engine.
    *
    * @return (node BIGINT, dist BIGINT) for every node reachable from
    *         a seed in ≤ maxHops hops (seeds themselves at dist 0).
    */
  def bfsLayers(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be positive")
    // NOT pre-partitioned on src, deliberately: the per-round probe
    // is the (small) frontier, which Spark broadcasts against the
    // cached edge list in place — a src repartition would add a full
    // edge shuffle that no round's join needs (measured +40% on the
    // 2.2M-edge benchmark graph). integerPageRank/labelPropagation
    // differ: their probe frames are node-sized every round.
    val e = edgesIn
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    var frontier = visited
    for (t <- 1 to maxHops) {
      // expand the frontier one hop; the anti-join keeps first-reach
      // semantics (a node's dist is the FIRST round that saw it)
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(t.toLong))
      val nv = visited.unionAll(next).localCheckpoint()
      Clusters.unpersistCheckpoint(visited)
      visited = nv
      // the new round's frontier is exactly the rows just added
      frontier = visited.filter(col("dist") === t.toLong)
    }
    e.unpersist()
    visited
  }

  /** Synchronous label propagation (fixed rounds): each node adopts
    * the most frequent label among its in-neighbors, ties broken by
    * the SMALLEST label — community detection for corpus/host-graph
    * clustering, where connected components is too coarse (it merges
    * everything bridged by one edge) and modularity methods are
    * nondeterministic. Nodes with no in-neighbors keep their label.
    *
    * Determinism (the property classic async LPA lacks): updates are
    * synchronous (round t reads only round t−1), and the mode-with-
    * tie-break is an exact integer argmax over the packed long
    * `cnt·2³¹ + (2³¹−1−label)` — max of packed keys IS
    * (max count, then min label), no engine tie-break semantics
    * leak. Node ids must be in [0, 2³¹). Fixed `iters` keeps the
    * run SQL-unrollable for the cross-engine oracle.
    *
    * Scale shape: per round, one equi-join edges⋈labels on src (the
    * edge frame is persisted once), a (dst, lbl) count agg, and a
    * packed-long max agg — all partial-combining hash aggs; labels
    * are checkpointed per round and the superseded round freed, the
    * [[integerPageRank]] iteration discipline.
    *
    * Broadcast note (r11, measured and REJECTED): broadcasting the
    * node-sized labels/counted frames into the two per-round joins is
    * plan-prettier (no join exchanges) but repeatably +1 s here — each
    * round pays two driver collect+rebuild roundtrips where the
    * shuffled path moves two node-sized frames between warm executors;
    * the per-round aggregation exchanges (the actual cost) remain
    * either way.
    *
    * @return (node BIGINT, label BIGINT) after `iters` rounds.
    */
  def labelPropagation(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val Pack = 2147483648L
    // pre-partitioned on src (the integerPageRank discipline): each
    // round's label join reads the cached layout, only labels shuffle
    val e = edgesIn
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var labels = nodes.withColumn("lbl", col("node")).localCheckpoint()
    for (_ <- 1 to iters) {
      val counted = e.join(labels, e("src") === labels("node"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(max(col("c") * Pack + (lit(Pack - 1L) - col("lbl"))).as("k"))
        .select(col("node"), (lit(Pack - 1L) - pmod(col("k"), lit(Pack))).as("nl"))
      val next = labels.select(col("node"), col("lbl").as("old"))
        .join(counted, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("old")).as("lbl"))
        .localCheckpoint()
      Clusters.unpersistCheckpoint(labels)
      labels = next
    }
    e.unpersist()
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** Fixed-round k-core peeling over an undirected edge list: each
    * round removes every node whose degree (in the surviving graph)
    * is below k, then the edges touching removed nodes. After enough
    * rounds this converges to the k-core — the standard graph
    * denoiser (strip chains/pendants so communities and triangle
    * statistics aren't diluted by degree-1 noise). Fixed `rounds`
    * keeps the operator SQL-unrollable for the cross-engine oracle;
    * callers wanting the true fixpoint iterate until the count stops
    * falling.
    *
    * Scale shape: per round one degree aggregation + two semi-joins
    * (edges to surviving endpoints) — all equi-joins on node ids; the
    * edge frame is checkpointed per round and the superseded round
    * freed (the [[integerPageRank]] discipline). Work per round is
    * O(m surviving).
    *
    * @return (node, degree) in the surviving graph after `rounds`
    *         peels (degree ≥ k not guaranteed until convergence —
    *         the last round's removals can re-expose low-degree
    *         nodes, exactly as in the unrolled oracle).
    */
  def kCorePeel(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "rounds must be positive")
    var e = canonEdges(edgesIn, aCol, bCol)
    for (_ <- 1 to rounds) {
      val ne = corePeelRound(e, k).localCheckpoint()
      Clusters.unpersistCheckpoint(e)
      e = ne
    }
    coreDegrees(e)
  }

  /** One degree-filter peel: edges whose BOTH endpoints have degree
    * ≥ k in `e`.
    */
  private def corePeelRound(e: DataFrame, k: Int): DataFrame = {
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val keep = deg.filter(col("deg") >= k.toLong).select("v")
    e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
      .select("a", "b")
  }

  private def coreDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v").as("node")).agg(count(lit(1)).as("degree"))

  private def canonEdges(
      edgesIn: DataFrame, aCol: String, bCol: String): DataFrame =
    edgesIn
      .select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

  /** [[kCorePeel]] run to the FIXPOINT — the certified k-core: peel
    * until the surviving edge count is stable (each round's frame is
    * already materialized by its localCheckpoint, so the stability
    * count reads cached blocks, not a recompute). A fixed-round peel
    * that hasn't converged can return nodes NOT in the k-core — the
    * cascade (removing a node re-exposes its neighbors) runs one
    * layer per round, so e.g. a pendant chain needs length/2 rounds.
    * `maxRounds` bounds the worst case (a path graph peels O(n)
    * rounds); hitting it throws rather than silently returning a
    * non-core, preserving the "certified" contract.
    *
    * The fixed-round variant stays for the SQL-unrollable oracle;
    * once stable the two agree exactly (peeling a fixpoint is a
    * no-op — spec-pinned).
    */
  def kCoreConverged(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, "k must be positive")
    var e = canonEdges(edgesIn, aCol, bCol)
    var n = e.count()
    var stable = false
    var r = 0
    while (!stable) {
      if (r >= maxRounds)
        throw new IllegalStateException(
          s"k-core did not converge within $maxRounds rounds")
      val ne = corePeelRound(e, k).localCheckpoint()
      val nn = ne.count()
      Clusters.unpersistCheckpoint(e)
      e = ne
      stable = nn == n
      n = nn
      r += 1
    }
    coreDegrees(e)
  }

  /** Fixed-round k-truss peeling: each round computes every edge's
    * SUPPORT (the number of triangles it closes) and drops edges
    * below k − 2, converging to the k-truss — the edge-wise
    * strengthening of [[kCorePeel]] (a k-core keeps weakly-attached
    * hubs; a truss keeps only cohesive, triangle-dense structure —
    * the community-core extractor). Fixed `rounds` keeps it
    * SQL-unrollable for the oracle, exactly the kCorePeel contract:
    * callers wanting the certified fixpoint iterate until the edge
    * count stops falling.
    *
    * Scale shape per round: the [[triangleCounts]] degree-oriented
    * closure (O(√m) per edge, never per-wedge rows) re-keyed to
    * EDGES — each triangle (src, dst, w) credits its three canonical
    * edges — then one hash agg and an equi semi filter. The edge
    * frame is checkpointed per round and the superseded round freed.
    *
    * @return (node_a, node_b, support) for surviving edges, a < b,
    *         support recomputed in the FINAL surviving graph.
    */
  def kTrussPeel(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      rounds: Int,
      broadcastAdjacency: Boolean = false): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    require(rounds >= 1, "rounds must be positive")
    var e = canonEdges(edgesIn, aCol, bCol)
    for (_ <- 1 to rounds) {
      val keep = edgeSupport(e, broadcastAdjacency)
        .filter(col("support") >= (k - 2).toLong)
        .select("a", "b")
      val ne = e.join(keep, Seq("a", "b"), "left_semi").localCheckpoint()
      Clusters.unpersistCheckpoint(e)
      e = ne
    }
    trussOut(e, broadcastAdjacency)
  }

  /** Per-edge triangle support via the degree-oriented closure:
    * orient edges low-degree → high-degree, sorted-merge the two
    * adjacency lists, and credit all three edges of each found
    * triangle. O(√m) work per edge, never per-wedge rows.
    *
    * `broadcastAdjacency` is [[triangleCounts]]' flag with the same
    * memory claim: the node-sized degree frame broadcasts into the two
    * orientation joins and the adjacency-list frame into the two
    * closure probes, so the surviving edge frame never shuffles inside
    * a peel round — right whenever the edge list fits executor memory;
    * at graphs beyond that leave false and all four joins shuffle on
    * node id as before.
    */
  private def edgeSupport(
      edges: DataFrame,
      broadcastAdjacency: Boolean = false): DataFrame = {
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val (degA, degB) = {
      val da = deg.select(col("v").as("a"), col("deg").as("da"))
      val db = deg.select(col("v").as("b"), col("deg").as("db"))
      if (broadcastAdjacency) (broadcast(da), broadcast(db)) else (da, db)
    }
    val withDeg = edges.join(degA, "a").join(degB, "b")
    val oriented = withDeg.select(
      when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
    val adj = oriented.groupBy(col("src"))
      .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint()
    val adjU = adj.select(col("src"), col("nbrs").as("nu"))
    val adjV = adj.select(col("src").as("dst"), col("nbrs").as("nv"))
    val (probeU, probeV) =
      if (broadcastAdjacency) (broadcast(adjU), broadcast(adjV))
      else (adjU, adjV)
    val t3 = adj.select(col("src"), explode(col("nbrs")).as("dst"))
      .join(probeU, Seq("src"))
      .join(probeV, Seq("dst"), "left")
      .withColumn("ws", graft.functions.GraphExpressions.sortedIntersect(
        col("nu"), coalesce(col("nv"), typedLit(Array.empty[Long]))))
      .select(col("src"), col("dst"), explode(col("ws")).as("w"))
    // credit all three edges of each triangle in ONE pass over the
    // closure stream: the old union-of-three-projections shape
    // evaluated the whole t3 pipeline (two adjacency joins + the
    // sorted-merge intersection + explode) once per branch — same
    // (a, b) multiset, same counts, one evaluation
    t3.select(explode(array(
        struct(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")),
        struct(least(col("src"), col("w")).as("a"),
          greatest(col("src"), col("w")).as("b")),
        struct(least(col("dst"), col("w")).as("a"),
          greatest(col("dst"), col("w")).as("b")))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  private def trussOut(
      e: DataFrame, broadcastAdjacency: Boolean = false): DataFrame =
    e.join(edgeSupport(e, broadcastAdjacency), Seq("a", "b"), "left")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        coalesce(col("support"), lit(0L)).as("support"))

  /** [[kTrussPeel]] run to the FIXPOINT — the certified k-truss:
    * support-peel until the surviving edge count is stable. A
    * fixed-round peel that hasn't converged returns edges NOT in the
    * k-truss (dropping an edge lowers its neighbors' support one
    * cascade layer per round — a strip of pendant triangles needs
    * length/2 rounds to dissolve). `maxRounds` bounds the worst case;
    * hitting it throws rather than returning an uncertified edge set.
    * Once stable, extra fixed rounds are no-ops, so the converged
    * result equals any sufficiently-unrolled [[kTrussPeel]]
    * (spec-pinned) — which is what keeps the cross-engine oracle
    * expressible.
    */
  def kTrussConverged(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 50,
      broadcastAdjacency: Boolean = false): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    var e = canonEdges(edgesIn, aCol, bCol)
    var n = e.count()
    var stable = false
    var r = 0
    while (!stable) {
      if (r >= maxRounds)
        throw new IllegalStateException(
          s"k-truss did not converge within $maxRounds rounds")
      val keep = edgeSupport(e, broadcastAdjacency)
        .filter(col("support") >= (k - 2).toLong)
        .select("a", "b")
      val ne = e.join(keep, Seq("a", "b"), "left_semi").localCheckpoint()
      val nn = ne.count()
      Clusters.unpersistCheckpoint(e)
      e = ne
      stable = nn == n
      n = nn
      r += 1
    }
    trussOut(e, broadcastAdjacency)
  }

  /** Resource-Allocation node similarity over a bipartite edge list
    * (Zhou/Lü/Zhang's RA index — the exactly-computable cousin of
    * Adamic–Adar): for every pair of right-side nodes (a, b),
    * `RA(a,b) = Σ_{u ∈ Γ(a)∩Γ(b)} 1/deg(u)` over shared left-side
    * neighbors. The weight is kept EXACT as fixed-point integer
    * `scale div deg(u)` (long floor division — deterministic in any
    * engine, no float summation order to disagree on), so the pair
    * scores are plain long sums and hash-verifiable.
    *
    * Scale shape — the [[Dedup.jaccardPairs]] posting-list
    * discipline: candidate pairs are generated by GROUPING each
    * left-node's (deduplicated) neighbor list and exploding ordered
    * pairs out of it — no posting self-join, one edge-list pipeline.
    * The `maxDegree` cut drops hub left-nodes whose deg² pair
    * fan-out would dominate (and whose 1/deg weight contributes
    * least) — the exact analogue of the shingle-df cut; at web scale
    * this is what bounds Σ deg(u)² . One shuffle to build neighbor
    * lists, one to merge pair scores, both partial-combining.
    *
    * @return (node_a, node_b, n_common, ra_fp) with node_a < node_b;
    *         `ra_fp / scale` is the RA score.
    */
  def resourceAllocation(
      edges: DataFrame,
      leftCol: String,
      rightCol: String,
      maxDegree: Int = 256,
      scale: Long = 1000000L): DataFrame = {
    // the degree cut applies BEFORE the neighbor-list aggregation —
    // filtering on size(collect_list(...)) afterwards would still
    // build an unbounded aggregation buffer for a hub left-node; the
    // pre-count + semi-join bounds the buffer at maxDegree entries.
    // The distinct edge frame feeds both passes, so it is persisted
    // (the one-scan discipline).
    val e = edges
      .select(col(leftCol).as("u"), col(rightCol).as("t"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = e.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      .filter(col("dg").between(2L, maxDegree.toLong))
      .select(col("u"))
    val nbrs = e
      .join(keep, Seq("u"), "left_semi")
      .groupBy(col("u"))
      .agg(array_sort(collect_list(col("t"))).as("ts"))
      .select(col("ts"),
        expr(s"${scale}L div CAST(size(ts) AS BIGINT)").as("w"))
    nbrs
      .select(explode(col("ts")).as("a"), col("ts"), col("w"))
      .select(col("a"), explode(col("ts")).as("b"), col("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a").as("node_a"), col("b").as("node_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("ra_fp"))
  }

  /** Degree assortativity of an undirected graph: Pearson r between
    * the endpoint degrees over all edge orientations (Newman's mixing
    * coefficient — positive when hubs attach to hubs). Degrees are
    * exact integers, so the correlation's sufficient statistics are
    * exact DECIMAL(38,0) folds (degree products pass 2^63 on
    * billion-edge graphs) and the final r is one deterministic double
    * expression — the [[Moments]] discipline applied to a graph
    * invariant.
    *
    * Scale shape: degree count (one shuffle on node), two equi-joins
    * edge→degree (shuffled hash joins on node id — the degree frame
    * is node-sized), one global aggregation. No windows, no
    * iteration.
    *
    * @return one row: (n_ends, r)
    */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    // persisted: the distinct edge frame feeds the symmetrized union
    // twice, the degree count, and both sides of the pair join — five
    // consumers that would each replay the input scan + distinct
    // otherwise (the minhash one-scan discipline; ContextCleaner
    // frees the blocks when the frame goes unreferenced)
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("du"))
    val d18 = "decimal(18,0)"
    val pairs = sym
      .join(deg, Seq("u"))
      .join(deg.select(col("u").as("v"), col("du").as("dv")), Seq("v"))
      .select(col("du").cast(d18).as("x"), col("dv").cast(d18).as("y"))
    pairs.agg(
        count(lit(1)).as("n_ends"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select(col("n_ends"),
        expr("""CASE WHEN n_ends*sxx - sx*sx = 0.0
                       OR n_ends*syy - sy*sy = 0.0 THEN 0.0
                ELSE (n_ends*sxy - sx*sy) /
                     (sqrt(n_ends*sxx - sx*sx) * sqrt(n_ends*syy - sy*sy))
                END""").as("r"))
  }

  /** HITS hubs-and-authorities on a bipartite edge set, two exact
    * UNNORMALIZED power-iteration rounds: a₁ = Σ_u deg(u) over each
    * authority's hubs, h₂ = Σ_t a₁ over each hub's authorities,
    * a₂ = Σ_u h₂ — every score an exact integer fold (DECIMAL(28,0)
    * sums; unnormalized iterates grow ~m² so longs overflow on
    * billion-edge graphs), with ONE closing double giving the
    * sum-normalized authority share. Skipping the per-round float
    * normalization is what makes the iterate partition-order
    * invariant and hash-verifiable; the ranking is identical.
    *
    * Scale shape: the authority frame is broadcast back (bounded by
    * the authority-side cardinality); hub-side joins shuffle on the
    * hub key with map-side partial sums. The edge frame feeds all
    * rounds once (persisted).
    *
    * @return (authority, a1, a2, share) — share = a₂ / Σa₂
    */
  def hits(
      edges: DataFrame,
      hubCol: String,
      authCol: String): DataFrame = {
    val e = edges
      .select(col(hubCol).as("u"), col(authCol).as("t"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val h1 = e.groupBy("u")
      .agg(count(lit(1)).cast("decimal(18,0)").as("h1"))
    val a1 = e.join(h1, Seq("u"))
      .groupBy("t").agg(sum("h1").cast("decimal(18,0)").as("a1"))
    val h2 = e.join(broadcast(a1), Seq("t"))
      .groupBy("u").agg(sum("a1").cast("decimal(18,0)").as("h2"))
    val a2 = e.join(h2, Seq("u"))
      .groupBy("t").agg(sum("h2").cast("decimal(28,0)").as("a2"))
      // feeds the total AND the output rows: persist so the two
      // consumers don't each replay the three-join lineage
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Σa₂ as a 1-row broadcast, NOT an unpartitioned window — the
    // empty-partition window moves the whole authority frame into one
    // task (the guide-§5 single-task shape); the decimal sum is exact
    // and order-free, so the share doubles are bit-identical
    val tot = a2.agg(sum(col("a2")).cast("decimal(38,0)").as("tot"))
    a2.join(broadcast(a1), Seq("t"))
      .crossJoin(broadcast(tot))
      .select(col("t").as("authority"),
        col("a1").cast("long").as("a1"),
        col("a2").cast("long").as("a2"),
        expr("CAST(a2 AS DOUBLE)/CAST(tot AS DOUBLE)").as("share"))
  }

  /** Shared Spark↔oracle text for a community's modularity
    * contribution: e_c/m − (d_c/2m)². Both engines compute the same
    * IEEE sequence over the same exact longs (e_in, d_sum, m), so
    * the doubles are bit-identical.
    */
  val ModularityExpr: String =
    """CAST(e_in AS DOUBLE) / CAST(m AS DOUBLE)
       - (CAST(d_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
       * (CAST(d_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))""".stripMargin

  /** Newman modularity per community over an UNDIRECTED simple
    * graph: Q_c = e_c/m − (d_c/2m)², where e_c counts intra-community
    * edges, d_c sums member degrees, and m is the edge total — the
    * standard "is this partition better than chance" score for a
    * community assignment (e.g. [[labelPropagation]]'s output).
    * Σ_c Q_c is the global Q; per-community rows keep the readout
    * hash-checkable and point at WHICH communities carry the
    * structure.
    *
    * Exactness: e_c, d_c, m are exact longs from count/sum aggs; the
    * only doubles are the closing [[ModularityExpr]], token-shared
    * with the oracle.
    *
    * Scale shape: edge canonicalization is one distinct agg; then a
    * degree agg, two label equi-joins on node id, and a label agg —
    * all partial-combining hash operations on (long, long) rows. The
    * 1-row edge total arrives as a broadcast. The canonical edge
    * frame is persisted once for its three consumers (m, degrees,
    * endpoint labeling); ContextCleaner frees it when unreferenced.
    *
    * @param labels (node, label) — e.g. [[labelPropagation]] output.
    * @return (label, n_nodes, e_in, d_sum, q_part)
    */
  def modularity(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      labels: DataFrame): DataFrame = {
    val e = edgesIn
      .select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e.agg(count(lit(1)).as("m"))
    val lbl = labels.select(
      col("node").cast("long").as("node"), col("label").cast("long").as("lbl"))
    val ein = e
      .join(lbl.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lbl.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("e_in"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dsum = deg.join(lbl, Seq("node"))
      .groupBy(col("lbl").as("label"))
      .agg(sum("deg").as("d_sum"), count(lit(1)).as("n_nodes"))
    dsum.join(ein, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("e_in"), col("d_sum"),
        expr(ModularityExpr).as("q_part"))
  }
}
