package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-duplicate pair list — the last
  * stage of a dedup pipeline: pair evidence (from MinHash-LSH, exact
  * Jaccard, …) is transitive in intent ("A dups B dups C" is one
  * cluster), so keep-one-per-cluster must group by component, not by
  * pair, or chains keep one doc per *edge*.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id; each round, a node takes the min of its
  * own label and its neighbors' labels; fixpoint = the min id of each
  * component has reached all members. Rounds needed = graph diameter,
  * and near-dup graphs are diameter-bounded in practice (LSH emits
  * clique-ish clusters), so the loop runs 2-4 rounds at any corpus
  * size — each round is one shuffle-join plus one shuffle-agg on the
  * (node, label) pair list, never on document payloads. Lineage is cut
  * every round with localCheckpoint, so plans stay O(1) deep rather
  * than O(rounds).
  *
  * Convergence detection is O(1) driver-side: labels only ever
  * decrease, so Σlabel is strictly decreasing until fixpoint and equal
  * at it — one cheap agg action per round instead of a changed-rows
  * anti-join.
  *
  * (For adversarial diameters — long path graphs — the classic fix is
  * large-star/small-star [Kiveris et al., "Connected Components in
  * MapReduce and Beyond"], which squares distances per round; the
  * simple propagation is chosen here because dedup-pair graphs are
  * shallow and the per-round cost is one join smaller.)
  */
object Clusters {

  /** Components of the undirected graph given by `pairs`.
    * Returns (node, comp): comp = min node id in the component.
    * Only nodes appearing in at least one pair are returned —
    * singletons are the caller's left-join + coalesce.
    *
    * Throws if `maxRounds` is exhausted before the fixpoint: silent
    * non-convergence would report one duplicate family as several
    * clusters and keep extra "canonical" copies downstream. Raise
    * `maxRounds` for adversarial diameters (a chain of k serially
    * templated docs needs ~k rounds).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // symmetrize with ONE explode pass, not union-with-reversal: the
    // pair list is the output of a whole candidate pipeline (LSH /
    // fuzzy join / phash blocking) and is not persisted by callers, so
    // the union shape evaluated that entire lineage twice just to
    // materialize this frame (same rows either way — row order is
    // irrelevant to the min-label fold)
    val undirected = edges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = undirected.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
      .localCheckpoint()
    // Σcomp as exact decimal: overflow-proof signal at any node count.
    // Empty graph → null sum → ZERO (and the loop below exits on the
    // first round's equal checksum without joining anything).
    def checksum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prev = checksum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = undirected
        .join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("comp"))
        .union(labels)
        .groupBy("node").agg(min("comp").as("comp"))
        .localCheckpoint()
      val cur = checksum(next)
      converged = cur.compareTo(prev) == 0
      prev = cur
      // `next` is materialized (eager checkpoint + the checksum action),
      // so the superseded round's blocks are dead weight — free them now
      // or block-manager memory grows by one labels copy per round and
      // per call in a long-lived session. Dataset.unpersist() can't do
      // it (localCheckpoint bypasses the CacheManager); unpersist the
      // checkpointed RDD behind the LogicalRDD node instead.
      unpersistCheckpoint(labels)
      labels = next
      round += 1
    }
    undirected.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "graph diameter exceeds the round budget; raise maxRounds")
    labels
  }

  /** Free the block-manager storage behind a locally-checkpointed
    * frame. Safe only for frames that will never be read again: a
    * local checkpoint truncates lineage, so its data is gone for good
    * once unpersisted.
    */
  private[ops] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    }

  /** Keep-list form over a full corpus: every document labeled with
    * its cluster id (= min doc id among its near-duplicates, itself
    * when it has none) and a 0/1 keeper flag selecting one canonical
    * doc per cluster. Downstream training-data jobs filter
    * `is_keeper = 1`.
    */
  def dedupClusters(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    docs.select(col(idCol))
      .join(comps, col(idCol) === col("node"), "left")
      .select(
        col(idCol),
        coalesce(col("comp"), col(idCol)).as("cluster_id"))
      .withColumn("is_keeper", (col(idCol) === col("cluster_id")).cast("long"))
  }

  /** Quality-aware keeper selection: like [[dedupClusters]], but the
    * kept copy per cluster is the one that MAXIMIZES an integer
    * quality score (ties → lowest id) instead of blindly the lowest
    * id — real pipelines keep the longest / highest-classifier-score
    * duplicate, not an arbitrary one.
    *
    * `scoreCol` must be integer-valued (cast to long): float scores
    * would make the argmax engine-dependent at ties within a ulp.
    * Scale shape: the argmax is `max(struct(score, -id))` — a plain
    * hash aggregation with map-side partial merge (no window sort),
    * then one broadcast-sized join of (cluster → keeper) back onto
    * the membership frame. Output: (id, cluster_id, score,
    * is_keeper).
    */
  def dedupClustersKeepBest(
      docs: DataFrame,
      idCol: String,
      scoreCol: org.apache.spark.sql.Column,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val members = docs
      .select(col(idCol), scoreCol.cast("long").as("score"))
      .join(comps, col(idCol) === col("node"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster_id"),
        col("score"))
    // lexicographic struct max = argmax by (score, then -id): the
    // negated id turns "max" into "lowest id wins ties"
    val best = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("score").as("s"), (-col(idCol)).as("ni"))).as("b"))
      .select(col("cluster_id"), (-col("b.ni")).as("__keeper"))
    members.join(best, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("score"),
        (col(idCol) === col("__keeper")).cast("long").as("is_keeper"))
  }
}
