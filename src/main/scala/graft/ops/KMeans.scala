package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.{floatDot, floatNorm}

/** Lloyd's k-means codebook training over a float-embedding corpus —
  * the trainer for the coarse quantizer that [[Similarity.ivfTopK]]
  * documents as "drops in by replacing `centroids`".
  *
  * Every step is bit-deterministic under any partitioning and exactly
  * replicable cross-engine, which is what makes a trained codebook
  * oracle-checkable at all:
  *  - **Init**: the `k` lowest-id vectors, cluster ids 0..k-1 in id
  *    order (same deterministic seeding discipline as the IVF
  *    stand-in codebook).
  *  - **Assign**: nearest centroid by cosine, computed as the strict
  *    left-to-right double fold ([[graft.functions.VectorExpressions]]);
  *    ties break to the lowest cluster id via a max(struct) hash
  *    aggregation — no sort, map-side combinable.
  *  - **Update**: per-dimension quantized means, the
  *    [[Embeddings.quantizedCentroids]] discipline — components scaled
  *    by 2^scaleBits, floored to exact longs, summed (order-free),
  *    divided back in fixed order, then rounded once to float so the
  *    next round's cosine fold sees identical inputs on both engines.
  *    A float sum would be partition-order-dependent; this is not.
  *  - **Empty clusters** carry the previous round's centroid forward
  *    with `n = 0` (no respawn heuristic — those are RNG-bound and
  *    unreplicable).
  *
  * Scale shape: the codebook (k rows) is broadcast to the assignment
  * cross join, so each round is one narrow |C|·k cosine pass plus one
  * (cid, pos)-keyed hash agg whose shuffle carries k·dim partials per
  * partition — never vectors, never the corpus. Each round's codebook
  * is eagerly `localCheckpoint`ed (a k-row frame) so round r+1 rescans
  * the corpus once rather than replaying rounds 1..r, and the
  * superseded round's blocks are freed immediately — the
  * [[Clusters.connectedComponents]] lesson.
  */
object KMeans {

  /** Train on `corpus` = (idCol, vecCol) and return the codebook
    * exploded to (cid, pos, centroid, n): cluster id, 0-based
    * dimension, component as double, and member count from the final
    * update round (0 for a carried-forward empty cluster).
    */
  def kmeansCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scaleBits: Int = 10): DataFrame =
    train(corpus, idCol, vecCol, k, iters, scaleBits, assignRowsCos)

  /** [[kmeansCodebook]] under squared-L2 instead of cosine — the
    * metric FAISS trains PQ sub-quantizers with, and the right one
    * for residual corpora: residuals concentrate near zero with
    * meaningful MAGNITUDES, which a direction-only cosine objective
    * throws away (and its 0/0 guard must drop zero vectors — L2
    * handles them natively). Same deterministic seeding, quantized
    * updates, and empty-cluster carry as the cosine trainer.
    */
  def kmeansCodebookL2(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scaleBits: Int = 10): DataFrame =
    train(corpus, idCol, vecCol, k, iters, scaleBits, assignRowsL2)

  private def train(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scaleBits: Int,
      assign: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val scale = (1L << scaleBits).toDouble
    // persisted across the seeds pass and every Lloyd round (the
    // one-scan discipline): without it each round re-runs the input
    // lineage — at a rebuild call site that is a parquet scan +
    // residual projection per round. ContextCleaner frees the blocks
    // once the returned frame is unreferenced; the explicit unpersist
    // below releases them at the last possible use.
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vnorm", floatNorm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // seeds: k lowest ids, cid = 0-based rank in id order (the seed
    // frame is k rows, so the unpartitioned window is bounded by
    // construction — WindowExec's single-partition WARN is silenced in
    // GraftSession with that contract documented)
    var cent = c.orderBy(col("id").asc).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(col("id").asc)).cast("long") - 1L)
      .select(col("cid"), col("v").as("cv"), lit(0L).as("n"))
      .localCheckpoint()

    for (_ <- 1 to iters) {
      // the assignment is a zero-shuffle projection that KEEPS the
      // vector column, so the update aggregates straight off it — no
      // argmax shuffle and no corpus join-back per round (same
      // winners: array_max/min over the exact structs the old
      // hash-agg compared)
      val assigned = assign(c, cent)
      // exact quantized per-dimension mean, rounded once to float
      val upd = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("cid"), col("pos"),
          floor(col("x").cast("double") * scale).cast("long").as("q"))
        .groupBy("cid", "pos")
        .agg(sum(col("q")).as("qsum"), count(lit(1)).as("cnt"))
        .select(col("cid"), col("pos"),
          ((col("qsum").cast("double") / col("cnt").cast("double")) / scale)
            .cast("float").as("x"),
          col("cnt"))
        .groupBy("cid")
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("x")))),
            s => s("x")).as("ucv"),
          max(col("cnt")).as("un"))
      val next = cent.select(col("cid"), col("cv"))
        .join(upd, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("ucv"), col("cv")).as("cv"),
          coalesce(col("un"), lit(0L)).as("n"))
        .localCheckpoint()
      Clusters.unpersistCheckpoint(cent)
      cent = next
    }
    // the final round's cent is checkpointed — c has no reader left
    c.unpersist()

    cent
      .select(col("cid"), col("n"), posexplode(col("cv")).as(Seq("pos", "x")))
      .select(col("cid"), col("pos").cast("long").as("pos"),
        col("x").cast("double").as("centroid"), col("n"))
  }

  /** [[kmeansCodebookL2]] run over MANY independent training sets in
    * one pipeline: `corpus` carries a `grp` column and every phase —
    * seeding, assignment, quantized update, empty-cluster carry —
    * keys on (grp, cid). Groups never interact, so each group's
    * codebook is BIT-IDENTICAL to training it alone (the spec pins
    * this); what batching buys is the Spark-job count: one
    * assignment + one update action per ROUND for all groups,
    * instead of per group per round. Built for
    * [[Similarity.trainedSubCodebookL2]], whose m per-subspace
    * trainers otherwise schedule m× the jobs on frames this small.
    *
    * @return (grp, cid, pos, centroid, n)
    */
  def kmeansCodebookL2Grouped(
      corpus: DataFrame, // (grp, id, v)
      k: Int,
      iters: Int,
      scaleBits: Int = 10): DataFrame = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val scale = (1L << scaleBits).toDouble
    // persisted across seeds + rounds (see [[train]]): the caller's
    // lineage here is the subspace-slice explode of the residual
    // corpus — re-running it per round costs a corpus pass each
    val c = corpus.select(col("grp"), col("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-group seeds: the k lowest ids, cid 0..k-1 in id order
    var cent = c
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("id"))))
      .filter(col("rn") <= k)
      .select(col("grp"), (col("rn") - 1L).cast("long").as("cid"),
        col("v").as("cv"), lit(0L).as("n"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // per-group codebooks collapsed to one array row each; the
      // argmin is a zero-shuffle projection that keeps `v`, so the
      // update aggregates straight off it — no (grp, id) argmin
      // shuffle, no corpus join-back (identical winners: array_min
      // over the exact structs the old hash-agg compared)
      val centsByGrp = cent
        .select(col("grp"), col("cid"), col("cv"),
          floatDot(col("cv"), col("cv")).as("cn2"))
        .groupBy(col("grp"))
        .agg(array_sort(
          collect_list(struct(col("cid"), col("cv"), col("cn2")))).as("cents"))
      val assigned = c.join(broadcast(centsByGrp), Seq("grp"))
        .withColumn("cid", array_min(transform(col("cents"), ct =>
          struct(
            (ct("cn2") - lit(2.0) * floatDot(col("v"), ct("cv"))).as("cmp"),
            ct("cid").as("cid"))))("cid"))
      val upd = assigned
        .select(col("grp"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("grp"), col("cid"), col("pos"),
          floor(col("x").cast("double") * scale).cast("long").as("q"))
        .groupBy("grp", "cid", "pos")
        .agg(sum(col("q")).as("qsum"), count(lit(1)).as("cnt"))
        .select(col("grp"), col("cid"), col("pos"),
          ((col("qsum").cast("double") / col("cnt").cast("double")) / scale)
            .cast("float").as("x"),
          col("cnt"))
        .groupBy("grp", "cid")
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("x")))),
            s => s("x")).as("ucv"),
          max(col("cnt")).as("un"))
      val next = cent.select(col("grp"), col("cid"), col("cv"))
        .join(upd, Seq("grp", "cid"), "left")
        .select(col("grp"), col("cid"),
          coalesce(col("ucv"), col("cv")).as("cv"),
          coalesce(col("un"), lit(0L)).as("n"))
        .localCheckpoint()
      Clusters.unpersistCheckpoint(cent)
      cent = next
    }
    // the final round's cent is checkpointed — c has no reader left
    c.unpersist()
    cent
      .select(col("grp"), col("cid"), col("n"),
        posexplode(col("cv")).as(Seq("pos", "x")))
      .select(col("grp"), col("cid"), col("pos").cast("long").as("pos"),
        col("x").cast("double").as("centroid"), col("n"))
  }

  /** One Lloyd assignment pass: (id, cid) nearest-centroid over a
    * broadcast codebook. The codebook is collapsed to ONE array row
    * and the argmax runs as a pure per-row projection (`array_max`
    * over the exact (cos, −cid, cid) structs the former hash-agg
    * compared — identical winners), so the pass has no ×k explode, no
    * argmax shuffle and no join-back: the corpus never leaves its
    * scan partitions. Public so plan audits can gate the INNER
    * round's physical shape (the trained codebook itself is a
    * checkpointed RDD whose plan no longer shows the training
    * pipeline).
    */
  def assignStep(c: DataFrame, cent: DataFrame): DataFrame =
    assignRowsCos(c, cent).select(col("id"), col("cid"))

  /** Cosine assignment as a projection that KEEPS every input column
    * (plus `cid`), so the training round's update aggregation reads
    * the vector straight off the assignment pass — no corpus
    * join-back. `c` must carry `vnorm` (the train loop's contract).
    */
  private def assignRowsCos(c: DataFrame, cent: DataFrame): DataFrame = {
    val arr = cent
      .select(col("cid"), col("cv"), floatNorm(col("cv")).as("cnorm"))
      .agg(array_sort(
        collect_list(struct(col("cid"), col("cv"), col("cnorm")))).as("cents"))
    c.crossJoin(broadcast(arr))
      .withColumn("cid", array_max(transform(col("cents"), ct =>
        struct(
          (floatDot(col("v"), ct("cv")) / (col("vnorm") * ct("cnorm"))).as("cos"),
          (-ct("cid")).as("ncid"), ct("cid").as("cid"))))("cid"))
      .drop("cents")
  }

  /** Squared-L2 twin of [[assignRowsCos]]. */
  private def assignRowsL2(c: DataFrame, cent: DataFrame): DataFrame = {
    val arr = cent
      .select(col("cid"), col("cv"), floatDot(col("cv"), col("cv")).as("cn2"))
      .agg(array_sort(
        collect_list(struct(col("cid"), col("cv"), col("cn2")))).as("cents"))
    c.crossJoin(broadcast(arr))
      .withColumn("cid", array_min(transform(col("cents"), ct =>
        struct(
          (ct("cn2") - lit(2.0) * floatDot(col("v"), ct("cv"))).as("cmp"),
          ct("cid").as("cid"))))("cid"))
      .drop("cents")
  }
}
