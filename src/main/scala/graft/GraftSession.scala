package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** Convenience session factory: the engine's recommended configuration
  * (UTC, right-sized shuffle partitions, AQE coalescing, nanos-safe
  * parquet reads) with the graft SQL functions registered. Users who
  * manage their own session can instead apply
  * `spark.sql.extensions=graft.functions.GraftExtensions` or call
  * `GraftFunctions.register`.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's typed Aggregators (TopKRows, KmvSketch) carry
      // small bounded buffers (≤ k entries), so the default 128-entry
      // ObjectHashAggregate map→sort spill is far too conservative —
      // a posting-list build with millions of terms would sort-agg
      // every partition. 64k entries of ~100-byte buffers ≈ 6 MB per
      // task: safely inside executor memory at any scale.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")

  def getOrCreate(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftFunctions.register(spark)
    // The engine's only unpartitioned window runs over the
    // distinct-token-count frame (CorpusFilters.lengthPercentileBand),
    // which is bounded by construction — the per-run "serious
    // performance degradation" WARN would imply a scale bug that
    // isn't there, so that one logger is pinned to ERROR. A constant
    // partition key can't express the bound: EliminateWindowPartitions
    // folds it away.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Likewise Clusters.connectedComponents deliberately unpersists
    // superseded local checkpoints (they are never read again); the
    // "lineage has been truncated" WARN per freed round is expected.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The engine's session sized to this host, shared by the
    * measurement mains and the job mains: `master` (default
    * `local[SPARK_GRAFT_CPUS]`) with `SPARK_GRAFT_SHUFFLE` shuffle
    * partitions; both counts default to the JVM's available
    * processors.
    */
  def forHost(master: Option[String] = None): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(cpus)
    val spark = getOrCreate(master.getOrElse(s"local[$cpus]"), shuffle)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
