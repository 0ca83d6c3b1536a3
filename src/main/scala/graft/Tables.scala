package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader over the harness testdata layout
  * (`TESTDATA.md`): one parquet file per table under the sf dir.
  *
  * All queries go through here so that scan-level concerns (schema
  * pruning, pushdown) stay in one place. At cluster scale the same
  * API would point at a partitioned table root instead of a single
  * file — the call sites don't change.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** `events.parquet` has shipped with two physical encodings of `ts`
    * across testdata generations: TIMESTAMP(NANOS) (surfaced as
    * LongType under `spark.sql.legacy.parquet.nanosAsLong=true`, set
    * by [[GraftSession]]) and TIMESTAMP(MICROS, NTZ) (surfaced as
    * TimestampNTZType). Branch on the observed dtype so the loader
    * works against either generation and always hands callers a
    * session-zoned TimestampType (session TZ is UTC, so the NTZ cast
    * is a pure re-tag, not a wall-clock shift).
    */
  def events(s: SparkSession, d: String): DataFrame = eventsTs(apply(s, d, "events"))

  /** The `ts` normalization of [[events]] over any frame with the events
    * schema, batch or streaming.
    */
  def eventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(s"events.ts: unsupported physical type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
