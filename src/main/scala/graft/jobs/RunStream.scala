package graft.jobs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.EventStreams

/** CLI surface for the streaming module: drives the hourly windowed
  * aggregation over the events table replayed as a file stream (one
  * parquet = one micro-batch), printing the closed windows. Usage:
  * RunStream <sfDir>
  */
object RunStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.forHost()

    val schema = spark.read.parquet(s"$sfDir/{events}.parquet").schema
    val stream = graft.Tables.eventsTs(spark.readStream.schema(schema)
      .parquet(s"$sfDir/{events}.parquet"))
      .where(col("event_id").isNotNull)
    val agg = EventStreams.hourlyCounts(stream, watermarkDelay = "1 minute")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hourly")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("hourly").count()
    val sample = spark.table("hourly").orderBy("hour", "event_type").limit(3)
      .collect().mkString("; ")
    println(s"[stream] closed windows: $n; sample: $sample")
    spark.stop()
  }
}
