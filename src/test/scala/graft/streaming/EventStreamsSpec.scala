package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, date_add, date_sub, datediff, lag, to_date}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Top-level so spark.implicits can derive an Encoder. */
final case class SpecDoc(doc_id: Long, ts: Timestamp, text: String)

/** Arriving embedding row for the streaming PQ-encode spec. */
final case class SpecVec(vec_id: Long, v: Array[Float])

class EventStreamsSpec extends AnyFunSuite with graft.GraftSuite with graft.TempDirs {

  import spark.implicits._

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def ev(id: Long, t: String, user: Long, typ: String, v: Double): EventStreams.Event =
    EventStreams.Event(id, ts(t), user, typ, v)

  test("hourly windowed aggregation with watermark emits closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val agg = EventStreams.hourlyCounts(input.toDF(), watermarkDelay = "5 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hourly").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click", 1.5),
        ev(2, "2024-01-01 10:45:00", 2, "click", 2.5),
        ev(3, "2024-01-01 10:50:00", 1, "view", 1.0))
      q.processAllAvailable()
      // advance watermark past 11:05 so the 10:00 window closes
      input.addData(ev(4, "2024-01-01 11:30:00", 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(ev(5, "2024-01-01 12:30:00", 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("2024-01-01 10", "click", 2L, 4.0)))
      assert(rows.contains(("2024-01-01 10", "view", 1L, 1.0)))
      // late event older than watermark is dropped
      input.addData(ev(6, "2024-01-01 10:10:00", 3, "click", 9.9))
      q.processAllAvailable()
      val after = spark.table("hourly").collect().length
      assert(after == rows.size || after == rows.size + 1) // 11:00 window may close; 10:00 never reopens
      assert(!spark.table("hourly").collect()
        .exists(r => r.getString(0) == "2024-01-01 10" && r.getLong(2) == 3L))
    } finally q.stop()
  }

  test("stream-static dim enrichment segments windows, unknown keys kept") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = EventStreams.enrichWithDim(
      input.toDF(), dim, "user_id", "tier", watermarkDelay = "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enriched").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:10:00", 1, "view", 1.0),
        ev(3, "2024-01-01 10:45:00", 2, "click", 1.0),
        ev(4, "2024-01-01 10:50:00", 9, "click", 1.0)) // not in dim
      input.addData(ev(5, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(rows(("2024-01-01 10", "gold")) == 2L)
      assert(rows(("2024-01-01 10", "basic")) == 1L)
      assert(rows(("2024-01-01 10", "unknown")) == 1L)
    } finally q.stop()
  }

  test("streaming KMV distinct-user sketch equals the batch run over the same data") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[EventStreams.Event]
    val agg = EventStreams.hourlyDistinctUsers(input.toDF(), "5 minutes", k = 8)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("kmv_stream").start()
    // 12 distinct users (> k=8, so the estimator path is exercised)
    // split across two micro-batches within the same hour
    val batch1 = (1 to 7).map(i =>
      ev(i.toLong, "2024-01-01 10:0%d:00".format(i), i.toLong, "click", 1.0))
    val batch2 = (8 to 12).map(i =>
      ev(i.toLong, "2024-01-01 10:%d:00".format(10 + i), i.toLong, "click", 1.0))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      input.addData(ev(99, "2024-01-01 12:00:00", 99, "click", 1.0)) // close 10:00
      q.processAllAvailable()
      val streamed = spark.table("kmv_stream").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val batch = (batch1 ++ batch2).toDF()
        .groupBy(date_format(window(col("ts"), "1 hour").getField("start"),
          "yyyy-MM-dd HH").as("hour"))
        .agg(graft.functions.KmvSketch.kmvDistinct(8)(col("user_id"))
          .as("approx_users"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(streamed("2024-01-01 10") == batch("2024-01-01 10"))
    } finally q.stop()
  }

  test("streaming CMS sketch equals the batch run over the same data") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[EventStreams.Event]
    val agg = EventStreams.hourlyUserSketch(input.toDF(), "5 minutes",
      width = 16, depth = 4)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cms_stream").start()
    // repeated users across two micro-batches (counts must SUM across
    // batches, not overwrite — the mergeability claim)
    val batch1 = (1 to 6).map(i =>
      ev(i.toLong, "2024-01-01 10:0%d:00".format(i), (i % 3).toLong, "click", 1.0))
    val batch2 = (7 to 12).map(i =>
      ev(i.toLong, "2024-01-01 10:%d:00".format(i + 10), (i % 5).toLong, "click", 1.0))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      input.addData(ev(99, "2024-01-01 12:00:00", 99, "click", 1.0)) // close 10:00
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val batch = (batch1 ++ batch2).toDF()
        .groupBy(date_format(window(col("ts"), "1 hour").getField("start"),
          "yyyy-MM-dd HH").as("hour"))
        .agg(graft.functions.CmsSketch.cmsSketch(16, 4)(col("user_id")).as("cms"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(streamed("2024-01-01 10") == batch("2024-01-01 10"))
      assert(streamed("2024-01-01 10").sum == 4L * 12) // every event counted once per row
    } finally q.stop()
  }

  test("streaming reservoir quantiles equal the batch run over the same data") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[EventStreams.Event]
    val agg = EventStreams.hourlyValueQuantiles(input.toDF(), "5 minutes", k = 8)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("quant_stream").start()
    // 14 values (> k=8, sample path exercised) across two micro-batches
    val batch1 = (1 to 7).map(i =>
      ev(i.toLong, "2024-01-01 10:0%d:00".format(i), i.toLong, "click", i * 1.5))
    val batch2 = (8 to 14).map(i =>
      ev(i.toLong, "2024-01-01 10:%d:00".format(i + 10), i.toLong, "click", i * 1.5))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      input.addData(ev(99, "2024-01-01 12:00:00", 99, "click", 1.0)) // close 10:00
      q.processAllAvailable()
      val streamed = spark.table("quant_stream").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      val res = graft.functions.ReservoirSketch.reservoir(8)
      val batch = (batch1 ++ batch2).toDF()
        .groupBy(date_format(window(col("ts"), "1 hour").getField("start"),
          "yyyy-MM-dd HH").as("hour"))
        .agg(res(col("event_id"), col("value")).as("vs"))
        .select(col("hour"), size(col("vs")).cast("long").as("m"),
          element_at(col("vs"),
            (floor(lit(0.5) * (size(col("vs")) - 1)) + 1).cast("int")).as("p50"),
          element_at(col("vs"),
            (floor(lit(0.9) * (size(col("vs")) - 1)) + 1).cast("int")).as("p90"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      assert(streamed("2024-01-01 10") == batch("2024-01-01 10"))
      assert(streamed("2024-01-01 10")._1 == 8L) // sample capped at k
    } finally q.stop()
  }

  test("foreachBatch snapshot sink appends each micro-batch to the partitioned layout") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[EventStreams.Event]
    val dir = tempDir("graft-stream-sink")
    val out = dir.resolve("events").toString
    val cp = dir.resolve("cp").toString
    val withPartitions = input.toDF()
      .withColumn("snapshot_date", to_date(col("ts")))
      .withColumn("target_repository", lit("stream/src"))
    val q = EventStreams.writeToSnapshot(withPartitions, out, cp)
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(ev(2, "2024-01-02 11:00:00", 2, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.count() == 2)
      assert(rows.select("snapshot_date").distinct().count() == 2) // two partitions
    } finally q.stop()
  }

  test("snapshot sink crash-replay: same batchId twice appends no duplicates") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-replay-sink")
    val out = dir.resolve("events").toString
    val cp = dir.resolve("cp").toString
    def frame(ids: Long*) = ids.map(i =>
      ev(i, "2024-01-01 10:00:00", i, "click", 1.0)).toDF()
      .withColumn("snapshot_date", to_date(col("ts")))
      .withColumn("target_repository", lit("stream/src"))
    val writer = EventStreams.snapshotBatchWriter(out, cp)
    // batch 0 runs, then is replayed whole (offsets/0 written,
    // commits/0 lost in the crash): the marker gate must skip it
    writer(frame(1L), 0L)
    writer(frame(1L), 0L)
    assert(spark.read.parquet(out).count() == 1)
    // batch 1 appends normally after the replay
    writer(frame(2L, 3L), 1L)
    assert(spark.read.parquet(out).count() == 3)
    writer(frame(2L, 3L), 1L)
    assert(spark.read.parquet(out).count() == 3,
      "replayed batch 1 duplicated rows")
  }

  test("committed smoothed-rate fold: crash-replay converges, result bit-equal to batch") {
    import org.apache.spark.sql.DataFrame
    val root = tempDir("graft-foldstore").toString
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "purchase", 5),
      ev(2, "2024-01-01 11:00:00", 1, "view", 0),
      ev(3, "2024-01-01 12:00:00", 2, "view", 0))
    val b2 = Seq(
      ev(4, "2024-01-02 10:00:00", 2, "purchase", 9),
      ev(5, "2024-01-02 11:00:00", 3, "view", 0),
      ev(6, "2024-01-02 12:00:00", 1, "purchase", 2))
    val succ = col("event_type") === "purchase"
    def asMap(df: DataFrame) = df.collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"),
          r.getAs[Double]("smoothed_rate"))).toMap

    // writerTag on every call: the fold twins run under the store's
    // single-writer claim exactly as a production stream would
    EventStreams.smoothedRatesFoldCommitted(root, b1.toDF(), "user_id", succ,
      0L, writerTag = "etl-run")

    // crash DURING batch 1's fold: the version parquet was (partially)
    // written but the _committed marker was not — readers must ignore
    // it and the replay must overwrite it from v0, not fold on top
    Seq((99L, 99L, 99L)).toDF("user_id", "n", "s")
      .write.parquet(s"$root/v1")
    val preCrash = asMap(EventStreams.smoothedRatesFromPartials(
      EventStreams.smoothedRatesPartials(spark, root), priorWeight = 20))
    assert(!preCrash.contains(99L), "uncommitted version visible to readers")

    EventStreams.smoothedRatesFoldCommitted(root, b2.toDF(), "user_id", succ,
      1L, writerTag = "etl-run")
    // full replay of the now-committed batch: marker-gated no-op
    EventStreams.smoothedRatesFoldCommitted(root, b2.toDF(), "user_id", succ,
      1L, writerTag = "etl-run")
    val streamed = asMap(EventStreams.smoothedRatesFromPartials(
      EventStreams.smoothedRatesPartials(spark, root), priorWeight = 20))
    val batch = asMap(graft.ops.Cohorts.smoothedRates(
      (b1 ++ b2).toDF(), "user_id", succ, priorWeight = 20))
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed(1L)._1 == 3L && streamed(1L)._2 == 2L,
      "replayed fold double-counted batch 2")
    assert(!streamed.contains(99L), "crashed partial version leaked into the fold")
  }

  test("sessionization: delayed event must not move the session end backward") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionize(input.toDS(),
      gapMillis = 30 * 60 * 1000L, watermarkDelay = "30 minutes")
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_mono").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 7, "click", 1.0))
      q.processAllAvailable()
      // delayed but within watermark: 09:55 arrives after 10:00
      input.addData(ev(2, "2024-01-01 09:55:00", 7, "click", 1.0))
      q.processAllAvailable()
      // 10:26 is within 30min of 10:00 (NOT of 09:55): same session
      input.addData(ev(3, "2024-01-01 10:26:00", 7, "click", 1.0))
      q.processAllAvailable()
      input.addData(ev(9, "2024-01-01 23:00:00", 8, "click", 0.1)) // advance watermark
      q.processAllAvailable()
      input.addData(ev(10, "2024-01-02 09:00:00", 8, "click", 0.1))
      q.processAllAvailable()
      val u7 = spark.table("sessions_mono").as[EventStreams.SessionSummary]
        .collect().filter(_.user_id == 7L)
      assert(u7.length == 1) // one session, not split by the delayed event
      assert(u7.head.n_events == 3)
      assert(u7.head.session_start == ts("2024-01-01 09:55:00"))
      assert(u7.head.session_end == ts("2024-01-01 10:26:00"))
    } finally q.stop()
  }

  test("sessionization closes sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionize(input.toDS(),
      gapMillis = 10 * 60 * 1000L, watermarkDelay = "1 minute")
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions").start()
    try {
      // user 1: two bursts separated by > gap → first closes in-batch
      input.addData(
        ev(1, "2024-01-01 09:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 09:05:00", 1, "click", 2.0),
        ev(3, "2024-01-01 09:30:00", 1, "click", 4.0))
      q.processAllAvailable()
      // push the watermark far ahead → open sessions time out
      input.addData(ev(9, "2024-01-01 12:00:00", 2, "click", 0.5))
      q.processAllAvailable()
      input.addData(ev(10, "2024-01-01 13:00:00", 2, "click", 0.5))
      q.processAllAvailable()
      val out = spark.table("sessions").as[EventStreams.SessionSummary].collect()
      val u1 = out.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(u1.length == 2)
      assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
      assert(u1(0).session_end == ts("2024-01-01 09:05:00"))
      assert(u1(1).n_events == 1 && u1(1).total_value == 4.0)
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks within the delay window") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val views = MemoryStream[EventStreams.Event]
    val clicks = MemoryStream[EventStreams.Event]
    val joined = EventStreams.intervalJoin(
      views.toDF().select(
        col("user_id").as("l_user"), col("ts").as("l_ts"), col("event_id").as("view_id")),
      clicks.toDF().select(
        col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("click_id")),
      maxDelay = "10 minutes", watermarkDelay = "1 minute")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attributed").start()
    try {
      views.addData(ev(1, "2024-01-01 10:00:00", 1, "view", 0))
      clicks.addData(
        ev(101, "2024-01-01 10:05:00", 1, "click", 0), // in window
        ev(102, "2024-01-01 10:20:00", 1, "click", 0), // past window
        ev(103, "2024-01-01 10:04:00", 2, "click", 0)) // other user
      q.processAllAvailable()
      // advance both watermarks so results flush
      views.addData(ev(2, "2024-01-01 12:00:00", 9, "view", 0))
      clicks.addData(ev(104, "2024-01-01 12:00:00", 9, "view", 0))
      q.processAllAvailable()
      val pairs = spark.table("attributed").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"))).toSet
      assert(pairs.contains((1L, 101L)))
      assert(!pairs.contains((1L, 102L)) && !pairs.contains((1L, 103L)))
    } finally q.stop()
  }

  test("left-outer interval join emits never-converted rows after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val views = MemoryStream[EventStreams.Event]
    val clicks = MemoryStream[EventStreams.Event]
    val joined = EventStreams.intervalJoinLeftOuter(
      views.toDF().select(
        col("user_id").as("l_user"), col("ts").as("l_ts"), col("event_id").as("view_id")),
      clicks.toDF().select(
        col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("click_id")),
      maxDelay = "10 minutes", watermarkDelay = "1 minute")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attributed_outer").start()
    try {
      views.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 0), // will convert
        ev(2, "2024-01-01 10:00:00", 2, "view", 0)) // never converts
      clicks.addData(ev(101, "2024-01-01 10:05:00", 1, "click", 0))
      q.processAllAvailable()
      // push both watermarks far past 10:10 so the unmatched left
      // row's window provably closed
      views.addData(ev(3, "2024-01-01 12:00:00", 9, "view", 0))
      clicks.addData(ev(104, "2024-01-01 12:00:00", 9, "click", 0))
      q.processAllAvailable()
      views.addData(ev(4, "2024-01-01 14:00:00", 9, "view", 0))
      clicks.addData(ev(105, "2024-01-01 14:00:00", 9, "click", 0))
      q.processAllAvailable()
      val rows = spark.table("attributed_outer").collect()
        .map(r => r.getAs[Long]("view_id") ->
          (if (r.isNullAt(r.fieldIndex("click_id"))) None
           else Some(r.getAs[Long]("click_id"))))
        .toMap
      assert(rows(1L) == Some(101L))
      assert(rows.contains(2L) && rows(2L).isEmpty) // null right side
    } finally q.stop()
  }

  test("streaming funnel equals the batch userSteps twin and bounds state by completion") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("signup", "click", "purchase")
    // user 1: clean completion; user 2: purchase BEFORE click (never
    // qualifies past step 2 until a later click→purchase pair — which
    // doesn't come); user 3: click precedes signup (out of order, step
    // 2 only qualifies from the post-signup click); user 4: completes
    // but outside the 1-hour horizon; user 5: same-ts tie, id order
    // decides strict precedence
    val all = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "signup", 0),
      ev(2, "2024-01-01 10:05:00", 1, "click", 0),
      ev(3, "2024-01-01 10:10:00", 1, "purchase", 0),
      ev(4, "2024-01-01 10:00:00", 2, "signup", 0),
      ev(5, "2024-01-01 10:01:00", 2, "purchase", 0),
      ev(6, "2024-01-01 10:02:00", 2, "click", 0),
      ev(7, "2024-01-01 09:50:00", 3, "click", 0),
      ev(8, "2024-01-01 10:00:00", 3, "signup", 0),
      ev(9, "2024-01-01 10:20:00", 3, "click", 0),
      ev(10, "2024-01-01 10:00:00", 4, "signup", 0),
      ev(11, "2024-01-01 11:30:00", 4, "click", 0), // past 1h horizon
      ev(12, "2024-01-01 10:00:00", 5, "signup", 0),
      ev(13, "2024-01-01 10:00:00", 5, "click", 0)) // same ts, higher id → qualifies
    val (batch1, batch2) = all.partition(_.ts.getTime < ts("2024-01-01 10:10:00").getTime)

    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.funnelSteps(input.toDS(), steps, horizonSeconds = 3600L,
      watermarkDelay = "5 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_steps").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("funnel_steps").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("step"),
          r.getAs[String]("step_name"), r.getAs[Timestamp]("reached_ts").getTime))
        .toSet
      val batch = graft.ops.Funnels.userSteps(
        all.toDF(), "user_id", "ts", "event_id", "event_type", steps,
        horizonSeconds = 3600L)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("step"),
          r.getAs[String]("step_name"), r.getAs[Long]("reached_us") / 1000L))
        .toSet
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      // the scenarios actually bite: user 1 completes, user 2 stops at
      // click, user 5's tie qualifies
      assert(streamed.exists(t => t._1 == 1L && t._2 == 3L))
      assert(!streamed.exists(t => t._1 == 2L && t._2 == 3L))
      assert(!streamed.exists(t => t._1 == 4L && t._2 == 2L))
      assert(streamed.exists(t => t._1 == 5L && t._2 == 2L))
    } finally q.stop()
  }

  test("funnel survives the watermark passing a live user's horizon deadline") {
    implicit val sqlCtx = spark.sqlContext
    // regression: an active never-converting user still has state when
    // the watermark passes first-step + horizon; an unclamped
    // setTimeoutTimestamp(us(0) + horizon) then lands BEHIND the
    // watermark and GroupStateImpl throws, crashing the whole query
    val steps = Seq("signup", "purchase")
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.funnelSteps(input.toDS(), steps,
      horizonSeconds = 60L, watermarkDelay = "1 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_clamp").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1, "signup", 0))
      q.processAllAvailable()
      // watermark moves to 10:29; deadline (10:01) is now behind it
      input.addData(ev(2, "2024-01-01 10:30:00", 1, "click", 0))
      q.processAllAvailable()
      // the user is STILL live past the deadline — this batch used to
      // throw IllegalArgumentException inside flatMapGroupsWithState
      input.addData(ev(3, "2024-01-01 10:40:00", 1, "click", 0))
      q.processAllAvailable()
      // sentinel advances the watermark so the clamped timeout fires
      input.addData(ev(4, "2024-01-01 11:00:00", 99, "signup", 0))
      q.processAllAvailable()
      val got = spark.table("funnel_clamp").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("step"))).toSet
      assert(got == Set((1L, 1L), (99L, 1L)), s"got=$got")
    } finally q.stop()
  }

  test("streaming activity gaps equal the batch lag-read on day-ordered arrivals") {
    implicit val sqlCtx = spark.sqlContext
    // user 1: days 1,2,5,6,9 → gaps (3..4, 2d) and (7..8, 2d);
    // user 2: days 1,4 → gap (2..3, 2d); user 3: one day, no gap.
    // Duplicate events within a day and within-batch disorder must
    // collapse; the day-6 repeat in batch 2 must not re-open a gap.
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 0),
      ev(2, "2024-01-02 09:00:00", 1, "click", 0),
      ev(3, "2024-01-02 11:00:00", 1, "view", 0),
      ev(4, "2024-01-01 10:00:00", 2, "click", 0),
      ev(5, "2024-01-03 08:00:00", 3, "click", 0))
    val b2 = Seq(
      ev(6, "2024-01-06 10:00:00", 1, "click", 0),
      ev(7, "2024-01-05 10:00:00", 1, "click", 0), // within-batch disorder
      ev(8, "2024-01-04 10:00:00", 2, "click", 0))
    val b3 = Seq(
      ev(9, "2024-01-09 10:00:00", 1, "click", 0),
      ev(10, "2024-01-06 23:00:00", 1, "click", 0)) // same-day repeat, late
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.activityGaps(input.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("activity_gaps").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val streamed = spark.table("activity_gaps").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("gap_start"),
          r.getAs[String]("gap_end"), r.getAs[Long]("gap_days"))).toSet
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val batch = (b1 ++ b2 ++ b3).toDF()
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("prev", lag(col("day"), 1).over(w))
        .filter(col("prev").isNotNull && datediff(col("day"), col("prev")) > 1)
        .select(col("user_id"),
          date_add(col("prev"), 1).cast("string").as("gap_start"),
          date_sub(col("day"), 1).cast("string").as("gap_end"),
          (datediff(col("day"), col("prev")) - 1).cast("long").as("gap_days"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      assert(streamed.size == 3)
    } finally q.stop()
  }

  test("incremental smoothed rates equal the batch operator after every fold") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "purchase", 5),
      ev(2, "2024-01-01 11:00:00", 1, "view", 0),
      ev(3, "2024-01-01 12:00:00", 2, "view", 0))
    val b2 = Seq(
      ev(4, "2024-01-02 10:00:00", 2, "purchase", 9),
      ev(5, "2024-01-02 11:00:00", 3, "view", 0),
      ev(6, "2024-01-02 12:00:00", 1, "purchase", 2))
    val succ = col("event_type") === "purchase"
    var stored: DataFrame = Seq.empty[(Long, Long, Long)]
      .toDF("user_id", "n", "s")
    val input = MemoryStream[EventStreams.Event]
    val q = input.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        stored = EventStreams
          .smoothedRatesFold(stored, batch.toDF(), "user_id", succ)
          .localCheckpoint()
      }.start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      def asMap(df: DataFrame) = df.collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("n"), r.getAs[Long]("s"),
            r.getAs[Double]("smoothed_rate"))).toMap
      val streamed = asMap(
        EventStreams.smoothedRatesFromPartials(stored, priorWeight = 20))
      val batch = asMap(graft.ops.Cohorts.smoothedRates(
        (b1 ++ b2).toDF(), "user_id", succ, priorWeight = 20))
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      assert(streamed(1L)._1 == 3L && streamed(1L)._2 == 2L)
    } finally q.stop()
  }

  test("FoldStore generalizes: the AMS F2 fold is exactly-once under crash-replay") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.xxhash64
    val root = tempDir("graft-f2store").toString
    val rows = (1 to 400).map(i => ("k" + (i % 23), i))
    val (b1, b2) = rows.splitAt(170)
    val empty = Seq.empty[(Long, Long)].toDF("k", "f")
    def fold(batch: Seq[(String, Int)])(stored: DataFrame): DataFrame =
      graft.ops.Moments.amsF2Fold(stored, batch.toDF("k", "v"),
        xxhash64(col("k")))

    FoldStore.foldCommit(spark, root, 0L, empty)(fold(b1))
    // crash during batch 1 (version written, marker lost): readers
    // must not see it, the replay must overwrite from v0
    Seq((999L, 999L)).toDF("k", "f").write.parquet(s"$root/v1")
    FoldStore.foldCommit(spark, root, 1L, empty)(fold(b2))
    // full replay of the committed batch: no-op
    FoldStore.foldCommit(spark, root, 1L, empty)(fold(b2))

    val streamed = graft.ops.Moments
      .amsF2FromPartials(FoldStore.read(spark, root, empty))
      .collect().head
    val full = graft.ops.Moments
      .amsF2(rows.toDF("k", "v"), xxhash64(col("k"))).collect().head
    assert(streamed == full,
      "crash-replayed F2 fold diverged bitwise from the batch sketch")
  }

  test("FoldStore enforces the single-writer contract per root") {
    import org.apache.spark.sql.DataFrame
    val root = tempDir("graft-1w").toString
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "n")
    def fold(stored: DataFrame): DataFrame = stored

    // first writer claims the root; its own resumes keep working
    FoldStore.foldCommit(spark, root, 0L, empty, writerTag = "runA")(fold)
    FoldStore.foldCommit(spark, root, 1L, empty, writerTag = "runA")(fold)
    // a SECOND streaming query pointed at the same root must fail
    // loudly instead of racing the reap step
    val e = intercept[IllegalStateException] {
      FoldStore.foldCommit(spark, root, 0L, empty, writerTag = "runB")(fold)
    }
    assert(e.getMessage.contains("runA") && e.getMessage.contains("runB"))
    // ...and must not have disturbed the owner's committed state
    assert(FoldStore.isCommitted(spark, root, 1L))
    FoldStore.foldCommit(spark, root, 2L, empty, writerTag = "runA")(fold)
    assert(FoldStore.isCommitted(spark, root, 2L))
  }

  test("incremental RFM snapshot equals the batch operator after every fold") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.floor
    val b1 = Seq(
      ev(1, "2024-01-03 10:00:00", 1, "purchase", 5.5),
      ev(2, "2024-01-05 11:00:00", 1, "purchase", 2.25),
      ev(3, "2024-01-04 12:00:00", 2, "purchase", 9.0),
      ev(4, "2024-01-02 09:00:00", 3, "purchase", 1.0))
    val b2 = Seq(
      ev(5, "2024-01-10 10:00:00", 2, "purchase", 3.0),
      ev(6, "2024-01-01 08:00:00", 1, "purchase", 7.75), // late arrival
      ev(7, "2024-01-11 12:00:00", 4, "purchase", 4.0))
    val cents = floor(col("value") * 100)
    var stored: DataFrame = Seq.empty[(Long, java.sql.Date, Long, Long)]
      .toDF("user_id", "last_day", "freq", "mon_cents")
    val input = MemoryStream[EventStreams.Event]
    val q = input.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        stored = EventStreams
          .rfmFold(stored, batch.toDF(), "user_id", "ts", cents)
          .localCheckpoint()
      }.start()
    try {
      def asRows(df: DataFrame) = df.collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("rec_days"), r.getAs[Long]("freq"),
            r.getAs[Long]("mon_cents"), r.getAs[String]("segment"))).toMap
      input.addData(b1: _*); q.processAllAvailable()
      val afterB1 = asRows(graft.ops.Cohorts.rfmFromPartials(stored, "2024-02-01"))
      assert(afterB1 == asRows(graft.ops.Cohorts.rfm(
        b1.toDF(), "user_id", "ts", cents, "2024-02-01")),
        "fold diverged from batch after batch 1")
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = asRows(graft.ops.Cohorts.rfmFromPartials(stored, "2024-02-01"))
      val batchAll = asRows(graft.ops.Cohorts.rfm(
        (b1 ++ b2).toDF(), "user_id", "ts", cents, "2024-02-01"))
      assert(streamed == batchAll, s"streamed=$streamed\nbatch=$batchAll")
      // the late arrival must NOT move user 1's recency backward
      assert(streamed(1L)._1 == 27L && streamed(1L)._2 == 3L)
      // one partials store serves a different reporting date exactly
      assert(
        asRows(graft.ops.Cohorts.rfmFromPartials(stored, "2024-03-01")) ==
          asRows(graft.ops.Cohorts.rfm(
            (b1 ++ b2).toDF(), "user_id", "ts", cents, "2024-03-01")))
    } finally q.stop()
  }

  test("incremental rolling median equals the batch operator after every fold") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{count, lit}
    def day(d: Int, id: Long, t: String = "click") =
      ev(id, f"2024-01-$d%02d 10:0${id % 6}:00", id % 3, t, 1.0)
    val b1 = (1 to 12).map(i => day(i, i.toLong))
    val b2 = (1 to 14).map(i => day((i % 7) + 1, 100L + i)) // dense + late rows
    var stored: DataFrame = Seq.empty[(String, java.sql.Date, Long)]
      .toDF("g", "t", "y")
    val input = MemoryStream[EventStreams.Event]
    val q = input.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        stored = EventStreams
          .dailyVolumesFold(stored, batch.toDF(), col("event_type"), "ts")
          .localCheckpoint()
      }.start()
    try {
      def asRows(df: DataFrame) = df.collect()
        .map(r => (r.getAs[String](0), r.get(1).toString) ->
          (r.getAs[Long](2), r.getAs[Long](3))).toMap
      def batchOver(evs: Seq[EventStreams.Event]) =
        graft.ops.Timeseries.rollingMedian(
          evs.toDF().groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("y")),
          col("event_type"), col("day"), col("y"), width = 7)
      input.addData(b1: _*); q.processAllAvailable()
      val close1 = graft.ops.Timeseries.rollingMedian(
        stored, col("g"), col("t"), col("y"), width = 7)
      assert(asRows(close1) == asRows(batchOver(b1)))
      input.addData(b2: _*); q.processAllAvailable()
      val close2 = graft.ops.Timeseries.rollingMedian(
        stored, col("g"), col("t"), col("y"), width = 7)
      assert(asRows(close2) == asRows(batchOver(b1 ++ b2)),
        "late rows must repair the median history at the snapshot read")
    } finally q.stop()
  }

  test("streaming peak concurrency equals the batch sweep-line per burst") {
    implicit val sqlCtx = spark.sqlContext
    // user 1: three overlapping spans (peak 3) then a disjoint one —
    // value encodes the duration; the late-but-in-watermark arrival
    // in batch 2 must interleave among the held sweep points; user 2:
    // two spans touching end-to-start must NOT stack (half-open
    // semantics: close before equal-time open)
    def dur(e: EventStreams.Event): Long = math.floor(e.value).toLong
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "s", 600), // 10:00-10:10
      ev(2, "2024-01-01 10:02:00", 1, "s", 600), // 10:02-10:12
      ev(4, "2024-01-01 10:20:00", 1, "s", 60), // 10:20-10:21
      ev(5, "2024-01-01 10:00:00", 2, "s", 300), // 10:00-10:05
      ev(6, "2024-01-01 10:05:00", 2, "s", 300)) // 10:05-10:10, no stack
    val b2 = Seq(
      ev(3, "2024-01-01 10:04:00", 1, "s", 120)) // 10:04-10:06, third overlap
    val sentinel = Seq(ev(9, "2024-01-01 14:00:00", 99, "s", 60))
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.peakConcurrency(input.toDS(), dur,
      gapSeconds = 3600L, watermarkDelay = "30 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("peak_conc").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // two ticks: the first advances the watermark past the bursts
      // (timeouts fire against the PREVIOUS batch's watermark), the
      // second fires them
      input.addData(sentinel: _*); q.processAllAvailable()
      input.addData(ev(10, "2024-01-01 18:00:00", 99, "s", 60))
      q.processAllAvailable()
      val got = spark.table("peak_conc").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("peak")).toMap
      // batch sweep-line over the same spans
      def batchPeak(evs: Seq[EventStreams.Event]): Long = {
        val pts = evs.flatMap { e =>
          val s0 = e.ts.getTime / 1000L
          Seq((s0, 1L), (s0 + dur(e), -1L))
        }.sortBy { case (t, d) => (t, d) } // -1 before +1 on ties
        var cur = 0L; var mx = 0L
        for ((_, d) <- pts) { cur += d; mx = math.max(mx, cur) }
        mx
      }
      val all = b1 ++ b2
      assert(got(1L) == batchPeak(all.filter(_.user_id == 1)))
      assert(got(2L) == batchPeak(all.filter(_.user_id == 2)))
      assert(got(1L) == 3L && got(2L) == 1L, s"got=$got")
    } finally q.stop()
  }

  test("streaming near-dup suppression equals the batch greedy rule on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "the quick brown fox jumps over the lazy dog near the river bank tonight",
      3L -> "completely different content about spark catalyst optimizer internals here",
      4L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      5L -> "another unrelated report on parquet encodings and column pruning details")
    val docs = texts.zipWithIndex.map { case ((id, t), i) =>
      SpecDoc(id, ts(f"2024-01-01 10:0$i%d:00"), t)
    }
    // batch reference: same simhash, same bucket, same greedy
    // first-arrival-wins rule, in plain Scala
    val hashed = docs.toDF().select($"doc_id",
        graft.ops.TextOps.simHash32($"text").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = hashed.foldLeft(Map.empty[Long, Vector[Long]] -> Set.empty[Long]) {
      case ((buckets, kept), (id, sh)) =>
        val b = sh >> 16
        val seen = buckets.getOrElse(b, Vector.empty)
        if (seen.exists(h => java.lang.Long.bitCount(h ^ sh) <= 3)) (buckets, kept)
        else (buckets.updated(b, seen :+ sh), kept + id)
    }._2
    assert(expected.size < docs.size, "fixture must contain a near-dup collision")

    val input = MemoryStream[SpecDoc]
    val out = EventStreams.dedupNearDocsWithinWatermark(
      input.toDF(), watermarkDelay = "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardup").start()
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*) // cross-batch arrivals hit stored state
      q.processAllAvailable()
      val keptIds = spark.table("neardup").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(keptIds == expected)
    } finally q.stop()
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val deduped = EventStreams.dedupEvents(input.toDF(), watermarkDelay = "5 minutes")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("deduped").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0), // same-batch dup
        ev(2, "2024-01-01 10:01:00", 2, "view", 2.0))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 10:02:00", 1, "click", 1.0)) // re-delivery
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming PQ encode matches the batch encoder, batch by batch") {
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val vecs = (0L until 20L).map { i =>
      SpecVec(i, Array.tabulate(8)(d =>
        (if (d == (i % 4)) 1.0f else 0.0f) + 0.01f * ((i * 7 + d) % 5)))
    }
    val batchCorpus = vecs.toDF("vec_id", "v")
      .select($"vec_id".as("nid"), $"v".as("nv"))
    val (sub, batchCodes) = Similarity.pqCodes(batchCorpus, dim = 8, m = 2, ksub = 4)
    val expected = batchCodes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    // freeze the index codebook driver-side, encode the arriving
    // stream statelessly against it
    val cb = Similarity.collectSubCodebook(sub)
    val input = MemoryStream[SpecVec]
    val encoded = input.toDF()
      .select($"vec_id",
        Similarity.pqEncodeColumn($"v", cb, dim = 8, m = 2).as("codes"))
    val q = encoded.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("pq_stream").start()
    try {
      input.addData(vecs.take(7): _*)
      q.processAllAvailable()
      input.addData(vecs.drop(7): _*)
      q.processAllAvailable()
      val got = spark.table("pq_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      assert(got == expected)
    } finally q.stop()
  }

  test("denseHourly == batch gapFillHourly on a drained single burst") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val dense = EventStreams.denseHourly(
      input.toDS(), watermarkDelay = "5 minutes",
      flushDelayMs = 30 * 60 * 1000L)
    val q = dense.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dense").start()
    try {
      // user 1: hours 00 (two events) and 03 -> gap hours 01, 02
      // user 2: single event
      val burst = Seq(
        ev(1, "2024-01-01 00:10:00", 1, "c", 5.0),
        ev(2, "2024-01-01 00:40:00", 1, "c", 2.0),
        ev(3, "2024-01-01 03:15:00", 1, "c", 1.5),
        ev(4, "2024-01-01 02:00:00", 2, "c", 7.0))
      input.addData(burst: _*)
      q.processAllAvailable()
      // watermark rider: push event time far enough that every burst
      // hour finalizes and the flush timeout fires for both users
      input.addData(ev(9, "2024-01-01 09:00:00", 99, "c", 0.0))
      q.processAllAvailable()
      input.addData(ev(10, "2024-01-01 12:00:00", 99, "c", 0.0))
      q.processAllAvailable()
      val got = spark.table("dense").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .filter(_._1 != 99L).toSet
      val batch = graft.ops.Timeseries.gapFillHourly(
        burst.toDF(), "user_id", "ts", "value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == batch)
      // the gap hours are really there, zero-filled and carried
      assert(got.contains((1L, ts("2024-01-01 01:00:00"), 0L, 5.0)))
      assert(got.contains((1L, ts("2024-01-01 02:00:00"), 0L, 5.0)))
      assert(got.contains((1L, ts("2024-01-01 03:00:00"), 1L, 1.5)))
    } finally q.stop()
  }

  test("denseHourly folds late-but-in-watermark events; drops post-final") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val dense = EventStreams.denseHourly(
      input.toDS(), watermarkDelay = "30 minutes",
      flushDelayMs = 30 * 60 * 1000L)
    val q = dense.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dense_late").start()
    try {
      input.addData(ev(1, "2024-01-01 00:10:00", 1, "c", 1.0))
      q.processAllAvailable()
      // within watermark (wm = 00:10-30m < 0): folds into hour 00
      input.addData(ev(2, "2024-01-01 00:20:00", 1, "c", 3.0))
      q.processAllAvailable()
      // advance wm past 01:30 -> hour 00 finalizes with BOTH events
      input.addData(ev(3, "2024-01-01 02:10:00", 99, "c", 0.0))
      q.processAllAvailable()
      val afterFinal = spark.table("dense_late").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .filter(_._1 == 1L).toSet
      assert(afterFinal == Set((1L, ts("2024-01-01 00:00:00"), 2L, 3.0)))
      // an event for the already-emitted hour is beyond the watermark
      // anyway — it must not resurface or double-count
      input.addData(ev(4, "2024-01-01 00:50:00", 1, "c", 9.0))
      q.processAllAvailable()
      input.addData(ev(5, "2024-01-01 06:00:00", 99, "c", 0.0))
      q.processAllAvailable()
      val end = spark.table("dense_late").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
        .filter(_._1 == 1L)
      assert(end.count(_._2 == ts("2024-01-01 00:00:00")) == 1)
    } finally q.stop()
  }

  test("streaming OHLC bar == batch resampleOhlc on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val bars = EventStreams.hourlyOhlc(input.toDF(), watermarkDelay = "5 minutes")
    val q = bars.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ohlc_bars").start()
    try {
      val hourRows = Seq(
        ev(1, "2024-01-01 10:05:00", 1, "click", 10.00),
        ev(2, "2024-01-01 10:20:00", 2, "click", 12.50),
        ev(3, "2024-01-01 10:20:00", 3, "click", 9.75)) // ts tie
      input.addData(hourRows: _*)
      q.processAllAvailable()
      input.addData(ev(9, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable() // watermark passes 11:00 -> bar closes
      val got = spark.table("ohlc_bars").collect()
        .filter(_.getTimestamp(0) == ts("2024-01-01 10:00:00"))
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7)))
        .toSet
      val want = graft.ops.Timeseries
        .resampleOhlc(hourRows.toDF(), "event_type", "ts", "event_id", "value")
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7)))
        .toSet
      assert(got == want)
      assert(got == Set(("click", 3L, 10.00, 12.50, 9.75, 9.75, 3225L)))
    } finally q.stop()
  }

  test("streaming deltas carry last value across micro-batches == batch lagDeltas") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val deltas = EventStreams.streamingDeltas(input.toDS())
    val q = deltas.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lag_deltas").start()
    try {
      val batch1 = Seq(
        ev(1, "2024-01-01 10:00:00", 1, "click", 10.00),
        ev(2, "2024-01-01 10:10:00", 1, "click", 12.50),
        ev(3, "2024-01-01 10:05:00", 2, "click", 5.00))
      val batch2 = Seq(
        ev(4, "2024-01-01 10:20:00", 1, "click", 9.75), // continues u1
        ev(5, "2024-01-01 10:30:00", 2, "click", 7.25), // continues u2
        ev(7, "2024-01-01 10:40:00", 1, "click", 11.00))
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("lag_deltas").collect()
        .map(r => r.getLong(1) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val want = graft.ops.Timeseries
        .lagDeltas((batch1 ++ batch2).toDF(), "user_id", "ts", "event_id", "value")
        .collect()
        .map(r => r.getLong(1) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      assert(got == want)
      assert(got(4L) == Some(-275L)) // cross-batch delta, not a restart
      assert(got(7L) == Some(125L))
      // an arrival INSIDE the watermark (10:30 after batch2) but
      // behind the carried frontier (10:40) surfaces with null delta
      input.addData(ev(6, "2024-01-01 10:35:00", 1, "click", 100.0))
      q.processAllAvailable()
      val late = spark.table("lag_deltas").collect()
        .filter(_.getLong(1) == 6L)
      assert(late.length == 1 && late.head.isNullAt(3))
    } finally q.stop()
  }

  test("streaming decayed scores == batch decayedEngagement at each user's asof") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val scores = EventStreams.decayedScores(input.toDS())
    val q = scores.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decay_scores").start()
    try {
      val batch1 = Seq(
        ev(1, "2024-01-10 08:00:00", 1, "click", 1.0),
        ev(2, "2024-01-10 09:00:00", 1, "click", 1.0), // same day: +2^40
        ev(3, "2024-01-12 10:00:00", 2, "click", 1.0))
      val batch2 = Seq(
        ev(4, "2024-01-15 07:00:00", 1, "click", 1.0), // 5 days later
        ev(5, "2024-01-15 23:00:00", 2, "click", 1.0)) // 3 days later
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      // last emitted w_sum per user (both users' last event on 01-15)
      val got = spark.table("decay_scores").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .groupBy(_._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._3 }
      val want = graft.ops.Sequences
        .decayedEngagement(
          (batch1 ++ batch2).toDF(), "user_id", "ts", "2024-01-15")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == want)
      // by hand: u1 = (2*2^40)>>5 + 2^40; u2 = 2^40>>3 + 2^40
      assert(got(1L) == (2L * (1L << 40) >> 5) + (1L << 40))
      assert(got(2L) == ((1L << 40) >> 3) + (1L << 40))
    } finally q.stop()
  }

  test("streaming PSI drift scores closed windows against the reference histogram") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Map(0 -> 120L, 1 -> 60L, 2 -> 20L) // bins 3..9 empty in ref
    val ta = 200L
    val input = MemoryStream[EventStreams.Event]
    val out = EventStreams.psiDrift(input.toDF(), ref, "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("psi_stream").start()
    try {
      // hour 10: bins 0×3, 1×2, 2×1, 5×1 (bin 5 missing from ref)
      input.addData(
        ev(1, "2024-01-01 10:01:00", 1, "click", 10.0),
        ev(2, "2024-01-01 10:02:00", 1, "click", 20.0),
        ev(3, "2024-01-01 10:03:00", 1, "click", 30.0),
        ev(4, "2024-01-01 10:10:00", 2, "click", 60.0),
        ev(5, "2024-01-01 10:20:00", 2, "click", 70.0),
        ev(6, "2024-01-01 10:30:00", 3, "click", 120.0),
        ev(7, "2024-01-01 10:40:00", 3, "click", 260.0))
      q.processAllAvailable()
      input.addData(ev(8, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("psi_stream").collect()
        .filter(_.getString(0) == "2024-01-01 10:00:00")
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      assert(got.size == 10)
      val tb = 7L
      // Spark's ln codegens to StrictMath.log — mirror it exactly
      def psi(a: Long, b: Long): Option[Double] =
        if (a == 0 || b == 0) None
        else Some((a.toDouble / ta - b.toDouble / tb) *
          java.lang.StrictMath.log((a.toDouble * tb) / (b.toDouble * ta)))
      val bcnt = Map(0L -> 3L, 1L -> 2L, 2L -> 1L, 5L -> 1L)
      for (bin <- 0L to 9L) {
        val a = ref.getOrElse(bin.toInt, 0L)
        val b = bcnt.getOrElse(bin, 0L)
        assert(got(bin) == ((a, b, psi(a, b))),
          s"bin $bin: ${got(bin)} != ${(a, b, psi(a, b))}")
      }
    } finally q.stop()
  }

  test("streaming accuracy monitor == batch band-classifier agreement per window") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[EventStreams.Event]
    val out = EventStreams.accuracyMonitor(input.toDF(), "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("acc_stream").start()
    try {
      // event_id drives the noise: id%7-3 in {-3..3} → ±45 shift
      val rows = Seq(
        ev(1, "2024-01-01 10:01:00", 1, "click", 10.0),   // noise -30
        ev(2, "2024-01-01 10:02:00", 1, "click", 100.0),  // noise -15
        ev(3, "2024-01-01 10:03:00", 1, "click", 120.0),  // noise 0
        ev(4, "2024-01-01 10:10:00", 2, "click", 130.0),  // noise +15
        ev(5, "2024-01-01 10:20:00", 2, "click", 240.0),  // noise +30
        ev(6, "2024-01-01 10:30:00", 3, "click", 250.0),  // noise +45
        ev(7, "2024-01-01 10:40:00", 3, "click", 310.0))  // noise -45
      input.addData(rows: _*); q.processAllAvailable()
      input.addData(ev(9, "2024-01-01 12:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("acc_stream").collect()
        .filter(_.getString(0) == "2024-01-01 10:00:00")
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.length == 1)
      // batch twin over the same rows, same shared band expressions
      val want = rows.toDF()
        .agg(count(lit(1)).as("n"),
          sum(when(
            expr(graft.queries.EvalQueries.band(
              s"value + ${graft.queries.EvalQueries.PredNoise}")) ===
              expr(graft.queries.EvalQueries.band("value")), 1L)
            .otherwise(0L)).as("n_agree"))
        .select(col("n"), col("n_agree"),
          expr("CAST(n_agree AS DOUBLE)/n").as("accuracy"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.head == want.head)
      // and the agreement itself is nontrivial (some bands flipped)
      assert(got.head._2 > 0 && got.head._2 < got.head._1)
    } finally q.stop()
  }

  test("streaming daily bursts == batch trailing-7-day window on finalized days") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val input = MemoryStream[EventStreams.Event]
    val out = EventStreams.dailyBursts(input.toDS(), watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("bursts").start()
    var id = 0L
    def day(d: Int, typ: String, n: Int): Seq[EventStreams.Event] =
      (1 to n).map { i =>
        id += 1
        ev(id, f"2024-01-$d%02d 00:0${i % 6}:0${i % 10}", i.toLong, typ, 1.0)
      }
    // click: 12 observed days — 2/day baseline, a 40-event burst on
    // day 10; view: only 3 observed days (never reaches a full
    // 7-day baseline, so z stays null)
    val batch1 = (1 to 6).flatMap(d => day(d, "click", 2)).dropRight(1) ++
      (1 to 3).flatMap(d => day(d, "view", 1))
    // day 6's second event arrives a batch late but inside the
    // watermark — it must still count toward day 6's finalized total
    val batch2 = Seq(ev(9999, "2024-01-06 00:01:00", 7, "click", 1.0)) ++
      (7 to 9).flatMap(d => day(d, "click", 2)) ++
      day(10, "click", 40) ++ (11 to 12).flatMap(d => day(d, "click", 2))
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      // sentinel far in the future: watermark passes every real day
      input.addData(ev(100000, "2024-02-01 00:00:00", 1, "wm", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("bursts").collect()
        .filter(_.getString(0) != "wm")
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4)))
        .toSet
      // batch twin: the q_burst window arithmetic over the same rows
      val w = Window.partitionBy("event_type").orderBy("dn")
        .rowsBetween(-7, -1)
      val zExpr =
        """CASE WHEN sumw IS NULL OR sumw = 0 THEN NULL
           ELSE CAST(d7 AS DOUBLE)/(7.0*sqrt(CAST(sumw AS DOUBLE)/7.0))
           END"""
      val batch = (batch1 ++ batch2).toDF()
        .select(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("dn"))
        .groupBy("event_type", "dn").agg(count(lit(1)).as("cnt"))
        .withColumn("cw", count(lit(1)).over(w))
        .withColumn("sumw", when(col("cw") === 7, sum(col("cnt")).over(w)))
        .withColumn("d7", lit(7L) * col("cnt") - col("sumw"))
        .select(col("event_type"), col("dn").cast("long"), col("cnt"),
          expr(zExpr), expr(s"CASE WHEN ($zExpr) > 3.0 THEN 1 ELSE 0 END")
            .cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4)))
        .toSet
      assert(streamed == batch)
      // the late-arriving day-6 event was folded in before finalize
      assert(streamed.exists(t => t._1 == "click" &&
        t._2 == 19728L && t._3 == 2L)) // 2024-01-06 = epoch day 19728
      // the burst day fired; the view type never got a z
      assert(streamed.exists(t => t._1 == "click" && t._3 == 40L && t._5 == 1L))
      assert(streamed.filter(_._1 == "view").forall(t => t._4.isEmpty && t._5 == 0L))
    } finally q.stop()
  }

  test("streaming Holt forecasts are bit-equal to the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val out = EventStreams.holtForecasts(input.toDS(),
      watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("holt").start()
    var id = 0L
    def day(d: Int, typ: String, n: Int): Seq[EventStreams.Event] =
      (1 to n).map { i =>
        id += 1
        ev(id, f"2024-01-$d%02d 00:0${i % 6}:0${i % 10}", i.toLong, typ, 1.0)
      }
    val batch1 = (1 to 4).flatMap(d => day(d, "click", 1 + d)).dropRight(1) ++
      (2 to 3).flatMap(d => day(d, "view", 5 - d))
    // day 4's last click arrives a batch late but inside the
    // watermark: it must count toward day 4 before that day closes
    val batch2 = Seq(ev(9999, "2024-01-04 00:01:00", 7, "click", 1.0)) ++
      (5 to 8).flatMap(d => day(d, "click", 12 - d)) ++
      Seq(ev(10000, "2024-01-06 03:00:00", 2, "view", 1.0))
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(ev(100000, "2024-02-01 00:00:00", 1, "wm", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("holt").collect()
        .filter(_.getString(0) != "wm")
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      // sequential model: exactly the batch holtLinear recurrence
      val byDay = (batch1 ++ batch2)
        .groupBy(e => (e.event_type, math.floorDiv(e.ts.getTime, 86400000L)))
        .view.mapValues(_.size.toLong).toMap
      val want = byDay.keys.map(_._1).toSet.flatMap { (typ: String) =>
        val days = byDay.keys.filter(_._1 == typ).map(_._2).toSeq.sorted
        var (l, b) = (0.0, 0.0)
        days.zipWithIndex.map { case (d, i) =>
          val y = byDay((typ, d)).toDouble
          if (i == 0) { l = y; b = 0.0 }
          else { val l2 = (y + l + b) / 2; b = (l2 - l + b) / 2; l = l2 }
          (typ, d) -> (byDay((typ, d)), l, b, l + 7 * b)
        }
      }.toMap
      assert(streamed == want)
      // cross-check the final state against the BATCH OPERATOR itself
      val batchOp = graft.ops.Timeseries.holtLinear(
        (batch1 ++ batch2).toDF()
          .groupBy(org.apache.spark.sql.functions.col("event_type"),
            org.apache.spark.sql.functions.expr(
              "CAST(floor(unix_millis(ts) / 86400000) AS BIGINT)").as("d"),
          ).agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("y")),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("d"),
        org.apache.spark.sql.functions.col("y"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      for ((typ, (lv, tr, fc)) <- batchOp) {
        val lastDay = byDay.keys.filter(_._1 == typ).map(_._2).max
        val (_, sl, sb, sf) = streamed((typ, lastDay))
        assert((sl, sb, sf) == ((lv, tr, fc)), s"type $typ")
      }
    } finally q.stop()
  }

  test("streaming Holt-Winters is bit-equal to the batch seasonal fold") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val out = EventStreams.hwForecasts(input.toDS(),
      watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hw").start()
    var id = 0L
    def day(d: Int, typ: String, n: Int): Seq[EventStreams.Event] =
      (1 to n).map { i =>
        id += 1
        ev(id, f"2024-01-$d%02d 00:0${i % 6}:0${i % 10}", i.toLong, typ, 1.0)
      }
    // 16 days of a weekly-ish click pattern (+ a late arrival inside
    // the watermark) and a short view series
    val batch1 = (1 to 9).flatMap(d => day(d, "click", 3 + (d % 7))).dropRight(1) ++
      (2 to 4).flatMap(d => day(d, "view", 6 - d))
    val batch2 = Seq(ev(9999, "2024-01-09 00:01:00", 7, "click", 1.0)) ++
      (10 to 16).flatMap(d => day(d, "click", 3 + (d % 7)))
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(ev(100000, "2024-02-01 00:00:00", 1, "wm", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("hw").collect()
        .filter(_.getString(0) != "wm")
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6))))
        .toMap
      // per-day sequential model: the batch holtWinters recurrence
      val byDay = (batch1 ++ batch2)
        .groupBy(e => (e.event_type, math.floorDiv(e.ts.getTime, 86400000L)))
        .view.mapValues(_.size.toLong).toMap
      val want = byDay.keys.map(_._1).toSet.flatMap { (typ: String) =>
        val days = byDay.keys.filter(_._1 == typ).map(_._2).toSeq.sorted
        val s = Array.fill(7)(0.0)
        var (l, b) = (0.0, 0.0)
        days.zipWithIndex.map { case (d, i) =>
          val y = byDay((typ, d)).toDouble
          if (i == 0) { l = y; b = 0.0 }
          else {
            val slot = (i % 7)
            val l2 = ((y - s(slot)) + l + b) / 2
            b = (l2 - l + b) / 2
            s(slot) = ((y - l2) + s(slot)) / 2
            l = l2
          }
          val sNext = s((i + 1) % 7)
          (typ, d) -> ((byDay((typ, d)), l, b, sNext, l + b + sNext))
        }
      }.toMap
      assert(streamed == want)
      // the late click landed in day 9 before it closed
      assert(streamed((("click", 19731L)))._1 ==
        byDay(("click", 19731L))) // 2024-01-09 = epoch day 19731
      // cross-check the final state against the BATCH OPERATOR itself
      val F = org.apache.spark.sql.functions
      val batchOp = graft.ops.Timeseries.holtWinters(
        (batch1 ++ batch2).toDF()
          .groupBy(F.col("event_type"),
            F.expr("CAST(floor(unix_millis(ts) / 86400000) AS BIGINT)")
              .as("d"))
          .agg(F.count(F.lit(1)).as("y")),
        F.col("event_type"), F.col("d"), F.col("y"), period = 7)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
      for ((typ, (lv, tr, sn, fc)) <- batchOp) {
        val lastDay = byDay.keys.filter(_._1 == typ).map(_._2).max
        val (_, sl, sb, ss, sf) = streamed((typ, lastDay))
        assert((sl, sb, ss, sf) == ((lv, tr, sn, fc)), s"type $typ")
      }
    } finally q.stop()
  }
  test("interval merge stream: variable spans coalesce, close on gap and timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    // span length = value seconds (the test keeps it explicit)
    val islands = EventStreams.mergeIntervalsStream(input.toDS(),
      durSeconds = e => e.value.toLong, watermarkDelay = "1 minute")
    val q = islands.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("islands").start()
    try {
      // u1: [00:00, +600s) swallows [05:00, +10s); [11:00,...) is past
      // the 600s end (10:10) -> closes island 1 in-batch
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 600.0),
        ev(2, "2024-01-01 10:05:00", 1, "click", 10.0),
        ev(3, "2024-01-01 10:11:00", 1, "click", 30.0))
      q.processAllAvailable()
      // watermark jump via another user -> island 2 times out
      input.addData(ev(9, "2024-01-01 12:00:00", 2, "click", 5.0))
      q.processAllAvailable()
      input.addData(ev(10, "2024-01-01 14:00:00", 3, "click", 5.0))
      q.processAllAvailable()
      val u1 = spark.table("islands").as[EventStreams.IslandSummary]
        .collect().filter(_.user_id == 1L).sortBy(_.start_s)
      assert(u1.length == 2)
      val base = ts("2024-01-01 10:00:00").getTime / 1000L
      assert(u1(0) == EventStreams.IslandSummary(1L, base, base + 600L, 2L))
      assert(u1(1) == EventStreams.IslandSummary(
        1L, base + 660L, base + 690L, 1L))
    } finally q.stop()
  }

  test("interval merge stream matches the batch operator on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random spans for 3 users, fed in ts order
    val evs = (0 until 48).map { i =>
      val user = 1L + (i % 3)
      val minute = (i * 7) % 115
      val dur = 60.0 + (i * 37 % 240)
      ev(100L + i,
        f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00",
        user, "click", dur)
    }.sortBy(_.ts.getTime)
    val input = MemoryStream[EventStreams.Event]
    val islands = EventStreams.mergeIntervalsStream(input.toDS(),
      durSeconds = e => e.value.toLong, watermarkDelay = "2 minutes")
    val q = islands.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("islands_eq").start()
    try {
      val (a, b) = evs.splitAt(20)
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      // close everything: far-future sentinels for an unused user
      // (two batches — timeouts fire against the PREVIOUS batch's
      // watermark, so the second sentinel reaps the last islands)
      input.addData(ev(999, "2024-01-02 10:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      input.addData(ev(1000, "2024-01-02 12:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("islands_eq")
        .as[EventStreams.IslandSummary].collect()
        .filter(_.user_id <= 3L)
        .map(s => (s.user_id, s.start_s, s.end_s, s.n_merged)).sorted
      val batchIn = evs.toDF()
      val sec = col("ts").cast("timestamp").cast("long")
      val batch = graft.ops.Intervals.mergeIntervals(batchIn,
        col("user_id"), sec, sec + col("value").cast("long"),
        col("event_id"))
        .collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("start"),
          r.getAs[Long]("end"), r.getAs[Long]("n_merged"))).sorted
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("self-maintaining streaming ANN index: ingest + auto-compact + drift rebuild, batch-equal") {
    // The full index lifecycle running UNATTENDED inside one
    // foreachBatch body: exactly-once ingest with the r10 compaction
    // trigger policy (no operator-run maintenance window), plus the
    // drift check after every batch — stable cohorts never rebuild,
    // the drifted cohort does, and the post-stream probe through an
    // IndexHandle equals the fused full-corpus build+probe exactly.
    import graft.ops.{AnnIndexStore, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val baseRows = (0L until 24L).map(i => (i, mk(i, (i % 4).toInt)))
    // four same-distribution micro-batches, then the drifted cohort
    // (concentrated on a direction the base never uses)
    val stable = (30L until 38L).map(i => (i, mk(i, (i % 4).toInt)))
    val drifted = (40L until 52L).map(i =>
      (i, Array.tabulate(8)(d => if (d >= 6) 5.0f else 0.01f)))
    val batches: Seq[Seq[(Long, Array[Float])]] =
      stable.grouped(2).toSeq :+ drifted
    val dir = tempDir("annstreamlife")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      nCentroids = 4), path)
    val handle = AnnIndexStore.openHandle(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def nCodeFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$path/codes")).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    var corpusRows = baseRows
    var rebuilds = 0
    val fileCounts = scala.collection.mutable.ListBuffer.empty[Int]
    val input = MemoryStream[SpecVec]
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SpecVec],
          bid: Long) =>
        val arr = batch.collect().map(v => (v.vec_id, v.v)).toSeq
        AnnIndexStore.ingestVectorsBatch(spark, path, cp, bid,
          arr.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
          autoCompactMaxFiles = 2, autoCompactTargetBytes = 1L << 40)
        fileCounts += nCodeFiles
        corpusRows = corpusRows ++ arr
        if (AnnIndexStore.rebuildIfDrifted(spark, path,
          corpusRows.toDF("nid", "nv"), $"nid" >= 40L, dim = 8,
          minCos = 0.9, m = 2, ksub = 4, nCentroids = 4)) rebuilds += 1
      }.start()
    try {
      for (b <- batches) {
        input.addData(b.map { case (i, v) => SpecVec(i, v) }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the stable batches never rebuilt; the drifted one did, once
    assert(rebuilds == 1, s"expected exactly one drift rebuild, got $rebuilds")
    // the trigger policy kept fragmentation bounded the whole run
    assert(fileCounts.max <= 3,
      s"auto-compaction let the codes table fragment: $fileCounts")
    // the handle serves the post-rebuild artifact: every corpus row
    // encoded, and probe ranks EQUAL the fused full-corpus build+probe
    val idx = handle.current()
    assert(idx.codes.count() == corpusRows.size.toLong)
    val probeQ = Seq((998L, drifted.head._2), (999L, mk(5, 1)))
      .toDF("qid", "qv")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamedRanks = rows(Similarity.ivfPqResidualProbe(probeQ, idx,
      k = 3, dim = 8, m = 2, ksub = 4, nProbe = 4))
    val fusedRanks = rows(Similarity.ivfPqResidualTopK(probeQ,
      corpusRows.toDF("nid", "nv"), k = 3, dim = 8, m = 2, ksub = 4,
      nCentroids = 4, nProbe = 4))
    assert(streamedRanks == fusedRanks,
      "post-rebuild streamed index diverged from the fused full-corpus path")
  }

  test("async drift rebuild: ingest keeps committing, probes serve the old artifact until the swap") {
    // The 100 TB shape of drift maintenance: detection stays inline in
    // the foreachBatch body, the RETRAIN runs on a maintenance thread.
    // While a deliberately-held retrain is in flight the stream must
    // keep committing batches and an IndexHandle must keep serving the
    // OLD artifact; at the atomic swap the published artifact must
    // contain every batch committed during the rebuild window (the
    // maintainer's pending-buffer drain), bit-equal to the synchronous
    // reference (build on the snapshot, frozen-codebook-encode the
    // window's arrivals).
    import graft.ops.{AnnIndexStore, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val mk = (i: Long, c: Int) => Array.tabulate(8)(d =>
      (if (d % 4 == c) 1.0f else 0.0f) + 0.01f * ((i * 11 + d) % 7))
    val baseRows = (0L until 24L).map(i => (i, mk(i, (i % 4).toInt)))
    val drifted = (40L until 52L).map(i =>
      (i, Array.tabulate(8)(d => if (d >= 6) 5.0f else 0.01f)))
    val late1 = (60L until 64L).map(i => (i, mk(i, (i % 4).toInt)))
    val late2 = (70L until 74L).map(i => (i, mk(i, (i % 4).toInt)))
    val dir = tempDir("annstreamasync")
    val path = dir.resolve("ix").toString
    val cp = dir.resolve("cp").toString
    AnnIndexStore.save(Similarity.buildIvfPqResidualIndex(
      baseRows.toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      nCentroids = 4), path)
    val handle = AnnIndexStore.openHandle(spark, path)
    // swap detector: the publish atomically replaces the codebook
    // TABLES (fresh part-file names), while appends touch only codes/.
    // Centroid VALUES can legitimately survive a retrain (coarseAssign
    // seeds from the lowest nids), so file identity is the signal.
    def codebookFiles(): Set[String] = {
      val d = new java.io.File(s"$path/sub_codebook")
      Option(d.listFiles).getOrElse(Array.empty)
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val codebookBefore = codebookFiles()

    val buildStarted = new java.util.concurrent.CountDownLatch(1)
    val buildGate = new java.util.concurrent.CountDownLatch(1)
    val maintainer = new AnnIndexStore.DriftMaintainer(spark, path,
      dim = 8, m = 2, ksub = 4, nCentroids = 4,
      buildFn = Some { c =>
        buildStarted.countDown()
        // deliberately-slow retrain: held until the test has proven
        // ingest continues and probes still serve the old artifact
        assert(buildGate.await(120, java.util.concurrent.TimeUnit.SECONDS),
          "test gate never released")
        Similarity.buildIvfPqResidualIndex(c, 8, 2, 4, 4)
      })

    var corpusRows = baseRows
    val committedInFlight = scala.collection.mutable.ListBuffer.empty[Long]
    val input = MemoryStream[SpecVec]
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SpecVec],
          bid: Long) =>
        val arr = batch.collect().map(v => (v.vec_id, v.v)).toSeq
        maintainer.ingestBatch(cp, bid, arr.toDF("nid", "nv"))
        if (maintainer.rebuildInFlight) committedInFlight += bid
        corpusRows = corpusRows ++ arr
        if (!maintainer.rebuildInFlight)
          maintainer.maybeRebuildAsync(corpusRows.toDF("nid", "nv"),
            $"nid" >= 40L, minCos = 0.9)
        ()
      }.start()
    try {
      input.addData(drifted.map { case (i, v) => SpecVec(i, v) }: _*)
      q.processAllAvailable()
      assert(buildStarted.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "drift never triggered the async rebuild")
      assert(maintainer.rebuildInFlight)
      // the stream keeps committing while the retrain holds
      input.addData(late1.map { case (i, v) => SpecVec(i, v) }: _*)
      q.processAllAvailable()
      input.addData(late2.map { case (i, v) => SpecVec(i, v) }: _*)
      q.processAllAvailable()
      assert(maintainer.rebuildInFlight,
        "retrain finished early; the in-flight assertions prove nothing")
      assert(committedInFlight.size == 2,
        s"expected 2 batches committed during the rebuild: $committedInFlight")
      val fs = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
      for (bid <- committedInFlight)
        assert(graft.sink.BatchCommit.isCommitted(fs,
          new org.apache.hadoop.fs.Path(cp), bid),
          s"batch $bid did not commit during the rebuild")
      // probes during the rebuild serve the OLD artifact: pre-rebuild
      // codebook files untouched, codes complete through the latest
      // committed batch
      assert(codebookFiles() == codebookBefore,
        "codebook tables changed before the atomic swap")
      val during = handle.current()
      assert(during.codes.count() == corpusRows.size.toLong)
    } finally {
      buildGate.countDown()
      assert(maintainer.awaitIdle(120000), "rebuild never finished")
      q.stop()
    }
    assert(maintainer.failure.isEmpty, s"rebuild failed: ${maintainer.failure}")
    assert(maintainer.completedRebuilds == 1)
    // post-swap: replaced codebook tables, and EVERY committed batch
    // present — including the two that landed while the retrain ran
    val idx = handle.current()
    assert(codebookFiles() != codebookBefore, "swap never published")
    assert(idx.codes.count() == corpusRows.size.toLong,
      "a batch committed during the rebuild was wiped by the publish")
    // exact equality with the synchronous reference
    val refIdx = Similarity.buildIvfPqResidualIndex(
      (baseRows ++ drifted).toDF("nid", "nv"), dim = 8, m = 2, ksub = 4,
      nCentroids = 4)
    val refFull = refIdx.copy(codes = refIdx.codes.unionByName(
      Similarity.encodeForIndex(refIdx, (late1 ++ late2).toDF("nid", "nv"),
        dim = 8, m = 2, ksub = 4)))
    val probeQ = Seq((998L, drifted.head._2), (999L, mk(5, 1)))
      .toDF("qid", "qv")
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowsOf(Similarity.ivfPqResidualProbe(probeQ, idx, k = 3,
      dim = 8, m = 2, ksub = 4, nProbe = 4)) ==
      rowsOf(Similarity.ivfPqResidualProbe(probeQ, refFull, k = 3,
        dim = 8, m = 2, ksub = 4, nProbe = 4)),
      "async-rebuilt index diverged from the synchronous reference")
  }
}
