package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream.
  *
  * The reference's hand-rolled chunk loop (extract 100 → transform →
  * load, main.py:871-898) is exactly Spark's micro-batch model; these
  * are the idiomatic equivalents for a live event feed, plus the
  * stateful operators a training-data pipeline needs (sessionization).
  *
  * Scale notes: both operators shuffle once on their grouping key.
  * Watermarks bound state size — without them, windowed state grows
  * unboundedly at 100 TB/day rates. Session state is explicitly
  * timed out via the event-time watermark for the same reason.
  */
object EventStreams {

  /** Tumbling event-time window aggregation with late-data handling:
    * the streaming twin of CoreQueries.q_event_hourly. `append` mode
    * emits a window only once its watermark passes — exactly-once
    * per-window results downstream.
    */
  def hourlyCounts(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stream-static dimension enrichment feeding a watermarked window
    * aggregation: per-hour event counts segmented by a static
    * dimension attribute (the "join the click stream to the user
    * table" pattern). The dim side is a plain batch frame —
    * Structured Streaming re-plans the broadcast against it per
    * micro-batch, so a dim refresh (re-read of the table) is picked
    * up without restarting the query; unmatched keys fall into an
    * explicit "unknown" segment rather than dropping rows. State is
    * bounded by the watermark exactly as in [[hourlyCounts]] — the
    * join adds none (no stream-side buffering against a static
    * build).
    */
  def enrichWithDim(
      events: DataFrame,
      dim: DataFrame,
      keyCol: String,
      attrCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .join(broadcast(dim.select(col(keyCol), col(attrCol))), Seq(keyCol), "left")
      .groupBy(window(col("ts"), "1 hour"),
        coalesce(col(attrCol), lit("unknown")).as("segment"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("segment"), col("n_events"))

  /** Windowed distinct-user KMV sketch: the same mergeable
    * [[graft.functions.KmvSketch]] aggregator that powers the batch
    * queries, running inside a watermarked streaming aggregation —
    * micro-batch partials merge into window state in constant memory
    * (k hashes per window), and because the sketch is deterministic
    * and order-free the emitted estimate is identical to the batch
    * run over the same data (spec-gated). The streaming form of
    * "distinct users per hour" that exact countDistinct cannot
    * express incrementally without unbounded state.
    */
  def hourlyDistinctUsers(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      k: Int = 64): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.KmvSketch.kmvDistinct(k)(col("user_id"))
        .as("approx_users"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("approx_users"))

  /** Windowed per-user-activity count-min sketch: the same mergeable
    * [[graft.functions.CmsSketch]] aggregator as `q_cms_topk`,
    * running inside a watermarked streaming aggregation — micro-batch
    * partial sketches sum element-wise into window state in constant
    * memory (d·w counters per window), and because the counters are
    * exact sums of deterministic bucket hits, the emitted sketch is
    * IDENTICAL to the batch run over the same data (spec-gated, same
    * discipline as the streaming KMV). Downstream heavy-hitter reads
    * are point lookups against stored candidate sets.
    */
  def hourlyUserSketch(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      width: Int = 32,
      depth: Int = 4): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.CmsSketch.cmsSketch(width, depth)(col("user_id"))
        .as("cms"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("cms"))

  /** Windowed value-quantile estimates from the deterministic
    * hash-reservoir sample ([[graft.functions.ReservoirSketch]]) —
    * the third mergeable sketch running under a watermark next to KMV
    * and count-min: per-window state is the k-smallest-hash sample,
    * merged across micro-batches order-free, so the emitted p50/p90
    * equal the batch run over the same data (spec-gated). Exact
    * windowed percentiles would need every value in state; this needs
    * k·16 bytes per window.
    */
  def hourlyValueQuantiles(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      k: Int = 64): DataFrame = {
    val res = graft.functions.ReservoirSketch.reservoir(k)
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(res(col("event_id"), col("value")).as("vs"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        size(col("vs")).cast("long").as("m"),
        element_at(col("vs"),
          (floor(lit(0.5) * (size(col("vs")) - 1)) + 1).cast("int")).as("p50_est"),
        element_at(col("vs"),
          (floor(lit(0.9) * (size(col("vs")) - 1)) + 1).cast("int")).as("p90_est"))
  }

  /** Streaming → snapshot-sink bridge (reference K3, the
    * streaming-insert path): each micro-batch appends into the
    * partitioned snapshot layout via foreachBatch — exactly once.
    * Spark replays a micro-batch whose `commits/N` checkpoint entry
    * was never written, so a plain append would duplicate that
    * batch's rows; the per-batch body is [[snapshotBatchWriter]],
    * which skips batches whose append marker exists and publishes
    * through the staged batchId-keyed rename of
    * [[graft.sink.BatchCommit]] (replay-idempotent at every crash
    * point). Exposed separately so the crash-replay spec can invoke
    * the same body twice with one batchId and assert convergence.
    */
  def writeToSnapshot(
      df: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(snapshotBatchWriter(path, checkpoint))
      .start()

  /** The foreachBatch body behind [[writeToSnapshot]]: marker-gated,
    * staged, batchId-keyed append. Safe to call repeatedly with the
    * same batchId (crash-replay) — the second call is a no-op.
    */
  def snapshotBatchWriter(
      path: String,
      checkpoint: String): (Dataset[org.apache.spark.sql.Row], Long) => Unit = {
    (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val spark = batch.sparkSession
      val cp = new org.apache.hadoop.fs.Path(checkpoint)
      val fs = cp.getFileSystem(spark.sessionState.newHadoopConf())
      if (!graft.sink.BatchCommit.isCommitted(fs, cp, batchId)) {
        val runId = graft.sink.BatchCommit.pinnedRunId(fs, cp)
        graft.sink.BatchCommit.stageAndPublish(batch.toDF(), path, runId, batchId)
        graft.sink.BatchCommit.markCommitted(fs, cp, batchId)
      }
  }

  /** Stream-stream interval join: pair each left event with the right
    * events of the SAME user arriving within [l.ts, l.ts + maxDelay]
    * — the attribution shape (click within N minutes of an
    * impression). Both sides carry watermarks and the join condition
    * bounds r.ts relative to l.ts on both ends, which is what lets
    * Spark expire buffered state: without the time bounds a
    * stream-stream join would hold both streams forever.
    *
    * The left frame must carry columns (l_user, l_ts, ...) and the
    * right frame (r_user, r_ts, ...) — rename before calling (the
    * prefixes keep every column name disjoint across the join, which
    * stream-stream joins require).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      maxDelay: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("l_ts", watermarkDelay)
    val r = right.withWatermark("r_ts", watermarkDelay)
    l.join(r,
      expr(s"""l_user = r_user AND
               r_ts >= l_ts AND
               r_ts <= l_ts + interval $maxDelay"""))
  }

  /** LEFT OUTER stream-stream interval join: [[intervalJoin]] plus
    * the unmatched left rows — emitted with null right columns only
    * once the watermark proves no in-window right event can still
    * arrive (Spark holds the left row in state until
    * `l_ts + maxDelay` passes the right watermark). This is the
    * "impressions that never converted" read-out — the half of the
    * attribution question the inner join can't answer — and the state
    * bound is the same: both ends of the time condition are bounded,
    * so neither side buffers forever.
    */
  def intervalJoinLeftOuter(
      left: DataFrame,
      right: DataFrame,
      maxDelay: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("l_ts", watermarkDelay)
    val r = right.withWatermark("r_ts", watermarkDelay)
    l.join(r,
      expr(s"""l_user = r_user AND
               r_ts >= l_ts AND
               r_ts <= l_ts + interval $maxDelay"""),
      "leftOuter")
  }

  /** Streaming exact dedup on event_id with watermark-bounded state:
    * re-deliveries inside the watermark horizon are dropped, state for
    * ids older than the watermark is expired. The streaming twin of
    * `Dedup.exactByKey` — and the standard at-least-once → effectively-
    * once repair for event feeds.
    */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  final case class DocArrival(doc_id: Long, ts: Timestamp, simhash: Long)

  /** Per-bucket recently-seen simhashes (public: the state encoder's
    * generated code must be able to construct it).
    */
  final case class NearDupState(hashes: Array[Long])

  /** Streaming NEAR-dup suppression — the streaming twin of
    * [[graft.ops.Dedup.simHashes]]: a document is dropped when a
    * recently-seen document in its simhash BUCKET (the batch blocking
    * key: top 16 of 32 bits) sits within `maxHamming` bits of its
    * simhash. Exact-id dedup ([[dedupEvents]]) can't see re-crawls
    * and boilerplate edits; this catches them on arrival with the
    * same hash and the same blocking recall tradeoff as the batch
    * operator (a pair straddling two buckets is missed).
    *
    * Scale shape: one shuffle on the bucket key; state per bucket is
    * a bounded long array (`maxPerBucket` cap — beyond it, oldest
    * hashes are evicted first, a documented recall cut, never a
    * correctness risk for kept rows), expired wholesale by event-time
    * timeout once a bucket goes quiet for `stateTtl`. Within a
    * micro-batch, arrivals apply in (ts, doc_id) order, so the kept
    * set is deterministic under re-execution; like the batch greedy
    * rule, the FIRST arrival of a near-dup family survives.
    */
  def dedupNearDocsWithinWatermark(
      docs: DataFrame, // (doc_id, ts, text)
      watermarkDelay: String = "10 minutes",
      maxHamming: Int = 3,
      stateTtlMillis: Long = 60 * 60 * 1000L,
      maxPerBucket: Int = 256): Dataset[DocArrival] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        graft.ops.TextOps.simHash32(col("text")).as("simhash"))
      .as[DocArrival]
      .groupByKey(d => d.simhash >> 16)
      .flatMapGroupsWithState[NearDupState, DocArrival](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[DocArrival], state: GroupState[NearDupState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.map(_.hashes.toVector).getOrElse(Vector.empty)
            val kept = Vector.newBuilder[DocArrival]
            var lastMs = 0L
            for (d <- rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))) {
              lastMs = math.max(lastMs, d.ts.getTime)
              val dup = seen.exists(h =>
                java.lang.Long.bitCount(h ^ d.simhash) <= maxHamming)
              if (!dup) {
                kept += d
                seen = (if (seen.length >= maxPerBucket) seen.tail else seen) :+ d.simhash
              }
            }
            state.update(NearDupState(seen.toArray))
            state.setTimeoutTimestamp(lastMs + stateTtlMillis)
            kept.result().iterator
          }
      }
  }

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class DenseBucket(
      user_id: Long, hour: Timestamp, n_events: Long, v_ffill: Double)

  /** Per-hour pending aggregate inside a burst (public: the state
    * encoder's generated code must be able to construct it).
    */
  final case class HourAgg(hourMs: Long, n: Long, vmax: Double)

  /** Per-user dense-series state: not-yet-final hourly aggregates,
    * the last finalized hour (−1 before the first emit), and the
    * carried forward-fill value.
    */
  final case class DenseState(
      pending: Seq[HourAgg], lastFin: Long, ffill: Double)

  /** Streaming dense hourly series with gap fill + forward fill — the
    * streaming twin of [[graft.ops.Timeseries.gapFillHourly]]: one
    * row per hour of a user's activity burst, `n_events` = 0 on gap
    * hours, `v_ffill` carrying the most recent hourly max. An hour is
    * emitted once the event-time watermark passes its end (so its
    * count is final under the watermark contract); a burst flushes
    * completely when the user goes quiet for `flushDelay` (event-time
    * timeout), and a later return opens a NEW burst — streaming fills
    * gaps within activity spans, not across arbitrarily long silences
    * (batch fills min..max globally; on a single burst the two are
    * row-identical, which the spec asserts).
    *
    * Scale shape: one shuffle on the user key; state per user is the
    * bounded pending-hours list (≤ watermark horizon / 1 h entries +
    * gap hours emit from arithmetic, never stored) and is dropped
    * whole on flush. Late events inside the watermark fold in before
    * their hour finalizes; events for already-emitted hours are
    * dropped (append semantics — sessionize's documented
    * approximation).
    */
  def denseHourly(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      flushDelayMs: Long = 2L * 3600L * 1000L): Dataset[DenseBucket] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DenseState, DenseBucket](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[DenseState]) =>
          // everything the closure touches is local or a case class —
          // referencing module members here would capture the
          // (non-serializable) EventStreams module
          val HourMs = 3600L * 1000L
          def floorHour(ms: Long): Long = math.floorDiv(ms, HourMs) * HourMs
          // emit [from .. to] inclusive, reading pending for present
          // hours and pure arithmetic for gaps; returns the updated
          // (ffill, remaining pending)
          def emitRange(
              s: DenseState, to: Long): (Seq[DenseBucket], DenseState) = {
            val byHour = s.pending.map(h => h.hourMs -> h).toMap
            val from =
              if (s.lastFin >= 0L) s.lastFin + HourMs
              else s.pending.map(_.hourMs).min
            val out = Iterator.iterate(from)(_ + HourMs)
              .takeWhile(_ <= to).map { h =>
                byHour.get(h) match {
                  case Some(a) => DenseBucket(userId, new Timestamp(h), a.n, a.vmax)
                  case None    => DenseBucket(userId, new Timestamp(h), 0L, 0.0)
                }
              }.toList
            // forward fill: a gap bucket carries the latest preceding
            // hourly max
            var f = s.ffill
            val filled = out.map { b =>
              if (b.n_events > 0L) { f = b.v_ffill; b }
              else b.copy(v_ffill = f)
            }
            (filled, DenseState(s.pending.filter(_.hourMs > to), to, f))
          }
          if (state.hasTimedOut) {
            val s = state.get
            val out =
              if (s.pending.isEmpty) Nil
              else emitRange(s, s.pending.map(_.hourMs).max)._1
            state.remove()
            out.iterator
          } else {
            var s = state.getOption.getOrElse(DenseState(Nil, -1L, 0.0))
            for (e <- rows) {
              val h = floorHour(e.ts.getTime)
              if (s.lastFin < 0L || h > s.lastFin) {
                val (same, rest) = s.pending.partition(_.hourMs == h)
                val merged = same.headOption
                  .map(a => HourAgg(h, a.n + 1L, math.max(a.vmax, e.value)))
                  .getOrElse(HourAgg(h, 1L, e.value))
                s = s.copy(pending = merged +: rest)
              } // else: hour already emitted — dropped (append semantics)
            }
            if (s.pending.isEmpty && s.lastFin < 0L) Iterator.empty
            else {
              val wm = state.getCurrentWatermarkMs()
              // hours whose end the watermark has passed are final
              val horizon = floorHour(wm) - HourMs
              val maxPend =
                if (s.pending.isEmpty) -1L else s.pending.map(_.hourMs).max
              val finalizeTo = math.min(horizon, maxPend)
              val out =
                if (finalizeTo >= 0L &&
                    (s.lastFin < 0L || finalizeTo > s.lastFin) &&
                    s.pending.nonEmpty && finalizeTo >= s.pending.map(_.hourMs).min) {
                  val (o, ns) = emitRange(s, finalizeTo)
                  s = ns
                  o
                } else Nil
              state.update(s)
              // the flush alarm may not sit at or behind the current
              // watermark (Spark rejects it) — clamp forward; a
              // clamped alarm fires on the next batch, which IS the
              // immediate flush we'd want
              val lastSeen = math.max(maxPend + HourMs, s.lastFin + HourMs)
              state.setTimeoutTimestamp(
                math.max(lastSeen + flushDelayMs, wm + 1L))
              out.iterator
            }
          }
      }
  }

  final case class SessionSummary(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** Internal running-session state (public: the state encoder's
    * generated code must be able to construct it).
    */
  final case class SessionState(
      start: Long, last: Long, n: Long, total: Double)

  final case class FunnelStep(
      user_id: Long, step: Long, step_name: String, reached_ts: Timestamp)

  /** Per-user funnel-progression state: earliest qualifying (µs, id)
    * per step, Long.MaxValue = unreached (public: the state encoder's
    * generated code must be able to construct it).
    */
  final case class FunnelState(us: Array[Long], eid: Array[Long])

  /** Streaming ordered-funnel tracking — the streaming twin of
    * [[graft.ops.Funnels.userSteps]]: emits (user, step, reached_ts)
    * the first time a user completes each step prefix, with the same
    * strictly-precedes (µs, event_id) qualification and the same
    * conversion horizon anchored at the user's first step-1 event.
    *
    * Scale shape: state per user is two fixed K-long arrays, and it is
    * DROPPED as soon as the funnel completes or the event-time
    * timeout passes first-step-1 + horizon (nothing can qualify
    * after) — so live state is bounded by users currently inside
    * their conversion window, not by history. Exact vs the batch twin
    * when events arrive in event-time order across micro-batches
    * (within-batch disorder is sorted away); late cross-batch
    * arrivals inside the watermark refine state silently but cannot
    * retract an already-emitted first-completion (append semantics —
    * the documented approximation, same as sessionize's).
    */
  def funnelSteps(
      events: Dataset[Event],
      steps: Seq[String],
      horizonSeconds: Long = 7L * 24 * 3600,
      watermarkDelay: String = "10 minutes"): Dataset[FunnelStep] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    val k = steps.size
    val horizonUs = horizonSeconds * 1000000L
    val unset = Long.MaxValue
    def evUs(e: Event): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(
              FunnelState(Array.fill(k)(unset), Array.fill(k)(unset)))
            val us = st.us.clone()
            val eid = st.eid.clone()
            def before(aUs: Long, aId: Long, bUs: Long, bId: Long): Boolean =
              aUs < bUs || (aUs == bUs && aId < bId)
            val out = List.newBuilder[FunnelStep]
            for (e <- rows.toSeq.sortBy(e => (evUs(e), e.event_id))) {
              val t = evUs(e)
              val idx = steps.indexOf(e.event_type)
              if (idx >= 0) {
                val qualifies =
                  if (idx == 0) true
                  else us(idx - 1) != unset &&
                    before(us(idx - 1), eid(idx - 1), t, e.event_id) &&
                    t - us(0) <= horizonUs
                if (qualifies && before(t, e.event_id, us(idx), eid(idx))) {
                  if (us(idx) == unset)
                    out += FunnelStep(userId, idx + 1L, steps(idx),
                      new Timestamp(t / 1000L))
                  us(idx) = t
                  eid(idx) = e.event_id
                }
              }
            }
            if (us(0) == unset) out.result().iterator // never entered the funnel
            else if (us(k - 1) != unset) {
              state.remove() // funnel complete: no further emissions possible
              out.result().iterator
            } else {
              state.update(FunnelState(us, eid))
              // clamp past the watermark: once wm passes the horizon the
              // deadline lands behind it and an unclamped set() throws —
              // the alarm then fires next batch instead
              state.setTimeoutTimestamp(math.max(
                us(0) / 1000L + horizonSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1L))
              out.result().iterator
            }
          }
      }
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes when no event arrives within `gapMillis` of the last one
    * (enforced by event-time timeout against the watermark). Emits one
    * summary row per closed session.
    */
  def sessionize(
      events: Dataset[Event],
      gapMillis: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def summary(s: SessionState) = SessionSummary(
            userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
          if (state.hasTimedOut) {
            val out = state.getOption.map(summary).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                // a delayed event more than one gap BEFORE the open
                // session is a separate (already-complete) session —
                // emit it standalone rather than fusing across a
                // larger-than-gap hole. Exact when watermarkDelay ≤
                // gap; with larger watermarks this is the documented
                // approximation (single-session state).
                case Some(s) if t < s.start - gapMillis =>
                  closed ::= SessionSummary(
                    userId, new Timestamp(t), new Timestamp(t), 1, e.value)
                // merge keeps the span monotone: a delayed-but-not-late
                // event (t < s.last) must extend the session backward,
                // never move `last` backward (which would re-arm the
                // timeout early and split real sessions)
                case Some(s) if t <= s.last + gapMillis =>
                  cur = Some(s.copy(
                    start = math.min(s.start, t),
                    last = math.max(s.last, t),
                    n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= summary(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp: with watermarkDelay > gap the deadline can land
              // behind the watermark and an unclamped set() throws
              state.setTimeoutTimestamp(math.max(s.last + gapMillis,
                state.getCurrentWatermarkMs() + 1L))
            }
            closed.reverseIterator
          }
      }
  }

  final case class IslandSummary(
      user_id: Long, start_s: Long, end_s: Long, n_merged: Long)

  /** Open coalesced-interval state in epoch seconds (public: the
    * state encoder's generated code must be able to construct it).
    */
  final case class IslandState(start: Long, end: Long, n: Long)

  /** Streaming twin of [[graft.ops.Intervals.mergeIntervals]]: each
    * event opens a span [s, s + durSeconds(e)) and overlapping or
    * touching spans coalesce per user into islands. An island closes
    * when the event-time watermark passes its running max END — by
    * then every arrival that survives the watermark must start past
    * it, so no in-watermark event can ever extend the island (the
    * variable-span generalization of [[sessionize]]'s gap timeout;
    * here the timeout horizon moves with max(end), not last-event
    * time). In-batch, a new span starting past the open island's end
    * closes it immediately; a delayed span landing wholly BEFORE the
    * island is emitted as its own complete island (the single-state
    * approximation [[sessionize]] documents — exact while
    * watermarkDelay keeps bridgeable spans inside one state window).
    *
    * Emitted islands carry epoch-second bounds, bit-identical to the
    * batch operator's over the same rows (the spec asserts equality).
    */
  def mergeIntervalsStream(
      events: Dataset[Event],
      durSeconds: Event => Long,
      watermarkDelay: String = "10 minutes"): Dataset[IslandSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IslandState, IslandSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[IslandState]) =>
          def summary(s: IslandState) =
            IslandSummary(uid, s.start, s.end, s.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(summary).toSeq
            state.remove()
            out.iterator
          } else {
            val spans = rows.toSeq
              .map { e =>
                val s0 = math.floorDiv(e.ts.getTime, 1000L)
                (s0, s0 + durSeconds(e), e.event_id)
              }
              .sortBy { case (s0, _, id) => (s0, id) }
            var closed = List.empty[IslandSummary]
            var cur = state.getOption
            for ((s0, e0, _) <- spans) {
              cur match {
                case Some(st) if s0 > st.end =>
                  closed ::= summary(st)
                  cur = Some(IslandState(s0, e0, 1))
                case Some(st) if e0 < st.start =>
                  // wholly before the open island: a complete past
                  // island of its own (delayed-but-in-watermark)
                  closed ::= IslandSummary(uid, s0, e0, 1)
                case Some(st) =>
                  cur = Some(IslandState(math.min(st.start, s0),
                    math.max(st.end, e0), st.n + 1))
                case None =>
                  cur = Some(IslandState(s0, e0, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(math.max(st.end * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            closed.reverseIterator
          }
      }
  }

  final case class PeakOut(
      user_id: Long, burst_start_s: Long, burst_end_s: Long, peak: Long)

  /** Sweep-line accumulator per user (public: the state encoder's
    * generated code must construct it). `pending` holds UNPROCESSED
    * sweep points packed as `t·2 + (delta == +1 ? 1 : 0)` — the
    * packing IS the tie rule: sorting packed longs puts a span's
    * close (flag 0) before an equal-time open, the half-open
    * [s, e) semantics of the batch sweep.
    */
  final case class SweepState(
      pending: Seq[Long], cur: Long, peak: Long,
      start: Long, maxEnd: Long)

  /** Streaming peak concurrency — the streaming twin of
    * `q_peak_concurrency`'s sweep-line: each event opens a span
    * [s, s + durSeconds(e)) and the per-user maximum of overlapping
    * spans emits when the user's activity burst closes (event-time
    * timeout past max(end) + gap — the [[mergeIntervalsStream]]
    * horizon plus a gap, so touching bursts merge like the batch
    * sweep sees them).
    *
    * EXACT within a burst, not an approximation: the watermark
    * guarantees every future span STARTS at or after it, so sweep
    * points at or before the watermark are complete and can fold
    * into the running (cur, peak) in packed sort order; later points
    * wait in state. Points after a burst's emission start a new
    * burst (the sessionize split semantics — the documented
    * difference from one global batch sweep over all history).
    *
    * @return one row per closed burst:
    *         (user_id, burst_start_s, burst_end_s, peak)
    */
  def peakConcurrency(
      events: Dataset[Event],
      durSeconds: Event => Long,
      gapSeconds: Long = 3600L,
      watermarkDelay: String = "10 minutes"): Dataset[PeakOut] = {
    import events.sparkSession.implicits._
    def fold(st: SweepState, uptoExclusive: Long): SweepState = {
      val (ready, rest) = st.pending.sorted.partition(_ < uptoExclusive * 2)
      var cur = st.cur
      var peak = st.peak
      for (p <- ready) {
        cur += (if ((p & 1L) == 1L) 1L else -1L)
        if (cur > peak) peak = cur
      }
      SweepState(rest, cur, peak, st.start, st.maxEnd)
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SweepState, PeakOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SweepState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map { st0 =>
              val st = fold(st0, Long.MaxValue / 2)
              PeakOut(uid, st.start, st.maxEnd, st.peak)
            }.toSeq
            state.remove()
            out.iterator
          } else {
            val pts = rows.toSeq.flatMap { e =>
              val s0 = math.floorDiv(e.ts.getTime, 1000L)
              val e0 = s0 + durSeconds(e)
              Seq(s0 * 2 + 1, e0 * 2) // open flagged 1, close 0
            }
            val st0 = state.getOption match {
              case Some(st) => SweepState(st.pending ++ pts, st.cur, st.peak,
                math.min(st.start, pts.min / 2),
                math.max(st.maxEnd, pts.max / 2))
              case None =>
                SweepState(pts, 0L, 0L, pts.min / 2, pts.max / 2)
            }
            // fold everything the watermark has sealed; later points
            // wait (a future arrival can still interleave among them)
            val wmS = state.getCurrentWatermarkMs() / 1000L
            val st = fold(st0, wmS)
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              (st.maxEnd + gapSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Streaming OHLC bars — the streaming twin of
    * [[graft.ops.Timeseries.resampleOhlc]]: per (event_type, hour)
    * deterministic open/high/low/close via the SAME struct-min trick,
    * running as a watermarked windowed aggregation. Because the
    * open/close are order-free min/max of (ts, ord, v) structs, the
    * streaming state per window is one candidate struct — late
    * arrivals inside the watermark fold in commutatively, so a bar
    * emitted on watermark passage is bit-identical to the batch bar
    * over the same rows (the spec asserts equality). No custom state
    * needed: the batch aggregate IS the streaming aggregate.
    */
  def hourlyOhlc(
      events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val v = col("value").cast("double")
    val keyed = struct(col("ts").as("t"), col("event_id").as("i"), v.as("v"))
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(keyed).getField("v").as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max(keyed).getField("v").as("close"),
        sum(floor(v * 100).cast("long")).as("sum_cents"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("open"), col("high"), col("low"),
        col("close"), col("sum_cents"))
  }

  final case class GapOut(
      user_id: Long, gap_start: String, gap_end: String, gap_days: Long)

  /** Last active day per user in epoch days (public: the state
    * encoder's generated code must be able to construct it).
    */
  final case class GapState(lastDay: Long)

  /** Streaming activity gaps — the streaming twin of
    * `q_activity_gaps`: per user, emit each completed idle stretch
    * between consecutive active days the moment the user returns.
    * Gap detection is a lag read over the distinct-day sequence, so
    * the state is ONE epoch-day long per user (the
    * [[streamingDeltas]] machinery with days for timestamps).
    *
    * No timeout: a gap only COMPLETES when the next active day
    * arrives (the batch operator reports completed gaps only), and
    * the 8-byte/user state is bounded by the user population, not by
    * history. Days at or before the carried frontier are ignored —
    * the single-frontier approximation [[sessionize]] documents;
    * exact versus batch when active days arrive in order across
    * micro-batches (within-batch disorder is sorted away; the spec
    * asserts set equality against the batch query under that
    * arrival pattern).
    */
  def activityGaps(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes"): Dataset[GapOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[GapState]) =>
          val days = rows
            .map(e => Math.floorDiv(e.ts.getTime, 86400000L))
            .toSeq.distinct.sorted
          var last = state.getOption.map(_.lastDay)
          val out = Vector.newBuilder[GapOut]
          for (day <- days; if last.forall(day > _)) {
            for (l <- last; if day > l + 1L)
              out += GapOut(userId,
                java.time.LocalDate.ofEpochDay(l + 1L).toString,
                java.time.LocalDate.ofEpochDay(day - 1L).toString,
                day - l - 1L)
            last = Some(day)
          }
          last.foreach(d => state.update(GapState(d)))
          out.result().iterator
      }
  }

  /** Streaming smoothed success rates, the incremental twin of
    * [[graft.ops.Cohorts.smoothedRates]]. Shrinkage needs GLOBAL
    * totals, which no single `flatMapGroupsWithState` key layout can
    * see — so the twin is the fold shape instead (the
    * [[writeToSnapshot]] / [[graft.ops.Incremental]] pattern):
    * `foreachBatch` folds each micro-batch's per-user (n, s) into a
    * stored partials frame with [[smoothedRatesFold]], and
    * [[smoothedRatesFromPartials]] closes the read. Counts are
    * order-free exact integers, so after batch k the result equals
    * the batch operator over the union of batches 1..k EXACTLY — no
    * frontier approximation, any arrival order, any batch boundaries
    * (the spec asserts bit equality).
    *
    * This is the PURE fold step; accumulating it into one mutable
    * table would double-count a crash-replayed batch. Production
    * callers go through [[smoothedRatesFoldCommitted]], which
    * versions the partials by batchId in a [[FoldStore]] (replace,
    * never accumulate) so replay converges instead of re-adding —
    * passing the query's checkpoint-pinned runId as `writerTag`
    * enforces the store's single-writer contract.
    */
  def smoothedRatesFold(
      stored: DataFrame, // (user_id, n, s) — empty on the first batch
      batch: DataFrame,
      userCol: String,
      successExpr: org.apache.spark.sql.Column): DataFrame = {
    val part = batch
      .groupBy(col(userCol).as("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(successExpr, 1L).otherwise(0L)).as("s"))
    stored.unionAll(part)
      .groupBy("user_id")
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  }

  /** Close the smoothed-rate read over folded partials — the same
    * token-shared shrinkage expression as the batch operator
    * ([[graft.ops.Cohorts.SmoothExpr]]), global totals re-aggregated
    * from the per-user frame (never a second input scan).
    */
  def smoothedRatesFromPartials(
      partials: DataFrame, priorWeight: Int = 20): DataFrame = {
    val tot = partials.agg(sum(col("n")).as("ng"), sum(col("s")).as("sg"))
    partials.crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"), col("s"),
        expr(graft.ops.Cohorts.SmoothExpr(priorWeight)).as("smoothed_rate"))
  }

  /** Exactly-once persisted fold: batch `batchId`'s per-user (n, s)
    * counts folded into the newest committed partials version and
    * written as a NEW version `v<batchId>` (never accumulated in
    * place), so a crash-replayed foreachBatch recomputes the same
    * version instead of double-counting — see [[FoldStore]]. The
    * foreachBatch body is exactly
    * `smoothedRatesFoldCommitted(root, batch, "user_id", succ, id)`.
    */
  def smoothedRatesFoldCommitted(
      root: String,
      batch: DataFrame,
      userCol: String,
      successExpr: org.apache.spark.sql.Column,
      batchId: Long,
      writerTag: String = ""): Unit = {
    // limit(0) on the batch's own aggregate shape: the empty first
    // frame carries the same (user_id, n, s) schema without a scan
    val empty = batch.groupBy(col(userCol).as("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(successExpr, 1L).otherwise(0L)).as("s"))
      .limit(0)
    FoldStore.foldCommit(batch.sparkSession, root, batchId, empty,
      writerTag)(stored =>
      smoothedRatesFold(stored, batch, userCol, successExpr))
  }

  /** Read the newest committed partials of a
    * [[smoothedRatesFoldCommitted]] store (empty frame before the
    * first commit) — feed to [[smoothedRatesFromPartials]].
    */
  def smoothedRatesPartials(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("n", LongType),
      StructField("s", LongType)))
    FoldStore.read(spark, root,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** Streaming RFM snapshot — the fold twin of
    * [[graft.ops.Cohorts.rfm]] (the remaining member of the
    * merge-intervals batch-sibling gap set): per-user (last_day,
    * freq, mon_cents) are all order-free folds (max date, count,
    * integer sum), so after batch k the closed read equals the batch
    * operator over batches 1..k EXACTLY — any arrival order, any
    * batch boundaries (spec asserts bit equality). The anchor date is
    * applied at READ time, so one partials store serves any reporting
    * date. foreachBatch body: fold; snapshot read:
    * `Cohorts.rfmFromPartials(stored, anchor)`.
    */
  def rfmFold(
      stored: DataFrame, // (user_id, last_day, freq, mon_cents)
      batch: DataFrame,
      userCol: String,
      tsCol: String,
      centsExpr: org.apache.spark.sql.Column): DataFrame =
    graft.ops.Cohorts.rfmFold(stored, batch, userCol, tsCol, centsExpr)

  /** Streaming rolling-median input fold — the twin of
    * [[graft.ops.Timeseries.rollingMedian]] over daily volumes: the
    * calendar-bounded (g, day, count) frame is an exact integer fold,
    * and the median window re-reads the WHOLE folded frame at close
    * (late rows may change history, and unlike a watermarked
    * aggregation this snapshot read is allowed to repair it — the
    * batch-equivalence contract). Close with
    * `Timeseries.rollingMedian(stored, col("g"), col("t"), col("y"))`.
    */
  def dailyVolumesFold(
      stored: DataFrame, // (g, t, y)
      batch: DataFrame,
      gExpr: org.apache.spark.sql.Column,
      tsCol: String): DataFrame =
    stored.unionAll(
      batch.groupBy(gExpr.as("g"), to_date(col(tsCol)).as("t"))
        .agg(count(lit(1)).as("y")))
      .groupBy("g", "t").agg(sum(col("y")).as("y"))

  final case class DeltaOut(
      user_id: Long, event_id: Long, v_cents: Long,
      delta_cents: Option[Long])

  /** Last observation per user (public: the state encoder's generated
    * code must be able to construct it).
    */
  final case class LastObs(tsMs: Long, ord: Long, cents: Long)

  /** Streaming per-series lag deltas — the streaming twin of
    * [[graft.ops.Timeseries.lagDeltas]]: each arrival's exact-cents
    * change versus the user's previous observation, carried across
    * micro-batches in one `LastObs` state per user. Within a
    * micro-batch arrivals apply in (ts, ord) order (deterministic
    * under re-execution); an arrival older than the carried state is
    * emitted with a null delta rather than rewriting history (append
    * semantics — the sessionize approximation). State is one 24-byte
    * record per active user, dropped after `stateTtlMillis` of
    * event-time silence; a user returning later starts a new series
    * (first delta null), which is where the streaming result is
    * allowed to differ from batch — within one burst the spec asserts
    * row equality.
    */
  def streamingDeltas(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      stateTtlMillis: Long = 24L * 3600L * 1000L): Dataset[DeltaOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastObs, DeltaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[LastObs]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption
            val out = Vector.newBuilder[DeltaOut]
            for (e <- rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))) {
              val cents = math.floor(e.value * 100).toLong
              val t = e.ts.getTime
              val inOrder = last.forall(l =>
                l.tsMs < t || (l.tsMs == t && l.ord < e.event_id))
              if (inOrder) {
                out += DeltaOut(userId, e.event_id, cents,
                  last.map(cents - _.cents))
                last = Some(LastObs(t, e.event_id, cents))
              } else {
                // out-of-order beyond the carried frontier: surface it
                // without a delta instead of silently recomputing one
                // against the wrong predecessor
                out += DeltaOut(userId, e.event_id, cents, None)
              }
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(l.tsMs + stateTtlMillis)
            }
            out.result().iterator
          }
      }
  }

  final case class DecayOut(
      user_id: Long, event_id: Long, day: Long, w_sum: Long, score: Double)

  /** Decayed-score accumulator (public: the state encoder's generated
    * code must be able to construct it).
    */
  final case class DecayState(lastDay: Long, wsum: Long)

  /** Streaming decayed engagement — the streaming twin of
    * [[graft.ops.Sequences.decayedEngagement]], and the reason its
    * half-life is pinned to one day: dyadic weights make the
    * streaming fold EXACT INTEGER arithmetic. State per user is
    * (lastDay, w_sum) where w_sum is the engagement mass expressed at
    * asof = lastDay; advancing d days is `w_sum >> d` (every live
    * contribution is 2^(h−age), so the shift re-ages all of them at
    * once), and an arrival adds `2^h` (or `2^h >> lag` for a
    * same-burst out-of-order arrival). Each arrival emits the score
    * as of its own day — within the horizon this matches the batch
    * operator bit-for-bit (the spec pins it); past the horizon the
    * shift truncates merged contributions to 0 with residue ≤ one
    * unit (2^−h of score) per elapsed day, where batch drops them
    * exactly — the one documented deviation, bounded and one-sided.
    *
    * Scale shape: one shuffle on the user key, 16 bytes of state per
    * active user, expired by event-time TTL.
    */
  def decayedScores(
      events: Dataset[Event],
      horizonDays: Int = 40,
      watermarkDelay: String = "10 minutes",
      stateTtlMillis: Long = 45L * 24 * 3600 * 1000): Dataset[DecayOut] = {
    require(horizonDays >= 1 && horizonDays <= 62, s"horizon: $horizonDays")
    import events.sparkSession.implicits._
    val h = horizonDays
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DecayState, DecayOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[DecayState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val DayMs = 86400000L
            var cur = state.getOption
            var lastMs = 0L
            val out = Vector.newBuilder[DecayOut]
            for (e <- rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))) {
              lastMs = math.max(lastMs, e.ts.getTime)
              val day = math.floorDiv(e.ts.getTime, DayMs)
              cur = Some(cur match {
                case None => DecayState(day, 1L << h)
                case Some(s) if day >= s.lastDay =>
                  val shift = math.min(day - s.lastDay, 63L).toInt
                  DecayState(day, (s.wsum >> shift) + (1L << h))
                case Some(s) => // out-of-order within the burst: fold
                  // the contribution already aged to the frontier day
                  val lag = math.min(s.lastDay - day, 63L).toInt
                  DecayState(s.lastDay, s.wsum + ((1L << h) >> lag))
              })
              val c = cur.get
              out += DecayOut(userId, e.event_id, c.lastDay, c.wsum,
                c.wsum.toDouble / math.pow(2.0, h))
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(lastMs + stateTtlMillis)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming PSI drift monitor: every closed event-time window's
    * value-bin distribution scores against a fixed reference
    * distribution (bin → count, e.g. the training snapshot's
    * histogram). The twin of the batch `q_psi` — same bins, same
    * shared closing expression ([[graft.queries.EvalQueries.PsiPartExpr]]).
    *
    * Shape: ONE watermarked windowed aggregation; the 10 fixed bins
    * pivot into conditional counts on a single row per window, so the
    * window total and every bin ride the same aggregate — no second
    * streaming aggregation, no stream-stream join. The reference
    * histogram is tiny by construction and rides as literals. Output
    * is per (window, bin): the current count and its PSI
    * contribution (NULL when a side is empty, as in batch).
    */
  def psiDrift(
      events: DataFrame,
      ref: Map[Int, Long],
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val refTotal = ref.values.sum
    val bins = 0 to 9
    def binOf(c: org.apache.spark.sql.Column) =
      least(floor(c / 50), lit(9)).cast("int")
    val counts = bins.map(i =>
      sum(when(binOf(col("value")) === i, 1L).otherwise(0L)).as(s"b$i"))
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(counts.head, counts.tail: _*)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        expr(bins.map(i => s"b$i").mkString(" + ")).as("tb"),
        explode(array(bins.map(i => struct(
          lit(i).cast("long").as("bin"),
          lit(ref.getOrElse(i, 0L)).as("a"),
          col(s"b$i").as("b"))): _*)).as("e"))
      .select(col("window_start"),
        col("e.bin").as("bin"), col("e.a").as("a"), col("e.b").as("b"),
        lit(refTotal).as("ta"), col("tb"))
      .select(col("window_start"), col("bin"), col("a"), col("b"),
        expr(graft.queries.EvalQueries.PsiPartExpr).as("psi_part"))
  }

  /** Streaming classifier-accuracy monitor: per closed event-time
    * window, the agreement rate of the deterministic value-band
    * classifier shared with the batch q_confusion/q_kappa
    * ([[graft.queries.EvalQueries.band]]). ONE watermarked windowed
    * aggregation — total and agreeing counts are conditional sums on
    * the same row, the closing division is per-row. The live "is
    * the model drifting" alarm next to psiDrift's "is the data
    * drifting".
    */
  def accuracyMonitor(
      events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val act = graft.queries.EvalQueries.band("value")
    val pred = graft.queries.EvalQueries.band(
      s"value + ${graft.queries.EvalQueries.PredNoise}")
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(expr(pred) === expr(act), 1L).otherwise(0L))
          .as("n_agree"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n"), col("n_agree"),
        expr("CAST(n_agree AS DOUBLE)/n").as("accuracy"))
  }

  final case class DayCount(dayN: Long, n: Long)

  /** Burst-monitor state: counts for days still inside the watermark
    * plus the trailing ≤7 finalized day counts (both dayN-ascending).
    */
  final case class BurstState(open: Seq[DayCount], hist: Seq[DayCount])

  final case class BurstOut(
      event_type: String, day_n: Long, cnt: Long,
      z: Option[Double], burst: Long)

  /** Streaming twin of the batch burst detector (`q_burst`): per
    * event type, each day's count scores a Poisson-style z against
    * the trailing 7 FINALIZED observed days. A day finalizes exactly
    * when the watermark passes its end — Spark has already dropped
    * anything older than the watermark, so a finalized count can
    * never be amended and the emission matches the batch
    * `7·cnt − Σwin` arithmetic bit for bit on the shared days.
    *
    * Scale shape: one shuffle on the type key; state per type is at
    * most (open days within the watermark + 7) (day, long) pairs —
    * never event-proportional. Idle types expire via event-time TTL
    * after their last open day finalizes and drains.
    */
  def dailyBursts(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      stateTtlMillis: Long = 14L * 24 * 3600 * 1000): Dataset[BurstOut] = {
    import events.sparkSession.implicits._
    val DayMs = 86400000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BurstState, BurstOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, rows: Iterator[Event], state: GroupState[BurstState]) =>
          val prev = state.getOption.getOrElse(BurstState(Nil, Nil))
          // 1) fold this batch's rows into the open-day counts
          //    (order-free sums — iterator order doesn't matter)
          val add = rows.toSeq.groupBy(e => math.floorDiv(e.ts.getTime, DayMs))
            .view.mapValues(_.size.toLong).toMap
          val open0 = (prev.open.map(d => d.dayN -> d.n).toMap.keySet ++
            add.keySet).toSeq.sorted.map { d =>
            val before = prev.open.find(_.dayN == d).map(_.n).getOrElse(0L)
            DayCount(d, before + add.getOrElse(d, 0L))
          }
          // 2) finalize every open day whose end the watermark passed,
          //    in day order, rolling the 7-day history as we go
          val wm = state.getCurrentWatermarkMs()
          val (fin, stillOpen) = open0.partition(d => (d.dayN + 1) * DayMs <= wm)
          var hist = prev.hist
          val out = Vector.newBuilder[BurstOut]
          for (d <- fin) {
            val z =
              if (hist.size == 7) {
                val sumw = hist.map(_.n).sum
                if (sumw == 0) None
                else Some((7L * d.n - sumw).toDouble /
                  (7.0 * math.sqrt(sumw.toDouble / 7.0)))
              } else None
            out += BurstOut(typ, d.dayN, d.n, z,
              if (z.exists(_ > 3.0)) 1L else 0L)
            hist = (hist :+ DayCount(d.dayN, d.n)).takeRight(7)
          }
          if (stillOpen.isEmpty && fin.isEmpty && state.hasTimedOut) {
            state.remove()
          } else {
            state.update(BurstState(stillOpen, hist))
            val anchor = stillOpen.headOption.map(d => (d.dayN + 1) * DayMs)
              .getOrElse(hist.lastOption.map(d =>
                (d.dayN + 1) * DayMs + stateTtlMillis).getOrElse(wm + DayMs))
            state.setTimeoutTimestamp(math.max(anchor, wm + 1))
          }
          out.result().iterator
      }
  }

  final case class HoltOut(
      event_type: String, day: Long, y: Long,
      level: Double, trend: Double, forecast: Double)

  /** Holt fold state (public for the state encoder): open-day counts
    * plus the (level, trend) pair expressed after `nObs` finalized
    * days.
    */
  final case class HoltState(
      open: List[DayCount], l: Double, b: Double, nObs: Long)

  /** Streaming Holt level+trend forecaster — the streaming twin of
    * [[graft.ops.Timeseries.holtLinear]] (α = β = 1/2, h = 7).
    * Open days accumulate order-free counts in state; when the
    * watermark passes a day's end the day FINALIZES, in day order,
    * and the (l, b) recurrence advances exactly as the batch fold
    * does (init l = first day's count, b = 0) — so after any prefix
    * of finalized days the emitted level/trend/forecast are
    * bit-equal to batch `holtLinear` over that prefix (the spec pins
    * it). Only closed days touch the recurrence: a late arrival
    * inside the watermark lands in its open day BEFORE finalization,
    * and the watermark drops anything later, so the fold never sees
    * a day twice.
    *
    * Scale shape: one shuffle on the group key; state per group is
    * (l, b, nObs) plus the ≤ watermark-span open-day list.
    */
  def holtForecasts(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      stateTtlMillis: Long = 14L * 24 * 3600 * 1000): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    val DayMs = 86400000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, rows: Iterator[Event], state: GroupState[HoltState]) =>
          val prev = state.getOption.getOrElse(HoltState(Nil, 0.0, 0.0, 0L))
          val add = rows.toSeq.groupBy(e => math.floorDiv(e.ts.getTime, DayMs))
            .view.mapValues(_.size.toLong).toMap
          val open0 = (prev.open.map(_.dayN).toSet ++ add.keySet)
            .toSeq.sorted.map { d =>
            val before = prev.open.find(_.dayN == d).map(_.n).getOrElse(0L)
            DayCount(d, before + add.getOrElse(d, 0L))
          }
          val wm = state.getCurrentWatermarkMs()
          val (fin, stillOpen) = open0.partition(d => (d.dayN + 1) * DayMs <= wm)
          var (l, b, nObs) = (prev.l, prev.b, prev.nObs)
          val out = Vector.newBuilder[HoltOut]
          for (d <- fin) {
            val y = d.n.toDouble
            if (nObs == 0L) { l = y; b = 0.0 }
            else {
              val l2 = (y + l + b) / 2
              b = (l2 - l + b) / 2
              l = l2
            }
            nObs += 1
            out += HoltOut(typ, d.dayN, d.n, l, b, l + 7 * b)
          }
          if (stillOpen.isEmpty && fin.isEmpty && state.hasTimedOut) {
            state.remove()
          } else {
            state.update(HoltState(stillOpen.toList, l, b, nObs))
            val anchor = stillOpen.headOption.map(d => (d.dayN + 1) * DayMs)
              .getOrElse(wm + stateTtlMillis)
            state.setTimeoutTimestamp(math.max(anchor, wm + 1))
          }
          out.result().iterator
      }
  }

  final case class HwOut(
      event_type: String, day: Long, y: Long,
      level: Double, trend: Double, s_next: Double, forecast: Double)

  /** Holt-Winters fold state: open-day counts plus (level, trend,
    * seasonal slots) after `nObs` finalized days.
    */
  final case class HwState(
      open: List[DayCount], l: Double, b: Double,
      s: List[Double], nObs: Long)

  /** Streaming Holt-Winters forecaster — the streaming twin of
    * [[graft.ops.Timeseries.holtWinters]] (α = β = γ = 1/2,
    * period 7, zero-seeded slots). Identical finalize-in-day-order
    * discipline as [[holtForecasts]]; the recurrence additionally
    * reads/updates seasonal slot nObs % 7, exactly the batch fold's
    * index arithmetic, so after any finalized prefix the emitted
    * (level, trend, s_next, forecast) are bit-equal to the batch
    * operator over that prefix (the spec pins it).
    *
    * Scale shape: one shuffle on the group key; state per group is
    * (l, b, 7 doubles, nObs) plus the ≤ watermark-span open-day
    * list — constant size however long the stream runs.
    */
  def hwForecasts(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      stateTtlMillis: Long = 14L * 24 * 3600 * 1000): Dataset[HwOut] = {
    import events.sparkSession.implicits._
    val DayMs = 86400000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HwState, HwOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, rows: Iterator[Event], state: GroupState[HwState]) =>
          val prev = state.getOption.getOrElse(
            HwState(Nil, 0.0, 0.0, List.fill(7)(0.0), 0L))
          val add = rows.toSeq.groupBy(e => math.floorDiv(e.ts.getTime, DayMs))
            .view.mapValues(_.size.toLong).toMap
          val open0 = (prev.open.map(_.dayN).toSet ++ add.keySet)
            .toSeq.sorted.map { d =>
            val before = prev.open.find(_.dayN == d).map(_.n).getOrElse(0L)
            DayCount(d, before + add.getOrElse(d, 0L))
          }
          val wm = state.getCurrentWatermarkMs()
          val (fin, stillOpen) = open0.partition(d => (d.dayN + 1) * DayMs <= wm)
          var (l, b, nObs) = (prev.l, prev.b, prev.nObs)
          val s = prev.s.toArray
          val out = Vector.newBuilder[HwOut]
          for (d <- fin) {
            val y = d.n.toDouble
            if (nObs == 0L) { l = y; b = 0.0 }
            else {
              val slot = (nObs % 7).toInt
              val l2 = ((y - s(slot)) + l + b) / 2
              b = (l2 - l + b) / 2
              s(slot) = ((y - l2) + s(slot)) / 2
              l = l2
            }
            nObs += 1
            val sNext = s((nObs % 7).toInt)
            out += HwOut(typ, d.dayN, d.n, l, b, sNext, l + b + sNext)
          }
          if (stillOpen.isEmpty && fin.isEmpty && state.hasTimedOut) {
            state.remove()
          } else {
            state.update(HwState(stillOpen.toList, l, b, s.toList, nObs))
            val anchor = stillOpen.headOption.map(d => (d.dayN + 1) * DayMs)
              .getOrElse(wm + stateTtlMillis)
            state.setTimeoutTimestamp(math.max(anchor, wm + 1))
          }
          out.result().iterator
      }
  }
}
