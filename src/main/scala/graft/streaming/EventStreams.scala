package graft.streaming

import graft.ops.Exact
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Structured Streaming pipelines over the event stream.
  *
  * The reference's "streaming" is incremental batch (SURVEY.md §2.10:
  * watermark bookmarks + nightly cron). This module provides the real
  * streaming counterpart: `readStream` → watermarked windowed aggregation →
  * sink, plus a stateful sessionizer via `mapGroupsWithState`. The batch
  * twins (same semantics, oracle-checked) are `q42_hourly_window` /
  * `q26_sessionize` in [[graft.queries]].
  *
  * Scale posture: state is keyed by (window, event_type) / user_id — both
  * bounded-cardinality keys; watermarks bound state retention; sinks are
  * idempotent-append. `Trigger.AvailableNow` gives the reference's
  * nightly-batch behavior with streaming exactly-once bookkeeping
  * (checkpointed offsets replace the reference's JSON bookmark files,
  * `go-incremental-ingest-elt.py:144-157`).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start_us: Long, last_us: Long, n_events: Long,
      total_value: Double)

  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, total_value: Double)

  /** Epoch micros from a Timestamp WITHOUT millisecond truncation
    * (`getTime` alone drops the sub-millisecond part `getNanos` carries —
    * would disagree with the batch twins' `unix_micros`).
    */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Watermarked tumbling 1-hour aggregate — streaming twin of
    * `q42_hourly_window`.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Stateful sessionizer tracking each user's CURRENT OPEN session across
    * micro-batches via `flatMapGroupsWithState` (the `KeyValueGroupedDataset`
    * custom-state surface). Each batch emits, per active user: any sessions
    * CLOSED within the batch (a gap-exceeding event finalizes its
    * predecessor), any standalone ORPHAN sessions from late events older
    * than the current session's reach, and the updated OPEN session — so a
    * key can emit several rows per batch, matching the batch twin
    * `q26_sessionize` (global sort + gap split) row-for-row except that
    * orphan late events are not merged with each other (that would require
    * buffering every late event until the watermark). State is unbounded
    * (NoTimeout); for the bounded-state, timeout-finalized closed-session
    * stream use [[sessionizeClosed]].
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val orphans = Seq.newBuilder[SessionOut]
          val s = sorted.foldLeft(state.getOption) {
            case (None, e) =>
              Some(SessionState(micros(e.ts), micros(e.ts), 1, e.value))
            case (Some(st), e) =>
              val us = micros(e.ts)
              if (us - st.last_us > gapUs) {
                // gap exceeded → emit the superseded session before replacing
                // it (a session that opens AND closes inside one batch would
                // otherwise never reach the sink; the batch twin emits it)
                orphans += SessionOut(userId, st.start_us, st.last_us,
                  st.n_events, st.total_value)
                Some(SessionState(us, us, 1, e.value))
              } else if (st.start_us - us > gapUs) {
                // a late event more than `gap` OLDER than the session start
                // belongs to an earlier, already-gone session — merging it
                // would diverge from the batch twin (q26 sorts globally and
                // splits on the gap). Emit it as a standalone session; late
                // orphans are not merged with EACH OTHER (that would need
                // buffering every late event until the watermark — a
                // documented approximation).
                orphans += SessionOut(userId, us, us, 1, e.value)
                Some(st)
              } else
                // min/max guards: a within-watermark LATE event arriving in a
                // later micro-batch (us < st.last_us) must extend, never
                // regress, the session bounds — otherwise a subsequent
                // on-time event could see a spurious gap vs the regressed
                // last_us and split one real session in two
                Some(st.copy(start_us = math.min(st.start_us, us),
                  last_us = math.max(st.last_us, us), n_events = st.n_events + 1,
                  total_value = st.total_value + e.value))
          }.get
          state.update(s)
          (orphans.result() :+
            SessionOut(userId, s.start_us, s.last_us, s.n_events, s.total_value)).iterator
      }
  }

  /** Stream-stream interval join: clicks joined to purchases by the same
    * user within `withinSeconds` AFTER the click. Both sides carry
    * watermarks so Spark bounds the join state (buffered rows are dropped
    * once the watermark passes the interval) — the streaming counterpart of
    * [[graft.ops.RangeJoin]].
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
      withinSeconds: Long, watermarkDelay: String = "30 seconds"): DataFrame = {
    val c = clicks
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Event-time sessionizer emitting CLOSED sessions: per-user state with an
    * event-time timeout at `last_event + gap`; when the watermark passes it,
    * the session is emitted and the state cleared (at once, if a late file
    * leaves a session whose timeout the watermark has already passed). This
    * is the `flatMapGroupsWithState` + `EventTimeTimeout` production shape —
    * output is append-mode (finalized sessions only), state is bounded by
    * the watermark. The update-mode twin ([[sessionize]]) emits open
    * sessions.
    */
  def sessionizeClosed(events: Dataset[Event], gapSeconds: Long,
      watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start_us, s.last_us, s.n_events, s.total_value))
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val closed = Seq.newBuilder[SessionOut]
            val gapUs = gapSeconds * 1000000
            val s = sorted.foldLeft(state.getOption) {
              case (None, e) =>
                Some(SessionState(micros(e.ts), micros(e.ts), 1, e.value))
              case (Some(st), e) =>
                val us = micros(e.ts)
                if (us - st.last_us > gapUs) {
                  closed += SessionOut(userId, st.start_us, st.last_us, st.n_events, st.total_value)
                  Some(SessionState(us, us, 1, e.value))
                } else if (st.start_us - us > gapUs) {
                  // orphan late event from an earlier session — emit closed
                  // immediately rather than corrupting the current session
                  // (see the same branch in [[sessionize]])
                  closed += SessionOut(userId, us, us, 1, e.value)
                  Some(st)
                } else
                  // same late-event guard as [[sessionize]]: never regress
                  // the stored session bounds
                  Some(st.copy(start_us = math.min(st.start_us, us),
                    last_us = math.max(st.last_us, us), n_events = st.n_events + 1,
                    total_value = st.total_value + e.value))
            }.get
            val expiryMs = s.last_us / 1000 + gapSeconds * 1000
            if (expiryMs < state.getCurrentWatermarkMs()) {
              // a file that arrives batches late can open (or extend) a
              // session whose expiry the watermark has already passed;
              // Spark rejects such a timeout, so close the session now —
              // what the timeout would have done
              state.remove()
              closed += SessionOut(userId, s.start_us, s.last_us, s.n_events, s.total_value)
            } else {
              state.update(s)
              state.setTimeoutTimestamp(expiryMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class LatestOut(user_id: Long, event_type: String, ts_us: Long,
      event_id: Long, value: Double)

  /** Streaming SCD-1 — the continuously-materialized twin of
    * [[graft.ops.Merge.upsert]] (and of the batch `q18_latest_event_per_key`):
    * per (user, event_type) key, state holds the winning row and each batch
    * emits the current winner. Out-of-order, late, or REPLAYED events never
    * regress the state — an arrival wins only if its (ts, event_id) is
    * strictly greater than the stored one (same total order as q18's window
    * sort), so at-least-once delivery is absorbed idempotently.
    *
    * State is one fixed-size row per live key, the minimal CDC-view
    * footprint; with key churn, wrap with an event-time timeout upstream
    * the way [[sessionizeClosed]] does.
    */
  def upsertLatest(events: Dataset[Event]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[LatestOut, LatestOut](GroupStateTimeout.NoTimeout) {
        case ((uid, etype), rows, state: GroupState[LatestOut]) =>
          val winner = (state.getOption.iterator ++
            rows.map(e => LatestOut(uid, etype, micros(e.ts), e.event_id, e.value)))
            .maxBy(o => (o.ts_us, o.event_id))
          state.update(winner)
          winner
      }
  }

  /** Streaming exact dedup: at-least-once sources (Kafka, file re-lists,
    * replayed batches) deliver duplicates; drop repeats of the same
    * `event_id` arriving within the watermark window via
    * `dropDuplicatesWithinWatermark` — unlike plain `dropDuplicates`, the
    * dedup state is EVICTED once the watermark passes, so state stays
    * bounded at any stream length. The batch twin is W1 latest-per-key
    * (q18); the ingestion twin is `IncrementalIngest`'s bookmark dedupe.
    */
  def dedupedEvents(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Checkpointed incremental sink: `foreachBatch` parquet-append driven by
    * `Trigger.AvailableNow` — the streaming-native replacement for the
    * reference's JSON bookmark files (`go-incremental-ingest-elt.py:
    * 144-157`): source offsets live in the checkpoint, so a re-run with the
    * same checkpoint ingests NOTHING twice (exactly-once per batch), the
    * property the reference implements by hand with
    * advance-bookmark-after-write.
    */
  def incrementalParquetSink(stream: DataFrame, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is at-least-once: a crash between a successful write
        // and the checkpoint commit replays the same batchId. Partitioning
        // by batch_id with dynamic overwrite makes the replay IDEMPOTENT —
        // the re-run replaces its own partition instead of appending twice.
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** File-stream ingestion of the events table with `Trigger.AvailableNow`
    * parity: returns the streaming DataFrame; callers attach
    * `.writeStream.trigger(Trigger.AvailableNow()).option("checkpointLocation", ...)`.
    */
  /** `maxFilesPerTrigger > 0` caps each micro-batch at that many input
    * files — the file-stream source batches whole files, so this is the
    * lever that turns a multi-file events directory into a genuine
    * multi-batch drain (checkpointed incremental state, per-batch
    * emissions) instead of one bulk batch. 0 = unlimited (AvailableNow
    * then takes everything available in as few batches as it likes).
    */
  def readEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val path = s"$dir/events.parquet"
    // the schema probe sets the legacy nanosAsLong conf iff the footer needs
    // it, so the readStream below resolves under the same conf state
    val schema = graft.core.Tables.readMaybeLegacyNanos(spark, path).schema
    // same ts canonicalization as the batch reader (Tables.events) — the
    // file's physical ts type (int64 nanos vs micros timestamp) is a
    // generator choice, and batch/stream parity must not depend on it.
    // Path handling: events.parquet is a single FILE in driver testdata but
    // a DIRECTORY of part files in ScaleUp output; the file-stream source
    // requires a directory basePath, so the single-file layout streams from
    // the parent dir with a name filter.
    val reader0 = spark.readStream.schema(schema)
    val reader = if (maxFilesPerTrigger > 0)
      reader0.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader0
    val raw =
      if (new java.io.File(path).isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.core.Tables.canonicalizeEventsTs(raw)
  }
}
