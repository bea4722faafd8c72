package graft.streaming

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class EventStreamsSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming hourly counts with watermark over MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.hourlyCounts(input.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:05:00"), 7, "click", 1.5),
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:45:00"), 7, "click", 2.5),
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 11:05:00"), 8, "view", 4.0))
      q.processAllAvailable()
      val out = spark.table("hourly_test")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(out.contains(("2024-01-01 10:00:00.0", "click", 2L, 4.0)))
      assert(out.contains(("2024-01-01 11:00:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("stateful sessionizer carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // second micro-batch: state must continue the same session
      input.addData(
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 7, "click", 2.0))
      q.processAllAvailable()
      val s = spark.table("session_test").as[EventStreams.SessionOut].collect()
        .maxBy(_.n_events)
      assert(s.n_events == 2 && s.total_value == 3.0)
      assert(s.end_us - s.start_us == 600L * 1000000)
      // third micro-batch beyond the gap: a NEW session starts
      input.addData(
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 13:00:00"), 7, "click", 5.0))
      q.processAllAvailable()
      val latest = spark.table("session_test").as[EventStreams.SessionOut].collect()
        .maxBy(_.start_us)
      assert(latest.n_events == 1 && latest.total_value == 5.0)
    } finally q.stop()
  }

  test("late within-watermark event extends, never regresses, session bounds") {
    // Regression for the round-1 advice: an unconditional last_us = us let a
    // LATE event (older than the stored last_us) regress the session end;
    // the next on-time event then saw a spurious gap and split the session.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    // gap 1500 s: with the bug, the 10:30 event measures 10:30-10:00 =
    // 1800 s > gap and wrongly starts a new session; correct last_us 10:10
    // gives 1200 s < gap and continues the session.
    val q = EventStreams.sessionize(input.toDS(), gapSeconds = 1500)
      .writeStream.format("memory").queryName("late_session_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:10:00"), 9, "click", 1.0))
      q.processAllAvailable()
      input.addData( // late but within gap of the stored state
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:00:00"), 9, "click", 2.0))
      q.processAllAvailable()
      input.addData( // on-time: must continue the SAME session
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 10:30:00"), 9, "click", 4.0))
      q.processAllAvailable()
      val s = spark.table("late_session_test").as[EventStreams.SessionOut].collect()
        .maxBy(_.n_events)
      assert(s.n_events == 3, s"session split by late event: $s")
      assert(s.total_value == 7.0)
      assert(s.start_us == Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000)
      assert(s.end_us == Timestamp.valueOf("2024-01-01 10:30:00").getTime * 1000)
    } finally q.stop()
  }

  test("orphan late event (older than start minus gap) is its own session") {
    // Review finding: merging a late event from BEFORE the current session's
    // reach corrupts start/count/value vs the batch twin, which sorts
    // globally and splits on the gap. It must surface as a standalone
    // session and leave the current session untouched.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(input.toDS(), gapSeconds = 1500)
      .writeStream.format("memory").queryName("orphan_session_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:10:00"), 11, "click", 1.0))
      q.processAllAvailable()
      input.addData( // 70 min older than the session start; gap is 25 min
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 09:00:00"), 11, "click", 2.0))
      q.processAllAvailable()
      input.addData( // continues the CURRENT session, not the orphan
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 10:20:00"), 11, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("orphan_session_test").as[EventStreams.SessionOut].collect()
      val orphan = rows.filter(_.start_us == Timestamp.valueOf("2024-01-01 09:00:00").getTime * 1000)
      assert(orphan.nonEmpty && orphan.forall(s => s.n_events == 1 && s.total_value == 2.0))
      val current = rows.maxBy(r => (r.start_us, r.n_events))
      assert(current.start_us == Timestamp.valueOf("2024-01-01 10:10:00").getTime * 1000)
      assert(current.n_events == 2 && current.total_value == 5.0)
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventStreams.Event]
    val purchases = MemoryStream[EventStreams.Event]
    val q = EventStreams.clickToPurchase(clicks.toDF(), purchases.toDF(),
      withinSeconds = 600)
      .writeStream.format("memory").queryName("click_purchase")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 0),
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 11:00:00"), 7, "click", 0))
      purchases.addData(
        EventStreams.Event(10, Timestamp.valueOf("2024-01-01 10:05:00"), 7, "purchase", 5.0),
        EventStreams.Event(11, Timestamp.valueOf("2024-01-01 12:00:00"), 7, "purchase", 6.0))
      q.processAllAvailable()
      val pairs = spark.table("click_purchase")
        .collect().map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
      assert(pairs == Set((1L, 10L)),
        s"only the purchase within 10 min of a click should pair: $pairs")
    } finally q.stop()
  }

  test("event-time sessionizer emits closed sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionizeClosed(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 7, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("closed_sessions").isEmpty, "session still open")
      // events far past the gap advance the watermark beyond the timeout
      input.addData(
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 16:00:00"), 8, "view", 9.0))
      q.processAllAvailable()
      input.addData(
        EventStreams.Event(4, Timestamp.valueOf("2024-01-01 16:05:00"), 8, "view", 1.0))
      q.processAllAvailable()
      val closed = spark.table("closed_sessions").as[EventStreams.SessionOut].collect()
      assert(closed.exists(s => s.user_id == 7 && s.n_events == 2 && s.total_value == 3.0),
        s"expected user 7's closed session, got: ${closed.mkString(";")}")
    } finally q.stop()
  }

  test("event-time sessionizer closes a late file's sessions the watermark already passed") {
    // Five day-files drained one file per trigger, d2 arriving after d3. In
    // an AvailableNow file drain the late-row filter trails by two triggers
    // and the eviction watermark by one, so d2's rows pass the filter while
    // the watermark already stands at d3. A user seen only on d2 opens a
    // session whose expiry (last event + gap) is behind the watermark: it
    // must be emitted closed, not rejected as a timeout earlier than the
    // watermark. (Had d2 followed d4 as well, the late-row filter would
    // have dropped it whole.)
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-late-file")
    val landed = dir.resolve("events.parquet")
    java.nio.file.Files.createDirectories(landed)
    def day(d: Int): Seq[EventStreams.Event] = for {
      user <- Seq(1L, 10L + d)
      k <- 0 until 12 // 08:00 to 11:40, one event every 20 min
    } yield EventStreams.Event(d * 10000L + user * 100 + k,
      Timestamp.valueOf(f"2024-01-${d + 1}%02d ${8 + k / 3}%02d:${k % 3 * 20}%02d:00"),
      user, "click", 1.0)
    val arrival = Seq(0, 1, 3, 2, 4)
    val t0 = System.currentTimeMillis() - 3600000L
    arrival.zipWithIndex.foreach { case (d, slot) =>
      val tmp = dir.resolve(s"tmp-$d").toString
      day(d).toDS().coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head.toPath
      val dst = landed.resolve(s"part-$d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + slot * 1000L))
    }
    val events = EventStreams.readEventStream(spark, dir.toString, maxFilesPerTrigger = 1)
      .select("event_id", "ts", "user_id", "event_type", "value").as[EventStreams.Event]
    val q = EventStreams.sessionizeClosed(events, gapSeconds = 7200)
      .writeStream.format("memory").queryName("late_file_sessions")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception.map(_.getMessage).getOrElse(""))
    assert(q.recentProgress.count(_.numInputRows > 0) == arrival.size)
    val sessions = spark.table("late_file_sessions").as[EventStreams.SessionOut].collect()
    assert(sessions.forall(_.n_events >= 1), sessions.mkString(";"))
    assert(sessions.map(_.n_events).sum <= arrival.size * 24L, "an event was counted twice")
    // the late file's own user is closed with all 12 of its events
    assert(sessions.filter(_.user_id == 12L).map(_.n_events).toSeq == Seq(12L),
      sessions.mkString(";"))
  }

  test("streaming exact dedup drops within-watermark replays, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.dedupedEvents(input.toDF(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:01:00"), 7, "view", 2.0),
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:01:00"), 7, "view", 2.0))
      q.processAllAvailable()
      // an at-least-once replay of event 2 in a LATER micro-batch, still
      // inside the watermark window — must be dropped by kept state
      input.addData(
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:01:00"), 7, "view", 2.0),
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 10:02:00"), 8, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").as[EventStreams.Event]
        .collect().map(_.event_id).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)),
        s"expected each event once, got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("checkpointed foreachBatch sink is exactly-once across re-runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = s"$dir/landing"
    val ckpt = s"$dir/ckpt"
    def runOnce(): Unit = {
      val q = EventStreams.incrementalParquetSink(
        EventStreams.readEventStream(spark, sf), out, ckpt)
      q.awaitTermination(120000)
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == spark.read.parquet(s"$sf/events.parquet").count(),
      "first run lands the full table")
    runOnce() // same checkpoint: offsets already committed → nothing new
    assert(spark.read.parquet(out).count() == n1,
      "re-run with the same checkpoint must ingest nothing twice")
  }

  test("file-stream parity read: AvailableNow over the events table") {
    import org.apache.spark.sql.streaming.Trigger
    val stream = EventStreams.readEventStream(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; the final window stays
    // open, so compare against all-but-the-last-hour of the batch twin
    val streamed = spark.table("file_stream_test").count()
    val batch = graft.queries.EventsQ.hourlyWindow(spark, sf).count()
    assert(streamed > 0, "streaming read produced no closed windows")
    assert(streamed <= batch)
  }

  test("upsertLatest: late and replayed events never regress per-key state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.upsertLatest(input.toDS())
      .writeStream.format("memory").queryName("upsert_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStreams.Event(5, Timestamp.valueOf("2024-01-01 10:30:00"), 1, "click", 5.0))
      q.processAllAvailable()
      // late arrival (older ts) + exact replay of the winner: state unchanged
      input.addData(
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 2.0),
        EventStreams.Event(5, Timestamp.valueOf("2024-01-01 10:30:00"), 1, "click", 5.0))
      q.processAllAvailable()
      // genuinely newer event wins; separate key tracked independently
      input.addData(
        EventStreams.Event(9, Timestamp.valueOf("2024-01-01 11:00:00"), 1, "click", 9.0),
        EventStreams.Event(7, Timestamp.valueOf("2024-01-01 10:15:00"), 1, "view", 7.0))
      q.processAllAvailable()
      val rows = spark.table("upsert_test").as[EventStreams.LatestOut].collect()
      // last emission per key is the live state
      val byKey = rows.groupBy(o => (o.user_id, o.event_type))
        .map { case (k, vs) => k -> vs.last }
      assert(byKey((1L, "click")).event_id == 9L)
      assert(byKey((1L, "view")).event_id == 7L)
      // the middle batch (late + replay) must have re-emitted event 5, not 2
      val clickEmissions = rows.filter(o => o.event_type == "click").map(_.event_id)
      assert(!clickEmissions.contains(2L), "late event must not take over state")
    } finally q.stop()
  }

  test("upsertLatest: end-state parity with the batch latest-per-key twin (q18)") {
    import org.apache.spark.sql.streaming.Trigger
    val stream = EventStreams.readEventStream(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val state = new java.util.concurrent.ConcurrentHashMap[(Long, String),
      EventStreams.LatestOut]()
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val q = EventStreams.upsertLatest(stream).toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach { r =>
          val o = EventStreams.LatestOut(r.getLong(0), r.getString(1),
            r.getLong(2), r.getLong(3), r.getDouble(4))
          state.put((o.user_id, o.event_type), o)
        }
      }
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val batchTwin = graft.queries.WindowsQ.latestEventPerKey(spark, sf)
      .collect()
      .map(r => (r.getLong(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(0), r.getDouble(4)))).toMap
    assert(state.size() == batchTwin.size, "key cardinality must match q18")
    batchTwin.foreach { case (k, (tsUs, eid, value)) =>
      val s = state.get(k)
      assert(s != null && s.ts_us == tsUs && s.event_id == eid && s.value == value,
        s"state for $k diverged from the batch twin")
    }
  }
}
