package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming specs: the streaming twins must agree with their
  * batch equivalents on the same events (SURVEY.md §2.9 extension). */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val sample = Seq(
    Event(0, ts(5), 1, "click", 1.0),
    Event(1, ts(10), 1, "click", 2.0),
    Event(2, ts(70), 1, "view", 3.0),   // new hour, and >30min gap -> new session
    Event(3, ts(75), 2, "click", 4.0),
    Event(4, ts(80), 1, "click", 5.0)
  )

  test("hourlyCounts over a memory stream matches the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = EventStreams.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly_test").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("hourly_test")
      .orderBy("hour_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 01:00:00.0", "click", 2L, 9.0),
      ("2024-01-01 01:00:00.0", "view", 1L, 3.0)))
  }

  test("stateful sessionize closes sessions on the 30-minute gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    // AvailableNow: process what's there, then stop — processAllAvailable
    // never settles under ProcessingTimeTimeout's continual timeout batches.
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_test").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000)
    finally q.stop()
    // sessions *closed* so far: user 1's first session (events at 00:05,00:10)
    // — later events are still open in state awaiting the timeout.
    val got = spark.table("sess_test")
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
    assert(got.toSeq == Seq((1L, "2024-01-01 00:05:00.0", "2024-01-01 00:10:00.0", 2L)))
  }

  test("hourlyCounts over a parquet file source matches the batch result") {
    // real readStream path: stream the events table out of a directory and
    // compare the windowed aggregate with the batch computation
    val dir = scratch("stream_src")
    // watermarks require TIMESTAMP (with local tz); session tz is UTC so
    // the cast from NTZ preserves instants
    val events = Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream
      .schema(events.schema)
      .parquet(dir)
    val q = EventStreams.hourlyCounts(streamed)
      .writeStream.format("memory").queryName("hourly_file_test").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("hourly_file_test")
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
    val want = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("streaming dedupe drops duplicate event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // event 1 redelivered with a DIFFERENT value, so which delivery
    // survives is observable (a same-value redelivery would make the
    // first-wins assertion vacuous)
    mem.addData(sample: _*)
    mem.addData(Event(1, ts(12), 1, "click", 99.0), Event(5, ts(90), 2, "view", 6.0))
    val q = EventStreams.dedupe(mem.toDF())
      .writeStream.format("memory").queryName("dedupe_test").outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("dedupe_test")
      .orderBy("event_id")
      .collect().map(r => r.getLong(0))
    // one row per distinct event_id, first delivery wins
    assert(got.toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val kept = spark.table("dedupe_test").filter(col("event_id") === 1).collect()
    assert(kept.length == 1 && kept(0).getAs[Double]("value") == 2.0,
      "redelivered event replaced the first delivery")
  }

  test("foldBatch merges late cross-batch events without moving the session end backwards") {
    import graft.streaming.EventStreams.{Event => E, SessionState}
    val gap = 30L * 60 * 1000
    // open session ended at minute 60
    val st0 = Some(SessionState(ts(40).getTime, ts(60).getTime, 2))
    // late event at minute 50 (before current end), then one at 75 (within gap)
    val (closed1, st1) = EventStreams.foldBatch(1, Seq(
      E(10, ts(50), 1, "click", 1.0), E(11, ts(75), 1, "click", 1.0)), st0, gap)
    assert(closed1.isEmpty)
    assert(st1.get == SessionState(ts(40).getTime, ts(75).getTime, 4))
    // a late event must NOT create a bogus new session via a negative gap
    val (closed2, st2) = EventStreams.foldBatch(1, Seq(E(12, ts(95), 1, "click", 1.0)), st1, gap)
    assert(closed2.isEmpty && st2.get.last == ts(95).getTime)
    // beyond the gap closes the session with a consistent start <= end
    val (closed3, st3) = EventStreams.foldBatch(1, Seq(E(13, ts(180), 1, "click", 1.0)), st2, gap)
    assert(closed3 == Seq(EventStreams.Session(1, ts(40), ts(95), 5)))
    assert(st3.get == SessionState(ts(180).getTime, ts(180).getTime, 1))
  }

  test("batch sessionization (an12) agrees with a hand-computed case") {
    import spark.implicits._
    val df = sample.toDF()
    df.createOrReplaceTempView("events_mini")
    val out = SparkEntry.registry.find(_.name == "an12_sessionize").get
    // run the same logic on the real sf0.001 events table: session count sanity
    val sessions = out.run(spark, sfDir)
    val n = sessions.count()
    assert(n > 0)
    // every session must have start <= end and n_events >= 1
    val bad = sessions.filter(col("start_ts") > col("end_ts") || col("n_events") < 1).count()
    assert(bad == 0)
  }

  test("foldBatch is split-invariant and conserves events (seeded property)") {
    import graft.streaming.EventStreams.{Event => E}
    val gap = 30L * 60 * 1000
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 200) {
      // sorted in-order arrival: micro-batch boundaries must not matter
      var minute = rnd.nextInt(60)
      val events = (0 until 1 + rnd.nextInt(20)).map { i =>
        minute += rnd.nextInt(90) // gaps straddle the 30-min threshold
        E(i.toLong, ts(minute), 1, "click", 1.0)
      }
      val (closedWhole, stWhole) = EventStreams.foldBatch(1, events, None, gap)
      val cut                    = rnd.nextInt(events.size + 1)
      val (c1, st1)              = EventStreams.foldBatch(1, events.take(cut), None, gap)
      val (c2, st2)              = EventStreams.foldBatch(1, events.drop(cut), st1, gap)
      assert(c1 ++ c2 == closedWhole, s"trial $trial: split at $cut changed closed sessions")
      assert(st2 == stWhole, s"trial $trial: split at $cut changed open state")
      // conservation: every event lands in exactly one session (or the open state)
      val total = closedWhole.map(_.n_events).sum + stWhole.map(_.n).getOrElse(0L)
      assert(total == events.size)
      // closed sessions are ordered and separated by more than the gap
      closedWhole.sliding(2).foreach {
        case Seq(a, b) => assert(a.session_end.getTime + gap < b.session_start.getTime)
        case _         =>
      }
    }
  }

  test("the checkpoint-manager swap applies only to a file: checkpoint root") {
    val key    = "spark.sql.streaming.checkpointFileManagerClass"
    val before = spark.conf.getOption(key)
    val remote = graft.streaming.StreamQueries.withLocalCkptManager(spark, "s3a://bucket/ckpt") {
      spark.conf.getOption(key)
    }
    assert(remote == before, "a non-file: checkpoint root must keep Spark's checkpoint manager")
    val local = graft.streaming.StreamQueries.withLocalCkptManager(spark) {
      spark.conf.getOption(key)
    }
    assert(local.exists(_.endsWith(".FileSystemBasedCheckpointFileManager")), local)
    assert(spark.conf.getOption(key) == before, "the swap was not restored")
  }
}
