package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Session, SessionEvent, Sessionize}

/** The sessionization state kernel run through Structured Streaming
  * (MemoryStream → flatMapGroupsWithState → memory sink), proving the
  * batch and streaming paths share semantics (SURVEY.md §2.10). */
class StreamingSpec extends AnyFunSuite with SharedSpark {
  // offset from epoch: rows at event-time <= the initial watermark (epoch 0)
  // would be dropped as late data
  private val base = 1704067200000L // 2024-01-01T00:00:00Z
  private def ts(min: Long) = new Timestamp(base + min * 60000L)

  test("flatMapGroupsWithState sessionizes by gap; flush on stream end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = Sessionize.streamSessions(input.toDS(), gapSec = 600,
      watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two sessions separated by a 30-min gap; user 2: one session
      input.addData(
        SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(5), 2.0),
        SessionEvent(2L, ts(0), 5.0))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, ts(40), 3.0)) // > 600s gap → closes s1
      q.processAllAvailable()
      // advance event time far enough that the timeout flushes session 2
      input.addData(SessionEvent(3L, ts(200), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess").as[Session].collect()
        .map(s => (s.user_id, (s.start_ts.getTime - base) / 60000,
          (s.end_ts.getTime - base) / 60000, s.n_events, s.total_value)).toSet
      // session 1 of user 1: events at 0 and 5, flushed by the t=40 event
      assert(got.contains((1L, 0L, 5L, 2L, 3.0)))
      // user 2's only session flushed by event-time timeout
      assert(got.contains((2L, 0L, 0L, 1L, 5.0)))
    } finally q.stop()
  }

  test("windowed event-time aggregation runs as a streaming query (§2.10)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val agg = input.toDS()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("wstart"), $"user_id", $"n", $"total")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    try {
      input.addData(
        SessionEvent(1L, ts(5), 1.0), SessionEvent(1L, ts(10), 2.0),
        SessionEvent(1L, ts(35), 4.0))
      q.processAllAvailable()
      // advance the watermark past the first window's end
      input.addData(SessionEvent(2L, ts(120), 0.0))
      q.processAllAvailable()
      val got = spark.table("winagg")
        .select($"user_id", $"n", $"total").as[(Long, Long, Double)]
        .collect().toSet
      // first 30-min window of user 1 closed by the watermark: 2 events
      assert(got.contains((1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("watermark DROPS late data: a closed window never re-emits, and the " +
       "stream equals the batch aggregate over the on-time subset") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val agg = input.toDS()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("wstart"), $"user_id", $"n", $"total")
    val q = agg.writeStream.format("memory").queryName("lateagg")
      .outputMode("append").start()
    try {
      input.addData(SessionEvent(1L, ts(5), 1.0))     // window [0, 30)
      q.processAllAvailable()
      input.addData(SessionEvent(1L, ts(120), 0.5))   // watermark → 110
      q.processAllAvailable()                          // closes [0, 30)
      input.addData(SessionEvent(1L, ts(7), 99.0))    // LATE: 7 << 110
      q.processAllAvailable()
      input.addData(SessionEvent(1L, ts(240), 0.25))  // flush [120, 150)
      q.processAllAvailable()
      val got = spark.table("lateagg")
        .select(((col("wstart").cast("long") * 1000 - base) / 60000).cast("long").as("wmin"),
          $"user_id", $"n", $"total")
        .as[(Long, Long, Long, Double)].collect().toSet
      // the closed [0, 30) window emitted ONCE, without the late 99.0
      assert(got.count(_._1 == 0L) == 1)
      assert(got.contains((0L, 1L, 1L, 1.0)))
      // and the emitted rows equal a batch aggregate over on-time events
      val onTime = Seq((1L, ts(5), 1.0), (1L, ts(120), 0.5))
        .toDF("user_id", "ts", "value")
        .groupBy(window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n"), sum($"value").as("total"))
        .select(((col("window.start").cast("long") * 1000 - base) / 60000).cast("long").as("wmin"),
          $"user_id", $"n", $"total")
        .as[(Long, Long, Long, Double)].collect().toSet
      // (the t=240 event's own window never closes, so it isn't emitted)
      assert(got == onTime,
        s"stream output $got must equal the on-time batch aggregate $onTime")
    } finally q.stop()
  }

  test("batch and streaming forms agree on session boundaries") {
    import spark.implicits._
    val events = Seq(
      (0L, ts(0), 1L, "click", 1.0, "{}"),
      (1L, ts(5), 1L, "click", 2.0, "{}"),
      (2L, ts(90), 1L, "click", 3.0, "{}"),
      (3L, ts(95), 1L, "click", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = Sessionize.batchSessions(events, gapSec = 3600)
      .orderBy("session_idx")
      .select("n_events", "total_value").as[(Long, Double)].collect().toList
    assert(sessions == List((2L, 3.0), (2L, 7.0)))
  }

  test("st1 on the FIXTURE: streamed event-time windows == batch windows " +
       "(event-time semantics survive the events.ts physical type)") {
    // Round-5 regression class: the driver flipped events.ts from
    // TIMESTAMP(NANOS) to TIMESTAMP_MICROS/NTZ and every consumer broke.
    // This pins the other half of the contract the canary can't: the
    // loader's timestamps must behave identically as STREAMING event time
    // (watermark + window) and as batch group keys — a unit or zone slip
    // in the adaptive branch would shift window boundaries here.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    def windowed(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("total"))
    val fixture = Tables.events(spark, sf)
      .select("ts", "event_type", "value")
      .as[(Timestamp, String, Double)].collect()
    val batch = windowed(Tables.events(spark, sf)).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = windowed(input.toDS().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour"))
    val q = agg.writeStream.format("memory").queryName("fixturewin")
      .outputMode("append").start()
    try {
      input.addData(fixture.toSeq: _*)
      q.processAllAvailable()
      // sentinel far past the data: advances the watermark so every real
      // window closes and emits (its own window never closes → excluded)
      val flushTs = new Timestamp(fixture.map(_._1.getTime).max + 30L * 86400000)
      input.addData((flushTs, "___flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("fixturewin")
        .filter(col("event_type") =!= "___flush").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed.keySet == batch.keySet,
        s"window/key sets differ: onlyStream=${(streamed.keySet -- batch.keySet).take(3)} " +
          s"onlyBatch=${(batch.keySet -- streamed.keySet).take(3)}")
      streamed.foreach { case (k, (n, total)) =>
        val (bn, btotal) = batch(k)
        assert(n == bn, s"count mismatch at $k: stream $n batch $bn")
        assert(math.abs(total - btotal) < 1e-6,
          s"sum mismatch at $k: stream $total batch $btotal")
      }
    } finally q.stop()
  }
}
