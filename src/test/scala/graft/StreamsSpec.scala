package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

class StreamsSpec extends AnyFunSuite with SparkTest {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling window aggregates with watermark (complete mode)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.tumblingHourly(events)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 10:55:00"), 1L, "click", 2.0),
        (3L, ts("2024-01-01 11:05:00"), 1L, "view", 4.0))
      q.processAllAvailable()
      val out = s.table("tumbling_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(out == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("stream-stream view/purchase join matches the batch join and respects the window") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def row(id: Long, t: String, u: Long, typ: String, v: Double) =
      (id, ts(t), u, typ, v)
    val data = Seq(
      row(1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      row(2L, "2024-01-01 10:30:00", 1L, "purchase", 9.0), // within 1h of view 1
      row(3L, "2024-01-01 12:30:00", 1L, "purchase", 7.0), // > 1h after view 1
      row(4L, "2024-01-01 10:10:00", 2L, "view", 0.0), // other user, no purchase
      row(5L, "2024-01-01 09:59:00", 3L, "purchase", 5.0), // before the view
      row(6L, "2024-01-01 10:01:00", 3L, "view", 0.0))
    val vIn = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val pIn = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.viewPurchaseJoin(named(vIn.toDF()), named(pIn.toDF()))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      vIn.addData(data.filter(_._4 == "view"))
      pIn.addData(data.filter(_._4 == "purchase"))
      q.processAllAvailable()
      val out = s.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // only user 1's view->purchase within the hour survives
      assert(out == Set((1L, 1L, 2L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched views with NULLs after watermark expiry") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def row(id: Long, t: String, u: Long, typ: String, v: Double) =
      (id, ts(t), u, typ, v)
    val vIn = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val pIn = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.viewPurchaseJoinOuter(named(vIn.toDF()), named(pIn.toDF()))
      .writeStream.format("memory").queryName("ssj_outer_out")
      .outputMode("append").start()
    try {
      // user 1 converts inside the hour; user 9's view never converts
      vIn.addData(Seq(
        row(1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
        row(3L, "2024-01-01 10:05:00", 9L, "view", 0.0)))
      pIn.addData(Seq(row(2L, "2024-01-01 10:30:00", 1L, "purchase", 9.0)))
      q.processAllAvailable()
      // push the watermark (min over BOTH streams) far past
      // view.ts + window + delay so the engine can prove no-match;
      // two advancing batches because outer-null rows flush in the
      // batch AFTER the watermark update lands
      for (t <- Seq("2024-01-02 10:00:00", "2024-01-02 11:00:00")) {
        vIn.addData(Seq(row(90L, t, 7L, "view", 0.0)))
        pIn.addData(Seq(row(91L, t, 8L, "purchase", 1.0)))
        q.processAllAvailable()
      }
      val out = s.table("ssj_outer_out").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(out.contains((1L, 1L, 2L)), s"matched view must join: $out")
      assert(out.contains((9L, 3L, -1L)), s"expired unmatched view must emit with NULLs: $out")
      // the advance rows' own watermark has not passed: not emitted yet
      assert(!out.exists(_._2 == 90L), s"late advance view must still be buffered: $out")
    } finally q.stop()
  }

  test("lastTouchStream attributes across batches and ignores regressive late touches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .as[Streams.Event]
    val q = Streams.lastTouchStream(events,
      touches = Set("view", "click"), conversion = "purchase",
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 views then clicks; user 2 converts cold
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
        (2L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
        (3L, ts("2024-01-01 10:02:00"), 2L, "purchase", 5.00))
      q.processAllAvailable()
      // batch 2: user 1 converts (credit crosses the batch boundary to
      // the click), then a LATE view predating the click arrives — it
      // must not regress the state
      input.addData(
        (4L, ts("2024-01-01 10:20:00"), 1L, "purchase", 10.50),
        (5L, ts("2024-01-01 10:01:00"), 1L, "view", 0.0))
      q.processAllAvailable()
      // batch 3: user 1 converts again; credit must still be the click
      input.addData((6L, ts("2024-01-01 10:30:00"), 1L, "purchase", 2.25))
      q.processAllAvailable()
      val out = s.table("attr_out").collect()
        .map(r => (r.getLong(1), r.getString(3), r.getLong(4))).toSet
      assert(out == Set(
        (3L, "direct", 500L),
        (4L, "click", 1050L),
        (6L, "click", 225L)), s"got $out")
      // aggregate agrees with the batch operator over the same events
      val batchDf = Seq(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
        (2L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
        (3L, ts("2024-01-01 10:02:00"), 2L, "purchase", 5.00),
        (4L, ts("2024-01-01 10:20:00"), 1L, "purchase", 10.50),
        (5L, ts("2024-01-01 10:01:00"), 1L, "view", 0.0),
        (6L, ts("2024-01-01 10:30:00"), 1L, "purchase", 2.25)
      ).toDF("event_id", "ts", "user_id", "event_type", "value")
      val batchAgg = graft.operators.Events
        .lastTouchAttribution(batchDf, Seq("view", "click"), "purchase")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val streamAgg = s.table("attr_out")
        .groupBy("channel")
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamAgg == batchAgg,
        s"stream $streamAgg must match batch $batchAgg")
    } finally q.stop()
  }

  test("closedSessions emits a session only when the watermark closes it") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .as[Streams.Event]
    val q = Streams.closedSessions(events,
      gapMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session); user 2: one event
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 10:10:00"), 1L, "click", 2.0),
        (3L, ts("2024-01-01 10:05:00"), 2L, "view", 5.0))
      q.processAllAvailable()
      assert(s.table("sess_out").count() == 0,
        "no session may close before the watermark passes its gap")
      // user 1 reappears long after the gap: old session must close and
      // a new one open; the late-moving watermark also closes user 2
      input.addData((4L, ts("2024-01-01 12:00:00"), 1L, "click", 4.0))
      q.processAllAvailable()
      // advance so user 2's timer fires, but keep the watermark
      // (12:20 - 10m = 12:10) short of user 1's new timer (12:30)
      input.addData((5L, ts("2024-01-01 12:20:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      val out = s.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4))).toSet
      assert(out.contains(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L, 3.0)),
        s"user 1's first session must close with both events: $out")
      assert(out.contains(
        (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:05:00.0", 1L, 5.0)),
        s"user 2's singleton session must close on timeout: $out")
      // user 1's second session (12:00) is still open: not emitted
      assert(!out.exists(t => t._1 == 1L && t._2.startsWith("2024-01-01 12")),
        s"open session must not be emitted: $out")
    } finally q.stop()
  }

  test("streaming heavy hitters match the batch aggregation (exact below capacity)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = graft.streaming.Streams.heavyHittersHourly(
      input.toDF().toDF("ts", "term"), "term", capacity = 64)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    try {
      val terms =
        (1 to 5).map(i => (ts("2024-01-01 10:01:00"), "hot")) ++
          Seq((ts("2024-01-01 10:30:00"), "cold"), (ts("2024-01-01 11:05:00"), "hot"))
      input.addData(terms.take(4))
      q.processAllAvailable()
      input.addData(terms.drop(4)) // spans micro-batches -> exercises merge
      q.processAllAvailable()
      val out = s.table("hh_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(out == Map(
        ("2024-01-01 10:00:00.0", "hot") -> 5L,
        ("2024-01-01 10:00:00.0", "cold") -> 1L,
        ("2024-01-01 11:00:00.0", "hot") -> 1L))
    } finally q.stop()
  }

  test("streaming incremental counts fold micro-batches; replayed batch ids are no-ops") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("incr_stream").toString
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.Streams.incrementalCountsStream(
      input.toDF().toDF("user_id", "units"), dir, "user_counts",
      Seq("user_id"), col("units"), s"$dir/ckpt",
      // ProcessingTime keeps the query live for multi-batch MemoryStream
      // driving (AvailableNow snapshots offsets at start and stops)
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData((1L, 10L), (1L, 5L), (2L, 7L))
      q.processAllAvailable()
      input.addData((1L, 1L), (3L, 9L))
      q.processAllAvailable()
      val out = graft.sources.Warehouse.read(s, dir, "user_counts")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out == Map(1L -> ((3L, 16L)), 2L -> ((1L, 7L)), 3L -> ((1L, 9L))))
      // replay the LAST batch id (crash-replay shape): must be a no-op
      val replay = Seq((1L, 100L)).toDF("user_id", "units")
      graft.streaming.Streams.foldCountsBatch(
        replay, batchId = 1L, dir, "user_counts", Seq("user_id"), col("units"))
      val after = graft.sources.Warehouse.read(s, dir, "user_counts")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(after == out, "replayed batch id must not double-count")
      // a NEW batch id folds normally
      graft.streaming.Streams.foldCountsBatch(
        replay, batchId = 2L, dir, "user_counts", Seq("user_id"), col("units"))
      val next = graft.sources.Warehouse.read(s, dir, "user_counts")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(next(1L) == ((4L, 116L)))
    } finally q.stop()
  }

  test("foldIngestBatch: keep-first admission, corpus blocks later dups, replay no-ops") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ingest_fold").toString
    val txtA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val txtB = "one two three four five six seven eight nine ten eleven"
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def fold(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.streaming.Streams.foldIngestBatch(b, id, dir, "corpus", "index",
        16, 8, 1, 2, portable = true)
    def admitted(): Set[Long] =
      graft.sources.Warehouse.read(s, dir, "corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 0: 1 and 2 are identical -> keep-first admits 1, drops 2;
    // 10 is unique -> admitted
    fold(docs(1L -> txtA, 2L -> txtA, 10L -> txtB), 0L)
    assert(admitted() == Set(1L, 10L))
    // batch 1: 3 dups the ADMITTED 1 -> rejected; 20 unique -> admitted
    fold(docs(3L -> txtA,
      20L -> "crimson amber violet indigo cobalt teal maroon olive navy plum"), 1L)
    assert(admitted() == Set(1L, 10L, 20L))
    // crash replay of batch 1 with different content: stamp skips it
    fold(docs(99L -> "completely different text that would be admitted"), 1L)
    assert(admitted() == Set(1L, 10L, 20L), "replayed batch id must no-op")
    // a NEW batch id folds normally
    fold(docs(99L -> "completely fresh unique ninety nine document text"), 2L)
    assert(admitted() == Set(1L, 10L, 20L, 99L))
    graft.operators.Caches.release()
  }

  test("watermark fold: late rows drop, boundary survives, replay skips watermark too") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wm_stream").toString
    def ev(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("user_id", "ts", "units")
        .withColumn("ts", to_timestamp($"ts"))
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.Streams.foldCountsWatermarkBatch(
        b, id, dir, "wm_counts", Seq("user_id"), col("units"), "ts",
        delayUs = 3600L * 1000000) // 1h delay
    def read() = graft.sources.Warehouse.read(s, dir, "wm_counts")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // batch 0: max event time 12:00 -> watermark becomes 11:00
    fold(ev((1L, "2024-03-01 10:00:00", 5L), (1L, "2024-03-01 12:00:00", 7L)), 0L)
    assert(read() == Map(1L -> ((2L, 12L))))
    // batch 1: 10:30 is BELOW the 11:00 watermark (drop), 11:00 is ON
    // it (keep — Spark's boundary rule), 13:00 keeps and advances
    fold(ev((1L, "2024-03-01 10:30:00", 100L), (1L, "2024-03-01 11:00:00", 3L),
      (2L, "2024-03-01 13:00:00", 9L)), 1L)
    val afterB1 = read()
    assert(afterB1 == Map(1L -> ((3L, 15L)), 2L -> ((1L, 9L))),
      s"late 10:30 row must drop, got $afterB1")
    // crash replay of batch 1: fold AND watermark advance must skip
    fold(ev((1L, "2024-03-01 11:30:00", 999L)), 1L)
    assert(read() == afterB1, "replayed id must not fold or move the watermark")
    // batch 2: 11:30 is below the advanced 12:00 watermark -> drops
    fold(ev((2L, "2024-03-01 11:30:00", 50L), (2L, "2024-03-01 14:00:00", 1L)), 2L)
    assert(read() == Map(1L -> ((3L, 15L)), 2L -> ((2L, 10L))))
  }

  test("streaming retraction fold repairs the aggregate and drops zeroed keys") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("retr_stream").toString
    val input = MemoryStream[(Long, Long, Int)]
    val q = graft.streaming.Streams.retractionCountsStream(
      input.toDF().toDF("user_id", "units", "op"), dir, "user_counts",
      Seq("user_id"), col("units"), col("op"), s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData((1L, 10L, 1), (1L, 5L, 1), (2L, 7L, 1))
      q.processAllAvailable()
      // batch 2: retract one of user 1's rows, fully revoke user 2,
      // insert user 3
      input.addData((1L, 5L, -1), (2L, 7L, -1), (3L, 9L, 1))
      q.processAllAvailable()
      val out = graft.sources.Warehouse.read(s, dir, "user_counts")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out == Map(1L -> ((1L, 10L)), 3L -> ((1L, 9L))),
        "user 2 fully retracted must vanish; user 1 keeps the surviving row")
    } finally q.stop()
  }

  test("retraction sink: crash between sink write and stream commit replays exactly-once") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("retr_crash").toString
    val input = MemoryStream[(Long, Long, Int)]
    def startQ() = graft.streaming.Streams.retractionCountsStream(
      input.toDF().toDF("user_id", "units", "op"), dir, "user_counts",
      Seq("user_id"), col("units"), col("op"), s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val q1 = startQ()
    try {
      input.addData((1L, 10L, 1), (2L, 7L, 1))
      q1.processAllAvailable()
    } finally q1.stop()

    // batch 1 (a retraction — the right-to-be-forgotten delta) arrives;
    // the process dies AFTER the sink's atomic swap but BEFORE the
    // streaming commit log records batch 1 — the worst crash window for
    // a signed fold, because a naive replay would retract TWICE.
    // Simulate: run the fold by hand with the id the restarted query
    // will re-assign the same rows.
    input.addData((2L, 7L, -1), (3L, 9L, 1))
    graft.streaming.Streams.foldRetractionsBatch(
      Seq((2L, 7L, -1), (3L, 9L, 1)).toDF("user_id", "units", "op"),
      batchId = 1L, dir, "user_counts", Seq("user_id"), col("units"), col("op"))
    val afterCrash = graft.sources.Warehouse.read(s, dir, "user_counts")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(afterCrash == Map(1L -> ((1L, 10L)), 3L -> ((1L, 9L))),
      "the crashed run's fold applied once: user 2 revoked, user 3 in")

    // restart from the checkpoint: the engine replays batch 1 (it was
    // never committed); the stamp makes the second fold a no-op —
    // user 2 must NOT go negative, user 3 must not double
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      val resumed = graft.sources.Warehouse.read(s, dir, "user_counts")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(resumed == afterCrash, "replayed batch must be exactly-once")
      // and the resumed query still folds NEW batches normally
      input.addData((3L, 9L, -1), (4L, 2L, 1))
      q2.processAllAvailable()
      val next = graft.sources.Warehouse.read(s, dir, "user_counts")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(next == Map(1L -> ((1L, 10L)), 4L -> ((1L, 2L))),
        "post-resume batch folds once: user 3 revoked, user 4 in")
    } finally q2.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupByKey(events, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0), // exact dup -> dropped
        (1L, ts("2024-01-01 10:02:00"), 1.0), // redelivery, new ts -> dropped too
        (2L, ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      assert(s.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("session windows close on gap and merge overlapping events") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.sessionWindows(events, gap = "30 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0),
        (2L, ts("2024-01-01 10:20:00"), 1L, "a", 1.0), // same session
        (3L, ts("2024-01-01 12:00:00"), 1L, "a", 1.0)) // new session
      q.processAllAvailable()
      val out = s.table("session_out")
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(out == Seq((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("stream-static enrich joins the dim without stream state") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long)]
    val events = input.toDF().toDF("event_id", "ts", "user_id")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = Streams.enrich(events, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1L),
        (2L, ts("2024-01-01 10:01:00"), 3L)) // 3 has no dim row -> null tier
      q.processAllAvailable()
      val out = s.table("enrich_out").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
      assert(out == Map(1L -> "gold", 2L -> null))
    } finally q.stop()
  }

  test("mapGroupsWithState maintains running per-user totals across batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Streams.Event]
    val q = Streams.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("running_out")
      .outputMode("update").start()
    try {
      input.addData(Streams.Event(1L, ts("2024-01-01 10:00:00"), 7L, "a", 1.5))
      q.processAllAvailable()
      input.addData(Streams.Event(2L, ts("2024-01-01 10:05:00"), 7L, "a", 2.5))
      q.processAllAvailable()
      val last = s.table("running_out").filter(col("user_id") === 7L)
        .orderBy(col("n_events").desc).head()
      assert(last.getAs[Long]("n_events") == 2L)
      assert(last.getAs[Double]("sum_value") == 4.0)
    } finally q.stop()
  }

  test("streaming KMV sketch matches the batch sketch on the same rows") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.kmvDistinctUsers(events, k = 8)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("complete").start()
    try {
      // 20 users across two micro-batches in one window: the sketch
      // state must merge across batches losslessly
      input.addData((0 until 10).map(i =>
        (i.toLong, ts("2024-01-01 10:05:00"), i.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      input.addData((10 until 20).map(i =>
        (i.toLong, ts("2024-01-01 10:35:00"), i.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      val got = s.table("kmv_out")
        .select("event_type", "n_kept", "est_distinct").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      assert(got.length == 1)

      // batch reference over the identical rows
      val batch = (0 until 20).map(i => (i.toLong, "click")).toDF("user_id", "event_type")
      val kmv = udaf(new graft.functions.KmvAgg(8),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      val h = graft.functions.mixed_hash32(
        concat_ws(":", lit("kmv"), col("user_id").cast("string")))
      val ref = batch.select(col("event_type"), h.as("h"))
        .groupBy("event_type").agg(kmv(col("h")).as("mins"))
        .select(col("event_type"), size(col("mins")),
          expr("CAST(7L * 4294967296L DIV element_at(mins, -1) AS BIGINT)"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      assert(got.toSet == ref.toSet)
    } finally q.stop()
  }

  test("streaming HLL registers match the batch sketch on the same rows") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.hllRegistersHourly(events, m = 16)
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("complete").start()
    try {
      // two micro-batches into ONE window: register maxes must merge
      input.addData((0 until 15).map(i =>
        (i.toLong, ts("2024-01-01 10:05:00"), i.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      input.addData((15 until 30).map(i =>
        (i.toLong, ts("2024-01-01 10:35:00"), i.toLong, "click", 1.0)): _*)
      q.processAllAvailable()
      val got = s.table("hll_out").select("reg", "max_rho").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      val batch = (0 until 30).map(i => ("click", i.toLong)).toDF("event_type", "user_id")
      val ref = graft.operators.Sketches.hllRegisters(batch, "event_type", "user_id", 16)
        .select("reg", "max_rho").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == ref && got.nonEmpty)
    } finally q.stop()
  }

  test("hashSplit is stateless and applies to a stream unchanged") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Long]
    val q = graft.operators.Sampling.hashSplit(
      input.toDF().toDF("id"), "id", "exp", Seq("train" -> 0.8, "val" -> 0.2))
      .writeStream.format("memory").queryName("split_out")
      .outputMode("append").start()
    try {
      input.addData(0L until 50L: _*)
      q.processAllAvailable()
      val stream = s.table("split_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.operators.Sampling.hashSplit(
        (0L until 50L).toDF("id"), "id", "exp", Seq("train" -> 0.8, "val" -> 0.2))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(stream == batch) // same key -> same split, stream or batch
    } finally q.stop()
  }

  test("upsertStream merges each micro-batch into the warehouse table") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("stream-upsert-wh").toString
    val cp = java.nio.file.Files.createTempDirectory("stream-upsert-cp").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("k", "v")
    val q = Streams.upsertStream(stream, wh, "t",
      graft.operators.MergeSpec(Seq("k"), Seq("v"),
        createdCol = Some("created_date_nds"), updatedCol = Some("last_updated_nds")), cp,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // k -> (v, created_date_nds): the stream's schema lacks the audit
    // columns, so the table must be read with its stored schema
    def rows() = graft.sources.Warehouse.read(s, wh, "t")
      .select("k", "v", "created_date_nds").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getTimestamp(2))).toMap
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      val first = rows()
      assert(first.map { case (k, (v, _)) => k -> v } == Map(1L -> "a", 2L -> "b"))
      assert(first.values.forall(_._2 != null))

      input.addData((2L, "B"), (3L, "c")) // update + insert
      q.processAllAvailable()
      val second = rows()
      assert(second.map { case (k, (v, _)) => k -> v } == Map(1L -> "a", 2L -> "B", 3L -> "c"))
      // keys 1 (untouched) and 2 (updated) keep their first-batch stamp
      assert(second(1L)._2 == first(1L)._2 && second(2L)._2 == first(2L)._2)
      assert(second(3L)._2 != null)
    } finally q.stop()
  }

  test("upsertStreamMor lands micro-batches as O(batch) delta appends on the MoR table") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.sources.MergeOnRead
    val wh = java.nio.file.Files.createTempDirectory("stream-mor-wh").toString
    val cp = java.nio.file.Files.createTempDirectory("stream-mor-cp").toString
    // the base load is a batch concern: 1000 rows up front
    MergeOnRead.init((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"),
      wh, "t", Seq("k"))
    val input = MemoryStream[(Long, String)]
    val q = Streams.upsertStreamMor(input.toDF().toDF("k", "v"), wh, "t",
      graft.operators.MergeSpec(Seq("k"), Seq("v")), cp,
      maxDeltaRatio = 0.2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData((7L, "A"), (2000L, "new"))
      q.processAllAvailable()
      val v1 = MergeOnRead.readView(s, wh, "t")
      assert(v1.count() == 1001L)
      assert(v1.where(col("k") === 7L).head().getString(1) == "A")
      // the batch landed as a 2-row delta, never a base rewrite
      assert(MergeOnRead.deltaRowCounts(s, wh, "t") == Seq(2L))
      assert(MergeOnRead.manifest(s, wh, "t").baseGen == 1L,
        "a 2-row batch on a 1000-row base must not trigger compaction")
      input.addData((2000L, "NEW"), (8L, "B"))
      q.processAllAvailable()
      val v2 = MergeOnRead.readView(s, wh, "t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(v2(2000L) == "NEW" && v2(8L) == "B" && v2.size == 1001)
    } finally q.stop()
  }

  test("upsertStreamPointer commits generations; concurrent readers stay consistent") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("stream-ptr-wh").toString
    val cp = java.nio.file.Files.createTempDirectory("stream-ptr-cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.upsertStreamPointer(input.toDF().toDF("k", "v"), wh, "t",
      graft.operators.MergeSpec(Seq("k"), Seq("v")), cp,
      keepGenerations = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      val gen1 = graft.sources.Warehouse.Pointer.currentGeneration(s, wh, "t").get
      // reader resolves the current generation BEFORE more batches land
      val inFlight = graft.sources.Warehouse.Pointer.read(s, wh, "t")
      input.addData((2L, "B"), (3L, "c"))
      q.processAllAvailable()
      // stream state advanced...
      val now = graft.sources.Warehouse.Pointer.read(s, wh, "t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(now == Map(1L -> "a", 2L -> "B", 3L -> "c"))
      assert(graft.sources.Warehouse.Pointer.currentGeneration(s, wh, "t").get > gen1)
      // ...but the in-flight reader still sees its complete generation
      val old = inFlight.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(old == Map(1L -> "a", 2L -> "b"))
    } finally q.stop()

    // a reader polling the pointer across 100 commits never finds it
    // missing or unreadable: each commit replaces the file in one rename.
    // The pointer starts out as an older commit protocol left it, with a
    // checksum file beside it
    val ptr = new org.apache.hadoop.fs.Path(s"$wh/t.ptr")
    val fs = ptr.getFileSystem(s.sparkContext.hadoopConfiguration)
    val line = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$wh/t.ptr")), "UTF-8")
    val out = fs.create(ptr, true)
    try out.write(line.getBytes("UTF-8")) finally out.close()
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wh/.t.ptr.crc")))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val missing = new java.util.concurrent.atomic.AtomicInteger(0)
    val polls = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() =>
      while (!stop.get) {
        try {
          if (graft.sources.Warehouse.Pointer.currentGeneration(s, wh, "t").isEmpty)
            missing.incrementAndGet()
        } catch { case _: Exception => missing.incrementAndGet() }
        polls.incrementAndGet()
      })
    reader.start()
    val row = Seq((1L, "a")).toDF("k", "v")
    try (1 to 100).foreach(_ => graft.sources.Warehouse.Pointer.overwrite(row, wh, "t"))
    finally { stop.set(true); reader.join() }
    assert(missing.get == 0, s"${missing.get} of ${polls.get} polls found no committed pointer")
  }

  test("foldUpsertPointerBatch stamp skips a poisoned replay; out-of-band commit keeps the stamp") {
    val s = spark; import s.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ptr-stamp-wh").toString
    val spec = graft.operators.MergeSpec(Seq("k"), Seq("v"))
    val now = org.apache.spark.sql.functions.lit("2024-01-01 00:00:00").cast("timestamp")
    def readMap = graft.sources.Warehouse.Pointer.read(s, wh, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Streams.foldUpsertPointerBatch(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), wh, "t", spec, now, batchId = 0L))
    assert(Streams.foldUpsertPointerBatch(
      Seq((2L, "B")).toDF("k", "v"), wh, "t", spec, now, batchId = 1L))
    assert(readMap == Map(1L -> "a", 2L -> "B"))
    assert(graft.sources.Warehouse.Pointer.lastBatch(s, wh, "t") == 1L)
    // poisoned replay: same batch id, DIFFERENT content — must skip,
    // where idempotence alone would apply the corruption
    assert(!Streams.foldUpsertPointerBatch(
      Seq((2L, "POISON")).toDF("k", "v"), wh, "t", spec, now, batchId = 1L))
    assert(readMap == Map(1L -> "a", 2L -> "B"))
    // out-of-band (unstamped) fix-up applies AND carries the stamp
    // forward — it must not reset the replay guard
    assert(Streams.foldUpsertPointerBatch(
      Seq((3L, "fix")).toDF("k", "v"), wh, "t", spec, now))
    assert(graft.sources.Warehouse.Pointer.lastBatch(s, wh, "t") == 1L)
    assert(!Streams.foldUpsertPointerBatch(
      Seq((9L, "late-replay")).toDF("k", "v"), wh, "t", spec, now, batchId = 1L))
    // the next live batch still applies
    assert(Streams.foldUpsertPointerBatch(
      Seq((4L, "d")).toDF("k", "v"), wh, "t", spec, now, batchId = 2L))
    assert(readMap == Map(1L -> "a", 2L -> "B", 3L -> "fix", 4L -> "d"))
  }

  test("stateless text ops (normalize, redact) run unchanged on streams, parity with batch") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = Seq(
      (1L, "Café mail a@b.co “quoted”  text"),
      (2L, "plain row 192.168.0.1 here"))
    val input = MemoryStream[(Long, String)]
    val streamed = graft.operators.TextAnalysis.redactPii(
      graft.operators.TextAnalysis.normalizeText(input.toDF().toDF("doc_id", "text"))
        .select(col("doc_id"), col("norm_text").as("text")))
    val q = streamed.writeStream.format("memory").queryName("norm_stream")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = s.table("norm_stream").collect()
        .map(r => r.getLong(0) -> r.getString(5)).toMap
      val batch = graft.operators.TextAnalysis.redactPii(
        graft.operators.TextAnalysis.normalizeText(rows.toDF("doc_id", "text"))
          .select(col("doc_id"), col("norm_text").as("text")))
        .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
      assert(got == batch)
      assert(got(1L).contains("<EMAIL>") && got(1L).contains("\"quoted\" text"))
      assert(got(2L).contains("<IP>"))
    } finally q.stop()
  }

  test("dedupIngestStream admits only near-dup-free docs across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("dedup_ingest").toString
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different content about spark query engines and shuffles"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.dedupIngestStream(
      input.toDF().toDF("doc_id", "text"), wh, s"$wh/ckpt",
      numHashes = 16, numBands = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 1: 2 near-dups of 1 (drop, keep-first), 3 distinct
      input.addData((1L, s"$base today"), (2L, s"$base tonight"), (3L, other))
      q.processAllAvailable()
      def corpusIds = graft.sources.Warehouse.Pointer.read(s, wh, "corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds == Set(1L, 3L))
      // batch 2: 4 near-dups the ADMITTED doc 1 (rejected via the
      // index), 5 is new; 1 replays (already admitted -> no-op)
      input.addData((4L, s"$base tomorrow"),
        (5L, "unrelated words nothing shared here at all zebra xylophone quasar"),
        (1L, s"$base today"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 3L, 5L))
      // the index covers exactly the admitted corpus
      val idxIds = graft.sources.Warehouse.Pointer.read(s, wh, "dedup_index")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(idxIds == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("custom expressions run inside streaming plans: blocklist filter + aHash fingerprints") {
    // the policy-admission shape: a streaming corpus is scanned by the
    // Aho-Corasick blocklist and fingerprinted perceptually, all in the
    // stateless projection of a micro-batch — custom codegen
    // expressions are engine citizens in streaming exactly as in batch
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val pats = Seq("spam offer", "offer")
    val out = input.toDF().toDF("doc_id", "text")
      .withColumn("hits", graft.functions.multi_count(col("text"), pats))
      .withColumn("ahash", graft.functions.ahash64(col("text").cast("binary")))
      .where(element_at(col("hits"), 1) + element_at(col("hits"), 2) === 0)
    val q = out.writeStream.format("memory").queryName("blocklist_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "a perfectly clean document"),
        (2L, "limited spam offer inside"), // blocked (both patterns hit)
        (3L, "another clean one"))
      q.processAllAvailable()
      val rows = s.table("blocklist_out").collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(rows.keySet == Set(1L, 3L))
      // fingerprints match the batch expression bit-for-bit
      rows.foreach { case (id, h) =>
        val txt = if (id == 1L) "a perfectly clean document" else "another clean one"
        assert(h == graft.plans.AHash64.hash(txt.getBytes("UTF-8")))
      }
    } finally q.stop()
  }

  test("foldSessionsBatch merges across batches, closes on gap, replays exactly-once") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sess_fold").toString
    val gapMs = 30L * 60 * 1000
    def mk(rows: Seq[(Long, String, Long, Long)]) =
      rows.toDF("user_id", "tss", "event_id", "units")
        .select(col("user_id"), to_timestamp(col("tss")).as("ts"),
          col("event_id"), col("units"))
    // batch 0: u1 two events 10 min apart, u2 one, u4 one
    val b0 = mk(Seq(
      (1L, "2024-03-01 10:00:00", 1L, 10L), (1L, "2024-03-01 10:10:00", 2L, 5L),
      (2L, "2024-03-01 11:00:00", 5L, 7L), (4L, "2024-03-01 09:00:00", 7L, 4L)))
    // batch 1: u1 merges (10 min gap) then opens a new session at 13:00;
    // u3 appears fresh; u4's 60-min gap CLOSES the stored session; u2 absent
    val b1 = mk(Seq(
      (1L, "2024-03-01 10:20:00", 3L, 1L), (1L, "2024-03-01 13:00:00", 4L, 2L),
      (3L, "2024-03-01 12:00:00", 6L, 3L), (4L, "2024-03-01 10:00:00", 8L, 6L)))
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.foldSessionsBatch(b, id, dir, "open", "closed", gapMs, col("units"))
    fold(b0, 0L); fold(b1, 1L)
    def flush() = graft.sources.Warehouse.read(s, dir, "closed").drop("batch_id")
      .unionByName(graft.sources.Warehouse.read(s, dir, "open").drop("last_batch_id"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3), r.getLong(4))).toSet
    val expected = Set(
      (1L, "2024-03-01 10:00:00.0", "2024-03-01 10:20:00.0", 3L, 16L),
      (1L, "2024-03-01 13:00:00.0", "2024-03-01 13:00:00.0", 1L, 2L),
      (2L, "2024-03-01 11:00:00.0", "2024-03-01 11:00:00.0", 1L, 7L),
      (3L, "2024-03-01 12:00:00.0", "2024-03-01 12:00:00.0", 1L, 3L),
      (4L, "2024-03-01 09:00:00.0", "2024-03-01 09:00:00.0", 1L, 4L),
      (4L, "2024-03-01 10:00:00.0", "2024-03-01 10:00:00.0", 1L, 6L))
    assert(flush() == expected)
    // crash replay: batch 1 again under the same id — both tables unchanged
    fold(b1, 1L)
    assert(flush() == expected, "replayed batch id must be a no-op")
  }

  test("foldStreamJoinBatch matches across batches, evicts at the horizon, replays once") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("join_fold").toString
    def mk(rows: Seq[(Long, String, Long, String, Double)]) =
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    val windowMs = 3600L * 1000
    // batch 0: v1/v2 views, p1 matches v1 in-batch
    val b0 = mk(Seq(
      (1L, "2024-03-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-03-01 10:30:00", 1L, "view", 0.0),
      (3L, "2024-03-01 10:15:00", 1L, "purchase", 9.5)))
    // batch 1: p2 matches the BUFFERED v2 (40 min) but not v1 (70 min);
    // u2's v3+p3 match in-batch; maxTs 11:45 evicts v1 AND v2 after fold
    val b1 = mk(Seq(
      (4L, "2024-03-01 11:10:00", 1L, "purchase", 20.0),
      (5L, "2024-03-01 11:30:00", 2L, "view", 0.0),
      (6L, "2024-03-01 11:45:00", 2L, "purchase", 3.25)))
    // batch 2: p4 still matches the retained v3 (45 min)
    val b2 = mk(Seq((7L, "2024-03-01 12:15:00", 2L, "purchase", 1.0)))
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.foldStreamJoinBatch(b, id, dir, "buf", "out", windowMs)
    fold(b0, 0L); fold(b1, 1L)
    val bufAfter1 = graft.sources.Warehouse.read(s, dir, "buf")
      .collect().map(_.getLong(1)).toSet
    assert(bufAfter1 == Set(5L), "horizon must evict v1 and v2, keep only v3")
    val out1 = graft.sources.Warehouse.read(s, dir, "out").drop("batch_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toSet
    assert(out1 == Set((1L, 3L, 950L), (2L, 4L, 2000L), (5L, 6L, 325L)))
    fold(b1, 1L) // crash replay — must not duplicate matches
    val replayed = graft.sources.Warehouse.read(s, dir, "out").drop("batch_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toSet
    assert(replayed == out1, "replayed batch id must be a no-op")
    fold(b2, 2L)
    val out2 = graft.sources.Warehouse.read(s, dir, "out").drop("batch_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toSet
    assert(out2 == out1 + ((5L, 7L, 100L)))
  }

  test("foldLastTouchBatch attributes via one-row state across batches, replays once") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("attrib_fold").toString
    def mk(rows: Seq[(Long, String, Long, String, Double)]) =
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    // batch 0: u1 converts BEFORE any touch (direct), then clicks;
    // u2 views
    val b0 = mk(Seq(
      (1L, "2024-03-01 09:00:00", 1L, "purchase", 1.0),
      (2L, "2024-03-01 09:30:00", 1L, "click", 0.0),
      (3L, "2024-03-01 09:45:00", 2L, "view", 0.0)))
    // batch 1: u1 converts (click from batch 0 via STATE), u2 clicks
    // then converts in-batch (click wins over the older stored view)
    val b1 = mk(Seq(
      (4L, "2024-03-01 10:00:00", 1L, "purchase", 2.0),
      (5L, "2024-03-01 10:10:00", 2L, "click", 0.0),
      (6L, "2024-03-01 10:20:00", 2L, "purchase", 3.0)))
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.foldLastTouchBatch(b, id, dir, "state", "out",
        Set("view", "click"), "purchase")
    fold(b0, 0L); fold(b1, 1L)
    def read() = graft.sources.Warehouse.read(s, dir, "out").drop("batch_id")
      .collect().map(r => (r.getLong(1), r.getString(3), r.getLong(4))).toSet
    val expected = Set((1L, "direct", 100L), (4L, "click", 200L), (6L, "click", 300L))
    assert(read() == expected)
    fold(b1, 1L) // crash replay — must not duplicate attributions
    assert(read() == expected, "replayed batch id must be a no-op")
    // state holds exactly one newest touch per user
    val st = graft.sources.Warehouse.read(s, dir, "state")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(st == Map(1L -> 2L, 2L -> 5L))
  }
}
