package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, Trigger}

import graft.{SparkSpec, Tables, TempDirs}

/** Streaming-only surfaces: watermarks + append finalization,
  * watermark-bounded dedup, custom state machines, and the file
  * source — none oracle-able in DuckDB, so they are spec-tested with
  * deterministic micro-batches (SURVEY.md §5.2.5).
  *
  * The batch/stream unification claim of [[EventOps]] is tested
  * directly: the same transform runs over the parquet fixture twice —
  * once via `spark.read`, once via `readStream` + AvailableNow — and
  * must produce identical rows.
  */
class EventsStreamingSpec extends SparkSpec with TempDirs {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window + watermark: append emits only finalized " +
    "windows and drops late rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val agg = EventOps.tumblingHour(df.withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((ts("2026-01-01 10:05:00"), "click", 1.0),
        (ts("2026-01-01 10:20:00"), "click", 2.0))
      q.processAllAvailable()
      // Watermark = 10:20 - 10' = 10:10 < window end — nothing final.
      assert(spark.table("tumbling").count() === 0)

      ms.addData((ts("2026-01-01 11:30:00"), "view", 5.0))
      q.processAllAvailable()
      ms.addData((ts("2026-01-01 11:31:00"), "view", 1.0))
      q.processAllAvailable()
      // Watermark 11:20 ≥ 11:00 → the 10:00 window finalizes.
      val done = spark.table("tumbling").collect()
      assert(done.length === 1)
      assert(done.head.getAs[String]("window_start")
        .endsWith("10:00:00"))
      assert(done.head.getAs[Long]("n") === 2L)
      assert(done.head.getAs[Double]("sum_value") === 3.0)

      // A late row behind the watermark must not resurrect the window.
      ms.addData((ts("2026-01-01 10:40:00"), "click", 100.0))
      ms.addData((ts("2026-01-01 12:45:00"), "view", 7.0))
      q.processAllAvailable()
      val after = spark.table("tumbling").collect()
      // 11:00 window finalized with ONLY the on-time rows.
      val w11 = after.filter(_.getAs[String]("window_start")
        .endsWith("11:00:00"))
      assert(w11.map(_.getAs[Long]("n")).sum === 2L)
      assert(!after.exists(r => r.getAs[String]("window_start")
        .endsWith("10:00:00") && r.getAs[Long]("n") != 2L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes cross-batch duplicates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val df = ms.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = df.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, ts("2026-01-01 10:00:00")),
        (2L, ts("2026-01-01 10:01:00")))
      q.processAllAvailable()
      ms.addData((1L, ts("2026-01-01 10:02:00")),
        (3L, ts("2026-01-01 10:03:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps a running per-user count") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val counted = ms.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { r => n += 1; v += r._2 }
          state.update((n, v))
          Iterator.single((user, n, v))
      }
      .toDF("user_id", "n", "total")
    val q = counted.writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData((7L, 1.5), (7L, 2.5), (8L, 4.0))
      q.processAllAvailable()
      ms.addData((7L, 6.0))
      q.processAllAvailable()
      val last = spark.table("running").collect()
        .groupBy(_.getLong(0))
        .map { case (u, rs) => u -> rs.maxBy(_.getLong(1)) }
      assert(last(7L).getLong(1) === 3L && last(7L).getDouble(2) === 10.0)
      assert(last(8L).getLong(1) === 1L && last(8L).getDouble(2) === 4.0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState with EventTimeTimeout emits sessions " +
    "when the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val sessions = ms.toDF().toDF("user", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Timestamp)],
         state: GroupState[(Int, Long)]) =>
          if (state.hasTimedOut) {
            // Session closed by watermark: emit (user, count) once.
            val (n, _) = state.get
            state.remove()
            Iterator.single((user, n.toLong))
          } else {
            val (n0, _) = state.getOption.getOrElse((0, 0L))
            var n = n0; var last = 0L
            rows.foreach { r => n += 1; last = r._2.getTime }
            state.update((n, last))
            // Close 10 minutes of event time after the last event.
            state.setTimeoutTimestamp(last + 10 * 60 * 1000)
            Iterator.empty
          }
      }
      .toDF("user", "n_events")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((5L, ts("2026-01-01 10:00:00")),
        (5L, ts("2026-01-01 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0) // session still open
      // Advance the watermark past last-event + 10 min.
      ms.addData((6L, ts("2026-01-01 10:30:00")))
      q.processAllAvailable()
      ms.addData((6L, ts("2026-01-01 10:31:00")))
      q.processAllAvailable()
      val done = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(done.toSeq === Seq((5L, 2L))) // user 5 closed with 2 events
    } finally q.stop()
  }

  test("Stateful.sessionize across micro-batches: watermark-sealed " +
    "emission, open sessions retained, late rows dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val ev = ms.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts").as("ts_wm"))
      .as[(Long, Long, Long, Timestamp)]
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(Stateful.sessionize)
      .toDF()
    val q = out.writeStream.format("memory").queryName("statefulsess")
      .outputMode(OutputMode.Append()).start()
    def emitted() = spark.table("statefulsess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    try {
      // batch 1: u1 session A (2 events), u1 session B, u2 session.
      ms.addData((1L, ts("2026-01-01 10:00:00"), 1.25),
        (1L, ts("2026-01-01 10:10:00"), 2.50),
        (1L, ts("2026-01-01 12:00:00"), 4.00),
        (2L, ts("2026-01-01 10:05:00"), 8.00))
      q.processAllAvailable()
      // The trailing no-data batch advances the watermark to 12:00
      // (batch 1's max − 0s delay) and fires the wm+1 timeout: A
      // (ends 10:10, +30' = 10:40 ≤ 12:00) and u2's session seal
      // immediately; B (ends 12:00 → 12:30 > 12:00) stays open.
      val us = (s: String) => ts(s).getTime * 1000L
      assert(emitted() === Set(
        (1L, us("2026-01-01 10:00:00"), 2L, 3.75),
        (2L, us("2026-01-01 10:05:00"), 1L, 8.0)))

      // batch 2 pushes the watermark to 13:00 → B (12:30 ≤ 13:00)
      // seals; u2's new 13:00 event opens a session that stays open.
      ms.addData((2L, ts("2026-01-01 13:00:00"), 16.00))
      q.processAllAvailable()
      assert(emitted().contains((1L, us("2026-01-01 12:00:00"), 1L, 4.0)))
      assert(!emitted().exists(_._2 == us("2026-01-01 13:00:00")))

      // batch 3: a row behind the watermark (11:00 < 13:00) is dropped
      // by the watermark operator — it must NOT create or touch any
      // session.
      ms.addData((2L, ts("2026-01-01 11:00:00"), 999.0))
      q.processAllAvailable()
      assert(!emitted().exists(_._2 == us("2026-01-01 11:00:00")))
      assert(!emitted().exists(_._2 == us("2026-01-01 13:00:00")))
      assert(emitted().count(_._1 == 2L) === 1)
    } finally q.stop()
  }

  test("transformWithState accumulates across micro-batches and emits " +
    "on event-time timer expiry") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val ev = ms.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts").as("ts_wm"))
      .as[(Long, Long, Long, Timestamp)]
    val out = ev.groupByKey(_._1)
      .transformWithState(new Stateful.UserSpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SpendOut])
      .toDF()
    val q = out.writeStream.format("memory").queryName("twsspend")
      .outputMode(OutputMode.Append()).start()
    def emitted() = spark.table("twsspend").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      // batch 1: u1 and u2 open; wm after = 10:05.
      ms.addData((1L, ts("2026-01-01 10:00:00"), 1.25),
        (2L, ts("2026-01-01 10:05:00"), 8.00))
      q.processAllAvailable()
      assert(emitted() === Set.empty)
      // batch 2: u1 gains a SECOND event (cross-batch state), u3
      // pushes the wm to 11:30 → u1's deadline 10:40 and u2's 10:35
      // pass → both emit, u1 with the accumulated pair.
      ms.addData((1L, ts("2026-01-01 10:10:00"), 2.50),
        (3L, ts("2026-01-01 11:30:00"), 16.00))
      q.processAllAvailable()
      assert(emitted() === Set((1L, 2L, 3.75), (2L, 1L, 8.0)))
      // batch 3: u2 returns AFTER its emission — state was cleared, so
      // a fresh accumulation opens (not emitted: deadline 13:00 >
      // wm 12:30); u3's 12:00 deadline passes → emits.
      ms.addData((2L, ts("2026-01-01 12:30:00"), 0.75))
      q.processAllAvailable()
      assert(emitted() === Set((1L, 2L, 3.75), (2L, 1L, 8.0),
        (3L, 1L, 16.0)))
    } finally q.stop()
  }

  test("transformWithState timer fires when the watermark EQUALS the " +
    "deadline (the <= contract the st_tws oracle encodes)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val ev = ms.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts").as("ts_wm"))
      .as[(Long, Long, Long, Timestamp)]
    val out = ev.groupByKey(_._1)
      .transformWithState(new Stateful.UserSpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SpendOut])
      .toDF()
    val q = out.writeStream.format("memory").queryName("twsboundary")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, ts("2026-01-01 10:00:00"), 1.00))
      q.processAllAvailable()
      // wm lands EXACTLY on u1's deadline 10:30:00.000.
      ms.addData((9L, ts("2026-01-01 10:30:00"), 2.00))
      q.processAllAvailable()
      val got = spark.table("twsboundary").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set((1L, 1L, 1.0)))
    } finally q.stop()
  }

  test("transformWithState over a real k-file source (maxFilesPerTrigger=1): " +
    "timer re-arming, late-drop, and emission-then-return across real " +
    "batch boundaries") {
    import spark.implicits._
    // The MemoryStream tests above pin the TWS semantics; this one
    // gates the same operator on the DECLARED query's transport — a
    // file source, one file per micro-batch, RocksDB state store,
    // AvailableNow — so timer re-arming and watermark filtering are
    // exercised across REAL checkpointed batch boundaries, with
    // out-of-order data BETWEEN batches. Plan (gap = 30 min, 0s delay;
    // wm entering batch k = max event time of batches < k):
    //   f1: A@10:00 $1.00, B@10:05 $2.00      → timers A 10:30, B 10:35
    //   f2: A@10:20 $0.50 (RE-ARM → 10:50), C@11:00 $4.00
    //   f3: D@10:40 $8.00 — behind wm 11:00 → DROPPED by the
    //       processor's late-row guard (TWS does not auto-filter late
    //       input, unlike fMGWS — this test is what measured that);
    //       batch 3's timer phase (wm 11:00) fires A (n=2, $1.50)
    //       and B (n=1, $2.00)
    //   f4: B@12:00 $0.25 — returns AFTER emission: fresh acc;
    //       E@13:01 $0.125 pushes the final wm
    //   trailing no-data batch (wm 13:01): fires C (11:30) and B's
    //       new timer (12:30); E (13:31) stays open — never emitted.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = tempDir("graft_tws_kfile")
    val ckpt = tempDir("graft_tws_kfile_ckpt")
    val files = Seq(
      Seq((1L, ts("2026-01-01 10:00:00"), 1.00),
        (2L, ts("2026-01-01 10:05:00"), 2.00)),
      Seq((1L, ts("2026-01-01 10:20:00"), 0.50),
        (3L, ts("2026-01-01 11:00:00"), 4.00)),
      Seq((4L, ts("2026-01-01 10:40:00"), 8.00)),
      Seq((2L, ts("2026-01-01 12:00:00"), 0.25),
        (5L, ts("2026-01-01 13:01:00"), 0.125)))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = tempDir(s"graft_tws_stage$i")
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = dir.resolve(f"f$i%02d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      // The file source orders batches by modification time: pin it.
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    val schema = spark.read.parquet(dir.toString).schema
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts").as("ts_wm"))
      .as[(Long, Long, Long, Timestamp)]
    val out = ev.groupByKey(_._1)
      .transformWithState(new Stateful.UserSpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SpendOut])
      .toDF()
    val q = out.writeStream.format("memory").queryName("twskfile")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      // One file per micro-batch: 4 data batches (+ no-data batches).
      assert(q.recentProgress.count(_.numInputRows > 0) === 4)
      val got = spark.table("twskfile").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set(
        (1L, 2L, 1.50), // re-armed across f1/f2, accumulated pair
        (2L, 1L, 2.00), // first B accumulation
        (2L, 1L, 0.25), // B's post-emission return — state was cleared
        (3L, 1L, 4.00))) // sealed by the trailing no-data batch
      // D dropped behind the watermark; E open at stream end.
      assert(!got.exists(_._1 == 4L))
      assert(!got.exists(_._1 == 5L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("twskfile")
    }
  }

  test("stream-static enrichment: streamed fixture equals the batch " +
    "gate; dims hash-probed not stated") {
    // The declared st_static_enrich query is the batch form; this runs
    // the SAME transform with the event side streamed (file source +
    // AvailableNow, Complete mode) and the dimensions static, and
    // diffs the full 7k-row answer against the batch run. A
    // stream-static join holds NO join state — the static side is
    // hash-probed per micro-batch — so no watermark is needed.
    val dir = tempDir("graft_enrich_stream")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sf/events.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val ev = Tables.eventsFixup(
      spark.readStream.schema(schema).parquet(dir.toString))
    val out = EventOps.staticEnrich(ev,
      Tables(spark, sf, "customer"), Tables(spark, sf, "nation"))
    val q = out.writeStream.format("memory").queryName("enrichst")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val got = spark.table("enrichst").collect().map(_.toSeq).toSet
      val want = EventOps.stStaticEnrich(spark, sf).collect()
        .map(_.toSeq).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally {
      q.stop()
      spark.catalog.dropTempView("enrichst")
    }
  }

  test("foreachBatch sink lands micro-batches as parquet") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = tempDir("graft_feb").toString
    val ms = MemoryStream[(Long, Double)]
    val q = ms.toDF().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      ms.addData((3L, 3.0))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
      assert(landed.count() === 3)
      assert(landed.select("id").collect().map(_.getLong(0)).sorted
        === Array(1L, 2L, 3L))
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replaying a batch leaves the " +
      "table unchanged where a plain append would duplicate it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = tempDir("graft_feb_idem").toString + "/t"
    val sink = Segments.stage(out)
    val ms = MemoryStream[(Long, Double)]
    val q = ms.toDF().toDF("id", "v").writeStream
      .foreachBatch(sink)
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      ms.addData((3L, 3.0))
      q.processAllAvailable()
      val once = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(once === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
      // simulate the at-least-once replay: the recovered query calls
      // the sink again with the SAME batchId and the same rows
      sink(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), 0L)
      val twice = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(twice === once, "replay must converge, not append")
      // and batch provenance is queryable
      assert(spark.read.parquet(out).filter(col("batch_id") === 1L)
        .collect().map(_.getLong(0)).toSeq === Seq(3L))
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to impressions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val i = imps.toDF().toDF("ad", "i_ts").withWatermark("i_ts", "1 hour")
    val c = clicks.toDF().toDF("c_ad", "c_ts").withWatermark("c_ts", "1 hour")
    val joined = i.join(c,
      expr("ad = c_ad AND c_ts >= i_ts AND " +
        "c_ts <= i_ts + interval 10 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData((1L, ts("2026-01-01 10:00:00")),
        (2L, ts("2026-01-01 10:00:00")))
      clicks.addData((1L, ts("2026-01-01 10:05:00")), // in window
        (2L, ts("2026-01-01 10:20:00")))              // too late: 20 min
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched rows emit " +
      "with nulls only after the watermark closes their window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val i = imps.toDF().toDF("ad", "i_ts").withWatermark("i_ts", "10 seconds")
    val c = clicks.toDF().toDF("c_ad", "c_ts")
      .withWatermark("c_ts", "10 seconds")
    val joined = i.join(c,
      expr("ad = c_ad AND c_ts >= i_ts AND " +
        "c_ts <= i_ts + interval 10 minutes"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssleft")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData((1L, ts("2026-01-01 10:00:00")),  // will match
        (2L, ts("2026-01-01 10:00:00")))             // will NOT match
      clicks.addData((1L, ts("2026-01-01 10:05:00")))
      q.processAllAvailable()
      // The matched row may emit now; ad 2's null row MUST NOT yet —
      // a matching click at 10:10 is still admissible.
      val early = spark.table("ssleft").collect()
      assert(!early.exists(r => r.getLong(0) == 2L),
        "null-extended row emitted before its window closed")
      // Advance both watermarks past 10:10:00 + 10 s delay: ad 2's
      // join window is now provably unmatchable → null row evicts.
      imps.addData((99L, ts("2026-01-01 11:00:00")))
      clicks.addData((99L, ts("2026-01-01 11:00:00")))
      q.processAllAvailable()
      imps.addData((98L, ts("2026-01-01 12:00:00")))
      clicks.addData((98L, ts("2026-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssleft").collect()
      val matched = rows.filter(r => r.getLong(0) == 1L)
      assert(matched.length == 1 && !matched.head.isNullAt(2))
      val evicted = rows.filter(r => r.getLong(0) == 2L)
      assert(evicted.length == 1 && evicted.head.isNullAt(2),
        "unmatched impression must surface exactly once with null click")
    } finally q.stop()
  }

  test("batch st_interval_left: views superset of inner join; " +
      "unmatched views carry all-null purchase columns") {
    val inner = EventOps.stIntervalJoin(spark, sf)
    val left = EventOps.stIntervalLeft(spark, sf)
    assert(left.count() >= inner.count())
    // Same matched rows; extra rows are null-extended and their
    // view_ids are exactly the views absent from the inner result.
    val innerViews = inner.select("view_id").distinct().collect()
      .map(_.getLong(0)).toSet
    val nullRows = left.filter(col("purchase_id").isNull)
    assert(nullRows.filter(col("lag_us").isNotNull ||
      col("purchase_value").isNotNull).count() === 0)
    val nullViews = nullRows.select("view_id").collect()
      .map(_.getLong(0)).toSet
    assert((nullViews & innerViews).isEmpty)
    val allViews = EventOps.stIntervalLeft(spark, sf).select("view_id")
      .distinct().count()
    assert(nullViews.size + innerViews.size === allViews)
  }

  test("file-source stream computes the same tumbling agg as batch") {
    val dir = tempDir("graft_stream_src")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val raw = spark.read.parquet(dir.toString)
    val stream = Tables.eventsFixup(
      spark.readStream.schema(raw.schema).parquet(dir.toString))
    val q = EventOps.tumblingHour(stream)
      .writeStream.format("memory").queryName("filesrc")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("filesrc").collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    val batch = EventOps.tumblingHour(Tables(spark, sf, "events"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }
}
