package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.{GraftSession, Tables}
import graft.core.StoreRoot

/** Buffered (not-yet-emittable) events for one user's open sessions. */
case class SessBuf(evs: Seq[SessEv])
case class SessEv(us: Long, cents: Long)
case class SessOut(user_id: Long, session_start: Long, n_events: Long,
    sum_value: Double)

/** Running per-user accumulator for [[Stateful.UserSpendProcessor]]. */
case class SpendAcc(n: Long, cents: Long, last_us: Long)
case class SpendOut(user_id: Long, n_events: Long, sum_value: Double)

/** STATEFUL streaming surfaces, oracle-gated (VERDICT r2 item 5).
  *
  * Unlike the window aggregations in [[EventOps]] (same code path in
  * batch and streaming), these two operators exercise the streaming-
  * only state machinery — the per-key state store, event-time
  * watermark, and timeout callbacks — and are therefore gated
  * DIFFERENTIALLY: each `queries` entry runs a REAL streaming query
  * (file source over the fixture parquet → `Trigger.AvailableNow` →
  * memory sink) to completion and returns its result table, which the
  * driver then diffs against a batch-computed DuckDB oracle like any
  * other query.
  *
  *  - [[statefulDedup]] — `dropDuplicatesWithinWatermark`: per-key
  *    dedup state with watermark-bounded eviction. With the delay
  *    covering the fixture's 30-day span, exactly one row per
  *    distinct key is emitted, so the oracle is `SELECT DISTINCT`.
  *  - [[statefulSession]] — `flatMapGroupsWithState` sessionization
  *    (30-min inactivity gap) with event-time timeouts: sessions are
  *    emitted only once the watermark passes session_end + gap —
  *    exactly the subset a true unbounded stream could have emitted —
  *    and the oracle applies the same watermark cutoff in SQL.
  *
  * Determinism notes (why these streaming runs are byte-reproducible):
  * the fixture is one parquet file → one data micro-batch (no
  * cross-batch watermark races, no late-drop dependence on file
  * order), followed by the no-data batch Spark runs when the
  * watermark advances (`noDataMicroBatches`, on by default), which
  * fires the event-time timeouts that flush completed sessions. Sums
  * are integer cents (`round(value·100)` — the fixture has 2-decimal
  * values, so both engines round the same integer), min/count are
  * order-insensitive, and the final watermark is
  * `floor(max(ts_us)/1000)·1000` (Spark tracks watermarks in
  * milliseconds), which the oracle reproduces literally.
  *
  * Scale shape: state is per-key and watermark-bounded — the standard
  * Structured Streaming story. Dedup state is one sketch row per key;
  * session state holds only OPEN sessions (closed ones flush on
  * timeout), so state size tracks concurrent activity, not history.
  */
object Stateful {

  val GapUs: Long = 30L * 60 * 1000 * 1000 // 30-minute inactivity gap

  /** The fixture's events parquet as a micro-batch stream with the
    * same ns→µs fix-up as the batch reader, plus `ts_wm`: watermarks
    * require TIMESTAMP (not NTZ); with the session pinned to UTC the
    * epoch-µs instant is wall-clock identical to the NTZ `ts`.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // The file source wants a DIRECTORY of files (its basePath); the
    // fixture is a bare file, so expose it through a dir with a
    // symlink — zero copy, and exactly the layout a real ingest
    // directory has. The dir is the session's [[StoreRoot]] store
    // keyed on the fixture path, so repeated runs in one session
    // reuse one symlink, and an existing link is verified to point at
    // `path` (recreated if not) so a stale link can never feed the
    // wrong fixture to the gates.
    val streamDir = java.nio.file.Paths.get(
      StoreRoot.path(s, "events_stream", path))
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events.parquet")
    val target = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(link,
        java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val ok = java.nio.file.Files.isSymbolicLink(link) &&
        java.nio.file.Files.readSymbolicLink(link) == target
      if (!ok) {
        java.nio.file.Files.delete(link)
        java.nio.file.Files.createSymbolicLink(link, target)
      }
    } else java.nio.file.Files.createSymbolicLink(link, target)
    Tables.eventsFixup(
        s.readStream.schema(schema).parquet(streamDir.toString))
      .withColumn("ts_wm", timestamp_micros(expr("ts_ns DIV 1000")))
  }

  /** Run a streaming frame to completion into a memory sink, return
    * the sink table. AvailableNow processes every available file then
    * runs the trailing no-data batch (timeout flush) and stops. The
    * checkpoint is deleted after termination — these are one-shot
    * differential runs, and leaving one ~0.5 MB RocksDB/HDFS
    * checkpoint per invocation leaks unboundedly across bench/verify
    * cycles. The memory-sink temp view is dropped before returning
    * for the same reason: `s.table` resolves the view eagerly, so the
    * returned DataFrame keeps the rows alive only as long as the
    * CALLER holds it — without the drop, the catalog pins every
    * run's full result on the driver forever (the disk-leak class,
    * on the heap).
    */
  private def runToCompletion(s: SparkSession, out: DataFrame): DataFrame = {
    val qn = "st_run_" + UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Paths.get(StoreRoot.path(s, "ckpt", qn))
    try Streams.availableNow(out, ckpt.toString)(
      _.format("memory").queryName(qn))
    finally StoreRoot.rmTree(ckpt) // even when the query fails mid-stream
    val result = s.table(qn) // eager analysis: plan no longer needs the view
    s.catalog.dropTempView(qn)
    result
  }

  // -----------------------------------------------------------------
  // st_stateful_dedup: watermark-bounded streaming deduplication.
  def statefulDedup(s0: SparkSession, dir: String): DataFrame = {
    // The stateful lifecycles run on a CHILD session with the state-
    // partition count pinned (the RateIngest/Resume discipline). At
    // the parent's 32 shuffle partitions every micro-batch paid 32
    // state-store partitions' delta/snapshot/commit file writes for a
    // few-hundred-key state, and that fixed cost dominated all three
    // rows' wall time; partition count never affects emitted rows
    // (spec-pinned invariance). A real deployment sizes
    // `spark.sql.shuffle.partitions` to its key cardinality at the
    // first checkpoint — this is that sizing for the fixture-scale
    // gates, not a local[32]-only constant.
    val s = GraftSession.scoped(s0, GraftSession.statePartitions(s0))
    val deduped = eventsStream(s, dir)
      .withWatermark("ts_wm", "60 days") // covers the fixture span: no
      // state eviction mid-run, so emitted rows = first per key
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToCompletion(s, deduped).orderBy("user_id", "event_type")
  }

  // -----------------------------------------------------------------
  // st_stateful_session: custom session state via fMGWS.

  /** Merge buffered + new events, split on the inactivity gap, emit
    * every session the watermark has sealed (last event + gap ≤ wm),
    * keep the rest in state with a timeout at wm+1 ms so the group is
    * revisited as soon as the watermark moves (the trailing no-data
    * batch), guaranteeing the final flush.
    */
  private[streaming] def sessionize(user: Long,
      rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
      state: GroupState[SessBuf]): Iterator[SessOut] = {
    val prev = if (state.exists) state.get.evs else Seq.empty
    val merged = (prev ++ rows.map(r => SessEv(r._2, r._3)))
      .sortBy(e => (e.us, e.cents))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    // split into sessions on gaps >= GapUs (same convention as
    // session_window / the st_session_30m oracle)
    val sessions = merged.foldLeft(Vector.empty[Vector[SessEv]]) {
      case (acc, e) =>
        if (acc.nonEmpty && e.us - acc.last.last.us < GapUs)
          acc.init :+ (acc.last :+ e)
        else acc :+ Vector(e)
    }
    val (closed, open) = sessions.partition(se => se.last.us + GapUs <= wmUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(SessBuf(open.flatten))
      state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
    }
    closed.iterator.map { se =>
      SessOut(user, se.head.us, se.size.toLong,
        se.map(_.cents).sum / 100.0)
    }
  }

  def statefulSession(s0: SparkSession, dir: String): DataFrame = {
    // State-partition child session, as in statefulDedup.
    val s = GraftSession.scoped(s0, GraftSession.statePartitions(s0))
    import s.implicits._
    // ts_wm stays in the projection: the stateful operator's input
    // must carry the watermarked event-time attribute.
    val ev = eventsStream(s, dir)
      .withWatermark("ts_wm", "0 seconds")
      .select(col("user_id"), expr("ts_ns DIV 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts_wm"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionize)
      .toDF()
    runToCompletion(s, out).orderBy("user_id", "session_start")
  }

  // -----------------------------------------------------------------
  // st_tws_user_spend: the transformWithState (Spark 4.x) arbitrary-
  // state API — typed ValueState + explicit event-time TIMERS, the
  // successor to flatMapGroupsWithState. Each user's event count and
  // spend accumulate in a ValueState; every batch re-arms one timer at
  // the inactivity deadline (last event + gap, rounded UP to the ms
  // timer clock so the µs-exact cutoff is preserved); when the
  // watermark passes the deadline the timer fires in that batch's
  // timer phase and [[StatefulProcessor.handleExpiredTimer]] emits the
  // summary and clears state. Requires the RocksDB state store (TWS
  // state lives in multiple column families — value state + timers),
  // which is the 100 TB-scale provider anyway: state spills to disk
  // with changelog checkpointing instead of living on the JVM heap.
  //
  // Emission contract (mirrors [[statefulSession]]): a user's summary
  // is emitted iff last_us + GapUs ≤ final watermark. Users active
  // within the gap of the stream's end stay open in state — exactly
  // what an unbounded stream could have emitted.
  class UserSpendProcessor extends StatefulProcessor[
      Long, (Long, Long, Long, java.sql.Timestamp), SpendOut] {
    @transient private var acc: ValueState[SpendAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[SpendAcc]("acc",
        Encoders.product[SpendAcc], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
        tv: TimerValues): Iterator[SpendOut] = {
      // LATE-ROW GUARD: unlike fMGWS (whose exec node filters on the
      // watermarked attribute), transformWithState delivers late input
      // rows to the processor — measured: a row behind the eviction
      // watermark arrives here under a k-file out-of-order source
      // (EventsStreamingSpec). Filtering against the current watermark
      // is therefore the PROCESSOR's job; without it a late row could
      // resurrect state for an already-emitted key or create an
      // accumulation the emission contract says cannot exist. In the
      // declared single-data-batch query the watermark is 0 during the
      // data batch, so this guard is a no-op there.
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val live = rows.filter(_._2 >= wmUs)
      if (!live.hasNext) return Iterator.empty
      val prev = if (acc.exists()) acc.get() else SpendAcc(0L, 0L, Long.MinValue)
      val next = live.foldLeft(prev) { case (a, (_, us, cents, _)) =>
        SpendAcc(a.n + 1, a.cents + cents, math.max(a.last_us, us))
      }
      acc.update(next)
      // One armed timer per key: re-arm at the new deadline. Ceil to
      // ms: expiry E fires once wm ≥ E, and last+gap ≤ wm_us (µs,
      // wm_us = wm_ms·1000) ⇔ ceil((last+gap)/1000) ≤ wm_ms.
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer((next.last_us + GapUs + 999L) / 1000L)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SpendOut] = {
      val a = acc.get()
      acc.clear()
      Iterator.single(SpendOut(key, a.n, a.cents / 100.0))
    }
  }

  /** [[GraftSession.statePartitions]] with state in RocksDB. */
  private[streaming] def rocksDbState(s: SparkSession): Map[String, String] =
    GraftSession.statePartitions(s) ++ Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"))

  def twsUserSpend(s: SparkSession, dir: String): DataFrame =
    // TWS requires RocksDB (multi-column-family state). The child
    // session's conf is ISOLATED, so the provider override can never
    // leak to the sibling stateful queries regardless of the Map
    // iteration order Verify/Bench call them in (the set/run/restore
    // dance the pre-child version needed is gone with it).
    twsUserSpendInner(GraftSession.scoped(s, rocksDbState(s)), dir)

  private def twsUserSpendInner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, dir)
      .withWatermark("ts_wm", "0 seconds")
      .select(col("user_id"), expr("ts_ns DIV 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts_wm"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
    // ts_wm stays in the tuple: the stateful operator's input must
    // carry the watermarked event-time attribute (same contract as
    // statefulSession).
    val out = ev
      .groupByKey(_._1)
      .transformWithState(new UserSpendProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[SpendOut])
      .toDF()
    runToCompletion(s, out).orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_stateful_dedup" -> statefulDedup,
    "st_stateful_session" -> statefulSession,
    "st_tws_user_spend" -> twsUserSpend,
  )

  // ---------------------------------------------------------------
  // DuckDB oracles — batch restatements of the streaming semantics.
  private val TsUs = "CAST(epoch_ns(ts) // 1000 AS BIGINT)"
  private val GapUsL = GapUs

  val oracles: Map[String, String] = Map(
    "st_stateful_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // Batch sessionization (the st_session_30m shape in µs) PLUS the
    // streaming emission cutoff: a session is emitted iff the final
    // watermark — floor(max event µs to ms) — has passed its end+gap.
    "st_stateful_session" ->
      s"""WITH e AS (SELECT user_id, $TsUs AS us,
           CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         wm AS (SELECT (MAX(us) // 1000) * 1000 AS w FROM e),
         g AS (SELECT user_id, us, cents,
           CASE WHEN us - lag(us) OVER win >= $GapUsL OR
             lag(us) OVER win IS NULL THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us)),
         sid AS (SELECT user_id, us, cents,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM g),
         agg AS (SELECT user_id, MIN(us) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS sum_value,
           MAX(us) AS last_us
           FROM sid GROUP BY user_id, sess)
         SELECT user_id, session_start, n_events, sum_value
         FROM agg, wm WHERE last_us + $GapUsL <= w
         ORDER BY user_id, session_start""",
    // Per-user running totals with the same watermark emission cutoff:
    // the timer at ceil((last+gap)/1000) ms fires iff the final wm
    // (floor(max µs to ms)) has reached it ⇔ last + gap ≤ wm in µs.
    "st_tws_user_spend" ->
      s"""WITH e AS (SELECT user_id, $TsUs AS us,
           CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         wm AS (SELECT (MAX(us) // 1000) * 1000 AS w FROM e),
         agg AS (SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS sum_value,
           MAX(us) AS last_us FROM e GROUP BY user_id)
         SELECT user_id, n_events, sum_value
         FROM agg, wm WHERE last_us + $GapUsL <= w
         ORDER BY user_id""",
  )
}
