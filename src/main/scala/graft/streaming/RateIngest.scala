package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.StoreRoot

/** RATE-SOURCE streaming ingest, oracle-gated (VERDICT r5 item 7 —
  * the one Structured Streaming source kind the surface had not yet
  * exercised; the file source backs every other streaming gate).
  *
  * `st_rate_windows` drives Spark's `rate-micro-batch` source — the
  * deterministic generator variant: batch `b` contains exactly the
  * values `[b·R, (b+1)·R)` and every row in it carries the timestamp
  * `startTimestamp + b·advanceMillisPerBatch`, independent of wall
  * clock (unlike plain `rate`, whose row count depends on elapsed
  * real time and can never hash-match an oracle). The query windows
  * that synthetic stream through the standard watermark → tumbling
  * aggregate → Append pipeline and lands sealed windows in the
  * idempotent batch sink ([[Segments.stage]]).
  *
  * Boundedness: a rate source is UNBOUNDED, but Spark's
  * `RatePerMicroBatchStream` supports `Trigger.AvailableNow` by
  * ending each run ONE batch past its start. So the lifecycle is
  * NB + 1 [[Streams]] runs from one checkpoint: run b processes
  * batch b, and its trailing no-data batch emits every window the
  * advanced watermark sealed. After batch NB (event time NB·advance)
  * the watermark seals the last kept window; batch NB's own window
  * stays open and is never emitted. Every run ends on a batch
  * boundary with no epoch in flight, so the sink holds exactly the
  * [[ExpectWindows]] kept windows whatever the timing. The sink must
  * be a parquet store, not a memory sink: Spark builds a new
  * `MemorySink` on every start and recovers it from the checkpoint
  * only in Complete mode. State lives in RocksDB, which loads the
  * last committed version directly on each restart; the HDFS-backed
  * store searches for a snapshot version by version back to 1 (none
  * exists until its maintenance thread writes one) and logs two WARN
  * lines per version and partition, about 440 per call. (A first
  * cut capped the DATA with a pre-aggregate `value < R·NB` filter;
  * Catalyst correctly pushes that filter below the
  * `EventTimeWatermark` node toward the source, so the capped batches
  * carried no rows into the watermark collector and the final window
  * never sealed. Bounding by the run count has no such interaction.)
  *
  * Determinism: values and timestamps are functions of the batch
  * index only; counts/sums are integer; the watermark clock is the
  * synthetic timestamp column. The DuckDB oracle regenerates the same
  * stream from `range(0, R·NB)` — no fixture table involved — and
  * applies the identical window arithmetic.
  *
  * Scale shape: the rate source is the load-generator harness for
  * sizing a deployment (state fan-out, sink throughput) before
  * pointing the same plan at Kafka/files; the plan itself is the
  * standard watermarked tumbling aggregate whose state is one row per
  * open window. Shuffle partitions are scoped down for the run (same
  * rationale as [[Resume]]: at 32 partitions the per-batch state
  * checkpoint fan-out dwarfs a few-group aggregate).
  */
object RateIngest {

  /** Rows per micro-batch. */
  val RowsPerBatch = 1000L

  /** Batches the returned windows cover: values
    * `[0, RowsPerBatch·DataBatches)`.
    */
  val DataBatches = 10L

  /** Event-time advance per batch (one minute). */
  val AdvanceMs = 60000L

  /** Tumbling window width (two minutes = two batches). */
  val WindowMs = 120000L

  /** Sealed windows the sink must reach: NB batches at one minute per
    * batch spread over two-minute windows.
    */
  val ExpectWindows: Long = DataBatches * AdvanceMs / WindowMs

  def rateWindows(s0: SparkSession, dir: String): DataFrame = {
    // The whole lifecycle runs on a CHILD session with its own conf
    // (VERDICT r6 item 6): the state-partition count and provider are
    // pinned for the run without mutating the caller's session — a
    // concurrent query on s0 never sees the scoped values and there
    // is no restore to race.
    val s = graft.GraftSession.scoped(s0, Stateful.rocksDbState(s0))
    val src = s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", RowsPerBatch)
      .option("numPartitions", 4)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", AdvanceMs)
      .load() // (timestamp TIMESTAMP, value LONG)
    // No pre-aggregate data filter — see the scaladoc: any value cap
    // here is pushed below the EventTimeWatermark node and starves
    // the watermark; the result is bounded by the run count instead.
    val agg = src.withWatermark("timestamp", "0 seconds")
      .groupBy(window(col("timestamp"), s"$WindowMs milliseconds").as("w"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("sum_v"))

    // The sink holds five rows: collect them and delete the whole
    // run dir, so nothing on disk outlives the call.
    val run = java.nio.file.Paths.get(
      StoreRoot.path(s, "rate", UUID.randomUUID().toString))
    val out = run.resolve("out").toString
    val rows =
      try {
        (0L to DataBatches).foreach(_ => Streams.drain(agg,
          run.resolve("ckpt").toString)(Segments.stage(out)))
        s.read.parquet(out).select("window_start", "n", "sum_v").collect()
      } finally StoreRoot.rmTree(run)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
      .orderBy("window_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_rate_windows" -> ((s, dir) => rateWindows(s, dir)),
  )

  // The oracle regenerates the deterministic stream: value v belongs
  // to batch v DIV R, whose timestamp is (v DIV R)·advance ms.
  val oracles: Map[String, String] = Map(
    "st_rate_windows" ->
      s"""WITH v AS (SELECT range AS v FROM range(0, ${RowsPerBatch * DataBatches})),
         e AS (SELECT v, (v // $RowsPerBatch) * $AdvanceMs AS ts_ms FROM v),
         a AS (SELECT (ts_ms // $WindowMs) * $WindowMs AS ws,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS sum_v
           FROM e GROUP BY 1)
         SELECT strftime(make_timestamp(ws * 1000), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           n, sum_v
         FROM a ORDER BY window_start""",
  )
}
