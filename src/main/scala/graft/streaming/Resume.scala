package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.StoreRoot

/** CHECKPOINT-RESUME streaming lifecycle, oracle-gated (VERDICT r4
  * item 8 — the one Structured Streaming lifecycle pattern not yet
  * hash-gated: stop a query, then start a NEW query from the same
  * checkpoint and prove exactly-once continuation).
  *
  * st_resume_tumbling runs the full production restart story inside
  * one declared query:
  *
  *  1. The events fixture is split at its midpoint instant into two
  *     "arrival wave" parquet files — wave 2 strictly later than
  *     wave 1, the shape of a real ingest directory growing between
  *     scheduled `Trigger.AvailableNow` runs.
  *  2. RUN 1: file source over the directory holding only wave 1 →
  *     watermarked 1-hour tumbling aggregate → idempotent foreachBatch
  *     parquet sink ([[Segments.stage]]) → AvailableNow →
  *     terminates. Windows sealed by wave 1's watermark are emitted;
  *     the window state still open at the wave boundary and the
  *     source offsets live ONLY in the checkpoint.
  *  3. Wave 2's file is added, and RUN 2 — a brand-new query object —
  *     starts from the SAME checkpoint: it must restore offsets (not
  *     reprocess wave 1), restore window state (the boundary window's
  *     wave-1 events), process wave 2, and emit every remaining
  *     sealed window exactly once.
  *
  * The returned frame is the union of what BOTH runs landed in the
  * sink. The DuckDB oracle is the batch tumbling aggregate over ALL
  * events with the final-watermark emission cutoff (the
  * [[Stateful]] convention) — so a resume that re-processed wave 1
  * doubles counts, a resume that dropped checkpointed state
  * undercounts the boundary window, and a resume that re-emitted
  * sealed windows duplicates rows: each turns the hash red.
  *
  * Determinism: the wave split is an integer-ns midpoint — `DIV 2`,
  * true integer division (ADVICE r5: Column `/` is double division
  * and ts_ns ≈ 1.7e18 exceeds 2^53) — computed in the plan
  * (broadcast scalar, no driver collect); watermark delay is 0 s, so
  * run 1's watermark = wave 1's max event (ms-floored) and wave 2
  * (strictly later) can never be late; sums are integer cents.
  *
  * Scale shape: this IS the 100 TB operational pattern — periodic
  * AvailableNow runs over a growing directory, each pricing only the
  * new files plus live state, with exactly-once landing via the
  * batch-id-partition overwrite sink. The fixture-split preamble is
  * the gate's harness, not the operator — and round 6 (VERDICT r5
  * item 5) prices it accordingly: the two wave parquet sets are
  * WRITTEN once per (session, dir) into a fixtures dir and each
  * invocation only copies them into a fresh source dir, so the
  * repeated query measures the checkpoint-resume lifecycle itself,
  * not two fixture rewrites.
  *
  * The workspace is the session's [[graft.core.StoreRoot]] store for
  * the fixture dir (two concurrent JVMs over one fixture — bench and
  * verify — must not delete each other's live checkpoint); the
  * per-run subtree is RESET at the start of each invocation (same
  * leak discipline as [[Stateful]]'s stream dir), and the sink stays
  * readable after return for Verify's parquet dump.
  */
object Resume {

  private val HourUs = 3600L * 1000 * 1000

  /** Write `df` as a wave of parquet part files moved into `destDir`
    * under `prefix` (staging write + move — the file source consumes
    * bare files, not writer directories). Parallel on both sides: the
    * write keeps the frame's partitioning (a coalesce(1) wave cost
    * 56 s at sf1 — one task writing, then one task reading), and the
    * arrival batch reads all of a wave's files concurrently.
    */
  private def writeWave(df: DataFrame, staging: Path, destDir: Path,
      prefix: String): Unit = {
    df.write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging)
    try {
      import scala.jdk.CollectionConverters._
      val moved = part.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex
        .map { case (f, i) =>
          Files.move(f, destDir.resolve(s"$prefix-$i.parquet")); 1
        }.sum
      if (moved == 0) throw new IllegalStateException(
        s"no parquet part files under $staging")
    } finally part.close()
  }

  /** Copy the fixture files for `prefix` into `dest` (the growing
    * source directory of the current run).
    */
  private def copyWave(fixtures: Path, dest: Path, prefix: String): Unit = {
    val ls = Files.list(fixtures)
    try {
      import scala.jdk.CollectionConverters._
      val n = ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"$prefix-"))
        .map { f =>
          Files.copy(f, dest.resolve(f.getFileName.toString),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING); 1
        }.sum
      if (n == 0) throw new IllegalStateException(
        s"no $prefix fixture files under $fixtures")
    } finally ls.close()
  }

  def resumeTumbling(s: SparkSession, dir: String): DataFrame = {
    val base = Paths.get(StoreRoot.path(s, "resume", dir))
    val fixtures = base.resolve("fixtures")

    // Both wave parquet sets are written ONCE per (session, dir);
    // every invocation after the first only copies them.
    graft.operators.Lineage.ensure(s, dir, "resume_waves") {
      StoreRoot.rmTree(fixtures); Files.createDirectories(fixtures)
      val staging = base.resolve("staging")
      val ev = Tables(s, dir, "events")
        .select(col("ts_ns"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      // Integer-ns midpoint as a broadcast scalar frame (no collect);
      // DIV keeps the arithmetic in exact BIGINT space end to end.
      val mid = broadcast(ev.agg(
        expr("min(ts_ns) + (max(ts_ns) - min(ts_ns)) DIV 2").as("mid_ns")))
      val waved = ev.crossJoin(mid)
      writeWave(waved.filter(col("ts_ns") <= col("mid_ns")).drop("mid_ns"),
        staging, fixtures, "wave1")
      writeWave(waved.filter(col("ts_ns") > col("mid_ns")).drop("mid_ns"),
        staging, fixtures, "wave2")
      StoreRoot.rmTree(staging)
    }

    val work = base.resolve("run")
    StoreRoot.rmTree(work)
    val src = work.resolve("src"); Files.createDirectories(src)
    val ckpt = work.resolve("ckpt")
    val out = work.resolve("out")
    copyWave(fixtures, src, "wave1")

    val waveSchema = s.read.parquet(src.toString).schema

    val sc = graft.GraftSession.scoped(s, Stateful.rocksDbState(s))
    def runOnce(): Unit = {
      val agg = sc.readStream.schema(waveSchema).parquet(src.toString)
        .withColumn("ts_wm", timestamp_micros(expr("ts_ns DIV 1000")))
        .withWatermark("ts_wm", "0 seconds")
        .groupBy(window(col("ts_wm"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"), col("sum_cents"))
      Streams.drain(agg, ckpt.toString)(Segments.stage(out.toString))
    }

    // A streaming query's state-partition count is fixed at first
    // start from spark.sql.shuffle.partitions, and each micro-batch
    // commit writes one delta + snapshot per partition — at 32
    // partitions that checkpoint fan-out IS most of this query's
    // fixed cost (the aggregate has a few thousand groups). The
    // lifecycle runs on a CHILD session pinned to 4 partitions
    // (VERDICT r6 item 6 — isolated conf, nothing to restore, no
    // race with concurrent queries on the caller's session). State is
    // in RocksDB: on resume the HDFS-backed store logged a WARN for
    // every snapshot version it found missing.
    runOnce() // wave 1: early windows sealed + emitted, boundary
              // window and source offsets checkpointed
    copyWave(fixtures, src, "wave2")
    runOnce() // RESUME: new query, same checkpoint — offsets + state
              // restored, wave 2 priced, remaining windows emitted

    s.read.parquet(out.toString)
      .select("window_start", "event_type", "n", "sum_cents")
      .orderBy("window_start", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_resume_tumbling" -> resumeTumbling,
  )

  // Batch restatement over ALL events, with the streaming emission
  // cutoff: a window is emitted iff the final watermark — the max
  // event µs floored to Spark's ms watermark clock — has passed its
  // end. Resume correctness is what makes the full-data batch answer
  // the right oracle: any offset replay / state loss / double
  // emission in the two-run lifecycle diverges from it.
  val oracles: Map[String, String] = Map(
    "st_resume_tumbling" ->
      s"""WITH e AS (SELECT CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us,
           event_type, CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         wm AS (SELECT (MAX(us) // 1000) * 1000 AS w FROM e),
         a AS (SELECT (us // $HourUs) * $HourUs AS ws, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
           FROM e GROUP BY 1, 2)
         SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, n, sum_cents
         FROM a, wm WHERE ws + $HourUs <= wm.w
         ORDER BY window_start, event_type""",
  )
}
