package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.GraftSession
import graft.core.StoreRoot

/** The one stream runner and the one wave driver of the streaming
  * stores: every streaming query in the engine starts here.
  */
object Streams {

  /** Run `frame` into `sink` from `checkpoint` with
    * `Trigger.AvailableNow` and wait for it to end: it drains what is
    * present, runs the trailing no-data batch that flushes watermark
    * state, and stops on a batch boundary — no epoch is in flight when
    * this returns. A production run would use a processing-time
    * trigger with the same sink.
    */
  def availableNow(frame: DataFrame, checkpoint: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    sink(frame.writeStream)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** [[availableNow]] into a `foreachBatch` body. */
  def drain(frame: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): Unit =
    availableNow(frame, checkpoint)(_.foreachBatch(body))

  /** The wave source of a store built at `path`: each [[add]] appends
    * one parquet file of `rows` under `src/`, which the
    * `maxFilesPerTrigger=1` stream reads as one micro-batch, and each
    * [[run]] runs an ingest from the store's one `ckpt/`, so batch
    * numbering continues across runs.
    */
  final class Waves(s: SparkSession, path: String, rows: DataFrame) {
    private val src = s"$path/src"

    def add(wave: Column): Unit =
      rows.filter(wave).coalesce(1).write.mode("append").parquet(src)

    def run(
        ingest: (SparkSession, String, DataFrame, String) => Unit): Unit =
      ingest(s, path, s.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1").parquet(src), s"$path/ckpt")
  }

  /** Build the wave store `key` of `family` for fixture `dir` once per
    * session and return its path. The build runs on a child session
    * with wave-sized shuffle partitions: a micro-batch of a few hundred
    * rows otherwise fans every join, aggregate and staged write out to
    * the caller's core-count partitions. Results are partition-count
    * invariant (spec-pinned). A crashed previous build's root is
    * deleted first.
    */
  def waveStore(s0: SparkSession, dir: String, family: String,
      key: String)(build: (SparkSession, String) => Unit): String = {
    val path = StoreRoot.path(s0, family, dir)
    graft.operators.Lineage.ensure(s0, dir, key) {
      val s = GraftSession.scoped(s0, GraftSession.wavePartitions(s0))
      StoreRoot.rmTree(java.nio.file.Paths.get(path))
      build(s, path)
    }
    path
  }
}
