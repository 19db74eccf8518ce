package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Formats

/** The GROWING/SEALED segment protocol of every streaming store — the
  * memtable/SSTable shape deployed vector databases and log stores
  * use (Milvus "growing vs sealed" segments, Lucene's uncommitted
  * buffer), and the insert path of "Continuously Adaptive Similarity
  * Search" (SIGMOD 2020): a built structure is kept current under
  * inserts without rebuilding it. [[IndexIngest]], [[DedupIngest]],
  * [[PipeIngest]] and [[Resume]] all stage and seal through here.
  *
  *  - [[stage]] lands micro-batch `b` in the `batch_id=b` partition
  *    of a staging root by dynamic partition overwrite. Structured
  *    Streaming's `foreachBatch` contract is AT-LEAST-once: a replayed
  *    batch arrives with the SAME id, so it REPLACES its own partition
  *    instead of duplicating rows, and committed history is never
  *    re-opened — recovery costs one micro-batch at any table size.
  *  - [[staged]] reads sealed ∪ staged, so streamed rows are visible
  *    before any publish.
  *  - [[publish]] seals batch by batch: each table's partition is
  *    sealed by the caller's (idempotent) seal, and the batch's
  *    partitions are deleted only after every seal landed. A crash
  *    anywhere leaves at most one batch sealed-but-still-staged, and
  *    the anti-join in each seal ([[appendMissing]]) makes the rerun
  *    commit only what is genuinely missing and report only that
  *    delta: ingest replay converges by batch-id overwrite, publish
  *    replay by the anti-join — no reader-side dedup.
  *
  * This object is the only code that names a `batch_id=` directory.
  */
object Segments {

  private val Part = "batch_id="

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Batch ids with a partition under `root`; empty when it is absent. */
  private def batchIds(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(Part))
      .map(_.getPath.getName.stripPrefix(Part).toLong)
  }

  private def leaf(root: String, b: Long) = new Path(root, s"$Part$b")

  /** The idempotent batch sink: a `foreachBatch` body landing each
    * micro-batch in its own `batch_id` partition under `root`.
    */
  def stage(root: String): (DataFrame, Long) => Unit = (df, batchId) =>
    Formats.backfillPartitions(
      df.withColumn("batch_id", lit(batchId)), "batch_id", root)

  /** `sealedDf` ∪ the staged `cols` with batch_id < `before`. The
    * staged side is read only when a `batch_id=` subdir exists, not
    * just the root: a publish can crash between deleting the last
    * partition and deleting the root, and an empty root makes schema
    * inference throw. The gate is metadata only — no Spark action.
    */
  def staged(s: SparkSession, sealedDf: DataFrame, root: String,
      cols: Seq[String], before: Long = Long.MaxValue): DataFrame =
    if (batchIds(fsOf(s, root), root).isEmpty) sealedDf
    else {
      val all = s.read.parquet(root)
      val rows = if (before == Long.MaxValue) all
        else all.filter(col("batch_id") < before)
      sealedDf.unionByName(rows.select(cols.map(col): _*))
    }

  /** One table of a segmented store: its staging root, the columns a
    * staged partition is sealed with (`batch_id` restored from the
    * partition being sealed), and the seal, which returns the rows it
    * committed and must commit nothing for rows already sealed.
    */
  final case class Table(root: String, cols: Seq[String],
      seal: DataFrame => Long)

  /** Seal every staged batch of `tables`, in batch-id order. Batch ids
    * are the union across the roots: a batch can stage nothing in one
    * table (a micro-batch with zero verified pairs), and a crashed
    * publish can have deleted some of its partitions already — each
    * table is sealed only where its partition still exists. The
    * batch's partitions are deleted in `tables` order after all seals,
    * then every batch-less root is cleared, unless a concurrent ingest
    * staged a fresh batch there meanwhile. Returns each table's
    * committed rows, in `tables` order.
    */
  def publish(s: SparkSession, tables: Seq[Table]): Seq[Long] = {
    val fs = fsOf(s, tables.head.root)
    val totals = Array.fill(tables.size)(0L)
    tables.flatMap(t => batchIds(fs, t.root)).distinct.sorted.foreach { b =>
      tables.zipWithIndex.foreach { case (t, i) =>
        val p = leaf(t.root, b)
        // Reading one leaf loses the partition column: restore it.
        if (fs.exists(p)) totals(i) += t.seal(s.read.parquet(p.toString)
          .withColumn("batch_id", lit(b)).select(t.cols.map(col): _*)
          .localCheckpoint())
      }
      tables.foreach(t => fs.delete(leaf(t.root, b), true))
    }
    tables.foreach { t =>
      if (fs.exists(new Path(t.root)) && batchIds(fs, t.root).isEmpty)
        fs.delete(new Path(t.root), true)
    }
    totals.toSeq
  }

  /** The anti-join seal: append the `rows` whose `keys` the parquet
    * table at `sealedRoot` does not hold yet (all of them when the
    * table does not exist yet) and return the count appended, read
    * from the write's own part-file footers.
    */
  def appendMissing(s: SparkSession, sealedRoot: String,
      keys: Seq[String])(rows: DataFrame): Long = {
    val miss =
      if (!fsOf(s, sealedRoot).exists(new Path(sealedRoot))) rows
      else rows.join(s.read.parquet(sealedRoot)
          .select(keys.map(col): _*).distinct(), keys, "left_anti")
        .localCheckpoint() // never read the table this write appends to
    Formats.appendCounted(miss, sealedRoot)
  }
}
