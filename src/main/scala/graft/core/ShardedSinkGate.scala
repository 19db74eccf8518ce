package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Oracle gate for the SHARDED-SORTED text sink — [[TextSink]]'s
  * `single = false` scale mode (VERDICT r5 item 7: the 100 TB output
  * path had a golden-file spec but no green correctness row).
  *
  * The reference's output contract is ONE globally sorted file
  * (`src/mapreduce.c:446-489` in `/root/reference`); the scale mode
  * relaxes it to "globally sorted ACROSS part files": part i's keys
  * all precede part i+1's, so concatenating the shards in filename
  * order reproduces the single-file contract without funnelling the
  * corpus through one writer task.
  *
  * `s4_sharded_sink` gates exactly that concatenation property,
  * boundary-independently: it sorts `lineitem` by its primary key,
  * writes it through the sharded sink as formatted text lines, reads
  * the shards back preserving within-file line order, reconstructs
  * each line's GLOBAL position as (lines in earlier shards) + (index
  * within its shard), and returns (line_no, key columns). The DuckDB
  * oracle is `ROW_NUMBER() OVER (ORDER BY pk)` over the same table —
  * the two agree iff shard-order concatenation IS the total order.
  * Where the range partitioner put the shard boundaries (it samples,
  * so boundaries vary run to run) cancels out of the reconstruction;
  * only a genuine ordering violation — an unsorted shard, shards
  * overlapping in key space, a lost or duplicated line — can move any
  * line_no and turn the hash red.
  *
  * Plumbing notes: `wholeTextFiles` is the one read path that
  * guarantees line order WITHIN a file (the splittable text reader
  * may split one file across tasks); shards at gate scale are a few
  * MB so one record per file is fine, and the gate's subject is the
  * writer's cross-file ordering, not the reader. The running shard
  * offset is an in-plan window over the per-shard count frame — one
  * row per part file (≤ shuffle.partitions), so the unpartitioned
  * window is a deliberate tiny-frame single-task step, same as the
  * broadcast scalar pattern. Workspace is keyed by fixture md5 +
  * application id (the [[graft.streaming.Resume]] concurrency
  * discipline).
  *
  * Scale shape: the write is `orderBy` (range-partitioned distributed
  * sort — every writer task writes one key range) + per-task text
  * write; the read-back is per-file parallel. Nothing funnels through
  * the driver or a single task except the K-row offset frame.
  */
object ShardedSinkGate {

  /** Shard-count floor (gate-sized fixtures still exercise a
    * multi-shard write).
    */
  val Shards = 8

  /** Target lines per shard. The shard count is DERIVED from the
    * table size (round-6 64×-octave finding: a fixed count broke both
    * the "shards are a few MB" contract the wholeTextFiles read-back
    * relies on — a 38M-row fixture put ~100 MB in ONE in-memory
    * string per file — and the writer's parallelism, 8 sort tasks on
    * 32 cores; measured 5.1× wall per 2× data. One metadata-only
    * parquet count pins rows/shard instead, the same derived-
    * parameter discipline as the √N kNN centroid law). Shard
    * boundaries provably cancel out of the gate's line_no
    * reconstruction, so the derivation cannot move the oracle hash.
    */
  val ShardRows = 1L << 20

  def shardedSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = StoreRoot.path(s, "sharded", dir) + "/out"
    val shards = math.max(Shards.toLong,
      (Tables(s, dir, "lineitem").count() + ShardRows - 1) / ShardRows)
      .toInt

    // The sharded writer PICKS its shard count (at 100 TB: total
    // bytes / target shard size) and sorts within explicit range
    // shards — `repartitionByRange(K) + sortWithinPartitions` is the
    // same global order as `orderBy` but with a user-pinned partition
    // count, which AQE honors (a bare orderBy at gate scale coalesces
    // to one partition and the write would degenerate to the
    // single-file mode this gate exists to distinguish).
    val sorted = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long"),
        col("l_linenumber").cast("long"),
        col("l_suppkey").cast("long"))
      .as[(Long, Long, Long)]
      .repartitionByRange(shards, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
    TextSink.write[(Long, Long, Long)](sorted,
      t => s"${t._1} ${t._2} ${t._3}", out, single = false)

    val lines = s.sparkContext.wholeTextFiles(s"$out/part-*")
      .flatMap { case (file, content) =>
        val shard = "part-(\\d+)".r.findFirstMatchIn(file) match {
          case Some(m) => m.group(1).toLong
          case None => throw new IllegalStateException(
            s"unrecognized part file name: $file")
        }
        content.split("\n").iterator.filter(_.nonEmpty).zipWithIndex
          .map { case (line, i) => (shard, i.toLong, line) }
      }.toDF("shard", "idx", "line")

    val offsets = lines.groupBy("shard").agg(count(lit(1)).as("n"))
      .withColumn("off",
        sum("n").over(Window.orderBy("shard")) - col("n"))
      .select("shard", "off")

    val f = split(col("line"), " ")
    lines.join(offsets, "shard")
      .select((col("off") + col("idx")).as("line_no"),
        f.getItem(0).cast("long").as("l_orderkey"),
        f.getItem(1).cast("long").as("l_linenumber"),
        f.getItem(2).cast("long").as("l_suppkey"))
      .orderBy("line_no")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s4_sharded_sink" -> shardedSink,
  )

  val oracles: Map[String, String] = Map(
    "s4_sharded_sink" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1
             AS line_no,
           CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(l_suppkey AS BIGINT) AS l_suppkey
         FROM lineitem ORDER BY line_no""",
  )
}
