package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.{VectorIndex, VectorSearch, VersionedIndex}

/** STREAMING INGESTION into the persisted ANN index (a
  * [[VersionedIndex]] root) — the lifecycle composition a production
  * vector store runs continuously: embedding batches arrive on a
  * stream, each micro-batch is encoded against the current
  * snapshot's STORED quantizers (never retrained — `|batch|` work,
  * independent of store size) and becomes searchable immediately,
  * with exactly-once effect under Structured Streaming's
  * at-least-once `foreachBatch` replay contract.
  *
  * The segment design is [[Segments]]' growing/sealed protocol:
  *
  *  - [[ingest]] lands each micro-batch's ENCODED rows in a STAGED
  *    area partitioned by `batch_id` ([[Segments.stage]]): a replayed
  *    batch REPLACES its own partition instead of duplicating rows,
  *    so retries converge. The committed index is never touched by
  *    the hot path — no read-modify-write on the index inside a
  *    micro-batch.
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

  private val Cols = Seq("vec_id", "codes", "cid")

  /** Run the embedding stream `batches` (vec_id, v, nrm) into the
    * staging area of the index at `path`, encoded against the current
    * snapshot's quantizers.
    */
  def ingest(s: SparkSession, path: String, batches: DataFrame,
      checkpoint: String): Unit = {
    val m = current(s, path)
    val cent = VersionedIndex.centOf(s, path, m).localCheckpoint()
    val cb = VersionedIndex.cbOf(s, path, m).localCheckpoint()
    Streams.drain(batches, checkpoint) { (b, batchId) =>
      Segments.stage(staged(path))(VectorIndex.encode(b, cent, cb), batchId)
    }
  }

  /** IVFADC over the current snapshot's lists ∪ staged — streamed
    * vectors are searchable before any publish. Falls back to the
    * sealed-only scan when the staging area is empty or absent.
    */
  def searchAll(s: SparkSession, path: String, q: DataFrame,
      corpus: DataFrame): DataFrame = {
    val m = current(s, path)
    val all = Segments.staged(s,
      VersionedIndex.listsOf(s, path, m).select(Cols.map(col): _*),
      staged(path), Cols)
    VectorIndex.searchFrames(s, VersionedIndex.centOf(s, path, m),
      VersionedIndex.cbOf(s, path, m), all, q, corpus)
  }

  /** Seal the staging area BATCH BY BATCH ([[Segments.publish]]): each
    * batch commits as one list pub of a new snapshot, and its staging
    * partition is deleted only after that commit — so a crash anywhere
    * leaves at most ONE batch in the committed-but-still-staged state,
    * and the recovery for that state is built into the seal itself:
    * each batch is anti-joined against the current snapshot's lists
    * on `vec_id` (with the scan pruned to the batch's own cid
    * partitions by a broadcast-join DynamicPruning, the
    * [[VectorIndex.searchFrames]] probe discipline), and a batch with
    * no missing row commits nothing. The recovery cost is one batch
    * against its own partitions, never a store scan.
    *
    * Returns the number of rows actually committed (a recovery rerun
    * reports only the delta).
    */
  def publish(s: SparkSession, path: String): Long =
    Segments.publish(s, Seq(Segments.Table(staged(path), Cols, { rows =>
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
      n
    }))).head

  // -----------------------------------------------------------------
  // ss_ingest_search: the pre-publish search parity, PROMOTED from a
  // spec to an oracle gate (VERDICT r7 item 8). The base slice is
  // index-built; the remainder streams into the STAGING area in two
  // real micro-batches and is never published — yet [[searchAll]]
  // over sealed ∪ staged must hash-match the same oracle as the
  // batch-appended store (`ss_ivfpq_incr`'s SQL, reused VERBATIM):
  // growing-segment reads are not weaker than sealed reads.
  def ingestSearch(s0: SparkSession, dir: String): DataFrame = {
    val path = Streams.waveStore(s0, dir, "ingest_gate",
        "ss_ingest_store") { (s, path) =>
      val et = VectorIndex.withThreshold(VectorSearch.vecs(s, dir))
        .localCheckpoint()
      VersionedIndex.publishBuild(s, path,
        et.filter(col("vec_id") < col("thr")).drop("thr"))
      val rest = et.filter(col("vec_id") >= col("thr")).drop("thr")
        .localCheckpoint()
      // two waves split by parity → two micro-batches.
      val waves = new Streams.Waves(s, path, rest)
      waves.add(col("vec_id") % 2 === 0)
      waves.add(col("vec_id") % 2 === 1)
      waves.run(ingest)
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
}
