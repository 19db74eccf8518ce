package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** STREAMING DOCUMENT DEDUP against the persisted signature store
  * (VERDICT r7 item 3): the daily-ingest shape for text — documents
  * arrive on a stream, each micro-batch is MinHash-sketched ONCE,
  * LSH-joined against the durable signature store plus the earlier
  * staged batches, exactly verified, and the discovered near-dup
  * pairs become durable with exactly-once effect. The composition of
  * [[Dedup.incremental]]'s store contract (per batch: |batch| sketch
  * work + batch×bucket join work — history is never re-sketched)
  * with the [[Segments]] growing/sealed lifecycle.
  *
  * Store layout at `path`:
  *  - `sigs/`      — (doc_id, bi, bh) banded MinHash signatures:
  *                   THE signature store [[Dedup.incremental]] reads.
  *  - `shingles/`  — (doc_id, shingles): the exact-verify side table.
  *  - `pairs/`     — (doc_a, doc_b, inter, uni) verified near-dup
  *                   pairs discovered so far.
  *  - `staged_{sigs,shingles,pairs}/` — the growing segment, one
  *    [[Segments.stage]] partition per micro-batch, so a replayed
  *    batch REPLACES its own partition.
  *
  * Exactly-once discipline (the [[Segments]] proof shape):
  * ingest replay converges by batch_id overwrite — and each batch
  * joins only against the store plus staged batches with
  * batch_id < its own, so a replay after LATER batches landed still
  * recomputes the original pair set (no double-discovery across
  * partitions). Publish replay converges by anti-join: each batch's
  * rows are appended only where missing (sigs/shingles by doc_id,
  * pairs by endpoint pair), its staging partitions deleted only after
  * the appends land.
  *
  * The correctness contract, oracle-gated by `dd_stream_dedup`:
  * after the waves are ingested, sealed ∪ staged pairs ≡ the FULL
  * corpus [[Dedup.minhashLsh]] restricted to pairs with at least one
  * streamed endpoint — the [[Dedup.incremental]] equivalence, proven
  * through the streaming lifecycle instead of a single batch.
  */
object DedupIngest {

  private def sigs(path: String) = s"$path/sigs"
  private def shing(path: String) = s"$path/shingles"
  private def pairs(path: String) = s"$path/pairs"
  private def stSigs(path: String) = s"$path/staged_sigs"
  private def stShing(path: String) = s"$path/staged_shingles"
  private def stPairs(path: String) = s"$path/staged_pairs"

  private val SigCols = Seq("doc_id", "bi", "bh")
  private val ShingCols = Seq("doc_id", "shingles")
  private val PairCols = Seq("doc_a", "doc_b", "inter", "uni")

  /** Build the durable store from the historical corpus
    * (doc_id, text): signatures and shingle sets. The store starts
    * with NO pairs table: pairs are what ingestion DISCOVERS
    * (historical-internal pairs are a prior run's output, out of
    * scope by the [[Dedup.incremental]] contract).
    */
  def build(s: SparkSession, corpus: DataFrame, path: String): Unit = {
    val sh = Dedup.shingleFrame(corpus).localCheckpoint()
    sh.write.mode("overwrite").parquet(shing(path))
    Dedup.bandedSigs(sh).write.mode("overwrite").parquet(sigs(path))
  }

  /** Run the document stream `batches` (doc_id, text) against the
    * store at `path`. Per micro-batch: sketch the batch, join its
    * band keys against store ∪ staged(<batch) ∪ itself, verify
    * candidates exactly against the corresponding shingle sets, land
    * (sigs, shingles, pairs) in the batch's staging partitions.
    */
  def ingest(s: SparkSession, path: String, batches: DataFrame,
      checkpoint: String): Unit =
    Streams.drain(batches, checkpoint) { (b, batchId) =>
      val shB = Dedup.shingleFrame(b).localCheckpoint()
      val sigB = Dedup.bandedSigs(shB).localCheckpoint()
      // Prior context: the sealed store plus earlier staged
      // batches — NOT later ones, so a replayed batch recomputes
      // its original pair set even after successors landed.
      val priorSigs = Segments.staged(s,
        s.read.parquet(sigs(path)).select(SigCols.map(col): _*),
        stSigs(path), SigCols, batchId)
      val priorShing = Segments.staged(s,
        s.read.parquet(shing(path)).select(ShingCols.map(col): _*),
        stShing(path), ShingCols, batchId)
      def cond = col("a.bi") === col("b.bi") &&
        col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id")
      // (x, batch) for any x — covers batch-batch once — plus
      // (batch, prior): all colliding pairs with ≥1 batch
      // endpoint, each once (the Dedup.incremental shape).
      val up = priorSigs.unionByName(sigB).as("a")
        .join(sigB.as("b"), cond)
        .select(col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"))
      val down = sigB.as("a").join(priorSigs.as("b"), cond)
        .select(col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"))
      val cand = up.union(down).distinct()
      val allSh = priorShing.unionByName(shB)
      val x = allSh.select(col("doc_id").as("doc_a"),
        col("shingles").as("sha"))
      val y = allSh.select(col("doc_id").as("doc_b"),
        col("shingles").as("shb"))
      val verified = cand.join(x, "doc_a").join(y, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sha"), col("shb"))).cast("long")
            .as("inter"),
          (size(col("sha")) + size(col("shb"))
            - size(array_intersect(col("sha"), col("shb"))))
            .cast("long").as("uni"))
        .filter(col("inter") * 10 >= col("uni") * 7)
      Segments.stage(stSigs(path))(sigB, batchId)
      Segments.stage(stShing(path))(shB, batchId)
      Segments.stage(stPairs(path))(verified, batchId)
    }

  /** All discovered pairs, sealed ∪ staged — results are visible
    * BEFORE any publish, the growing-segment read path.
    */
  def pairsAll(s: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(pairs(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sealedP =
      if (fs.exists(p))
        s.read.parquet(pairs(path)).select(PairCols.map(col): _*)
      else s.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"),
        col("id").as("inter"), col("id").as("uni")) // no publish yet
    Segments.staged(s, sealedP, stPairs(path), PairCols)
  }

  /** Seal the staging areas into the durable store
    * ([[Segments.publish]]): each table appends its batch's rows only
    * where missing (sigs and shingles by doc_id, pairs by endpoint
    * pair), and a batch's partitions are deleted sigs → shingles →
    * pairs, pairs LAST. A rerun after any crash appends only what is
    * genuinely missing and reports only the delta of PAIRS appended.
    */
  def publish(s: SparkSession, path: String): Long =
    Segments.publish(s, Seq(
      Segments.Table(stSigs(path), SigCols,
        Segments.appendMissing(s, sigs(path), Seq("doc_id"))),
      Segments.Table(stShing(path), ShingCols,
        Segments.appendMissing(s, shing(path), Seq("doc_id"))),
      Segments.Table(stPairs(path), PairCols,
        Segments.appendMissing(s, pairs(path), Seq("doc_a", "doc_b")))
    )).last

  /** ROW-LEVEL FORGET on the signature store (VERDICT r12 item 4's
    * MinHash mirror of [[graft.sim.VersionedIndex.publishDelete]]):
    * remove `ids` (a (doc_id) frame) from every table of the store —
    * sealed sigs/shingles, every staged batch partition, and every
    * discovered pair with a forgotten ENDPOINT (sealed or staged).
    *
    * Correctness shape: a verified pair (a, b) depends only on docs
    * a and b (band collision + exact shingle verify between the two),
    * never on any third document — so subtracting the forgotten rows
    * yields EXACTLY the store a history without those docs would have
    * produced (DedupIngestSpec gates this against an independent
    * recompute). That locality is what makes forget a rewrite, not a
    * re-ingest.
    *
    * Mechanics: each table rewrites KEPT rows only (localCheckpoint-
    * materialized before the overwrite — the [[graft.sim.VectorIndex
    * .compact]] never-read-what-you-replace discipline); a table with
    * no forgotten row is left byte-for-byte untouched, so a REPLAYED
    * forget is a provable no-op. At 100 TB the sealed tables would
    * carry a doc-bucket partition column and this rewrite would touch
    * only the buckets holding forgotten docs (the `cid=` discipline);
    * the store tier here keeps the flat layout its readers already
    * scan. Returns (forgotten docs present in the store, removed
    * pair rows) — (0, 0) means the store did not change.
    */
  def forget(s: SparkSession, path: String,
      ids: DataFrame): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val del = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().localCheckpoint()

    def exists(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir))

    // How many forgotten docs the store actually holds (sealed ∪
    // staged sigs) — the non-vacuity half of the return value.
    val present = (Seq(sigs(path), stSigs(path)).filter(exists) match {
      case Nil => 0L
      case ds => ds.map(d => s.read.parquet(d).select("doc_id"))
        .reduce(_ unionByName _).join(del, "doc_id")
        .select("doc_id").distinct().count()
    })

    /** Rewrite `dir` keeping only non-forgotten rows; no-op when the
      * table holds none. Returns removed row count.
      */
    def scrub(dir: String, isPairs: Boolean,
        stagedLayout: Boolean): Long = {
      if (!exists(dir)) return 0L
      val df = s.read.parquet(dir)
      val kept = (if (isPairs)
        df.join(del.select(col("doc_id").as("doc_a")),
            Seq("doc_a"), "left_anti")
          .join(del.select(col("doc_id").as("doc_b")),
            Seq("doc_b"), "left_anti")
        else df.join(del, Seq("doc_id"), "left_anti"))
        .localCheckpoint()
      val removed = df.count() - kept.count()
      if (removed > 0L) {
        if (stagedLayout) {
          // Staged roots are batch_id-partitioned; a batch whose rows
          // were ALL forgotten must lose its partition too, so the
          // root is replaced wholesale (staging is transient and
          // batch-sized by construction).
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
          if (!kept.isEmpty)
            kept.write.mode("overwrite").partitionBy("batch_id")
              .parquet(dir)
        } else kept.write.mode("overwrite").parquet(dir)
      }
      removed
    }

    scrub(sigs(path), isPairs = false, stagedLayout = false)
    scrub(shing(path), isPairs = false, stagedLayout = false)
    scrub(stSigs(path), isPairs = false, stagedLayout = true)
    scrub(stShing(path), isPairs = false, stagedLayout = true)
    val rp = scrub(pairs(path), isPairs = true, stagedLayout = false) +
      scrub(stPairs(path), isPairs = true, stagedLayout = true)
    (present, rp)
  }

  // -----------------------------------------------------------------
  // dd_stream_dedup: the oracle-gated lifecycle. Historical store =
  // doc_id % 10 == 7 (the decontam eval-slice convention); the rest
  // of the corpus streams in three waves by doc_id % 3 — one parquet
  // file per wave, maxFilesPerTrigger=1, so each wave is one
  // micro-batch. Waves 0–1 are ingested and PUBLISHED (sealed path),
  // wave 2 is ingested but left staged (growing path), and the gated
  // result reads sealed ∪ staged — so the oracle hash covers both
  // segment states plus the cross-batch join (fixture-verified
  // non-vacuous: same-wave, cross-wave and wave-vs-store pairs all
  // occur at sf0.001 and sf0.01).
  private[graft] val HistMod = 7
  private[graft] val Waves = 3

  /** The fixture's documents (doc_id, text), the source of every
    * doc-streaming store: history is `doc_id % 10 == HistMod`.
    */
  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents").select("doc_id", "text")
      .localCheckpoint()

  /** Streamed wave `w`: the non-history docs with `doc_id % Waves == w`. */
  private[graft] def wave(w: Int): Column =
    col("doc_id") % 10 =!= HistMod && col("doc_id") % Waves === w

  def streamDedup(s0: SparkSession, dir: String): DataFrame = {
    val path = Streams.waveStore(s0, dir, "dedup_ingest",
        "dd_stream_store") { (s, path) =>
      val all = docs(s, dir)
      build(s, all.filter(col("doc_id") % 10 === HistMod), path)
      val waves = new Streams.Waves(s, path, all)
      waves.add(wave(0)); waves.add(wave(1))
      waves.run(ingest)
      publish(s, path)
      waves.add(wave(2))
      waves.run(ingest) // staged, deliberately unpublished
    }
    pairsAll(s0, path).orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_stream_dedup" -> streamDedup,
  )

  // The oracle: the full-corpus LSH verified-pair chain restricted
  // to pairs with at least one streamed (non-historical) endpoint —
  // the Dedup.incremental equivalence through the stream lifecycle.
  val oracles: Map[String, String] = Map(
    "dd_stream_dedup" ->
      s"""WITH ${Dedup.DLshPairCtes}
         SELECT doc_a, doc_b, inter, uni FROM pr
         WHERE doc_a % 10 != $HistMod OR doc_b % 10 != $HistMod
         ORDER BY doc_a, doc_b""",
  )
}
