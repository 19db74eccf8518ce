package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.StoreRoot

/** PERSISTED TOKENIZER ARTIFACT — the "train once, ship the
  * tokenizer" lifecycle every production pipeline runs (the
  * tokenizer.json shape): training happens once on a corpus
  * snapshot; every later ingest batch is encoded against the STORED
  * tables without retraining, and two pipelines loading the same
  * artifact tokenize identically forever. This is the tokenizer twin
  * of the persisted ANN index ([[graft.sim.VectorIndex]]): the
  * session-cached Lineage frames have session lifetime, a production
  * tokenizer is a durable on-disk table.
  *
  * Layout at `path`:
  *  - `merges`  — the learned BPE merge table (rank, left_sym,
  *    right_sym, merged, pair_count): the audit/provenance record.
  *  - `pieces`  — the final per-vocabulary-word segmentation
  *    (word, freq, pos, sym): because training operates on DISTINCT
  *    words, this table IS the trained tokenizer's encoding of every
  *    vocabulary word, so applying the tokenizer to any batch is one
  *    hash join — no merge-loop replay, `|batch|` work.
  *
  * Out-of-vocabulary words in a later batch are surfaced as
  * `oov_tokens` rather than silently dropped — the signal that
  * triggers retraining in a real pipeline.
  */
object TokenizerStore {

  private def mergesPath(path: String) = s"$path/merges"
  private def piecesPath(path: String) = s"$path/pieces"

  /** Train on the corpus at `dir` (via the session-shared
    * [[BpeTrainer]] artifacts) and persist both tables.
    */
  def save(s: SparkSession, dir: String, path: String): Unit = {
    val (merges, pieces) = BpeTrainer.artifacts(s, dir)
    merges.write.mode("overwrite").parquet(mergesPath(path))
    pieces.write.mode("overwrite").parquet(piecesPath(path))
  }

  /** The stored merge table, rank order. */
  def loadMerges(s: SparkSession, path: String): DataFrame =
    s.read.parquet(mergesPath(path)).orderBy("rank")

  // -----------------------------------------------------------------
  // Byte-level store (round 8): the OOV-IMPOSSIBLE artifact. The
  // word-level store SURFACES out-of-vocabulary words; the byte-level
  // one cannot have any — an unseen pretoken is encoded by replaying
  // the stored merge table over its byte sequence, so
  // `encodeBatchBytes` reports a structurally-zero oov column purely
  // for API parity.
  //
  // ENCODING CONVENTION (ADVICE r8): unseen pretokens are segmented
  // by a SINGLE in-rank-order pass over the stored merges — each rank
  // applied once, greedily left-to-right. This is the store's DEFINED
  // convention, not a claim of equivalence to lowest-applicable-rank-
  // first fixpoint encoding (GPT-2 encoder semantics): two merges at
  // different ranks can produce the same merged symbol string, so a
  // later rank's rewrite can in principle create a pair an earlier,
  // already-passed rank would have merged. The sequential reference
  // in the spec uses the same single-pass convention, the training-
  // corpus vocabulary is segmented identically (the pieces table IS
  // the training-time single-pass result per rank), and the
  // convention is deterministic and engine-invariant — which is what
  // a persisted tokenizer artifact must guarantee.

  private def byteMergesPath(path: String) = s"$path/byte_merges"
  private def bytePiecesPath(path: String) = s"$path/byte_pieces"

  /** Persist the byte-level tokenizer (merge table + vocabulary
    * segmentations) trained on the corpus at `dir`.
    */
  def saveBytes(s: SparkSession, dir: String, path: String): Unit = {
    val (merges, pieces) = ByteBpe.artifacts(s, dir)
    merges.write.mode("overwrite").parquet(byteMergesPath(path))
    pieces.write.mode("overwrite").parquet(bytePiecesPath(path))
  }

  /** Train the byte-level tokenizer on an arbitrary (doc_id, text)
    * SNAPSHOT frame and persist it — the streaming corpus build's
    * "train once on the historical snapshot, encode every later
    * batch against the store" artifact ([[graft.streaming.PipeIngest]]).
    */
  def saveBytesOf(s: SparkSession, docs: DataFrame,
      path: String): Unit = {
    val (merges, pieces) =
      ByteBpe.trainOn(s, docs, ByteBpe.PretokRegex)
    merges.write.mode("overwrite").parquet(byteMergesPath(path))
    pieces.write.mode("overwrite").parquet(bytePiecesPath(path))
  }

  /** The stored byte-level merge table, rank order. */
  def loadBytesMerges(s: SparkSession, path: String): DataFrame =
    s.read.parquet(byteMergesPath(path)).orderBy("rank")

  /** Segment a frame of distinct pretoken hex keys (`word`) against
    * the stored byte tokenizer: vocabulary hits are a dictionary
    * join; unseen pretokens REPLAY the stored merges over their byte
    * seed under the single-pass rank-order convention documented
    * above — [[BpeCore.applyMerge]] per rank, each rank's pair pulled
    * as a 1-row NULL-safe aggregate (absent rank → NULL pair → the
    * rewrite is a provable no-op), so no driver-side collect of the
    * table. Work is |distinct unseen pretokens|, not |batch|.
    */
  def segmentBytes(s: SparkSession, path: String,
      words: DataFrame): DataFrame = {
    val stored = s.read.parquet(bytePiecesPath(path))
    val dw = words.select("word").distinct()
    val known = stored.join(dw, "word").select("word", "pos", "sym")
    val unseen = dw.join(stored.select("word").distinct(),
      Seq("word"), "left_anti")
    // Full-vocabulary-hit fast path (the common production case, and
    // the declared ta_tok_store_encode shape: a batch drawn from the
    // training corpus has no unseen pretokens): skip the replay loop
    // rather than schedule `maxRank` no-op jobs over an empty frame.
    // The probe is one limit-1 job over the vocabulary-bounded
    // anti-join, not a count.
    if (unseen.isEmpty) return known
    val merges = s.read.parquet(byteMergesPath(path))
    // 1-row probe for the stored rank count (the sanctioned
    // aggregate-probe shape); 0 when training exhausted instantly.
    val maxRank = Option(merges.agg(max("rank")).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // The fused-lookahead loop invariant (round 14 — the
    // [[BpeCore.mergeLoop]] discipline): the seed attaches `nxt`
    // once and [[BpeCore.applyMerge]] re-emits it from its own
    // window pass, so each replay rank runs ONE per-word window
    // pass instead of two.
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("word").orderBy("pos")
    var pieces = unseen
      .select(col("word"), lit(1L).as("freq"),
        explode(sequence(lit(1L),
          (length(col("word")) / 2).cast("long"))).as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        expr("substring(word, cast(2*pos - 1 as int), 2)").as("sym"))
      .withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      .localCheckpoint()
    var k = 1L
    while (k <= maxRank) {
      val best = merges.filter(col("rank") === k)
        .agg(min("left_sym").as("a"), min("right_sym").as("b"))
        .localCheckpoint()
      pieces = BpeCore.applyMerge(pieces, best).localCheckpoint()
      k += 1
    }
    known.unionByName(pieces.select("word", "pos", "sym"))
  }

  /** Encode an arbitrary (doc_id, text) batch against the STORED
    * byte tokenizer. Zero OOV by construction — every pretoken
    * segments, seen or not.
    */
  def encodeBatchBytes(s: SparkSession, path: String,
      batch: DataFrame): DataFrame = {
    val toks = batch.select(col("doc_id"),
        explode(regexp_extract_all(col("text"),
          lit(ByteBpe.PretokRegex), lit(0))).as("t"))
      .select(col("doc_id"), hex(encode(col("t"), "UTF-8")).as("word"))
    val perWord = segmentBytes(s, path, toks)
      .groupBy("word").agg(count(lit(1)).as("n_p"))
    val perDoc = toks
      .join(broadcast(perWord), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pretokens"),
        sum(when(col("n_p").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        // per-row cast → pure BIGINT sum (integer-fold discipline).
        sum((length(col("word")) / 2).cast("long")).as("n_bytes"),
        coalesce(sum("n_p"), lit(0L)).as("n_pieces"))
    batch.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pretokens"), lit(0L)).as("n_pretokens"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        coalesce(col("n_bytes"), lit(0L)).as("n_bytes"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .orderBy("doc_id")
  }

  // -----------------------------------------------------------------
  // ta_tok_store_encode: the byte-store LIFECYCLE as a declared
  // oracle row (round-8 spec promoted, like ss_ingest_search was).
  // The query runs the full artifact path — train once, persist both
  // tables to disk, read them back in a separate scan, encode the
  // corpus against the STORED tables — while the DuckDB twin
  // retrains from scratch and encodes in-query. Matching hashes
  // prove the persisted artifact round-trips losslessly: the on-disk
  // tokenizer encodes bit-for-bit like the session-trained one, with
  // the oov column DERIVED (left-join miss count) rather than
  // asserted, and structurally zero here because the batch is the
  // training corpus itself. 100 TB shape: the store build is the
  // flat-in-corpus-size byte trainer + two vocabulary-bounded
  // writes; the encode is one dictionary hash join + a per-doc
  // aggregate, |batch| work with the full-vocabulary-hit fast path
  // skipping the replay loop entirely.

  // The declared row's store lives in the session's [[StoreRoot]];
  // production callers pass their own path to [[saveBytes]].
  def storeEncode(s: SparkSession, dir: String): DataFrame = {
    val path = StoreRoot.path(s, "tok_store", dir)
    graft.operators.Lineage.ensure(s, dir, "ta_tok_store_bytes") {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true) // a crashed previous run's leftovers
      saveBytes(s, dir, path)
    }
    encodeBatchBytes(s, path,
      graft.Tables(s, dir, "documents").select("doc_id", "text"))
  }

  // ta_unigram_store_encode: the unigram-store lifecycle as a
  // declared row (the ta_tok_store_encode shape) — train once,
  // persist census + segmentations, read back from disk, encode the
  // corpus against the STORED tables; the DuckDB twin retrains
  // in-query. Matching hashes prove the selection-trained tokenizer
  // round-trips losslessly; `oov_tokens` is derived (left-join
  // miss), structurally zero here because the batch is the training
  // corpus and the fixture has no oversized words.
  def uniStoreEncode(s: SparkSession, dir: String): DataFrame = {
    val path = StoreRoot.path(s, "uni_store", dir)
    graft.operators.Lineage.ensure(s, dir, "ta_tok_store_uni") {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      saveUnigram(s, dir, path)
    }
    encodeBatchUnigram(s, path,
      graft.Tables(s, dir, "documents").select("doc_id", "text"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_tok_store_encode" -> storeEncode,
    "ta_unigram_store_encode" -> uniStoreEncode,
  )

  // The oracle retrains in-query (ByteBpe.TrainCtes) and derives the
  // census the store path reports; `oov_tokens` comes from the
  // left-join miss, never a literal.
  val oracles: Map[String, String] = Map(
    "ta_tok_store_encode" ->
      s"""WITH ${ByteBpe.TrainCtes},
         pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_p
           FROM pc${ByteBpe.Merges} GROUP BY word),
         pd AS (SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_pretokens,
             CAST(SUM(CASE WHEN pw.word IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS oov_tokens,
             CAST(SUM(len(t.word) // 2) AS BIGINT) AS n_bytes,
             CAST(COALESCE(SUM(n_p), 0) AS BIGINT) AS n_pieces
           FROM tok t LEFT JOIN pw USING (word) GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(pd.n_pretokens, 0) AS n_pretokens,
           coalesce(pd.oov_tokens, 0) AS oov_tokens,
           coalesce(pd.n_bytes, 0) AS n_bytes,
           coalesce(pd.n_pieces, 0) AS n_pieces
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",
    // The unigram twin: retrain in-query (UnigramTrainer.TrainCtes →
    // vbb = the final segmentations), derive the same census.
    "ta_unigram_store_encode" ->
      s"""WITH ${UnigramTrainer.TrainCtes},
         pw AS (SELECT word, np FROM vbb),
         pd AS (SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN pw.word IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS oov_tokens,
             CAST(SUM(len(t.word)) AS BIGINT) AS n_chars,
             CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pieces
           FROM tok t LEFT JOIN pw USING (word) GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(pd.n_tokens, 0) AS n_tokens,
           coalesce(pd.oov_tokens, 0) AS oov_tokens,
           coalesce(pd.n_chars, 0) AS n_chars,
           coalesce(pd.n_pieces, 0) AS n_pieces
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",
  )

  // -----------------------------------------------------------------
  // Unigram store (VERDICT r9 item 6): the SELECTION-trained
  // tokenizer ([[UnigramTrainer]]) gets the same ship-it lifecycle
  // as the merge-trained ones. Layout:
  //  - `uni_census` — the final usage census (piece, cnt): piece
  //    scores are ilog2(cnt) − ilog2(Σcnt), derivable from the table
  //    alone, so the census IS the model.
  //  - `uni_segs`   — (word, freq, sc, np, path): the trained
  //    Viterbi segmentation of every vocabulary word — applying the
  //    tokenizer to a batch is one dictionary hash join, no Viterbi
  //    replay, |batch| work.
  // The oversized-word rule travels with the artifact: words over
  // [[UnigramTrainer.MaxWordLen]] chars were excluded from training
  // (the standard max-sentence truncation), so they surface in the
  // encode's OOV census exactly like any other unseen word — the
  // retrain trigger, never a silent drop.

  private def uniCensusPath(path: String) = s"$path/uni_census"
  private def uniSegsPath(path: String) = s"$path/uni_segs"

  /** Train on the corpus at `dir` (via the session-shared
    * [[UnigramTrainer]] artifacts) and persist both tables.
    */
  def saveUnigram(s: SparkSession, dir: String, path: String): Unit = {
    val (vocab, vb2) = UnigramTrainer.artifacts(s, dir)
    vocab.write.mode("overwrite").parquet(uniCensusPath(path))
    vb2.select("word", "freq", "sc", "np", "path")
      .write.mode("overwrite").parquet(uniSegsPath(path))
  }

  /** The stored census, score order (cnt DESC, piece ASC). */
  def loadUnigramCensus(s: SparkSession, path: String): DataFrame =
    s.read.parquet(uniCensusPath(path)).orderBy(desc("cnt"), asc("piece"))

  /** Encode an arbitrary (doc_id, text) batch against the STORED
    * unigram tokenizer: reference tokenization, one dictionary hash
    * join against the segmentation table, per-doc aggregate with the
    * OOV census derived from the left-join miss (oversized or unseen
    * words — the retrain signal).
    */
  def encodeBatchUnigram(s: SparkSession, path: String,
      batch: DataFrame): DataFrame = {
    val toks = batch.select(col("doc_id"),
        explode(regexp_extract_all(col("text"),
          lit(WordCount.WordRegex), lit(0))).as("t"))
      .select(col("doc_id"), upper(col("t")).as("word"))
    val perWord = s.read.parquet(uniSegsPath(path))
      .select(col("word"), col("np"))
    val perDoc = toks
      .join(broadcast(perWord), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("np").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        coalesce(sum("np"), lit(0L)).as("n_pieces"))
    batch.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .orderBy("doc_id")
  }

  /** Encode an arbitrary (doc_id, text) batch against the STORED
    * tokenizer: reference tokenization, one hash join against the
    * pieces table, per-doc aggregate — plus the OOV census. No
    * retraining, no dependency on the training corpus being
    * reachable.
    */
  def encodeBatch(s: SparkSession, path: String,
      batch: DataFrame): DataFrame = {
    import WordCount.WordRegex
    val perWord = s.read.parquet(piecesPath(path))
      .groupBy("word").agg(count(lit(1)).as("n_p"))
    val toks = batch.select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(WordRegex), lit(0)))
          .as("t"))
      .select(col("doc_id"), upper(col("t")).as("word"))
    val perDoc = toks
      .join(broadcast(perWord), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("n_p").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        coalesce(sum("n_p"), lit(0L)).as("n_pieces"))
    batch.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .orderBy("doc_id")
  }
}
