package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash.{hash60, tokens}

/** Corpus-preparation operators for a pre-training data pipeline:
  * vocabulary building, deterministic dataset splitting, and sequence
  * packing. These sit downstream of cleaning (ta_scrub), dedup
  * (dd_*), and quality filtering (ta_quality) in the usual pipeline
  * and are oracle-gated like everything else.
  *
  * Reference lineage: the reference engine stops at wordcount
  * (`examples/wordcount/wordcount.c`); these are north-star [ext]
  * capabilities over the same token stream.
  */
object CorpusOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  val VocabSize = 1000
  val PackShift = 11
  val PackLen = 1L << PackShift // 2048
  val PackBuckets = 32L

  // -----------------------------------------------------------------
  // ta_vocab: tokenizer vocabulary — top-K tokens by corpus frequency
  // with contiguous ids (frequency desc, token asc — the conventional
  // BPE-style id assignment where rank order is the vocabulary).
  // Scale shape: explode + count is the wordcount shuffle with
  // map-side partial aggregation; the top-K selection is
  // `orderBy(...).limit(K)` — Spark plans TakeOrderedAndProject, a
  // per-partition bounded heap merged on the driver, so NO task ever
  // sorts the full distinct vocabulary (billions of tokens on a
  // web-scale corpus). Contiguous ids are then assigned by a window
  // over the ≤K survivors only — a single-partition sort of K rows,
  // which is fine because K is the vocabulary size, not the corpus.
  // (For full-vocab ids — every distinct token, not top-K — the scale
  // recipe is range-partition by (cnt desc, token), count rows per
  // partition, and add cumulative partition offsets to per-partition
  // row_numbers; not needed for a bounded vocabulary.)
  def vocab(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(VocabSize)
      .withColumn("vocab_id",
        row_number().over(Window.orderBy(desc("cnt"), asc("token")))
          .cast("long"))
      .orderBy("vocab_id")

  // -----------------------------------------------------------------
  // ta_vocab_full: contiguous ids for EVERY distinct token — the
  // full-vocab companion to [[vocab]]'s top-K, via the scale recipe
  // that replaces a global no-partition window (single-task sort of
  // the whole vocabulary): distributed zipWithIndex.
  //
  //  1. range-repartition the counted vocabulary by the id sort key
  //     (cnt desc, token asc — a TOTAL order, token is unique), so
  //     partition p holds exactly ranks (|p0|+…+|p−1|, …];
  //  2. sort within partitions and take monotonically_increasing_id:
  //     its layout is partitionIndex·2^33 + rowIndex, and after a
  //     range repartition the physical partition index IS the range
  //     bucket index, so (pid, rn) decompose by bit shift;
  //  3. per-partition row counts (a VocabParts-row aggregate) turn
  //     into cumulative offsets with a window over VocabParts rows —
  //     bounded by the partition count, never by the data — and
  //     broadcast-join back: vocab_id = offset(pid) + rn + 1.
  //
  // The ids are invariant to where the range sampler places partition
  // boundaries (the sort key is total, so offsets + in-partition
  // ranks reconstruct the same global rank for ANY split), which is
  // what makes the distributed form oracle-checkable against DuckDB's
  // single global row_number(). VocabParts is explicit so AQE never
  // coalesces the range exchange out from under the pid arithmetic.
  val VocabParts = 16

  /** Range-partitioned dense id assignment over a (key, cnt) count
    * table: ids 1..N in (cnt DESC, key ASC) order, WITHOUT a global
    * single-partition window — the vocabFull discipline, factored
    * (round 8) so [[graft.text.BpeTrainer.bpePack]]'s piece-vocabulary
    * ids use it too. The layout is localCheckpoint'ed (eager, truly
    * immutable) rather than persist()'ed: `offsets` and the final
    * join are two subtrees over `laid`, and the range sampler's
    * boundaries are execution-dependent, so both consumers MUST read
    * one pinned evaluation — a checkpoint guarantees that regardless
    * of plan/exchange reuse, with no cross-call unpersist bookkeeping.
    * The only non-partitioned window left is the offsets prefix-sum
    * over [[VocabParts]] rows — a constant-bounded frame, the same
    * class as a broadcast 1-row aggregate.
    */
  private[graft] def rankedIds(counted: DataFrame, keyCol: String,
      cntCol: String, idCol: String): DataFrame =
    zipIndex(counted, Seq(desc(cntCol), asc(keyCol)), idCol)
      .select(col(keyCol), col(cntCol), (col(idCol) + 1L).as(idCol))

  /** The vocabFull discipline generalized to ANY total-order sort key
    * (VERDICT r11 item 3): ZERO-based dense ids in `sortKeys` order
    * with no data-sized single-partition window anywhere in the plan —
    * range repartition, per-partition row numbers from
    * monotonically_increasing_id's (pid, rn) bit layout, cumulative
    * partition offsets broadcast back. `sortKeys` must totally order
    * the rows (ids are then invariant to the range sampler's boundary
    * placement); column names mono/pid/rn/off are reserved by the
    * implementation. Consumers: vocab ids ([[rankedIds]], 1-based on
    * top) and the RAG persisted-index corpus vec_id
    * ([[graft.sim.RagRetrieve.ragIndex]] — previously a corpus-sized
    * single-task dense-rank window).
    */
  private[graft] def zipIndex(df: DataFrame, sortKeys: Seq[Column],
      idCol: String): DataFrame = {
    val laid = df
      .repartitionByRange(VocabParts, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .withColumn("mono", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("mono"), 33))
      .withColumn("rn", col("mono").bitwiseAND(lit((1L << 33) - 1)))
      .localCheckpoint()
    val offsets = laid.groupBy("pid").agg(count(lit(1)).as("psz"))
      .withColumn("off",
        coalesce(sum("psz").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "off")
    laid.join(broadcast(offsets), "pid")
      .withColumn(idCol, col("off") + col("rn"))
      .drop("mono", "pid", "rn", "off")
  }

  def vocabFull(s: SparkSession, dir: String): DataFrame = {
    val counted = docs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    rankedIds(counted, "token", "cnt", "vocab_id")
      .orderBy("vocab_id")
  }

  // -----------------------------------------------------------------
  // ta_split: deterministic train/validation/test assignment — bucket
  // = md5-derived 60-bit hash of the doc id modulo 100, split by
  // 80/10/10. Hash-based splitting is the standard reproducible
  // recipe (stable under reruns, insensitive to input order, no
  // coordination); the md5 scheme is the engine's cross-engine
  // deterministic hash ([[graft.functions.TextHash]]), so the oracle
  // reproduces it bit-for-bit. Pure narrow map — no shuffle.
  def split(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        (hash60(col("doc_id").cast("string")) % 100L).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  // -----------------------------------------------------------------
  // ta_sample: DETERMINISTIC-HASH downsampling — the reproducible
  // sampler a multi-engine pipeline wants (identical keep-set in any
  // engine, stable under reruns and input order, no RNG state),
  // complementing [[graft.operators.Sampling]]'s engine-native seeded
  // Bernoulli (spec-gated: XORShift draws are Spark-specific). The
  // declared shape is the common ablation recipe: keep TrainPct% of
  // the train split, all of validation/test — the sample draw is a
  // SECOND independent md5 hash ("s:" ++ doc_id), so membership in
  // the sample is independent of the split assignment hash. One
  // narrow scan-stage filter; no shuffle.
  val TrainPct = 10L

  def sample(s: SparkSession, dir: String): DataFrame =
    split(s, dir)
      .filter(col("split") =!= "train" ||
        hash60(concat(lit("s:"), col("doc_id").cast("string"))) % 100L
          < TrainPct)
      .select("doc_id", "split")
      .orderBy("doc_id")

  // -----------------------------------------------------------------
  // ta_mixture: DOMAIN-MIXTURE rebalancing — downsample every source
  // ("domain" in mixture terms: crawl snapshot, books, code, …) to
  // the smallest source's token budget, yielding a uniform domain
  // mixture. This is the resampling half of domain-reweighting
  // recipes (target weights × deterministic per-domain keep rates);
  // the uniform target keeps the oracle free of a weights side-table
  // while exercising the exact production shape:
  //
  //  1. per-source token totals — one tiny aggregate (|sources| rows);
  //  2. the min total T as a broadcast 1-row scalar;
  //  3. keep rate in parts-per-million, ppm_s = (10^6·T) div tok_s,
  //     in INTEGER arithmetic (long `div`, not double `/`) so both
  //     engines compute bit-identical rates;
  //  4. the keep decision = md5-hash draw ("m:" ++ doc_id, a third
  //     independent hash stream after split's and sample's) % 10^6
  //     < ppm_s — per-doc deterministic, order- and engine-invariant.
  //
  // Scale shape: the corpus is touched by two narrow scan passes (one
  // to count, one to filter+re-aggregate) joined against a broadcast
  // |sources|-row rate table; nothing is ever shuffled by doc. The
  // smallest source keeps ppm = 10^6 exactly — every draw passes —
  // so the floor of the mixture is preserved unsampled.
  val MixPpm = 1000000L

  def mixture(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val tot = d.groupBy("source")
      .agg(count(lit(1)).as("n_in"), sum("n_tok").as("tok_in"))
    val tmin = tot.agg(min("tok_in").as("tmin"))
    val rates = tot.crossJoin(broadcast(tmin))
      .withColumn("keep_ppm", expr(s"($MixPpm * tmin) div tok_in"))
      .select("source", "n_in", "tok_in", "keep_ppm")
    val kept = d
      .join(broadcast(rates.select("source", "keep_ppm")), "source")
      .filter(hash60(concat(lit("m:"), col("doc_id").cast("string")))
        % MixPpm < col("keep_ppm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tok").as("tok_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_in"), col("tok_in"), col("keep_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
      .orderBy("source")
  }

  // -----------------------------------------------------------------
  // ta_pack: sequence packing — assign documents to fixed-capacity
  // training sequences (PackLen tokens) by start offset: docs are
  // laid out contiguously in doc_id order and a doc belongs to the
  // pack its first token lands in (greedy contiguous packing; long
  // docs overflow their pack, matching the "pack then chunk"
  // convention). Packing is per-bucket (doc_id mod PackBuckets) so
  // the running-offset window parallelizes — the exact shape a
  // 1000-executor packing job uses, where buckets are the unit of
  // shard-local sequential layout.
  def pack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        (col("doc_id") % PackBuckets).as("bucket"))
      .select(col("bucket"), col("n_tokens"),
        // start-offset DIV PackLen as a shift: `/` on longs is DOUBLE
        // division in Spark (inexact past 2^53, the ADVICE-r1 nanos
        // bug class); PackLen = 2^PackShift makes the integral
        // division an exact bit shift in both engines' semantics.
        shiftright(sum(col("n_tokens")).over(w) - col("n_tokens"),
          PackShift).as("pack_id"))
      .groupBy("bucket", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"))
      .orderBy("bucket", "pack_id")
  }

  // -----------------------------------------------------------------
  // ta_chunk: fixed-size overlapping token windows — the RAG /
  // long-context chunker: each document becomes ⌈(n−C)/S⌉+1 chunks of
  // C=ChunkLen tokens at stride S=ChunkStride (overlap C−S), the last
  // chunk keeping the tail remainder. Chunk boundaries are integer
  // token arithmetic, identical in both engines; the fixture text is
  // single-space separated (verified: no doubled/leading/trailing
  // spaces), so the literal-space split is the token stream.
  //
  // Scale shape: a narrow per-row generate (explode of a sequence
  // whose length is the doc's own chunk count) — no shuffle at all
  // until the final presentation sort; output volume is
  // Σ ceil(n_i/S)·C tokens ≈ corpus × C/S, the expected ~1.33×
  // inflation of 16-token overlap at 32/24.
  val ChunkLen = 32
  val ChunkStride = 24

  def chunk(s: SparkSession, dir: String): DataFrame =
    chunkFrame(docs(s, dir)).orderBy("doc_id", "chunk_idx")

  /** The chunker as a pure frame→frame function (factored round 10 so
    * the retrieval composition [[graft.sim.RagRetrieve]] chunks with
    * the identical arithmetic).
    */
  def chunkFrame(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("nt"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), when(col("nt") <= ChunkLen, lit(0L))
          .otherwise(expr(s"(nt - $ChunkLen + $ChunkStride - 1) DIV " +
            s"$ChunkStride"))))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"size(slice(toks, chunk_idx * $ChunkStride + 1, $ChunkLen))")
          .cast("long").as("n_tokens"),
        expr(s"array_join(slice(toks, chunk_idx * $ChunkStride + 1, " +
          s"$ChunkLen), ' ')").as("chunk_text"))

  // -----------------------------------------------------------------
  // ta_cdc_chunk: CONTENT-DEFINED chunking — the dedup-stable
  // complement of ta_chunk's fixed-stride windows (LBFS/rsync
  // lineage; FastCDC is the modern form). Fixed-stride boundaries
  // shift under any insertion, so one edited token re-chunks the
  // whole document tail and every downstream chunk hash changes;
  // content-defined boundaries are a pure function of a local token
  // window, so an edit disturbs at most the chunk it lands in —
  // chunk-hash dedup across document versions keeps matching
  // everything else. The pipeline use is CDC-chunk → md5 → exact
  // dedup at sub-document granularity.
  //
  // Boundary rule: a cut falls AFTER token i (W ≤ i ≤ n−1) when the
  // rolling W=CdcWindow-token polynomial hash (the shingles3Seq
  // arithmetic, one order higher, over per-token 31-bit md5 hashes)
  // is ≡ 0 mod CdcMask — expected chunk length = CdcMask tokens with
  // a geometric tail. No min/max-length guards: the statistical form
  // keeps both engines' logic one expression (production FastCDC adds
  // them; they would be the same filter arithmetic on both sides).
  //
  // Scale shape: per-row array codegen only (hash transform, filter,
  // zip, one generate) — zero shuffles before the presentation sort;
  // output rows ≈ corpus tokens / CdcMask.
  val CdcWindow = 4
  val CdcMask = 64L

  def cdcChunk(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHash.{hash31, Prime}
    val p = Prime
    def at(hs: Column, i: Column): Column = element_at(hs, i.cast("int"))
    def winHash(hs: Column, i: Column): Column =
      ((((at(hs, i - 3) * 131 + at(hs, i - 2)) % p)
        * 131 + at(hs, i - 1)) % p
        * 131 + at(hs, i)) % p
    docs(s, dir)
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("nt"),
        transform(col("toks"), w => hash31(w)).as("hs"))
      .select(col("doc_id"), col("toks"), col("nt"),
        // cuts: window-end positions i in [W, nt-1] whose rolling
        // hash hits the mask (i = nt excluded — a cut at the last
        // token is a no-op). sequence() guards against descending
        // ranges when nt < W+1.
        when(col("nt") >= CdcWindow + 1,
          filter(sequence(lit(CdcWindow.toLong), col("nt") - 1),
            i => winHash(col("hs"), i) % CdcMask === 0))
          .otherwise(array().cast("array<bigint>")).as("cuts"))
      .select(col("doc_id"), col("toks"),
        posexplode(arrays_zip(
          concat(array(lit(1L)), transform(col("cuts"), c => c + 1))
            .as("s"),
          concat(col("cuts"), array(col("nt"))).as("e")))
          .as(Seq("k", "se")))
      .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
        col("se.s").as("start_tok"),
        (col("se.e") - col("se.s") + 1).as("n_tokens"),
        md5(array_join(
          slice(col("toks"), col("se.s").cast("int"),
            (col("se.e") - col("se.s") + 1).cast("int")), " "))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  // -----------------------------------------------------------------
  // ta_line_dedup: C4-style boilerplate-line removal — the corpus-
  // wide pass that deletes text segments occurring verbatim across
  // many documents (navigation bars, cookie banners, license
  // footers; Raffel et al. '20 drop any three-sentence span seen
  // more than once). The fixture text has no newlines, so the "line"
  // unit here is a fixed SegLen-token segment; the mechanism —
  // segment the corpus, count distinct documents per segment, drop
  // segments recurring in >= LineDedupMinDocs docs, reassemble the
  // survivors in order — is the real pipeline shape either way.
  //
  // Scale shape: the segment pass is a narrow per-row generate
  // (token volume / SegLen rows out); the distinct-doc count is a
  // hash aggregate with partial aggregation; the verdicts come back
  // via a seg-keyed equi join (NOT broadcast: the recurring-segment
  // list is unbounded on a web corpus — at 100 TB you'd key this
  // join on a 128-bit segment digest instead of the string to cut
  // shuffle bytes; kept as the exact string here so the oracle gate
  // is collision-free); reassembly is one hash aggregate on doc_id.
  // Three key-hashed shuffles total, no windows, no driver state.
  val SegLen = 8
  val LineDedupMinDocs = 2

  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val segs = docs(s, dir)
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0L, (size(toks) - 1) DIV $SegLen), " +
          s"i -> array_join(slice(toks, CAST(i * $SegLen + 1 AS INT), " +
          s"$SegLen), ' '))")).as(Seq("seg_no", "seg")))
    val verdict = segs.groupBy(col("seg"))
      .agg((countDistinct(col("doc_id")) >= LineDedupMinDocs).as("drop"))
    // verdict is |distinct segments| — corpus-scale, NEVER broadcast;
    // shuffle_hash pins it as the per-partition build side (sharing
    // the seg exchange with its own groupBy) so the Generate-derived
    // segs stream can never become a broadcast build side either.
    segs.join(verdict.hint("shuffle_hash"), Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("drop"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
          when(!col("drop"), struct(col("seg_no"), col("seg"))))),
          x => x.getField("seg")), " ").as("text_clean"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_chunk" -> chunk,
    "ta_cdc_chunk" -> cdcChunk,
    "ta_line_dedup" -> lineDedup,
    "ta_vocab" -> vocab,
    "ta_vocab_full" -> vocabFull,
    "ta_split" -> split,
    "ta_sample" -> sample,
    "ta_mixture" -> mixture,
    "ta_pack" -> pack,
  )

  private val Toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  val oracles: Map[String, String] = Map(
    // Same segment chain: 1-based inclusive list slice == Spark's
    // slice(toks, i*L+1, L); string_agg FILTERed to survivors keeps
    // the seg_no order; COALESCE covers an all-boilerplate document.
    "ta_line_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, toks,
           unnest(generate_series(0, (len(toks) - 1) // $SegLen))
             AS seg_no FROM d),
         s AS (SELECT doc_id, seg_no,
           array_to_string(toks[seg_no * $SegLen + 1 :
             seg_no * $SegLen + $SegLen], ' ') AS seg FROM g),
         c AS (SELECT seg,
           COUNT(DISTINCT doc_id) >= $LineDedupMinDocs AS drop
           FROM s GROUP BY seg)
         SELECT s.doc_id,
           CAST(SUM(CASE WHEN c.drop THEN 0 ELSE 1 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN c.drop THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           COALESCE(string_agg(CASE WHEN NOT c.drop THEN s.seg END,
             ' ' ORDER BY s.seg_no), '') AS text_clean
         FROM s JOIN c USING (seg)
         GROUP BY s.doc_id ORDER BY s.doc_id""",
    "ta_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         n AS (SELECT doc_id, toks, len(toks) AS nt FROM d),
         g AS (SELECT doc_id, toks,
           unnest(generate_series(0, CASE WHEN nt <= $ChunkLen THEN 0
             ELSE (nt - $ChunkLen + $ChunkStride - 1) // $ChunkStride
             END)) AS chunk_idx FROM n)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(toks[chunk_idx * $ChunkStride + 1 :
             chunk_idx * $ChunkStride + $ChunkLen]) AS BIGINT)
             AS n_tokens,
           array_to_string(toks[chunk_idx * $ChunkStride + 1 :
             chunk_idx * $ChunkStride + $ChunkLen], ' ') AS chunk_text
         FROM g ORDER BY doc_id, chunk_idx""",
    // Content-defined chunking: same rolling-hash arithmetic as the
    // Spark side (per-token 31-bit md5 hashes, 4-token polynomial
    // window mod Prime, cut when == 0 mod CdcMask). range(4, nt) is
    // end-exclusive = Spark's sequence(4, nt-1) inclusive, and is
    // empty when nt <= 4, so no length guard is needed here.
    "ta_cdc_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         h AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt,
           list_transform(toks, w ->
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)
               % ${graft.functions.TextHash.Prime}) AS hs FROM d),
         c AS (SELECT doc_id, toks, nt,
           list_filter(range(4, nt), i ->
             (((((hs[i-3]*131 + hs[i-2]) % ${graft.functions.TextHash.Prime})
               * 131 + hs[i-1]) % ${graft.functions.TextHash.Prime}
               * 131 + hs[i]) % ${graft.functions.TextHash.Prime})
               % $CdcMask = 0) AS cuts FROM h),
         st AS (SELECT doc_id, toks,
           list_prepend(CAST(1 AS BIGINT),
             list_transform(cuts, x -> x + 1)) AS starts,
           list_append(cuts, nt) AS ends FROM c),
         g AS (SELECT doc_id, toks, starts, ends,
           unnest(range(1, len(starts) + 1)) AS k FROM st)
         SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_idx,
           CAST(starts[k] AS BIGINT) AS start_tok,
           CAST(ends[k] - starts[k] + 1 AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[starts[k]:ends[k]], ' '))
             AS chunk_md5
         FROM g ORDER BY doc_id, chunk_idx""",
    "ta_vocab" ->
      s"""WITH t AS (SELECT unnest($Toks) AS token FROM documents),
         c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
         r AS (SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
             AS vocab_id FROM c)
         SELECT token, cnt, vocab_id FROM r
         WHERE vocab_id <= $VocabSize ORDER BY vocab_id""",
    "ta_vocab_full" ->
      s"""WITH t AS (SELECT unnest($Toks) AS token FROM documents),
         c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token)
         SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
             AS vocab_id
         FROM c ORDER BY vocab_id""",
    "ta_split" ->
      """WITH b AS (SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 100 AS bucket FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    "ta_sample" ->
      s"""WITH b AS (SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 100 AS bucket FROM documents),
         sp AS (SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split
           FROM b)
         SELECT doc_id, split FROM sp
         WHERE split != 'train'
           OR CAST(('0x' || substr(md5('s:' || CAST(doc_id AS VARCHAR)),
             1, 15)) AS BIGINT) % 100 < $TrainPct
         ORDER BY doc_id""",
    "ta_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
           CAST(len($Toks) AS BIGINT) AS n_tok FROM documents),
         t AS (SELECT source, COUNT(*) AS n_in,
           CAST(SUM(n_tok) AS BIGINT) AS tok_in FROM d GROUP BY source),
         m AS (SELECT MIN(tok_in) AS tmin FROM t),
         r AS (SELECT source, n_in, tok_in,
           CAST(($MixPpm * tmin) // tok_in AS BIGINT) AS keep_ppm
           FROM t, m),
         k AS (SELECT d.source, COUNT(*) AS n_kept,
           CAST(SUM(d.n_tok) AS BIGINT) AS tok_kept
           FROM d JOIN r USING (source)
           WHERE CAST(('0x' || substr(md5('m:' ||
               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % $MixPpm < keep_ppm
           GROUP BY d.source)
         SELECT r.source, r.n_in, r.tok_in, r.keep_ppm,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.tok_kept, 0) AS tok_kept
         FROM r LEFT JOIN k USING (source) ORDER BY source""",
    "ta_pack" ->
      s"""WITH d AS (SELECT doc_id,
           CAST(len($Toks) AS BIGINT) AS n_tokens,
           doc_id % $PackBuckets AS bucket FROM documents),
         o AS (SELECT bucket, n_tokens,
           CAST((CAST(SUM(n_tokens) OVER (PARTITION BY bucket
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT)
             - n_tokens) // $PackLen AS BIGINT) AS pack_id FROM d)
         SELECT bucket, pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
         FROM o GROUP BY bucket, pack_id ORDER BY bucket, pack_id""",
  )
}
