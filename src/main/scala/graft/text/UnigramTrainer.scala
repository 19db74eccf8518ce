package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** UNIGRAM-LM TOKENIZER TRAINING (Kudo, "Subword Regularization",
  * ACL 2018 — the SentencePiece unigram model; the BPE twin every
  * production tokenizer toolkit ships). Where BPE GROWS a vocabulary
  * bottom-up by merging, the unigram model SELECTS one top-down:
  * start from a large candidate piece inventory, alternate
  * (E) Viterbi-segment every word under current piece scores with
  * (M) re-estimate scores from segmentation usage, and keep the
  * pieces that survive. This implementation is the deterministic
  * hard-EM variant, engineered so both engines agree bit-for-bit:
  *
  *  - CANDIDATES: every substring of length ≤ [[MaxPieceLen]] of
  *    every distinct corpus word (words over [[MaxWordLen]] chars are
  *    excluded from training — the standard max-piece/max-sentence
  *    truncation rule, applied identically in both engines), seeded
  *    with frequency-weighted substring-occurrence counts.
  *  - INTEGER-QUANTIZED LIKELIHOOD: the true objective
  *    Σ log(c_i/T) is replaced by Σ (ilog2(c_i) − ilog2(T)) with
  *    ilog2 = bit length − 1, computed as `length(bin(c)) − 1` — a
  *    pure integer/string operation with NO transcendental calls, so
  *    the argmax is exact in both engines (the same discipline as the
  *    quantized k-means means and the scaled-integer PageRank).
  *    Ties break by fewer pieces, then lexicographic piece sequence.
  *  - VITERBI BY SPAN DOUBLING: instead of a per-position sequential
  *    scan, best(i,j) tables combine as
  *    best(i,j) = max_m best(i,m) ⊕ best(m,j) — subpaths of optimal
  *    paths are optimal (swap argument holds through both
  *    tie-breaks), so [[DoubleRounds]] = ⌈log2 MaxWordLen⌉ rounds of
  *    one self-join + one group-by-min each find the optimal
  *    segmentation of every word SIMULTANEOUSLY. Rounds are
  *    data-independent (5, not max-word-length), each a narrow
  *    vocabulary-bounded shuffle under the statsBarrier +
  *    scoped-shuffle fixpoint discipline.
  *  - HARD-EM ROUNDS ([[EmIters]] = 2): iteration 1 scores pieces by
  *    substring-occurrence counts and segments; pieces UNUSED by any
  *    iteration-1 segmentation are pruned (usage pruning — every word
  *    stays coverable via its own iteration-1 path); iteration 2
  *    re-scores by usage counts and re-segments. The output
  *    vocabulary is the iteration-2 usage census.
  *
  * Scale shape: everything after the word-frequency table is
  * VOCABULARY-bounded (Heaps' law, as BPE): the span tables carry
  * O(words · MaxWordLen · MaxPieceLen) rows, the doubling join is
  * O(words · MaxWordLen³) at worst, and corpus size only enters
  * through the frequency weights. `ta_unigram_encode` applies the
  * trained model by dictionary lookup exactly like BPE encode.
  */
object UnigramTrainer {

  val MaxPieceLen = 4
  val MaxWordLen = 32
  /** ⌈log2 MaxWordLen⌉ — a worst-case all-single-char path has
    * MaxWordLen pieces, found after this many doublings.
    */
  val DoubleRounds = 5
  val EmIters = 2

  import WordCount.WordRegex

  /** (doc_id, word) token stream, reference tokenizer. */
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(WordRegex), lit(0)))
          .as("t"))
      .select(col("doc_id"), upper(col("t")).as("word"))

  /** ilog2 of a positive BIGINT column — bit length − 1, via the
    * binary string; no floating point anywhere.
    */
  private def ilog2(c: Column): Column =
    (length(bin(c)) - 1).cast("long")

  /** Best-span reduce: min of (−score, npieces, path) = score DESC,
    * pieces ASC, path lexicographic.
    */
  private def bestStruct: Column =
    min(struct((-col("sc")).as("ns"), col("np"), col("path"))).as("b")

  private def unpackBest(df: DataFrame): DataFrame =
    df.select(col("word"), col("i"), col("j"),
      (-col("b.ns")).as("sc"), col("b.np").as("np"),
      col("b.path").as("path"))

  /** One Viterbi phase: segment every word of `wf` (word, freq, len)
    * optimally under `scored` (piece, sc). Returns the full-word best
    * (word, freq, sc, np, path).
    */
  private def viterbi(wf: DataFrame, sp: DataFrame,
      scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.statsBarrier
    var seg = sp.join(scored, "piece")
      .select(col("word"), col("i"), col("j"), col("sc"),
        lit(1L).as("np"), array(col("piece")).as("path"))
      .groupBy("word", "i", "j").agg(bestStruct)
    var segU = unpackBest(seg).localCheckpoint()
    for (_ <- 1 to DoubleRounds) {
      val a = segU.select(col("word"), col("i"), col("j").as("m"),
        col("sc").as("sca"), col("np").as("npa"), col("path").as("pa"))
      val b = segU.select(col("word"), col("i").as("m"), col("j"),
        col("sc").as("scb"), col("np").as("npb"), col("path").as("pb"))
      val combined = a.join(b, Seq("word", "m"))
        .select(col("word"), col("i"), col("j"),
          (col("sca") + col("scb")).as("sc"),
          (col("npa") + col("npb")).as("np"),
          concat(col("pa"), col("pb")).as("path"))
      segU = statsBarrier(unpackBest(
        segU.unionByName(combined)
          .groupBy("word", "i", "j").agg(bestStruct))
        .localCheckpoint())
    }
    wf.join(segU.filter(col("i") === 0), "word")
      .filter(col("j") === col("len"))
      .select(col("word"), col("freq"), col("sc"), col("np"), col("path"))
  }

  /** Usage census of a Viterbi phase: (piece, cnt) freq-weighted. */
  private def census(vb: DataFrame): DataFrame =
    vb.select(col("freq"), explode(col("path")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** Score a count table: sc = ilog2(cnt) − ilog2(Σcnt), as a
    * broadcast-joined 1-row total (no collect).
    */
  private def score(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(sum("cnt").as("tt"))))
      .select(col("piece"), (ilog2(col("cnt")) - ilog2(col("tt"))).as("sc"))

  /** (vocabulary census, full-word segmentations) from one training
    * run per (session, dir), shared BPE-style through
    * [[graft.operators.Lineage.shared]].
    */
  private[graft] def artifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.operators.Lineage.shared(s, dir, "ta_unigram_artifacts")(
      train(s, dir))

  private def train(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val wf = tokens(s, dir)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) <= MaxWordLen)
      .withColumn("len", length(col("word")).cast("long"))
      .localCheckpoint()
    // All candidate piece occurrences: (word, freq, i, j, piece),
    // 0-based i, exclusive j, 1 ≤ j−i ≤ MaxPieceLen.
    val sp = wf
      .select(col("word"), col("freq"), col("len"),
        explode(sequence(lit(0L), col("len") - 1)).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1L),
          least(lit(MaxPieceLen.toLong), col("len") - col("i"))))
          .as("pl"))
      .select(col("word"), col("freq"), col("i"),
        (col("i") + col("pl")).as("j"),
        expr("substring(word, i + 1, pl)").as("piece"))
      .localCheckpoint()

    val n = sp.count()
    graft.operators.Fixpoint.scoped(s, n) { cs =>
      import org.apache.spark.sql.graft.ColumnBridge.onSession
      val (wfc, spc) = (onSession(cs, wf), onSession(cs, sp))
      // EM 1: seed scores from substring-occurrence counts.
      val c0 = spc.groupBy("piece").agg(sum("freq").as("cnt"))
      val vb1 = viterbi(wfc, spc, score(c0)).localCheckpoint()
      // Usage pruning + EM 2: re-score by usage, re-segment.
      val c1 = census(vb1)
      val vb2 = viterbi(wfc, spc, score(c1)).localCheckpoint()
      val vocab = census(vb2).localCheckpoint()
      (onSession(s, vocab), onSession(s, vb2))
    }
  }

  // ta_unigram_train: the learned vocabulary census.
  def unigramTrain(s: SparkSession, dir: String): DataFrame =
    artifacts(s, dir)._1.orderBy(desc("cnt"), asc("piece"))

  // ta_unigram_encode: dictionary application — per-doc piece counts
  // under the trained model (tokens over MaxWordLen chars are outside
  // the trained vocabulary and excluded by the same rule in both
  // engines).
  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    val perWord = artifacts(s, dir)._2.select(col("word"), col("np"))
    val perDoc = tokens(s, dir)
      .join(broadcast(perWord), "word") // dictionary: vocab-bounded
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("np")).as("n_pieces"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .withColumn("pieces_per_token",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(col("n_pieces").cast("double") /
            col("n_tokens").cast("double")))
      .orderBy("doc_id")
  }

  // ta_unigram_score: per-document log-likelihood under the FINAL
  // trained model — the SentencePiece quality signal (mean piece
  // score over the learned segmentation, scores from the final
  // usage census). Because the likelihood is integer-quantized
  // (ilog2), the per-doc sums are EXACT BIGINTs; the only double is
  // one final correctly-rounded division — bit-identical across
  // engines with no fold-order discipline needed at all.
  def unigramScore(s: SparkSession, dir: String): DataFrame = {
    val (vocab, vb2) = artifacts(s, dir)
    val sc2 = score(vocab)
    val perWord = vb2.select(col("word"), explode(col("path")).as("piece"))
      .join(broadcast(sc2), "piece") // census = vb2's own pieces: inner-safe
      .groupBy("word")
      .agg(sum("sc").as("wsc"), count(lit(1)).as("wnp"))
    val perDoc = tokens(s, dir)
      .join(broadcast(perWord), "word")
      .groupBy("doc_id")
      .agg(sum("wsc").as("ilog_sum"), sum("wnp").as("n_pieces"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("ilog_sum"), lit(0L)).as("ilog_sum"))
      .withColumn("uni_score",
        when(col("n_pieces") === 0, lit(null).cast("double"))
          .otherwise(col("ilog_sum").cast("double") /
            col("n_pieces").cast("double")))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_unigram_train" -> unigramTrain,
    "ta_unigram_encode" -> unigramEncode,
    "ta_unigram_score" -> unigramScore,
  )

  // ---------------------------------------------------------------
  // Oracles: identical algorithm, the doubling unrolled. ilog2 is
  // length(bin(c)) − 1 in DuckDB too — same string, same integer.
  private val DTok =
    """SELECT doc_id, upper(w) AS word FROM (
       SELECT doc_id,
         unnest(regexp_extract_all(text, '[A-Za-z][A-Za-z'']*')) AS w
       FROM documents)"""

  private def dIlog2(c: String) = s"(CAST(length(bin($c)) AS BIGINT) - 1)"

  /** One unrolled Viterbi phase over scored CTE `${p}sc$x`; emits
    * `${p}vb$x (word, freq, sc, np, path)`. `p` prefixes every CTE
    * name so the whole chain can coexist with another MATERIALIZED
    * chain in one statement (DuckDB hoists materialized CTEs to one
    * global scope — nested-WITH shadowing is a binder error).
    */
  private def dViterbi(p: String, x: String): String = {
    val rounds = (1 to DoubleRounds).map { r =>
      val prev = s"${p}sg$x${r - 1}"
      s"""${p}u$x$r AS (SELECT word, i, j, sc, np, path FROM $prev
           UNION ALL
           SELECT a.word, a.i, b.j, a.sc + b.sc AS sc,
             a.np + b.np AS np, list_concat(a.path, b.path) AS path
           FROM $prev a JOIN $prev b
             ON b.word = a.word AND b.i = a.j),
         ${p}sg$x$r AS MATERIALIZED (SELECT word, i, j, sc, np, path
           FROM (
             SELECT word, i, j, sc, np, path, row_number() OVER (
               PARTITION BY word, i, j
               ORDER BY sc DESC, np, path) AS rn
             FROM ${p}u$x$r) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""${p}sg${x}0 AS MATERIALIZED (SELECT word, i, j, sc, np, path
         FROM (
         SELECT sp.word, sp.i, sp.j, s.sc, CAST(1 AS BIGINT) AS np,
           [sp.piece] AS path, row_number() OVER (
             PARTITION BY sp.word, sp.i, sp.j
             ORDER BY s.sc DESC, sp.piece) AS rn
         FROM ${p}sp sp JOIN ${p}sc$x s ON s.piece = sp.piece)
         WHERE rn = 1),
       $rounds,
       ${p}vb$x AS MATERIALIZED (SELECT wf.word, wf.freq, g.sc, g.np,
           g.path
         FROM ${p}wf wf JOIN ${p}sg$x$DoubleRounds g
           ON g.word = wf.word AND g.i = 0 AND g.j = wf.len)"""
  }

  private def dCensus(p: String, x: String, out: String): String =
    s"""$out AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT)
         AS cnt
       FROM (SELECT freq, unnest(path) AS piece FROM ${p}vb$x)
       GROUP BY piece)"""

  private def dScore(cts: String, out: String): String =
    s"""$out AS (SELECT piece,
         ${dIlog2("cnt")} - ${dIlog2(s"(SELECT SUM(cnt) FROM $cts)")}
           AS sc
       FROM $cts)"""

  /** The full unrolled training chain with every CTE name prefixed
    * by `p` — `p = ""` is this module's own oracles; a non-empty
    * prefix lets [[TokCompare]] state this chain alongside the BPE
    * chain in ONE statement.
    */
  private[text] def trainCtes(p: String): String =
    s"""${p}tok AS MATERIALIZED ($DTok),
       ${p}wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT)
           AS freq, CAST(len(word) AS BIGINT) AS len
         FROM ${p}tok GROUP BY word
         HAVING len(word) <= $MaxWordLen),
       ${p}sp AS MATERIALIZED (SELECT word, freq, i, i + pl AS j,
           substr(word, CAST(i + 1 AS INTEGER), CAST(pl AS INTEGER))
             AS piece
         FROM (SELECT word, freq, i,
             unnest(range(1, least($MaxPieceLen, len - i) + 1)) AS pl
           FROM (SELECT word, freq, len,
               unnest(range(0, len)) AS i
             FROM ${p}wf))),
       ${p}c0 AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT)
           AS cnt
         FROM ${p}sp GROUP BY piece),
       ${dScore(s"${p}c0", s"${p}sca")},
       ${dViterbi(p, "a")},
       ${dCensus(p, "a", s"${p}c1")},
       ${dScore(s"${p}c1", s"${p}scb")},
       ${dViterbi(p, "b")},
       ${dCensus(p, "b", s"${p}c2")}"""

  private[text] lazy val TrainCtes: String = trainCtes("")

  val oracles: Map[String, String] = Map(
    "ta_unigram_train" ->
      s"""WITH $TrainCtes
         SELECT piece, cnt FROM c2 ORDER BY cnt DESC, piece""",
    "ta_unigram_score" ->
      s"""WITH $TrainCtes,
         ${dScore("c2", "sc2")},
         pw AS (SELECT word, CAST(SUM(sc) AS BIGINT) AS wsc,
             CAST(COUNT(*) AS BIGINT) AS wnp
           FROM (SELECT word, unnest(path) AS piece FROM vbb)
             JOIN sc2 USING (piece)
           GROUP BY word),
         pd AS (SELECT doc_id, CAST(SUM(wsc) AS BIGINT) AS ilog_sum,
             CAST(SUM(wnp) AS BIGINT) AS n_pieces
           FROM tok JOIN pw USING (word) GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(pd.n_pieces, 0) AS n_pieces,
           coalesce(pd.ilog_sum, 0) AS ilog_sum,
           CASE WHEN coalesce(pd.n_pieces, 0) = 0 THEN NULL
             ELSE CAST(pd.ilog_sum AS DOUBLE)
               / CAST(pd.n_pieces AS DOUBLE)
           END AS uni_score
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",
    "ta_unigram_encode" ->
      s"""WITH $TrainCtes,
         pw AS (SELECT word, np FROM vbb),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(len(word)) AS BIGINT) AS n_chars,
             CAST(SUM(np) AS BIGINT) AS n_pieces
           FROM tok JOIN pw USING (word) GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(pd.n_tokens, 0) AS n_tokens,
           coalesce(pd.n_chars, 0) AS n_chars,
           coalesce(pd.n_pieces, 0) AS n_pieces,
           CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN NULL
             ELSE CAST(pd.n_pieces AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE)
           END AS pieces_per_token
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",
  )
}
