package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The BPE merge machinery shared by the word-level trainer
  * ([[BpeTrainer]]) and the byte-level trainer ([[ByteBpe]]): the
  * islands-parity greedy rewrite, the training fixpoint, and the
  * unrolled-round oracle generator. Extracted (round 8) so the
  * byte-level trainer is the SAME loop over a different seed
  * alphabet — exactly the claim that the relational formulation
  * transfers unchanged.
  *
  * See [[BpeTrainer]]'s scaladoc for the full derivation of the
  * gaps-and-islands greedy merge and the fixpoint discipline; it is
  * not repeated here.
  */
private[graft] object BpeCore {

  /** One greedy left-to-right non-overlapping merge application.
    *
    * `ld` is the pieces frame with the lookahead column already
    * attached: (word, freq, pos, sym, nxt). `best` is a 1-row frame
    * (a, b, ...) naming the pair to merge — NULL fields make the
    * rewrite a provable no-op. Returns the next pieces frame
    * (word, freq, pos, sym, nxt) with positions renumbered and the
    * NEXT round's lookahead already attached (round 14 — VERDICT r13
    * item 4): the rewrite's own window pass emits `nxt` =
    * lead(new sym) in the SAME WindowExec that renumbers positions,
    * so the following round's best-pair aggregate is a pure hash
    * pass over the checkpointed frame instead of paying a second
    * full per-word window sort of the piece stream per round. The
    * lead runs over the surviving rows in (word, old-pos) order —
    * identical ordering to the renumbered stream — so the attached
    * lookahead is exactly lead(sym) of the returned frame.
    */
  def applyMerge(ld: DataFrame, best: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("word").orderBy("pos")
    // Islands-parity greedy rewrite (BpeTrainer scaladoc). cum counts
    // candidates up to AND including the row; rk ranks a candidate
    // inside its island (non-candidate rows sharing a grp value
    // contribute 0 and cannot disturb the rank).
    val newSym = when(col("keep_m"), concat(col("sym"), col("nxt")))
      .otherwise(col("sym"))
    ld.crossJoin(broadcast(best.select("a", "b")))
      .withColumn("cand", col("sym") === col("a") &&
        col("nxt") === col("b"))
      .withColumn("cum",
        sum(when(col("cand"), 1).otherwise(0)).over(wOrd))
      .withColumn("grp", col("pos") - col("cum"))
      .withColumn("rk", sum(when(col("cand"), 1).otherwise(0))
        .over(Window.partitionBy("word", "grp").orderBy("pos")))
      .withColumn("keep_m", col("cand") && col("rk") % 2 === 1)
      .withColumn("absorbed",
        coalesce(lag(col("keep_m"), 1).over(wOrd), lit(false)))
      .filter(!col("absorbed"))
      .select(col("word"), col("freq"),
        row_number().over(wOrd).cast("long").as("pos"),
        newSym.as("sym"),
        lead(newSym, 1).over(wOrd).as("nxt"))
  }

  /** The training loop over a seeded pieces frame
    * (word, freq, pos, sym). Returns (merges, finalPieces):
    * merges = (rank, left_sym, right_sym, merged, pair_count);
    * finalPieces = the pieces frame after `nMerges` rounds.
    */
  def mergeLoop(s: SparkSession, pieces0: DataFrame,
      nMerges: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.graft.ColumnBridge.{onSession, statsBarrier}

    // Loop invariant (round 14 — one window pass per round): `pieces`
    // carries the lookahead column, attached once here for the seed
    // and re-emitted by [[applyMerge]]'s own window pass for every
    // later round, so the per-round best-pair job below never sorts.
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val seeded = pieces0
      .withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      .localCheckpoint()

    val (bests, pieces) =
      graft.operators.Fixpoint.scoped(s, seeded.count()) { cs =>
      var pieces = onSession(cs, seeded)
      val bests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var exhausted = false
      var k = 0
      while (k < nMerges && !exhausted) {
        k += 1
        // The round's winning pair: min over the (−count, left,
        // right) struct = count DESC, left ASC, right ASC. A global
        // aggregate always yields exactly one row — NULL fields once
        // no pair remains. The row is read driver-side (the 1-row
        // scalar-read class — this loop already probed it for
        // exhaustion) and re-emitted as a LITERAL frame: round 12's
        // cold-cost attack — the former per-round best-frame
        // localCheckpoint + broadcast jobs collapse into the one
        // aggregate job, and the values pass through the driver
        // unchanged (two hex strings + a long), so the rewrite and
        // the merges table are bit-identical.
        val bestRow = pieces.filter(col("nxt").isNotNull)
          .groupBy(col("sym").as("a"), col("nxt").as("b"))
          .agg(sum("freq").as("c"))
          .select(struct((-col("c")).as("nc"), col("a"), col("b")).as("s"))
          .agg(min(col("s")).as("m"))
          .select(col("m.a").as("a"), col("m.b").as("b"),
            (-col("m.nc")).as("c"))
          .first()
        exhausted = bestRow.isNullAt(0)
        val best =
          if (exhausted) cs.range(1).select(
            lit(null).cast("string").as("a"),
            lit(null).cast("string").as("b"),
            lit(null).cast("long").as("c"))
          else cs.range(1).select(
            lit(bestRow.getString(0)).as("a"),
            lit(bestRow.getString(1)).as("b"),
            lit(bestRow.getLong(2)).as("c"))
        bests += best
        pieces = statsBarrier(applyMerge(pieces, best).localCheckpoint())
      }
      (bests.map(onSession(s, _)), onSession(s, pieces))
    }

    val merges = bests.zipWithIndex.map { case (b, i) =>
      b.select(lit(i + 1L).as("rank"), col("a").as("left_sym"),
        col("b").as("right_sym"),
        concat(col("a"), col("b")).as("merged"),
        col("c").as("pair_count"))
    }.reduce(_ unionByName _)
      .filter(col("left_sym").isNotNull)
      .localCheckpoint()
    (merges, pieces.drop("nxt"))
  }

  /** Packed-example layout over a position-ordered piece stream
    * (doc_id, ti, pos, sym) — the [[BpeTrainer.bpePack]] machinery,
    * factored (round 9) so the byte-level trainer packs with the
    * identical discipline ([[ByteBpe.bytePack]]): usage-ranked
    * vocabulary ids via the distributed
    * [[graft.pipeline.CorpusOps.rankedIds]] layout, per-doc piece
    * index, EOS separator (reserved id 0) after each document,
    * contiguous per-bucket offsets, examples of
    * 2^[[BpeTrainer.ExShift]] ids. Output: (bucket, seq_id, n_pieces,
    * n_docs, id_sum, ids_md5).
    */
  def packExamples(stream0: DataFrame): DataFrame =
    packExamples(stream0, sharedStream = false)

  /** `sharedStream = true` (round 14): the caller passes an already-
    * materialized multi-consumer frame (a Lineage-persisted piece
    * stream), so the internal defensive checkpoint of it — one full
    * re-materialization of the stream per invocation — is skipped;
    * the raw-stream callers (pipeline/multimodal packs) keep it.
    */
  def packExamples(stream0: DataFrame,
      sharedStream: Boolean): DataFrame = {
    import graft.pipeline.CorpusOps.PackBuckets
    import BpeTrainer.{ExLen, ExShift}
    // The piece stream feeds the vocabulary count AND the windowed
    // id assignment; the id frame feeds the counts AND the example
    // union — without the checkpoints each consumer re-ran the
    // tokenize/explode/dictionary chain (3×) and the per-doc window
    // sort (2×) per pack row (round 13; values unchanged — the
    // checkpoint is an identity). The returned plan holds them, so
    // ContextCleaner frees their blocks once the caller drops it.
    val stream = if (sharedStream) stream0 else stream0.localCheckpoint()
    val pieceIds = pieceIdFrame(stream).localCheckpoint()
    val counts = pieceIds.groupBy("doc_id")
      .agg(count(lit(1)).as("npc"))
      .localCheckpoint() // shared by the EOS rows and the offsets
    val pid = pieceIds.unionByName(counts
      .select(col("doc_id"), col("npc").as("pi"), lit(0L).as("vid")))
    val wOfs = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ofs = counts
      .select(col("doc_id"), (col("npc") + 1L).as("np"))
      .withColumn("bucket", col("doc_id") % PackBuckets)
      .select(col("doc_id"), col("bucket"),
        (sum("np").over(wOfs) - col("np")).as("st"))
    pid.join(ofs, "doc_id")
      .select(col("doc_id"), col("bucket"),
        (col("st") + col("pi")).as("gpos"), col("vid"))
      .select(col("doc_id"), col("bucket"),
        shiftright(col("gpos"), ExShift).as("seq_id"),
        (col("gpos") % ExLen).as("pos"), col("vid"))
      .groupBy("bucket", "seq_id")
      .agg(count(lit(1)).as("n_pieces"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum("vid").as("id_sum"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("vid")))),
          x => x.getField("vid").cast("string")), ",")).as("ids_md5"))
      .orderBy("bucket", "seq_id")
  }

  /** (doc_id, pi, vid): the usage-ranked piece-id assignment over a
    * position-ordered piece stream — [[packExamples]]'s front,
    * factored (round 13) so the plan-audit specs can inspect the
    * vid-join/window discipline directly (the frame is checkpointed
    * inside [[packExamples]], which hides its plan from the pack
    * row's executedPlan).
    */
  private[text] def pieceIdFrame(stream: DataFrame): DataFrame = {
    val vc = graft.pipeline.CorpusOps.rankedIds(
        stream.groupBy("sym").agg(count(lit(1)).as("cnt")),
        "sym", "cnt", "vid")
      .select("sym", "vid")
    val wSeq = Window.partitionBy("doc_id").orderBy("ti", "pos")
    stream
      .withColumn("pi", (row_number().over(wSeq) - 1).cast("long"))
      .join(broadcast(vc), "sym")
      .select(col("doc_id"), col("pi"), col("vid"))
  }

  /** One unrolled merge round of the DuckDB oracle — the identical
    * windows/islands arithmetic as [[applyMerge]] plus the per-round
    * best-pair selection with the same tie-break. Reads `pc${k-1}`,
    * defines `ld$k` / `bs$k` / `cd$k` / `pc$k`. Shared verbatim by
    * the word-level and byte-level oracles (only `tok`/`pc0` differ).
    */
  def roundCtes(k: Int): String = roundCtes(k, positiveOnly = false)

  /** `positiveOnly = true` adds `HAVING SUM(freq) > 0` to the
    * best-pair selection — for oracle chains that co-train
    * ZERO-FREQUENCY rider words (the streaming-ingest oracle, ADVICE
    * r9): if the real training pairs exhaust before the merge budget,
    * a rider-only c=0 pair must NOT win a round the stored tokenizer
    * never learned. With at least one positive-count pair present the
    * guard is a no-op (c DESC already ranks it first); with none, the
    * empty bs$k makes the round a provable no-op — exactly the
    * engine's NULL-best exhaustion behavior.
    */
  def roundCtes(k: Int, positiveOnly: Boolean): String = {
    val p = s"pc${k - 1}"
    val having = if (positiveOnly) "HAVING SUM(freq) > 0 " else ""
    s"""ld$k AS MATERIALIZED (SELECT word, freq, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       FROM $p),
       bs$k AS MATERIALIZED (SELECT sym AS a, nxt AS b,
           CAST(SUM(freq) AS BIGINT) AS c
         FROM ld$k WHERE nxt IS NOT NULL GROUP BY sym, nxt
         ${having}ORDER BY c DESC, a, b LIMIT 1),
       cd$k AS MATERIALIZED (SELECT word, freq, pos, sym, nxt, cand,
           SUM(CASE WHEN cand THEN 1 ELSE 0 END)
             OVER (PARTITION BY word, grp ORDER BY pos) AS rk
         FROM (SELECT word, freq, pos, sym, nxt, cand,
             pos - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
               OVER (PARTITION BY word ORDER BY pos) AS grp
           FROM (SELECT word, freq, pos, sym, nxt,
               (sym = (SELECT a FROM bs$k)
                 AND nxt = (SELECT b FROM bs$k)) AS cand
             FROM ld$k))),
       pc$k AS MATERIALIZED (SELECT word, freq,
           CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
             AS BIGINT) AS pos,
           CASE WHEN keep_m THEN sym || nxt ELSE sym END AS sym
         FROM (SELECT word, freq, pos, sym, nxt, keep_m,
             coalesce(lag(keep_m)
               OVER (PARTITION BY word ORDER BY pos), false) AS absorbed
           FROM (SELECT word, freq, pos, sym, nxt,
               (cand AND rk % 2 = 1) AS keep_m FROM cd$k))
         WHERE NOT absorbed)"""
  }

  /** The DuckDB twin of [[packExamples]], split so callers can end
    * the chain with their own SELECT: [[packSqlCtes]] is the CTE
    * chain over a `pstream` CTE (doc_id, ti, pos, sym) that the
    * caller's prefix must define, ending at the exploded `ex` frame;
    * [[packSqlTail]] appends the standard packed-example SELECT.
    * Shared verbatim by the word-level, byte-level and pipeline pack
    * oracles.
    */
  def packSqlCtes: String = packSqlCtesOn("pstream")

  /** [[packSqlCtes]] parameterized on the piece-stream CTE name —
    * the multimodal MIXTURE oracle packs a UNION stream that cannot
    * shadow the text chain's own `pstream`.
    */
  def packSqlCtesOn(src: String): String =
    s"""vc AS (SELECT sym, CAST(row_number() OVER (
           ORDER BY cnt DESC, sym) AS BIGINT) AS vid
         FROM (SELECT sym, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM $src GROUP BY sym)),
       pid AS MATERIALIZED (SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY ti, pos) - 1 AS BIGINT) AS pi,
           vid
         FROM $src JOIN vc USING (sym)),
       dc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS npc
         FROM pid GROUP BY doc_id),
       pid2 AS (SELECT doc_id, pi, vid FROM pid
         UNION ALL
         SELECT doc_id, npc AS pi, CAST(0 AS BIGINT) AS vid FROM dc),
       ofs AS (SELECT doc_id, bucket,
           SUM(np) OVER (PARTITION BY bucket ORDER BY doc_id) - np
             AS st
         FROM (SELECT doc_id,
             doc_id % ${graft.pipeline.CorpusOps.PackBuckets}
               AS bucket,
             npc + 1 AS np
           FROM dc)),
       ex AS (SELECT p.doc_id, o.bucket,
           (o.st + p.pi) // ${BpeTrainer.ExLen} AS seq_id,
           (o.st + p.pi) % ${BpeTrainer.ExLen} AS pos, p.vid
         FROM pid2 p JOIN ofs o ON o.doc_id = p.doc_id)"""

  def packSqlTail: String = packSqlTailOn("pstream")

  def packSqlTailOn(src: String): String =
    s"""${packSqlCtesOn(src)}
       SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(seq_id AS BIGINT) AS seq_id,
         CAST(COUNT(*) AS BIGINT) AS n_pieces,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(SUM(vid) AS BIGINT) AS id_sum,
         md5(string_agg(CAST(vid AS VARCHAR), ',' ORDER BY pos))
           AS ids_md5
       FROM ex GROUP BY bucket, seq_id
       ORDER BY bucket, seq_id"""

  /** The merge-table SELECT over `nMerges` unrolled `bs$k` CTEs. */
  def mergeTableSql(nMerges: Int): String =
    s"""mg AS (${(1 to nMerges).map(k =>
        s"SELECT CAST($k AS BIGINT) AS rank, a, b, c FROM bs$k")
        .mkString("\nUNION ALL\n")})
       SELECT rank, a AS left_sym, b AS right_sym,
         a || b AS merged, c AS pair_count
       FROM mg ORDER BY rank"""
}
