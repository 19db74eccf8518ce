package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PERCEPTUAL AUDIO NEAR-DUP (`mm_audio_dedup`, round 10) — the audio
  * modality feeds the dedup tier the way [[PHash]] fed it images: a
  * robust fingerprint over REALLY DECODED PCM samples
  * ([[AvCodec.decodePcm]] on engine-built RIFF/WAVE streams), Hamming
  * blocking via the shared [[HammingBlock]] chunk machinery, exact
  * bit_count verify on the blocked candidates.
  *
  * The fingerprint (Haitsma–Kalker '02 shape, integer-exact): bin the
  * sample stream proportionally into [[Cells]] = 88 energy cells
  * (cell(i) = ⌊i·88/n⌋ — a 22-frame × 4-band time grid), cell energy
  * E(c) = Σ|s_i| (exact integers end to end), then
  * bit j (f = j/3 + 1, b = j mod 3, j ∈ 0..62) =
  *   (E(4f+b) − E(4f+b+1)) − (E(4(f−1)+b) − E(4(f−1)+b+1)) > 0
  * — the sign of the time-derivative of the band-energy difference,
  * the classic robust-audio-hash bit. The sign structure is invariant
  * under exact volume scaling (every E scales by the same positive
  * factor), which is what makes the hash perceptual: a remastered
  * (louder) release fingerprints into the same Hamming ball.
  *
  * Mirrored construction (the [[PHash]] discipline): every document's
  * UTF-8 bytes become a mono 16-bit PCM WAV (sample = (byte−128)·64,
  * bounded ±8192 so the ×2 twin stays in s16 range); even doc_ids
  * additionally plant a REMASTERED twin — volume ×2 with the first
  * [[MutedCells]] = 3 grid cells muted (a clipped intro, the classic
  * re-encode edit). aud_id = 2·doc_id / 2·doc_id + 1 (the collision-
  * proof even/odd keying). The ×2 part moves NO bits (scale
  * invariance, spec-pinned); the muted intro perturbs only the bits
  * whose stencils touch cells 0..3 — at most 3 flips, inside the
  * [[MaxHam]] = 4 ball by construction. The ENGINE writes real WAV
  * bytes and fingerprints what the wire-format decode returns; the
  * ORACLE computes the same fingerprint from the construction
  * arithmetic — sample disagreement anywhere surfaces as a pair-set
  * hash mismatch.
  *
  * Blocking: 63 bits → 5 disjoint 13-bit chunks, pigeonhole-complete
  * for the ball ([[HammingBlock.pairs]]); the oracle is the
  * brute-force all-pairs twin, so the gate certifies blocking
  * completeness on the fixture. The verify-tier cap
  * ([[HammingBlock.capSample]], [[PHash.PairCap]] rationale) bounds
  * the quadratic pair REPORT: exact up to [[PairCap]] audios — every
  * driver gate runs in this regime — deterministic hash-sampled
  * subset above it.
  *
  * 100 TB shape: one narrow typed encode→decode→hash pass (no
  * shuffle), then the LSH-band-shaped chunk equi-join — never
  * all-pairs.
  */
object AudioFp {

  val Cells = 88
  val MutedCells = 3
  val SampleScale = 64
  val MaxHam = 4
  val Chunks = 5
  val ChunkBits = 13
  val PairCap = 2048

  /** Mono 16-bit 8 kHz PCM RIFF/WAVE bytes for a sample array — the
    * wire format [[AvCodec.decodePcm]] decodes back (spec pins the
    * exact roundtrip).
    */
  private[multimodal] def encodeWavS16(samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def le(off: Int, v: Long, n: Int): Unit = {
      var i = 0
      while (i < n) { out(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    def tag(off: Int, s: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); le(4, 36L + dataLen, 4); tag(8, "WAVE")
    tag(12, "fmt "); le(16, 16, 4); le(20, 1, 2); le(22, 1, 2)
    le(24, 8000, 4); le(28, 16000, 4); le(32, 2, 2); le(34, 16, 2)
    tag(36, "data"); le(40, dataLen, 4)
    var i = 0
    while (i < samples.length) {
      le(44 + 2 * i, samples(i).toLong & 0xffffL, 2)
      i += 1
    }
    out
  }

  /** The 63-bit robust fingerprint of a decoded PCM stream. */
  private[multimodal] def fingerprintOf(samples: Array[Int]): Long = {
    val n = samples.length
    val e = new Array[Long](Cells)
    var i = 0
    while (i < n) {
      e((i.toLong * Cells / n).toInt) += math.abs(samples(i).toLong)
      i += 1
    }
    var hv = 0L
    var j = 0
    while (j < 63) {
      val f = j / 3 + 1
      val b = j % 3
      val d = (e(4 * f + b) - e(4 * f + b + 1)) -
        (e(4 * (f - 1) + b) - e(4 * (f - 1) + b + 1))
      if (d > 0) hv |= 1L << j
      j += 1
    }
    hv
  }

  /** The planted twin: volume ×2, first [[MutedCells]] grid cells
    * muted.
    */
  private[multimodal] def remaster(samples: Array[Int]): Array[Int] = {
    val n = samples.length
    Array.tabulate(n) { i =>
      if (i.toLong * Cells / n < MutedCells) 0 else 2 * samples(i)
    }
  }

  /** (aud_id, ph): the REAL encode → wire-decode → fingerprint pass. */
  private[multimodal] def hashed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scale = SampleScale
    Tables(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, tx) =>
        val bytes = tx.getBytes("UTF-8")
        val samples = Array.tabulate(bytes.length)(i =>
          ((bytes(i) & 0xff) - 128) * scale)
        val base = (2 * id, AudioFp.fingerprintOf(
          AvCodec.decodePcm(AudioFp.encodeWavS16(samples)).samples))
        if (id % 2 == 0)
          Iterator(base, (2 * id + 1, AudioFp.fingerprintOf(
            AvCodec.decodePcm(AudioFp.encodeWavS16(
              AudioFp.remaster(samples))).samples)))
        else Iterator(base)
      })
      .toDF("aud_id", "ph")
  }

  def audioDedup(s: SparkSession, dir: String): DataFrame = {
    val hs = hashed(s, dir).localCheckpoint() // count + both join sides
    HammingBlock.pairs(HammingBlock.capSample(hs, "aud_id", PairCap),
        "aud_id", Chunks, ChunkBits, MaxHam)
      .orderBy("aud_a", "aud_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_audio_dedup" -> audioDedup,
  )

  // ---------------------------------------------------------------
  // Oracle: the construction twin — samples from the doc bytes (+ the
  // remaster transform), the same proportional-cell energies and
  // sign-of-difference bits in exact integers, then BRUTE-FORCE all
  // pairs with exact Hamming ≤ MaxHam (the blocking's completeness
  // certificate). The per-sample work runs as one unnest + GROUP BY
  // (O(n) rows), not an O(Cells·n) lambda.
  val oracles: Map[String, String] = Map(
    "mm_audio_dedup" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx
           FROM documents),
         b0 AS (SELECT doc_id,
             list_transform(range(0, length(hx) // 2), i ->
               (CAST(('0x' || substr(hx, CAST(i*2 + 1 AS INTEGER), 2))
                 AS BIGINT) - 128) * $SampleScale) AS ss
           FROM t),
         auds AS (SELECT doc_id * 2 AS aud_id, ss FROM b0
           UNION ALL
           SELECT doc_id * 2 + 1,
             list_transform(range(0, len(ss)), i ->
               CASE WHEN i * $Cells // len(ss) < $MutedCells
                 THEN CAST(0 AS BIGINT)
                 ELSE 2 * ss[CAST(i + 1 AS INTEGER)] END)
           FROM b0 WHERE doc_id % 2 = 0),
         sidx AS (SELECT aud_id, CAST(len(ss) AS BIGINT) AS n,
             unnest(range(0, len(ss))) AS i, unnest(ss) AS s
           FROM auds),
         en AS (SELECT aud_id, i * $Cells // n AS c,
             CAST(SUM(abs(s)) AS BIGINT) AS e
           FROM sidx GROUP BY aud_id, c),
         grid AS (SELECT a.aud_id, g.c,
             coalesce(en.e, CAST(0 AS BIGINT)) AS e
           FROM auds a
           CROSS JOIN (SELECT unnest(range(0, $Cells)) AS c) g
           LEFT JOIN en ON en.aud_id = a.aud_id AND en.c = g.c),
         ev AS (SELECT aud_id, list(e ORDER BY c) AS ee
           FROM grid GROUP BY aud_id),
         hv0 AS (SELECT aud_id,
             CAST(coalesce(list_sum(list_transform(range(0, 63), j ->
               CASE WHEN
                 (ee[CAST((j//3 + 1) * 4 + (j % 3) + 1 AS INTEGER)]
                  - ee[CAST((j//3 + 1) * 4 + (j % 3) + 2 AS INTEGER)])
                 - (ee[CAST((j//3) * 4 + (j % 3) + 1 AS INTEGER)]
                    - ee[CAST((j//3) * 4 + (j % 3) + 2 AS INTEGER)]) > 0
               THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
               ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS ph
           FROM ev),
         ct AS (SELECT COUNT(*) AS n_total FROM hv0),
         hv AS (SELECT aud_id, ph FROM hv0, ct
           WHERE n_total <= $PairCap
             OR CAST(('0x' || substr(md5(CAST(aud_id AS VARCHAR)),
               1, 15)) AS BIGINT)
               % ((n_total + ${PairCap - 1}) // $PairCap) = 0)
         SELECT a.aud_id AS aud_a, b.aud_id AS aud_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         FROM hv a JOIN hv b ON a.aud_id < b.aud_id
         WHERE bit_count(xor(a.ph, b.ph)) <= $MaxHam
         ORDER BY aud_a, aud_b""",
  )
}
