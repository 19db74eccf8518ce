package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PERCEPTUAL VIDEO NEAR-DUP (`mm_video_dedup`, VERDICT r10 item 3) —
  * the third modality joins the dedup tier with the [[PHash]] /
  * [[AudioFp]] discipline: per-SAMPLED-FRAME perceptual hashes folded
  * into one per-video fingerprint, Hamming blocking via the shared
  * [[HammingBlock]] machinery, exact bit_count verify, brute-force
  * oracle twin as the blocking's completeness certificate.
  *
  * The fingerprint: the mdat payload (recovered by the REAL box walk,
  * [[AvCodec.decodeMdat]] — size/largesize/to-EOF framing and overrun
  * checks) is a GRAFT-VC coded bitstream (round 12,
  * [[VideoCodec]]): length-delimited intra-only access units —
  * fixed-point integer DCT on the shared [[PHash.DctBasis]], uniform
  * quantization, Exp-Golomb entropy coding. The stream is DECODED
  * back to pixels ([[VideoCodec.decodeStream]]) — each access unit
  * reconstructing one [[FrameBytes]] = 8×8 greyscale frame — and
  * every [[FrameStep]]-nd DECODED frame (the mm_frame_sample cost
  * convention — a real system never hashes every frame) gets the
  * [[PHash]] integer-DCT hash
  * (same fixed-point [[PHash.DctBasis]], same median-bit rule, 63
  * bits, DC excluded), and the per-video fingerprint is the
  * MAJORITY BIT over the sampled frames: bit j = 1 iff more than
  * half the frames set it (2·count > n, exact integers). Majority
  * folding is ORDER-INVARIANT over the frame set, so re-encodes
  * that perturb individual frames are damped: a flipped bit in one
  * frame moves the count by 1, not the fingerprint. A video shorter
  * than one full frame has no fingerprint (unhashable — the
  * zero-norm-embedding convention) and drops from the corpus.
  *
  * Mirrored construction: every document's UTF-8 bytes are the RAW
  * pixel source, intra-coded through [[VideoCodec.encodeStream]],
  * and the resulting access-unit bitstream rides as the mdat payload
  * of a REAL ISO-BMFF MP4 the engine assembles byte by byte
  * ([[encodeMp4]] — ftyp + moov>mvhd + mdat, big-endian box sizes,
  * the [[Multimodal.toAvMedia]] layout); vid_id = 2·doc_id.
  * Even doc_ids additionally plant a RE-ENCODED twin (vid_id =
  * 2·doc_id + 1): every SOURCE byte brightness-shifted
  * min(255, b + [[TwinShift]]) before its own encode pass — the
  * classic transcode/levels edit.
  * A uniform shift moves each frame's DC coefficient; non-DC
  * coefficients move only by basis-rounding crumbs (the rounded
  * p > 0 DCT rows do not sum exactly to zero), so each frame's hash
  * flips at most a few near-median bits and the majority fold lands
  * the twin inside the [[MaxHam]] ball (fixture-measured; the spec
  * pins full planted-twin recovery). The ENGINE hashes what the box
  * walk returns from real container bytes; the ORACLE computes the
  * same fingerprint from the construction arithmetic — payload
  * disagreement anywhere surfaces as a pair-set hash mismatch.
  *
  * Blocking: 63 bits → 5 disjoint 13-bit chunks, pigeonhole-complete
  * for Hamming ≤ 4 ([[HammingBlock.pairs]]); verify-tier cap
  * ([[PHash.PairCap]] rationale) bounds the quadratic pair REPORT —
  * every driver gate runs in the exact regime.
  *
  * 100 TB shape: one narrow typed assemble→box-walk→bitstream-
  * decode→hash pass (no shuffle; at scale the assemble step is the
  * existing video column), then the LSH-band-shaped chunk equi-join —
  * never all-pairs.
  */
object VideoFp {

  val TwinShift = 8
  val FrameBytes: Int = Multimodal.VideoFrameBytes // 64 = 8×8 grid
  val FrameStep = 2
  val MaxHam = 4
  val Chunks = 5
  val ChunkBits = 13
  val PairCap = 2048

  /** Minimal ISO-BMFF MP4 bytes (ftyp + moov>mvhd + mdat) carrying
    * `payload` — the byte-level twin of [[Multimodal.toAvMedia]]'s
    * MP4 column arithmetic, so [[AvCodec.decodeMdat]] exercises the
    * same wire format the mm_av_meta gate certifies.
    */
  private[multimodal] def encodeMp4(payload: Array[Byte],
      timescale: Long): Array[Byte] = {
    val nb = payload.length
    val out = new Array[Byte](20 + 116 + 8 + nb)
    var off = 0
    def be(v: Long, n: Int): Unit = {
      var i = 0
      while (i < n) {
        out(off + i) = ((v >> (8 * (n - 1 - i))) & 0xff).toByte
        i += 1
      }
      off += n
    }
    def tag(s: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
      off += 4
    }
    def hexBytes(h: String): Unit = {
      var i = 0
      while (i < h.length) {
        out(off + i / 2) =
          Integer.parseInt(h.substring(i, i + 2), 16).toByte
        i += 2
      }
      off += h.length / 2
    }
    be(20, 4); tag("ftyp"); tag("isom"); be(0x200, 4); tag("isom")
    be(116, 4); tag("moov")
    be(108, 4); tag("mvhd")
    be(0, 4); be(0, 4); be(0, 4) // version/flags, creation, modified
    be(timescale, 4); be(nb.toLong, 4) // timescale, duration
    hexBytes("000100000100" + "0000" + "0000000000000000") // rate/vol/rsv
    hexBytes("000100000000000000000000000000000001000000000000" +
      "000000000000000040000000") // unity matrix
    hexBytes("000000000000000000000000000000000000000000000000") // predef
    be(2, 4) // next_track_ID
    be(nb.toLong + 8, 4); tag("mdat")
    System.arraycopy(payload, 0, out, off, nb)
    out
  }

  /** 63-bit pHash of one DECODED 8×8 frame — [[PHash.phashOf]]'s
    * DCT/median arithmetic on the frame cells (no downsample: the
    * frame IS the grid).
    */
  private[multimodal] def frameHash(px: Array[Int]): Long = {
    val basis = PHash.DctBasis
    val coefs = new Array[Long](64)
    var p = 0
    while (p < 8) {
      var q = 0
      while (q < 8) {
        var acc = 0L
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            acc += basis(p)(v) * basis(q)(u) * px(v * 8 + u)
            u += 1
          }
          v += 1
        }
        coefs(p * 8 + q) = acc
        q += 1
      }
      p += 1
    }
    val ac = coefs.drop(1).sorted
    val med = ac(31)
    var hv = 0L
    var i = 1
    while (i < 64) {
      if (coefs(i) > med) hv |= 1L << (i - 1)
      i += 1
    }
    hv
  }

  /** Majority-bit fold of every [[FrameStep]]-nd decoded frame's
    * hash; None for a stream with no frame.
    */
  private[multimodal] def fingerprintOfFrames(
      frames: IndexedSeq[Array[Int]]): Option[Long] = {
    if (frames.isEmpty) return None
    val counts = new Array[Int](63)
    var n = 0
    var f = 0
    while (f < frames.length) {
      val h = frameHash(frames(f))
      var j = 0
      while (j < 63) {
        if ((h & (1L << j)) != 0) counts(j) += 1
        j += 1
      }
      n += 1
      f += FrameStep
    }
    var hv = 0L
    var j = 0
    while (j < 63) {
      if (2 * counts(j) > n) hv |= 1L << j
      j += 1
    }
    Some(hv)
  }

  /** Fingerprint of a RAW payload through the full codec path —
    * every full frame intra-coded ([[VideoCodec.encodeStream]]), the
    * bitstream decoded back, decoded frames hashed. Spec surface;
    * the production pass in [[hashed]] additionally walks the MP4
    * container around the coded stream.
    */
  private[multimodal] def fingerprintOf(payload: Array[Byte])
      : Option[Long] =
    fingerprintOfFrames(VideoCodec.decodeStream(
      VideoCodec.encodeStream(payload)))

  /** (vid_id, ph): the REAL assemble → box-walk → BITSTREAM-decode →
    * hash pass (round 12: the mdat carries [[VideoCodec]]
    * intra-coded access units, and the hashes are over genuinely
    * DECODED pixels — the image tier's fidelity, closed for video).
    */
  private[multimodal] def hashed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, tx) =>
        val ts = 600L + (id % 10) * 60L
        def fp(payload: Array[Byte]): Option[Long] =
          fingerprintOfFrames(VideoCodec.decodeStream(
            AvCodec.decodeMdat(
              encodeMp4(VideoCodec.encodeStream(payload), ts))))
        val bytes = tx.getBytes("UTF-8")
        val base = fp(bytes).map(h => (2 * id, h))
        val twin =
          if (id % 2 == 0)
            fp(bytes.map(b =>
              math.min(255, (b & 0xff) + TwinShift).toByte))
              .map(h => (2 * id + 1, h))
          else None
        base.iterator ++ twin.iterator
      })
      .toDF("vid_id", "ph")
  }

  def videoDedup(s: SparkSession, dir: String): DataFrame = {
    val hs = hashed(s, dir).localCheckpoint() // count + both join sides
    HammingBlock.pairs(HammingBlock.capSample(hs, "vid_id", PairCap),
        "vid_id", Chunks, ChunkBits, MaxHam)
      .orderBy("vid_a", "vid_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_video_dedup" -> videoDedup,
  )

  // ---------------------------------------------------------------
  // Oracle: the construction twin — payload bytes from the doc text
  // (+ the brightness-shift transform), full-frame split, the SAME
  // emitted DCT basis literals per sampled frame, median bits,
  // majority fold, then BRUTE-FORCE all pairs with exact Hamming ≤
  // MaxHam (the blocking's completeness certificate).
  private val BFlat: String =
    PHash.DctBasis.flatten.mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "mm_video_dedup" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx
           FROM documents),
         b0 AS (SELECT doc_id,
             list_transform(range(0, length(hx) // 2), i ->
               CAST(('0x' || substr(hx, CAST(i*2 + 1 AS INTEGER), 2))
                 AS BIGINT)) AS bs
           FROM t),
         vids AS (SELECT doc_id * 2 AS vid_id, bs FROM b0
           UNION ALL
           SELECT doc_id * 2 + 1,
             list_transform(bs, b -> least(255, b + $TwinShift))
           FROM b0 WHERE doc_id % 2 = 0),
         vf AS (SELECT vid_id, bs,
             CAST(len(bs) // $FrameBytes AS BIGINT) AS nf
           FROM vids WHERE len(bs) >= $FrameBytes),
         sfr AS (SELECT vid_id, bs, unnest(range(0, nf)) AS fi
           FROM vf),
         sf AS (SELECT vid_id, bs, fi FROM sfr
           WHERE fi % $FrameStep = 0),
         -- GRAFT-VC construction twin (round 12): forward transform +
         -- TRUNCATING quantization, dequantization, two-stage integer
         -- inverse — the decoded pixels the engine recovers from the
         -- real bitstream ([[VideoCodec.decodeCtes]]).
         ${VideoCodec.decodeCtes("sf", "vid_id", FrameBytes)},
         fc AS (SELECT vid_id, fi,
             list_transform(range(0, 64), pq ->
               list_sum(list_transform(range(0, 64), c ->
                 bl[CAST((pq // 8) * 8 + (c // 8) + 1 AS INTEGER)]
                 * bl[CAST((pq % 8) * 8 + (c % 8) + 1 AS INTEGER)]
                 * dbs[CAST(c + 1 AS INTEGER)])))
               AS coefs
           FROM vcd CROSS JOIN bbvc),
         fh AS (SELECT vid_id, fi,
             list_transform(range(2, 65), i ->
               CASE WHEN coefs[CAST(i AS INTEGER)] >
                   list_sort(coefs[2:64])[32]
                 THEN 1 ELSE 0 END) AS bits
           FROM fc),
         fbit AS (SELECT vid_id, unnest(range(0, 63)) AS j,
             unnest(bits) AS b
           FROM fh),
         vcnt AS (SELECT vid_id, j, CAST(SUM(b) AS BIGINT) AS cj,
             CAST(COUNT(*) AS BIGINT) AS nfr
           FROM fbit GROUP BY vid_id, j),
         hv0 AS (SELECT vid_id,
             CAST(SUM(CASE WHEN 2 * cj > nfr
               THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
               ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ph
           FROM vcnt GROUP BY vid_id),
         ct AS (SELECT COUNT(*) AS n_total FROM hv0),
         hv AS (SELECT vid_id, ph FROM hv0, ct
           WHERE n_total <= $PairCap
             OR CAST(('0x' || substr(md5(CAST(vid_id AS VARCHAR)),
               1, 15)) AS BIGINT)
               % ((n_total + ${PairCap - 1}) // $PairCap) = 0)
         SELECT a.vid_id AS vid_a, b.vid_id AS vid_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         FROM hv a JOIN hv b ON a.vid_id < b.vid_id
         WHERE bit_count(xor(a.ph, b.ph)) <= $MaxHam
         ORDER BY vid_a, vid_b""",
  )
}
