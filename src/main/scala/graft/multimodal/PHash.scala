package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PERCEPTUAL IMAGE NEAR-DUP (`mm_phash_dedup`, VERDICT r9 item 3) —
  * the multimodal columns finally feed the dedup tier: a DCT-based
  * perceptual hash over REALLY DECODED pixels, Hamming-ball blocking
  * via the SimHash chunk discipline ([[graft.dedup.Dedup]]'s
  * dd_simhash machinery), and an exact Hamming verify on the blocked
  * candidates.
  *
  * The pHash (Zauner '10 shape, integer-exact): downsample the
  * [[PixelPng.PixW]]×H greyscale image to an 8×8 grid (x: 2-column
  * sums — 16/8 is exact; y: nearest-row sampling row(v) = ⌊v·H/8⌋,
  * total for any H ≥ 1), forward 8×8 2-D DCT in FIXED-POINT integer
  * arithmetic (basis = round(cos((2k+1)pπ/16)·2¹⁴), [[DctBasis]] —
  * the qlog2 discipline: float basis constants are baked once in the
  * Scala source and emitted as literals into the DuckDB twin, so no
  * cross-engine float evaluation exists; [[JpegCodec]]'s reference
  * IDCT is this basis' inverse), then bit i = coefficient_i > median
  * of the 63 non-DC coefficients (the 32nd smallest — an exact
  * integer selection). 63 bits, DC excluded — a uniform brightness
  * shift moves ONLY the DC coefficient (up to basis-rounding crumbs),
  * which is exactly what makes the hash perceptual.
  *
  * Mirrored construction (the mm_pixel_stats discipline): the image
  * corpus is every document's byte-grid page (img_id = 2·doc_id)
  * PLUS, for even doc_ids, a planted DC-SHIFTED twin (img_id =
  * 2·doc_id + 1, pixels min(255, b + [[TwinShift]]) — a brightness
  * edit, the classic perceptual-dup transform). The even/odd id
  * encoding is collision-proof at ANY corpus scale — an additive
  * offset would collide with the octave fixtures' per-shard doc_id
  * blocks (make_scale shifts doc ids by 100k per shard). The ENGINE builds real PNGs
  * and hashes what [[ImageCodec.decodePng]] returns; the ORACLE
  * computes the same hash from the construction arithmetic — pixel
  * disagreement anywhere surfaces as a pair-set hash mismatch.
  *
  * Blocking: the 63-bit hash splits into [[Chunks]] = 5 disjoint
  * 13-bit chunks (the last carries 11 bits); two hashes within
  * Hamming distance [[MaxHam]] = 4 differ in at most 4 chunks, so
  * they SHARE at least one (pigeonhole) — the equi-join on
  * (chunk index, chunk value) is
  * provably complete for the ball, and the exact bit_count(xor)
  * verify owns the answer (the oracle is the brute-force all-pairs
  * twin, so the gate proves completeness on the fixture; the spec
  * proves it against brute force on crafted frames).
  *
  * 100 TB shape: one narrow typed decode+hash pass (no shuffle), an
  * 8-byte-key equi-join on chunk buckets (the LSH-band shape — never
  * all-pairs), exact verify on candidates only. Fixture-verified
  * non-vacuous: at sf0.01 the 288-pair answer recovers all 250
  * planted twins (235 at distance 0, 15 at distance 2 — the basis
  * rounding; the ball is 4 because a DC shift also nudges the
  * median when the rounded p>0 basis rows do not sum exactly to
  * zero, flipping near-median bits — one sf0.001 twin lands at 4)
  * plus 38 natural pairs from near-dup document texts.
  */
object PHash {

  val TwinShift = 8
  val MaxHam = 4
  val Chunks = 5
  val ChunkBits = 13

  /** VERIFY-TIER CONTRACT (the [[graft.dedup.Dedup.VerifyCap]]
    * discipline): up to PairCap images the pair report is the exact
    * answer — every driver gate runs in this regime (sf0.01: 750
    * images, all 250 planted twins on the gate path). Above the cap
    * the tier reports the pairs of a deterministic hash-sampled
    * ≈PairCap-image subset (hash60(img_id) ≡ 0 mod ⌈N/cap⌉, the
    * cross-engine md5 hash, reproduced bit-for-bit by the oracle;
    * the count-conditional is one broadcast 1-row scalar in the
    * plan, not a driver branch). The cap exists because a 63-bit
    * perceptual hash over a self-similar corpus has a constant
    * BACKGROUND pair density — measured 1.25·10⁻⁴ at 32×, 3.59M
    * pairs over 240k images with ~30 neighbors per image — so the
    * exact pair REPORT grows quadratically with the corpus no matter
    * how sub-quadratic the blocking is. Production consumes the pair
    * graph as a keeplist/cluster reduction; the uncapped pair tier
    * is the verify baseline, exact precisely where the gates need
    * exactness.
    */
  val PairCap = 2048

  /** Fixed-point DCT-II basis: DctBasis(p)(k) =
    * round(cos((2k+1)·p·π/16) · 2¹⁴). Shared verbatim by the typed
    * hash pass and the emitted oracle literals.
    */
  val DctBasis: Array[Array[Long]] = Array.tabulate(8, 8) { (p, k) =>
    math.round(math.cos((2 * k + 1) * p * math.Pi / 16) * 16384.0)
  }

  /** The 63-bit perceptual hash of a decoded greyscale image
    * (row-major pixels, width [[PixelPng.PixW]]).
    */
  private[multimodal] def phashOf(pixels: Array[Int], h: Int): Long = {
    val w = PixelPng.PixW
    val cell = new Array[Long](64)
    var v = 0
    while (v < 8) {
      val row = v * h / 8
      var u = 0
      while (u < 8) {
        cell(v * 8 + u) =
          pixels(row * w + 2 * u).toLong + pixels(row * w + 2 * u + 1)
        u += 1
      }
      v += 1
    }
    val coefs = new Array[Long](64)
    var p = 0
    while (p < 8) {
      var q = 0
      while (q < 8) {
        var acc = 0L
        var vv = 0
        while (vv < 8) {
          var uu = 0
          while (uu < 8) {
            acc += DctBasis(p)(vv) * DctBasis(q)(uu) * cell(vv * 8 + uu)
            uu += 1
          }
          vv += 1
        }
        coefs(p * 8 + q) = acc
        q += 1
      }
      p += 1
    }
    val ac = coefs.drop(1).sorted
    val med = ac(31) // 32nd smallest of the 63 non-DC coefficients
    var hv = 0L
    var i = 1
    while (i < 64) {
      if (coefs(i) > med) hv |= 1L << (i - 1)
      i += 1
    }
    hv
  }

  /** (img_id, png_hex): every document's page + the planted twins. */
  private def images(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, tx) =>
        val bytes = tx.getBytes("UTF-8").map(_ & 0xff)
        val base = (2 * id, PixelPng.encodePngBytes(bytes))
        if (id % 2 == 0)
          Iterator(base, (2 * id + 1, PixelPng.encodePngBytes(
            bytes.map(b => math.min(255, b + TwinShift)))))
        else Iterator(base)
      })
      .toDF("img_id", "png_hex")
  }

  /** (img_id, ph): the REAL decode → hash pass. */
  private[multimodal] def hashed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    images(s, dir)
      .select(col("img_id"), unhex(col("png_hex")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val img = ImageCodec.decodePng(payload)
        (id, phashOf(img.pixels, img.height))
      })
      .toDF("img_id", "ph")
  }

  /** Blocked near-dup pairs over a (img_id, ph) frame — the
    * [[HammingBlock]] machinery (factored round 10 so the audio
    * fingerprint blocks through the same audited code); the spec
    * proves blocked ≡ brute-force on crafted frames.
    */
  private[multimodal] def pairsOf(hs: DataFrame): DataFrame =
    HammingBlock.pairs(hs, "img_id", Chunks, ChunkBits, MaxHam)

  /** The verify-tier sample: identity below `cap`, deterministic
    * hash-sampled ≈cap-image subset above it ([[PairCap]] doc; the
    * 1-row count rides the plan as a broadcast scalar).
    */
  private[multimodal] def capImages(hs: DataFrame, cap: Int): DataFrame =
    HammingBlock.capSample(hs, "img_id", cap)

  def phashDedup(s: SparkSession, dir: String): DataFrame = {
    val hs0 = hashed(s, dir).localCheckpoint() // count + both join sides
    pairsOf(capImages(hs0, PairCap)).orderBy("img_a", "img_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash_dedup" -> phashDedup,
  )

  // ---------------------------------------------------------------
  // Oracle: the construction twin — byte grids (+ twin shift), the
  // same integer DCT with the SAME emitted basis literals, the same
  // median/bit arithmetic, then BRUTE-FORCE all pairs with exact
  // Hamming ≤ MaxHam (the blocking's completeness certificate).
  private val BFlat: String = DctBasis.flatten.mkString("[", ", ", "]")
  private val W = PixelPng.PixW

  /** Construction → hash CTE chain (documents → `hv0 (img_id, ph)`,
    * with `feat (img_id, nb, hgt, n_pix, lum)` alongside) — FACTORED
    * (round 10) so the composed multimodal pipeline
    * ([[MmPipeline]]) chains the identical arithmetic; this oracle
    * and the pipeline's can never drift apart hash-wise.
    */
  private[multimodal] lazy val HashCtes: String =
    s"""t AS (SELECT doc_id, hex(encode(text)) AS hx
           FROM documents),
         b0 AS (SELECT doc_id,
             list_transform(range(0, length(hx) // 2), i ->
               CAST(('0x' || substr(hx, CAST(i*2 + 1 AS INTEGER), 2))
                 AS BIGINT)) AS bs
           FROM t),
         imgs AS (SELECT doc_id * 2 AS img_id, bs FROM b0
           UNION ALL
           SELECT doc_id * 2 + 1,
             list_transform(bs, b -> least(255, b + $TwinShift))
           FROM b0 WHERE doc_id % 2 = 0),
         g AS (SELECT img_id, bs,
             CAST(len(bs) AS BIGINT) AS nb,
             greatest(CAST(1 AS BIGINT),
               CAST((len(bs) + ${W - 1}) // $W AS BIGINT)) AS hgt
           FROM imgs),
         feat AS (SELECT img_id, nb, hgt,
             CAST($W * hgt AS BIGINT) AS n_pix,
             CAST(coalesce(list_sum(bs), 0) AS BIGINT) AS lum
           FROM g),
         cells AS (SELECT img_id,
             list_transform(range(0, 64), c ->
               (CASE WHEN ((c // 8) * hgt // 8) * $W + 2*(c % 8) < nb
                  THEN bs[CAST(((c // 8) * hgt // 8) * $W
                    + 2*(c % 8) + 1 AS INTEGER)] ELSE 0 END)
               + (CASE WHEN ((c // 8) * hgt // 8) * $W
                     + 2*(c % 8) + 1 < nb
                  THEN bs[CAST(((c // 8) * hgt // 8) * $W
                    + 2*(c % 8) + 2 AS INTEGER)] ELSE 0 END)) AS cell
           FROM g),
         fc AS (SELECT img_id,
             list_transform(range(0, 64), pq ->
               list_sum(list_transform(range(0, 64), c ->
                 bl[CAST((pq // 8) * 8 + (c // 8) + 1 AS INTEGER)]
                 * bl[CAST((pq % 8) * 8 + (c % 8) + 1 AS INTEGER)]
                 * cell[CAST(c + 1 AS INTEGER)]))) AS coefs
           FROM cells CROSS JOIN (SELECT $BFlat AS bl) bb),
         hv0 AS (SELECT img_id,
             CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(2, 65), i ->
                 CASE WHEN coefs[CAST(i AS INTEGER)] >
                     list_sort(coefs[2:64])[32]
                   THEN CAST(1 AS BIGINT) << CAST(i - 2 AS INTEGER)
                   ELSE CAST(0 AS BIGINT) END))) AS BIGINT) AS ph
           FROM fc)"""

  val oracles: Map[String, String] = Map(
    "mm_phash_dedup" ->
      s"""WITH $HashCtes,
         ct AS (SELECT COUNT(*) AS n_total FROM hv0),
         hv AS (SELECT img_id, ph FROM hv0, ct
           WHERE n_total <= $PairCap
             OR CAST(('0x' || substr(md5(CAST(img_id AS VARCHAR)),
               1, 15)) AS BIGINT)
               % ((n_total + ${PairCap - 1}) // $PairCap) = 0)
         SELECT a.img_id AS img_a, b.img_id AS img_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         FROM hv a JOIN hv b ON a.img_id < b.img_id
         WHERE bit_count(xor(a.ph, b.ph)) <= $MaxHam
         ORDER BY img_a, img_b""",
  )
}
