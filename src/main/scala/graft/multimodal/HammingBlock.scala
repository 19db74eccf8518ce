package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hamming-ball candidate blocking over a fingerprint column — the
  * chunk discipline of [[graft.dedup.Dedup]]'s dd_simhash, factored
  * (round 10) out of [[PHash]] so every perceptual-hash modality
  * (image pHash, audio fingerprint) blocks through the SAME audited
  * machinery instead of re-deriving it.
  *
  * Split a `bits`-wide hash into `chunks` disjoint `chunkBits`-wide
  * chunks; two hashes within Hamming distance `maxHam` < `chunks`
  * differ in at most `maxHam` chunks, so they SHARE at least one
  * (pigeonhole) — the (chunk index, chunk value) equi-join is
  * provably complete for the ball, and the exact bit_count(xor)
  * verify owns the answer. 100 TB shape: an 8-byte-key equi-join on
  * chunk buckets (the LSH-band shape — never all-pairs), exact
  * verify on candidates only.
  *
  * Output pair columns derive from the id column's entity prefix:
  * `img_id` → (img_a, img_b, hamming), `aud_id` → (aud_a, aud_b,
  * hamming) — matching each caller's oracle twin.
  */
object HammingBlock {

  /** Blocked near-dup pairs over an (idCol, ph) frame: chunk
    * equi-join candidates, exact Hamming ≤ `maxHam` verify. Callers'
    * specs prove blocked ≡ brute-force on crafted frames.
    */
  def pairs(hs: DataFrame, idCol: String, chunks: Int, chunkBits: Int,
      maxHam: Int): DataFrame = {
    require(maxHam < chunks,
      s"pigeonhole needs maxHam < chunks ($maxHam >= $chunks)")
    val pre = idCol.stripSuffix("_id")
    val chunked = hs.select(col(idCol), col("ph"),
        explode(sequence(lit(0), lit(chunks - 1))).as("ci"))
      .select(col(idCol), col("ph"), col("ci"),
        expr(s"shiftright(ph, ci * $chunkBits)")
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("cv"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(s"${pre}_a"),
        col(s"b.$idCol").as(s"${pre}_b"),
        bit_count(col("a.ph").bitwiseXOR(col("b.ph"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  /** The verify-tier sample ([[PHash.PairCap]] doc): identity below
    * `cap`, deterministic hash-sampled ≈cap-entity subset above it
    * (hash60(id) ≡ 0 mod ⌈N/cap⌉; the 1-row count rides the plan as
    * a broadcast scalar, not a driver branch).
    */
  def capSample(hs: DataFrame, idCol: String, cap: Int): DataFrame = {
    import graft.functions.TextHash.hash60
    val tot = hs.agg(count(lit(1)).as("n_total"))
    hs.crossJoin(broadcast(tot))
      .filter(col("n_total") <= cap ||
        hash60(col(idCol).cast("string")) %
          expr(s"(n_total + ${cap - 1}) DIV $cap") === 0)
      .select(idCol, "ph")
  }
}
