package graft.text

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.core.StoreRoot

/** Byte-level BPE gated three ways (VERDICT r7 item 1's "Done"
  * condition): the distributed merge table ≡ an independent
  * sequential byte-level trainer; the pretokenizer provably covers
  * every byte of every input (the no-OOV precondition); and the
  * persisted store encodes a batch full of characters the training
  * corpus NEVER SAW — digits, punctuation, tabs, newlines, non-ASCII
  * and astral-plane codepoints — with zero OOV, piece-for-piece equal
  * to a sequential replay of the stored merges.
  */
class ByteBpeSpec extends SparkSpec with TempDirs {

  /** Pretoken → hex-pair symbol seed (the byte alphabet). */
  private def hexSyms(t: String): Vector[String] =
    t.getBytes("UTF-8").toVector
      .map(b => f"${b & 0xff}%02X")

  /** Sequential reference trainer — the BpeTrainerSpec textbook
    * algorithm verbatim, over byte symbols.
    */
  private def sequentialByteBpe(wordFreq: Map[String, Long],
      rounds: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wordFreq.map { case (w, f) => hexSyms(w) -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    var done = false
    while (k < rounds && !done) {
      k += 1
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((a, b, c))
        words = words.map { case (syms, f) =>
          val nw = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              nw += (a + b); i += 2
            } else { nw += syms(i); i += 1 }
          }
          (nw.result(), f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  /** Sequential encode: apply a stored merge list in rank order,
    * greedy left-to-right non-overlapping per merge — the store's
    * DEFINED single-pass encoding convention (see TokenizerStore
    * scaladoc; ADVICE r8 — not claimed equivalent to
    * lowest-applicable-rank-first fixpoint encoding in general).
    */
  private def seqEncode(t: String,
      merges: Seq[(String, String)]): Vector[String] = {
    var syms = hexSyms(t)
    for ((a, b) <- merges) {
      val nw = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          nw += (a + b); i += 2
        } else { nw += syms(i); i += 1 }
      }
      syms = nw.result()
    }
    syms
  }

  private def pretokenize(t: String): Vector[String] =
    ByteBpe.PretokRegex.r.findAllIn(t).toVector

  test("distributed byte merge table == sequential byte-level BPE") {
    val freqs = graft.Tables(spark, sf, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(ByteBpe.PretokRegex), lit(0))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = sequentialByteBpe(freqs, ByteBpe.Merges)

    val got = ByteBpe.byteTrain(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    assert(got.length == expect.length)
    got.zip(expect).zipWithIndex.foreach {
      case (((rk, a, b, c), (ea, eb, ec)), i) =>
        assert(rk == i + 1)
        assert((a, b, c) == ((ea, eb, ec)),
          s"merge ${i + 1}: got ($a,$b,$c), sequential ($ea,$eb,$ec)")
    }
    assert(got.length == ByteBpe.Merges,
      "fixture must admit a full-length table (no early exhaustion)")
  }

  test("pretokenizer coverage: concatenated pretokens rebuild every " +
    "text byte-for-byte (fixture + adversarial strings)") {
    val adversarial = Seq(
      "café, naïve — £3.14!",
      "tabs\tand\nnewlines\r\nmixed  runs",
      "123abc!!!   42x7",
      "emoji 😀 and CJK 漢字 mixed",
      "'''", "", "a", " ", "\t\t")
    adversarial.foreach { t =>
      assert(pretokenize(t).mkString == t, s"coverage broken on: $t")
    }
    // Fixture: Spark-side reassembly equals the original column.
    val bad = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        array_join(regexp_extract_all(col("text"),
          lit(ByteBpe.PretokRegex), lit(0)), "").as("rebuilt"))
      .filter(col("rebuilt") =!= col("text"))
      .count()
    assert(bad == 0L)
  }

  test("space-prefix convention (ta_bpe_sp): full coverage holds, " +
    "the learned table == sequential reference under the sp regex, " +
    "and space-prefixed pieces are actually learned") {
    def sp(t: String): Vector[String] =
      ByteBpe.SpPretokRegex.r.findAllIn(t).toVector
    // coverage under the attach-leading-spaces alternation
    Seq("a b", "a  b", " lead", "trail ", "tabs\tand  more",
      "12 3.4 !x", "", " ", "   ", "a \n b").foreach { t =>
      assert(sp(t).mkString == t, s"sp coverage broken on: '$t'")
    }
    // the convention's signature: single spaces attach forward,
    // runs attach entirely, unattachable whitespace stands alone
    assert(sp("a b") === Vector("a", " b"))
    assert(sp("a  b") === Vector("a", "  b"))
    // a whitespace RUN (not a plain space prefix) absorbs greedily,
    // including the space that would otherwise attach to 'b'
    assert(sp("a \n b") === Vector("a", " \n ", "b"))
    val freqs = graft.Tables(spark, sf, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(ByteBpe.SpPretokRegex), lit(0))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = sequentialByteBpe(freqs, ByteBpe.Merges)
    val got = ByteBpe.spTrain(spark, sf).collect()
      .map(r => (r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
    assert(got.toSeq === expect)
    // space-prefixed vocabulary really forms (hex 20 = ' ')
    assert(got.exists(_._1 == "20"),
      "no merge consumes the space prefix — the convention is inert")
  }

  test("stored byte tokenizer: zero OOV on a batch the training " +
    "corpus never saw; pieces == sequential replay of stored merges") {
    val dir = tempDir("bytetok").toString
    TokenizerStore.saveBytes(spark, sf, dir)

    val texts = Seq(
      (0L, "query 99 rows!!"),          // digits + punct, known words
      (1L, "café £3.14\ttab"), // non-ASCII + tab
      (2L, "😀😀 emoji run"), // astral plane
      (3L, ""),                          // empty doc
      (4L, "the the the"))               // in-vocabulary control
    import spark.implicits._
    val batch = texts.toDF("doc_id", "text")

    val got = TokenizerStore.encodeBatchBytes(spark, dir, batch)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pretokens"), r.getAs[Long]("oov_tokens"),
          r.getAs[Long]("n_bytes"), r.getAs[Long]("n_pieces"))).toMap

    val merges = TokenizerStore
      .loadBytesMerges(spark, dir).collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      .toSeq
    texts.foreach { case (id, t) =>
      val pts = pretokenize(t)
      val expPieces = pts.map(p => seqEncode(p, merges).length.toLong).sum
      val expBytes = t.getBytes("UTF-8").length.toLong
      val (np, oov, nb, npc) = got(id)
      assert(oov == 0L, s"doc $id: OOV must be structurally zero")
      assert(np == pts.length.toLong, s"doc $id pretokens")
      assert(nb == expBytes, s"doc $id bytes")
      assert(npc == expPieces,
        s"doc $id: got $npc pieces, sequential replay $expPieces")
    }
  }

  test("segmentBytes: unseen pretokens segment piece-for-piece like " +
    "the sequential replay, in position order") {
    val dir = tempDir("bytetok2").toString
    TokenizerStore.saveBytes(spark, sf, dir)
    val merges = TokenizerStore
      .loadBytesMerges(spark, dir).collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      .toSeq

    val unseen = Seq("zzzqqq", "a1b2c3", "!!!???", "  ", "tablet")
    import spark.implicits._
    val words = unseen.map(t => ByteBpe.hexKey(t)).toDF("word")
    val segs = TokenizerStore.segmentBytes(spark, dir, words)
      .collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("pos"),
        r.getAs[String]("sym")))
      .groupBy(_._1)
      .map { case (w, rows) =>
        w -> rows.sortBy(_._2).map(_._3).toVector }
    unseen.foreach { t =>
      val exp = seqEncode(t, merges)
      assert(segs(ByteBpe.hexKey(t)) == exp,
        s"'$t': got ${segs(ByteBpe.hexKey(t))}, sequential $exp")
    }
  }

  test("ta_bpe_bytes_pack conserves the encode census: " +
    "Σ pack n_pieces == Σ encode n_pieces + one EOS per non-empty doc") {
    val enc = ByteBpe.byteEncode(spark, sf)
      .agg(sum("n_pieces").as("p"),
        sum(when(col("n_pretokens") > 0, 1L).otherwise(0L)).as("ne"))
      .first()
    val packed = ByteBpe.bytePack(spark, sf)
      .agg(sum("n_pieces")).first().getLong(0)
    assert(packed == enc.getAs[Long]("p") + enc.getAs[Long]("ne"),
      s"pack total $packed != encode ${enc.getAs[Long]("p")} + " +
        s"${enc.getAs[Long]("ne")} EOS rows")
  }

  test("ta_bpe_roundtrip: every document decodes back to its exact " +
    "source bytes (zero ok=0 rows), and the decode is non-vacuous") {
    // VERDICT r12 item 7: byte-level BPE is lossless by construction
    // (full-coverage pretokens × concatenation-preserving merges), so
    // a single mismatching doc is a real piece-boundary bug. The
    // declared row carries per-doc md5 pairs; this gate pins the
    // corpus-level invariant the oracle compare alone would not state.
    val rt = ByteBpe.byteRoundtrip(spark, sf)
    val bad = rt.filter(col("ok") =!= 1L).count()
    assert(bad == 0L, s"$bad documents failed the decode round-trip")
    // Non-vacuous: pieces were actually merged (fewer pieces than
    // bytes corpus-wide), i.e. the decode really unwound merges
    // rather than passing raw bytes through.
    val tot = rt.agg(sum("n_pieces").as("p"), sum("n_bytes").as("b"))
      .first()
    assert(tot.getAs[Long]("p") < tot.getAs[Long]("b"),
      "roundtrip saw no merged pieces — gate is vacuous")
  }

  test("byte coverage is pretokenizer-invariant: ta_bpe_sp_encode " +
    "reports the same per-doc n_bytes as ta_bpe_bytes_encode") {
    // Both pretokenizers partition the text, so n_bytes must equal
    // octet_length(text) under either — the coverage theorem made
    // visible across conventions.
    val a = ByteBpe.byteEncode(spark, sf).select("doc_id", "n_bytes")
    val b = ByteBpe.spEncode(spark, sf)
      .select(col("doc_id"), col("n_bytes").as("nb_sp"))
    assert(a.join(b, "doc_id")
      .filter(col("n_bytes") =!= col("nb_sp")).count() == 0L)
  }

  test("ta_tok_compare_bytes: equal byte denominators (coverage), " +
    "and the space-prefix convention compresses better here") {
    val rows = ByteBpe.tokCompareBytes(spark, sf).collect()
      .map(r => r.getAs[String]("convention") -> r).toMap
    val (b, sp) = (rows("bytes"), rows("sp"))
    assert(b.getAs[Long]("n_bytes") === sp.getAs[Long]("n_bytes"))
    assert(sp.getAs[Double]("pieces_per_byte") <
      b.getAs[Double]("pieces_per_byte"),
      "gluing the leading space onto the word must buy compression " +
        "at equal merge budget on this corpus")
  }

  test("ta_tok_store_encode: the declared row builds the store once " +
    "per session and matches the session-trained census exactly") {
    val first = TokenizerStore.storeEncode(spark, sf)
      .collect().map(_.toSeq).toSeq

    // The on-disk artifact this session built.
    val stores = Array(new java.io.File(StoreRoot.path(spark, "tok_store", sf)))
      .filter(_.exists)
    assert(stores.nonEmpty, "declared row left no store on disk")
    def listing = stores.flatMap { st =>
      java.nio.file.Files.walk(st.toPath).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }.toMap
    val before = listing

    // Second invocation: Lineage hit — the store is NOT rebuilt
    // (same files, same mtimes), and the census is identical.
    val second = TokenizerStore.storeEncode(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(listing === before, "second call rebuilt the store")
    assert(second === first)

    // The store census equals the session-trained encode census
    // (the persisted artifact is lossless), with oov structurally 0.
    val viaSession = ByteBpe.byteEncode(spark, sf)
      .select("doc_id", "n_pretokens", "n_bytes", "n_pieces")
      .collect().map(_.toSeq).toSeq
    val storeCensus = first.map(r => Seq(r(0), r(1), r(3), r(4)))
    assert(storeCensus === viaSession)
    assert(first.forall(_(2) == 0L), "oov must be structurally zero")
  }
}
