package graft.text

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** The persisted-tokenizer lifecycle: a store round-trip reproduces
  * the session-trained encode exactly, a new batch encodes against
  * the stored tables alone, and out-of-vocabulary words surface as a
  * census instead of silently vanishing.
  */
class TokenizerStoreSpec extends SparkSpec with TempDirs {

  test("store round-trip: stored-tokenizer encode == session-trained " +
      "encode on the training corpus; merge table survives verbatim") {
    val path = tempDir("graft_tok_store").toString
    TokenizerStore.save(spark, sf, path)

    val viaStore = TokenizerStore
      .encodeBatch(spark, path, graft.Tables(spark, sf, "documents"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"),
          r.getAs[Long]("n_pieces"))).toMap
    val viaSession = BpeTrainer.bpeEncode(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_pieces"))).toMap
    assert(viaStore.keySet == viaSession.keySet)
    viaStore.foreach { case (d, (nt, oov, np)) =>
      assert(oov == 0L, s"doc $d: training corpus has no OOV by definition")
      assert((nt, np) == viaSession(d), s"doc $d diverged")
    }

    val storedMerges = TokenizerStore.loadMerges(spark, path).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("merged")))
    val sessionMerges = BpeTrainer.bpeTrain(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("merged")))
    assert(storedMerges.toSeq == sessionMerges.toSeq)
  }

  test("a later batch encodes against the stored tables alone, with " +
      "OOV words counted, not dropped") {
    import spark.implicits._
    val path = tempDir("graft_tok_store2").toString
    TokenizerStore.save(spark, sf, path)
    // In-vocabulary text plus a word the fixture corpus cannot
    // contain (QQQQZZZZ) and an empty doc.
    val someWord = graft.Tables(spark, sf, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(WordCount.WordRegex), lit(0))).as("t"))
      .select(upper(col("t")).as("w")).limit(1)
      .collect().head.getString(0)
    val batch = Seq(
      (100L, s"$someWord $someWord QQQQZZZZ"),
      (101L, "QQQQZZZZ"),
      (102L, "")).toDF("doc_id", "text")
    val got = TokenizerStore.encodeBatch(spark, path, batch).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"),
          r.getAs[Long]("n_pieces"))).toMap
    assert(got(100L)._1 == 3 && got(100L)._2 == 1 && got(100L)._3 > 0)
    assert(got(101L) == ((1L, 1L, 0L)))
    assert(got(102L) == ((0L, 0L, 0L)))
  }

  test("unigram store round-trip: stored census == session census, " +
      "stored-tokenizer encode == session-trained per-word counts, " +
      "oversized and unseen words surface as OOV (VERDICT r9 item 6)") {
    import spark.implicits._
    val path = tempDir("graft_uni_store").toString
    TokenizerStore.saveUnigram(spark, sf, path)

    // Census round-trips verbatim.
    val stored = TokenizerStore.loadUnigramCensus(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val session = UnigramTrainer.unigramTrain(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stored == session)

    // Encoding the training corpus through the STORE reproduces the
    // session-trained encode (and has zero OOV by definition).
    val viaStore = TokenizerStore.encodeBatchUnigram(spark, path,
        graft.Tables(spark, sf, "documents").select("doc_id", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"),
          r.getAs[Long]("n_pieces"))).toMap
    val viaSession = UnigramTrainer.unigramEncode(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_pieces"))).toMap
    assert(viaStore.keySet == viaSession.keySet)
    viaStore.foreach { case (d, (nt, oov, np)) =>
      assert(oov == 0L, s"doc $d: training corpus has no OOV")
      assert((nt, np) == viaSession(d), s"doc $d diverged")
    }

    // The oversized-word rule travels with the artifact: a word past
    // MaxWordLen was never trained and counts as OOV, like any
    // unseen word; in-vocabulary words still segment from the store.
    val someWord = graft.Tables(spark, sf, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(WordCount.WordRegex), lit(0))).as("t"))
      .select(upper(col("t")).as("w")).limit(1)
      .collect().head.getString(0)
    val big = "Z" * (UnigramTrainer.MaxWordLen + 1)
    val batch = Seq(
      (200L, s"$someWord $big"),
      (201L, "QQQQZZZZ"),
      (202L, "")).toDF("doc_id", "text")
    val got = TokenizerStore.encodeBatchUnigram(spark, path, batch)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"),
          r.getAs[Long]("n_pieces"))).toMap
    assert(got(200L)._1 == 2 && got(200L)._2 == 1 && got(200L)._3 > 0)
    assert(got(201L) == ((1L, 1L, 0L)))
    assert(got(202L) == ((0L, 0L, 0L)))
  }
}
