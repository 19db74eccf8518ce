package graft.text

import graft.{SparkSpec, TempDirs}

/** Unigram-LM training gated against an INDEPENDENT sequential
  * implementation: a classic per-word left-to-right Viterbi DP (the
  * textbook shape — dp(j) = best over last-piece lengths of
  * dp(j−pl) ⊕ piece) with the same integer-quantized scores, run
  * in-memory on the same fixture corpus and compared word-for-word
  * and piece-for-piece against the distributed SPAN-DOUBLING
  * formulation. Any divergence in the doubling recombination, the
  * (−sc, np, path) tie-break order, the ilog2 quantization, or the
  * usage-pruning step between EM rounds shows up as a different
  * vocabulary census or a different per-word path.
  */
class UnigramTrainerSpec extends SparkSpec with TempDirs {

  private val MaxP = UnigramTrainer.MaxPieceLen

  private def ilog2(x: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(x)

  private case class Best(sc: Long, np: Long, path: Vector[String])

  /** Array-of-string ordering as Spark/DuckDB compare it: element-wise
    * lexicographic (never hit at unequal lengths here — np ties first).
    */
  private def lexLt(a: Vector[String], b: Vector[String]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = a(i).compareTo(b(i))
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** score DESC, pieces ASC, path lexicographic ASC. */
  private def better(a: Best, b: Best): Boolean =
    if (a.sc != b.sc) a.sc > b.sc
    else if (a.np != b.np) a.np < b.np
    else lexLt(a.path, b.path)

  /** Textbook sequential Viterbi: best segmentation of `word` under
    * `score`, or None if some prefix is uncoverable.
    */
  private def viterbi(word: String,
      score: Map[String, Long]): Option[Best] = {
    val n = word.length
    val dp = new Array[Option[Best]](n + 1)
    dp(0) = Some(Best(0L, 0L, Vector.empty))
    for (j <- 1 to n) {
      var bst: Option[Best] = None
      for (pl <- 1 to math.min(MaxP, j)) {
        val piece = word.substring(j - pl, j)
        (dp(j - pl), score.get(piece)) match {
          case (Some(p), Some(s)) =>
            val cand = Best(p.sc + s, p.np + 1, p.path :+ piece)
            if (bst.isEmpty || better(cand, bst.get)) bst = Some(cand)
          case _ => ()
        }
      }
      dp(j) = bst
    }
    dp(n)
  }

  private def censusOf(vb: Map[String, Best],
      wf: Map[String, Long]): Map[String, Long] = {
    val c = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, b) <- vb; p <- b.path) c(p) += wf(w)
    c.toMap
  }

  private def scoreOf(c: Map[String, Long]): Map[String, Long] = {
    val lt = ilog2(c.values.sum)
    c.map { case (p, n) => p -> (ilog2(n) - lt) }
  }

  /** The full sequential hard-EM: (final vocabulary census, final
    * per-word segmentations).
    */
  private def seqTrain(wf: Map[String, Long])
      : (Map[String, Long], Map[String, Best]) = {
    val c0 = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for {
      (w, f) <- wf
      i <- 0 until w.length
      pl <- 1 to math.min(MaxP, w.length - i)
    } c0(w.substring(i, i + pl)) += f
    val vb1 = wf.keysIterator
      .map(w => w -> viterbi(w, scoreOf(c0.toMap)).get).toMap
    val c1 = censusOf(vb1, wf)
    val vb2 = wf.keysIterator
      .map(w => w -> viterbi(w, scoreOf(c1)).get).toMap
    (censusOf(vb2, wf), vb2)
  }

  private lazy val wordFreq: Map[String, Long] = {
    import org.apache.spark.sql.functions._
    graft.Tables(spark, sf, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(WordCount.WordRegex), lit(0))).as("t"))
      .select(upper(col("t")).as("word"))
      .filter(length(col("word")) <= UnigramTrainer.MaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("distributed vocabulary census == sequential hard-EM") {
    val (expVocab, _) = seqTrain(wordFreq)
    val got = UnigramTrainer.unigramTrain(spark, sf).collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("cnt"))
    assert(got.toMap == expVocab,
      s"vocab mismatch: extra=${got.toMap.keySet -- expVocab.keySet} " +
        s"missing=${expVocab.keySet -- got.map(_._1).toSet}")
    // and the declared output order: cnt DESC, piece ASC
    assert(got.sortBy { case (p, c) => (-c, p) }.toSeq == got.toSeq)
    // usage pruning must actually bite: far fewer pieces than
    // candidate substrings.
    assert(got.length < wordFreq.keysIterator.map(_.length).sum)
  }

  test("per-word segmentations == sequential Viterbi " +
    "(score, piece count, and exact path)") {
    val (_, expVb) = seqTrain(wordFreq)
    val got = UnigramTrainer.artifacts(spark, sf)._2.collect()
      .map(r => r.getAs[String]("word") ->
        Best(r.getAs[Long]("sc"), r.getAs[Long]("np"),
          r.getAs[scala.collection.Seq[String]]("path").toVector))
      .toMap
    assert(got.keySet == expVb.keySet)
    got.foreach { case (w, b) =>
      assert(b == expVb(w),
        s"word '$w': distributed $b vs sequential ${expVb(w)}")
      // path must reassemble the word exactly
      assert(b.path.mkString == w)
      assert(b.path.forall(p => p.nonEmpty && p.length <= MaxP))
    }
  }

  test("unigram score == sequential per-doc likelihood under the " +
    "final census (exact-integer sums, one final division)") {
    import org.apache.spark.sql.functions._
    val (vocab, vb) = seqTrain(wordFreq)
    val sc2 = scoreOf(vocab)
    // sequential per-doc expectation over the fixture token stream
    val docTokens = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit(WordCount.WordRegex), lit(0))).as("t"))
      .select(col("doc_id"), upper(col("t")).as("word"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val exp = docTokens.groupBy(_._1).map { case (d, ws) =>
      val covered = ws.map(_._2).filter(vb.contains)
      val su = covered.map(w => vb(w).path.map(sc2).sum).sum
      val np = covered.map(w => vb(w).np).sum
      d -> (np, su, if (np == 0) None else Some(su.toDouble / np.toDouble))
    }
    val got = UnigramTrainer.unigramScore(spark, sf).collect()
    got.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val (np, su, sc) = exp.getOrElse(d, (0L, 0L, None))
      assert(r.getAs[Long]("n_pieces") == np, s"doc $d n_pieces")
      assert(r.getAs[Long]("ilog_sum") == su, s"doc $d ilog_sum")
      sc match {
        case Some(v) => assert(r.getAs[Double]("uni_score") == v)
        case None => assert(r.isNullAt(r.fieldIndex("uni_score")))
      }
    }
    // scores are negative log-probs scaled: every covered doc < 0
    assert(got.forall(r => r.isNullAt(r.fieldIndex("uni_score")) ||
      r.getAs[Double]("uni_score") < 0))
  }

  test("random tie-heavy corpora: distributed == sequential on " +
    "every seed (alphabet {A,B} forces score/path ties the fixture " +
    "never exercises)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(20260815L)
    def randWord(): String =
      (1 to (1 + rng.nextInt(6))).map(_ => if (rng.nextBoolean()) 'A' else 'B')
        .mkString
    val corpora: Seq[Seq[String]] =
      Seq(Seq("A"), Seq("ABAB", "ABAB", "ABAB")) ++ // degenerate edges
        (1 to 4).map(_ => (1 to (4 + rng.nextInt(12))).map(_ => randWord()))
    corpora.zipWithIndex.foreach { case (words, i) =>
      val dir = tempDir(s"uni_prop_$i").toString
      words.grouped(3).zipWithIndex
        .map { case (ws, d) => (d.toLong, ws.mkString(" ")) }
        .toSeq.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val wf = words.groupBy(identity).map { case (w, o) =>
        w -> o.length.toLong }
      val (expVocab, expVb) = seqTrain(wf)
      val gotVocab = UnigramTrainer.unigramTrain(spark, dir).collect()
        .map(r => r.getAs[String]("piece") -> r.getAs[Long]("cnt")).toMap
      assert(gotVocab == expVocab, s"corpus $i ($words): census diverged")
      val gotVb = UnigramTrainer.artifacts(spark, dir)._2.collect()
        .map(r => r.getAs[String]("word") ->
          Best(r.getAs[Long]("sc"), r.getAs[Long]("np"),
            r.getAs[scala.collection.Seq[String]]("path").toVector)).toMap
      assert(gotVb == expVb, s"corpus $i ($words): segmentation diverged")
    }
  }

  test("words over MaxWordLen are excluded by both train and encode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val long = "A" * (UnigramTrainer.MaxWordLen + 1)
    val tiny = Seq((0L, s"$long BB CC"), (1L, "BB BB")).toDF("doc_id", "text")
    val dir = tempDir("uni_tiny").toString
    tiny.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vocab = UnigramTrainer.unigramTrain(spark, dir).collect()
      .map(r => r.getAs[String]("piece")).toSet
    // no piece of the oversized word beyond what BB/CC contribute
    assert(!vocab.exists(_.contains("A")))
    val enc = UnigramTrainer.unigramEncode(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_pieces"))).toMap
    assert(enc(0L)._1 == 2, "oversized token must not be counted")
    assert(enc(1L)._1 == 2)
    assert(enc(0L)._2 > 0 && enc(1L)._2 > 0)
  }
}
