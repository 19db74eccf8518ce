package graft.text

import graft.{SparkSpec, TempDirs}

/** BPE training gated against an INDEPENDENT sequential
  * implementation (VERDICT r6 item 1's "Done" condition): classic
  * in-memory Sennrich-style BPE — mutable word→symbols maps, a pair
  * count dictionary, an explicit left-to-right merge scan — run on
  * the same fixture corpus and compared merge-for-merge against the
  * distributed window/island formulation. Any divergence in pair
  * counting (overlap handling), greedy merge order (the "AAAA" case)
  * or tie-breaking shows up as a different merge table.
  */
class BpeTrainerSpec extends SparkSpec with TempDirs {

  /** Sequential reference: the textbook algorithm, no Spark. */
  private def sequentialBpe(wordFreq: Map[String, Long],
      rounds: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wordFreq.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    var done = false
    while (k < rounds && !done) {
      k += 1
      // get_stats: overlapping adjacent pairs, frequency-weighted.
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) done = true
      else {
        // count DESC, left ASC, right ASC.
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((a, b, c))
        // Greedy left-to-right non-overlapping merge in every word.
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

  test("distributed merge table == sequential Sennrich BPE") {
    import org.apache.spark.sql.functions._
    val toks = graft.Tables(spark, sf, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(WordCount.WordRegex), lit(0))).as("t"))
      .select(upper(col("t")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = sequentialBpe(toks, BpeTrainer.Merges)

    val got = BpeTrainer.bpeTrain(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count")))
    assert(got.length == expect.length,
      s"merge count: got ${got.length}, sequential ${expect.length}")
    got.zip(expect).zipWithIndex.foreach {
      case (((rk, a, b, m, c), (ea, eb, ec)), i) =>
        assert(rk == i + 1)
        assert((a, b, c) == ((ea, eb, ec)),
          s"merge ${i + 1}: got ($a,$b,$c), sequential ($ea,$eb,$ec)")
        assert(m == a + b)
    }
    // The fixture vocabulary admits more merges than Merges rounds, so
    // the table must be full-length (the loop must not exhaust early
    // on real data).
    assert(got.length == BpeTrainer.Merges)
  }

  test("encode: pieces-per-token ratios are consistent and > 0") {
    val rows = BpeTrainer.bpeEncode(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (nt, nc, np) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_pieces"))
      if (nt > 0) {
        // each token contributes >= 1 piece and <= its char count
        assert(np >= nt && np <= nc)
        assert(math.abs(r.getAs[Double]("pieces_per_token") -
          np.toDouble / nt.toDouble) == 0.0)
      } else assert(r.isNullAt(r.fieldIndex("pieces_per_token")))
    }
  }

  test("pack: every example is full except each bucket's tail; " +
    "seq_ids contiguous; totals conserve the encoded stream") {
    val rows = BpeTrainer.bpePack(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("n_pieces"), r.getAs[Long]("n_docs"),
        r.getAs[String]("ids_md5")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (b, ex) =>
      val ids = ex.map(_._2).sorted.toSeq
      assert(ids == (0L until ids.length.toLong).toSeq,
        s"bucket $b: seq_ids not contiguous from 0: $ids")
      val tail = ex.map(_._2).max
      ex.foreach { case (_, sq, np, nd, md) =>
        if (sq < tail) assert(np == BpeTrainer.ExLen,
          s"bucket $b seq $sq: interior example has $np pieces")
        else assert(np >= 1 && np <= BpeTrainer.ExLen)
        assert(nd >= 1)
        assert(md.matches("[0-9a-f]{32}"))
      }
    }
    // conservation: packed pieces == the encode query's piece total
    // plus exactly one EOS per document that has pieces
    val enc = BpeTrainer.bpeEncode(spark, sf).collect()
    val totalPacked = rows.map(_._3).sum
    val totalEncoded = enc.map(_.getAs[Long]("n_pieces")).sum
    val docsWithPieces = enc.count(_.getAs[Long]("n_pieces") > 0)
    assert(totalPacked == totalEncoded + docsWithPieces)
    // documents cross example boundaries (the pack-then-chunk
    // convention): some full example draws from more than one doc.
    assert(rows.exists(_._4 > 1))
  }

  test("pack plan: the vocabulary-id join broadcasts, nothing " +
    "degrades to a cartesian product, and no window over the piece " +
    "stream runs unpartitioned (VERDICT r7: vid assignment is the " +
    "distributed rankedIds discipline)") {
    // The pack row's own plan (the tail above packExamples' round-13
    // checkpoints): nothing degrades to a cartesian product.
    val exec = BpeTrainer.bpePack(spark, sf).queryExecution.executedPlan
    val plan = exec.toString
    assert(!plan.contains("CartesianProduct"))
    // The vid-assignment front is checkpointed inside packExamples
    // (round 13), so its joins/windows are audited on the factored
    // pre-checkpoint frame: the dictionary AND vocab-id joins must
    // broadcast, and the same window discipline holds.
    val front = BpeCore.pieceIdFrame(BpeTrainer.packStream(spark, sf))
      .queryExecution.executedPlan
    val frontPlan = front.toString
    assert(frontPlan.contains("BroadcastHashJoin"),
      "vocab-id join is not a broadcast join")
    assert(!frontPlan.contains("CartesianProduct"))
    val frontWins = front.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    frontWins.foreach { w =>
      val order = w.orderSpec.map(_.child.toString).mkString(",")
      assert(order.contains("pid"),
        s"unpartitioned window over non-offsets frame: $order")
    }
    // The only permitted empty-partition window is rankedIds'
    // prefix-sum over the VocabParts-row offsets frame (orders by
    // pid); a global window ordering by cnt/sym would be the old
    // single-task vid sort sneaking back.
    val globalWins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    globalWins.foreach { w =>
      val order = w.orderSpec.map(_.child.toString).mkString(",")
      assert(order.contains("pid"),
        s"unpartitioned window over non-offsets frame: $order")
    }
  }

  test("random tie-heavy corpora: distributed merges == sequential " +
    "Sennrich on every seed (alphabet {A,B} floods the count/left/" +
    "right tie-break and the AAAA overlap rule)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(7261514L)
    def randWord(): String =
      (1 to (1 + rng.nextInt(6))).map(_ => if (rng.nextBoolean()) 'A' else 'B')
        .mkString
    val corpora: Seq[Seq[String]] =
      Seq(Seq("AAAA", "AAA"), Seq("ABABAB")) ++ // overlap-rule edges
        (1 to 4).map(_ => (1 to (4 + rng.nextInt(12))).map(_ => randWord()))
    corpora.zipWithIndex.foreach { case (words, i) =>
      val dir = tempDir(s"bpe_prop_$i").toString
      words.grouped(3).zipWithIndex
        .map { case (ws, d) => (d.toLong, ws.mkString(" ")) }
        .toSeq.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val wf = words.groupBy(identity).map { case (w, o) =>
        w -> o.length.toLong }
      val expect = sequentialBpe(wf, BpeTrainer.Merges)
      val got = BpeTrainer.bpeTrain(spark, dir).collect()
        .map(r => (r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[Long]("pair_count")))
      assert(got.toSeq == expect,
        s"corpus $i ($words): merge tables diverged\n got=${got.toSeq}\n exp=$expect")
    }
  }

  test("merge exhaustion: single-char vocabulary stops early, " +
    "no null merge rows") {
    // A corpus where every word is one character admits ZERO merges:
    // the loop must emit an empty merge table, not null rows.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tiny = Seq("A B C", "B C A").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    // exercised through the private loop via a scratch dir round-trip
    val dir = tempDir("bpe_tiny").toString
    tiny.select("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val m = BpeTrainer.bpeTrain(spark, dir)
    assert(m.count() == 0)
  }
}
