package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The RAG retrieval composition (round 10): embedding arithmetic,
  * sketch scale-invariance, ranking contract, and the held-out
  * query/corpus split — the properties the oracle row can't state.
  */
class RagRetrieveSpec extends SparkSpec {
  import spark.implicits._

  test("planes are deterministic ±1 and roughly balanced") {
    val p = RagRetrieve.Planes
    assert(p.length === RagRetrieve.NPlanes &&
      p.forall(_.length === RagRetrieve.Dim))
    assert(p.flatten.forall(w => w == 1L || w == -1L))
    val pos = p.flatten.count(_ == 1L)
    assert(pos > RagRetrieve.NPlanes * RagRetrieve.Dim / 3 &&
      pos < RagRetrieve.NPlanes * RagRetrieve.Dim * 2 / 3,
      s"suspiciously unbalanced planes: $pos positive")
  }

  test("embed: repeated tokens accumulate, norm is the exact square " +
    "sum, unembeddable chunks are dropped") {
    val df = Seq(
      (1L, 0L, "alpha alpha beta"),
      (2L, 0L, "... !!! ---"), // no alnum tokens → dropped
      (3L, 0L, "alpha")).toDF("doc_id", "chunk_idx", "chunk_text")
    val got = RagRetrieve.embed(df, Seq("doc_id", "chunk_idx"))
      .select("doc_id", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(1L, 3L))
    val Seq((_, v1, n1), (_, v3, n3)) = got.toSeq
    // doc 3 = single "alpha": one ±1 entry; doc 1 doubles it + beta.
    assert(n3 === 1L && v3.map(math.abs).sum === 1L)
    assert(n1 === 5L, "2²(alpha) + 1²(beta)")
    val d3 = v3.indexWhere(_ != 0)
    assert(math.abs(v1(d3)) === 2L && v1(d3).sign === v3(d3).sign)
  }

  test("band sketch is scale-invariant (sign projection): v and 3v " +
    "share every band key") {
    val base = Seq((1L, Seq.tabulate(64)(i => ((i * 37) % 11 - 5).toLong)))
      .toDF("doc_id", "v")
    val tripled = base.select(col("doc_id"),
      transform(col("v"), x => x * 3).as("v"))
    val bk1 = RagRetrieve.withBands(base, lit(RagRetrieve.MinBits))
      .select("bk").collect()(0).getSeq[Long](0)
    val bk3 = RagRetrieve.withBands(tripled, lit(RagRetrieve.MinBits))
      .select("bk").collect()(0).getSeq[Long](0)
    assert(bk1 === bk3 && bk1.length === RagRetrieve.NBands)
    // A higher rung refines, never remaps: the MinBits-rung key is a
    // prefix of the MaxBits-rung key (shifted by the extra bits).
    val bkHi = RagRetrieve.withBands(base, lit(RagRetrieve.MaxBits))
      .select("bk").collect()(0).getSeq[Long](0)
    val extra = RagRetrieve.MaxBits - RagRetrieve.MinBits
    assert(bk1 === bkHi.map(_ >> extra),
      "rung growth must refine buckets, not remap them")
  }

  test("recall contract at the gate fixture: the ladder's occupancy " +
    "design makes the small-corpus regime exhaustive-equivalent — " +
    "recall 1.0, every query retrieves") {
    val r = RagRetrieve.ragRecall(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_queries") > 0)
    assert(r.getAs[Long]("n_retrieving") === r.getAs[Long]("n_queries"),
      "at the fixture rung every query must band-collide")
    assert(r.getAs[Long]("n_truth") ===
      r.getAs[Long]("n_measured") * RagRetrieve.TopK)
    // The rung ladder keeps per-band occupancy ≈ TargetBucket, so a
    // corpus far below TargetBucket << MinBits is near-exhaustively
    // probed and band recall is 1.0. A band-parametrization
    // regression (e.g. the round-10 fixed-12-bit floor: measured
    // 0.30 here) breaks this immediately.
    assert(r.getAs[Double]("recall") === 1.0,
      s"gate-fixture recall regressed: ${r.getAs[Double]("recall")}")
  }

  test("lossy-rung recall: measured floor vs brute-force truth on a " +
    "planted-neighbor corpus one rung above the fixture's") {
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(3000)(i => s"w$i")
    def perturb(base: Vector[String], k: Int): Vector[String] =
      (0 until k).foldLeft(base)((t, _) =>
        t.updated(rnd.nextInt(t.length), vocab(rnd.nextInt(vocab.length))))
    val groups = 1400
    val bases = Vector.fill(groups)(
      Vector.fill(20)(vocab(rnd.nextInt(vocab.length))))
    val corpusRows = (0 until groups).flatMap { g =>
      (0 until 3).map(m =>
        (g * 3L + m, 0L, perturb(bases(g), 2).mkString(" ")))
    }
    val queryRows = (0 until 40).map(g =>
      (100000L + g, 0L, perturb(bases(g), 2).mkString(" ")))
    val corpE = RagRetrieve.embed(
      corpusRows.toDF("doc_id", "chunk_idx", "chunk_text"),
      Seq("doc_id", "chunk_idx"))
    val qryE = RagRetrieve.embed(
      queryRows.toDF("doc_id", "chunk_idx", "chunk_text"),
      Seq("doc_id"))
    val n = corpE.count()
    val rung = (RagRetrieve.MinBits to RagRetrieve.MaxBits)
      .find(r => n <= (RagRetrieve.TargetBucket << r)).get
    assert(rung > RagRetrieve.MinBits,
      s"fixture must sit above the bottom rung to be lossy (n=$n)")
    val row = RagRetrieve.recallStats(
      RagRetrieve.withBands(qryE, lit(rung)),
      RagRetrieve.withBands(corpE, lit(rung))).collect()(0)
    assert(row.getAs[Long]("n_measured") === 40L)
    assert(row.getAs[Long]("n_truth") === 40L * RagRetrieve.TopK)
    val recall = row.getAs[Double]("recall")
    info(f"lossy-rung recall@${RagRetrieve.TopK} " +
      f"(rung $rung, ${RagRetrieve.NBands} bands): $recall%.3f")
    // Planted neighbors sit at cos ≈ 0.8–0.9 (2/20 tokens perturbed
    // on each side); sign-LSH at rung 5 × 8 bands measured 0.96+
    // here. The floor pins the parametrization: fewer bands, a
    // fixed wide band, or a broken plane stride all fall through it.
    assert(recall >= 0.9, f"lossy-rung recall floor broken: $recall%.3f")
  }

  test("rung > 15 regime (round 12, extended ladder): at rung 20 " +
    "planted exact twins still retrieve — equal vectors band-collide " +
    "at EVERY rung — and the recall machinery stays green at the " +
    "derived params") {
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(500)(i => s"t$i")
    def doc(): String =
      Vector.fill(20)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val texts = Vector.fill(50)(doc())
    // Corpus: 200 chunks; queries: 30 EXACT twins of corpus chunks
    // (same text → identical integer embedding → identical sign
    // sketch at any rung).
    val corpusRows = (0 until 200).map(i =>
      (i.toLong, 0L, texts(i % 50) + s" x$i"))
    val twinRows = (0 until 30).map(i =>
      (100000L + i, 0L, corpusRows(i)._3))
    val corpE = RagRetrieve.embed(
      corpusRows.toDF("doc_id", "chunk_idx", "chunk_text"),
      Seq("doc_id", "chunk_idx"))
    val qryE = RagRetrieve.embed(
      twinRows.toDF("doc_id", "chunk_idx", "chunk_text"),
      Seq("doc_id"))
    val rung = 20
    assert(rung > 15 && rung < RagRetrieve.MaxBits)
    val row = RagRetrieve.recallStats(
      RagRetrieve.withBands(qryE, lit(rung)),
      RagRetrieve.withBands(corpE, lit(rung))).collect()(0)
    // Every twin query must band-collide with (at least) its twin.
    assert(row.getAs[Long]("n_retrieving") === 30L,
      "an exact twin failed to band-collide at rung 20 — the " +
        "extended strides are broken")
    assert(row.getAs[Long]("n_truth") ===
      row.getAs[Long]("n_measured") * RagRetrieve.TopK)
    info(f"rung-20 exact-twin recall@${RagRetrieve.TopK}: " +
      f"${row.getAs[Double]("recall")}%.3f")
  }

  test("ss_rag_index: serving probes the persisted artifact with " +
    "dynamic partition pruning; ranks dense, neighbors train-side") {
    val df = RagRetrieve.ragIndex(spark, sf)
    // The 100 TB serving promise made literal (the VectorIndexSpec
    // assertion on the RAG workload): the probe join plants a
    // DynamicPruningExpression on the stored-lists scan, so a query
    // batch reads NProbe cid directories, not the index.
    assert(df.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      "no dynamic partition pruning on the stored-lists scan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(q % 10 === RagRetrieve.EvalMod.toLong)
      assert(rs.map(_.getLong(1)).sorted.toSeq ===
        (1L to rs.length.toLong))
      rs.foreach(r => assert(r.getLong(2) % 10 !==
        RagRetrieve.EvalMod.toLong,
        "retrieved chunks must come from the train slice"))
    }
  }

  test("ss_rag_index: a second build leaves the first build's frame " +
    "readable") {
    val a = RagRetrieve.ragIndex(spark, sf)
    val b = RagRetrieve.ragIndex(spark, sf)
    val rowsB = b.collect().map(_.toString).sorted.toSeq
    assert(rowsB.nonEmpty)
    assert(a.collect().map(_.toString).sorted.toSeq === rowsB)
  }

  test("fixture: ranking contract and the held-out split") {
    val out = RagRetrieve.ragRetrieve(spark, sf).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(q % 10 === RagRetrieve.EvalMod.toLong,
        "queries must come from the eval slice")
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ===
        (1L to sorted.length.toLong), s"ranks must be dense for $q")
      assert(sorted.length <= RagRetrieve.TopK)
      // Scores non-increasing, all within the Cauchy-Schwarz bound.
      val scores = sorted.map(_.getDouble(7))
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
      assert(scores.forall(sc => sc >= -1.0 && sc <= 1.0))
      sorted.foreach { r =>
        assert(r.getLong(2) % 10 !== RagRetrieve.EvalMod.toLong,
          "retrieved chunks must come from the train slice")
      }
    }
    // Determinism: a second run returns the identical frame.
    val again = RagRetrieve.ragRetrieve(spark, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }
}
