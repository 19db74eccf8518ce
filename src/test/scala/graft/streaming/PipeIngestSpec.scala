package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** The streaming corpus build's contracts the SQL oracle cannot
  * express, driven over a CRAFTED corpus through the public
  * build/ingest/publish APIs (the gate fixture cannot produce
  * unseen-byte pretokens or a controlled dup topology):
  *  - the store dup check (a streamed copy of a history keep is
  *    dropped), the greedy same-batch rule (smaller id survives),
  *    and the cross-batch rule (a copy of an EARLIER batch's
  *    survivor is dropped);
  *  - the trained NB gate drops a spam-shaped streamed doc it never
  *    saw, from the history labels alone;
  *  - a streamed doc with characters the history snapshot NEVER saw
  *    (astral-plane emoji) encodes through the stored tokenizer's
  *    merge replay with every pretoken segmented (zero OOV);
  *  - publish is exactly-once: the sealed delta is reported once,
  *    a second publish appends nothing, and the read set is
  *    identical before and after sealing.
  */
class PipeIngestSpec extends SparkSpec with TempDirs {

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val histRows = Seq(
    7L -> ("the alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron"),
    17L -> ("the one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen"),
    // rule-labelled DROPS (repetitive) — the NB gate's drop class.
    27L -> "spam spam spam spam spam spam spam spam spam spam",
    37L -> "junk junk junk junk junk junk junk junk junk junk junk")

  private val doc22 = "the red green blue cyan magenta yellow black " +
    "white orange purple pink brown silver gold bronze"
  private val doc32 = "the wind rain snow cloud storm thunder light " +
    "dark dawn dusk noon night morning evening sky"
  private val emojiText = "the quick brown fox jumps over lazy dog " +
    "near riverbank today 😀🚀 tokens flow"

  private val wave0 = Seq(
    21L -> histRows.head._2, // exact copy of history keep -> drop
    22L -> doc22,            // unique -> survives
    23L -> doc22,            // same-batch copy, larger id -> drop
    24L -> emojiText,        // unseen bytes -> survives, replay path
    25L -> ("spam spam spam spam spam spam spam spam spam spam spam " +
      "spam")) // NB gate predicts drop (never seen, drop-class words)
  private val wave1 = Seq(
    31L -> doc22,            // copy of an EARLIER batch's survivor
    32L -> doc32)            // unique -> survives

  private def survivorIds(s: DataFrame): Set[Long] =
    s.select("doc_id").collect().map(_.getLong(0)).toSet

  test("streamed pipeline: trained-gate drop, greedy dedup across " +
    "store/batch/earlier-batch, zero-OOV replay encode, " +
    "exactly-once publish") {
    val path = tempDir("graft_pipe_spec").toString
    PipeIngest.build(spark, docsDf(histRows), path)

    val src = s"$path/src"
    val ckpt = s"$path/ckpt"
    def stream = spark.readStream
      .schema(docsDf(wave0).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    docsDf(wave0).coalesce(1).write.mode("append").parquet(src)
    PipeIngest.ingest(spark, path, stream, ckpt)
    val after0 = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(after0.keySet === Set(22L, 24L),
      "wave 0: unique + emoji survive; store-dup, batch-dup and " +
        s"spam are dropped (got ${after0.keySet})")

    // The emoji doc encoded through the STORED tokenizer: every
    // pretoken segmented (>= 1 piece each — OOV would lose pieces
    // to the inner dictionary join), non-empty content hash.
    val em = after0(24L)
    val np = em.getAs[Long]("n_pretokens")
    val npc = em.getAs[Long]("n_pieces")
    assert(np > 0 && npc >= np,
      s"emoji doc: $npc pieces for $np pretokens — a pretoken went " +
        "unsegmented (OOV must be impossible)")
    assert(em.getAs[String]("pieces_md5") !=
      "d41d8cd98f00b204e9800998ecf8427e")

    docsDf(wave1).coalesce(1).write.mode("append").parquet(src)
    PipeIngest.ingest(spark, path, stream, ckpt)
    val after1 = survivorIds(PipeIngest.docsAll(spark, path))
    assert(after1 === Set(22L, 24L, 32L),
      s"wave 1: copy of wave-0 survivor must drop (got $after1)")

    // Exactly-once publish: delta reported once, idempotent rerun,
    // identical read set sealed vs staged.
    val before = PipeIngest.docsAll(spark, path)
      .collect().map(_.toSeq).toSet
    assert(PipeIngest.publish(spark, path) === 3L)
    assert(PipeIngest.publish(spark, path) === 0L)
    val sealedRows = PipeIngest.docsAll(spark, path)
      .collect().map(_.toSeq).toSet
    assert(sealedRows === before)
    // Staging roots are gone; the sealed store carries the rows.
    assert(!new java.io.File(s"$path/staged_docs").exists())
    assert(new java.io.File(s"$path/docs").exists())

    // The sealed survivors' shingles joined keep_shingles: a THIRD
    // ingest of another copy of doc22 still dedups against the now-
    // SEALED survivor (the store grows with publishes).
    docsDf(Seq(41L -> doc22)).coalesce(1).write.mode("append")
      .parquet(src)
    PipeIngest.ingest(spark, path, stream, ckpt)
    assert(survivorIds(PipeIngest.docsAll(spark, path)) ===
      Set(22L, 24L, 32L))
  }

  test("greedy streaming dedup is a DOCUMENTED divergence from the " +
    "batch pipeline's connected-components rule: arrival order can " +
    "keep a non-minimal cluster member") {
    // Chain a ~ b ~ c (a < b < c): b streams FIRST (wave 0) and
    // survives; a and c arrive in wave 1 and both verify against the
    // earlier survivor b — greedy keeps {b}. The batch rule
    // (CorpusPipeline.dedupStage) on the same three docs keeps the
    // cluster MINIMUM {a}. Both outcomes are deterministic; the
    // divergence is the price of never re-deciding sealed docs, and
    // compaction with the batch rule is the reconciliation path.
    val base = ("the alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron").split(" ")
    val bTxt = base.mkString(" ")
    val aTxt = (base.dropRight(1) :+ "rho").mkString(" ")    // last≠
    val cTxt = ("sigma" +: base.drop(1)).mkString(" ")       // first≠
    val path = tempDir("graft_pipe_greedy").toString
    // History: unrelated keep + drop docs so the NB gate has both
    // classes and none of a/b/c matches the store.
    val hist = Seq(
      17L -> ("the one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen"),
      27L -> "spam spam spam spam spam spam spam spam spam spam")
    PipeIngest.build(spark, docsDf(hist), path)
    val src = s"$path/src"
    def stream = spark.readStream
      .schema(docsDf(Nil).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    docsDf(Seq(102L -> bTxt)).coalesce(1).write.mode("append")
      .parquet(src)
    PipeIngest.ingest(spark, path, stream, s"$path/ckpt")
    docsDf(Seq(101L -> aTxt, 103L -> cTxt)).coalesce(1).write
      .mode("append").parquet(src)
    PipeIngest.ingest(spark, path, stream, s"$path/ckpt")
    assert(survivorIds(PipeIngest.docsAll(spark, path)) === Set(102L),
      "greedy: the first-arrived chain member survives")

    // The batch rule on the same cluster keeps the minimum id.
    import graft.pipeline.CorpusPipeline
    val clean = CorpusPipeline.extractStage(docsDf(Seq(
      101L -> aTxt, 102L -> bTxt, 103L -> cTxt)))(spark)
    val batchKeep = CorpusPipeline.dedupStage(clean)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKeep === Set(101L),
      "batch CC: the cluster minimum survives")

    // RECONCILIATION (VERDICT r9 item 2): an unrelated singleton
    // streams in, everything is sealed, then compact() re-decides
    // the store under the batch rule — the greedy-kept non-minimal
    // member 102 is demoted, the cluster minimum 101 admitted with
    // batch_id = -1 through the stored-tokenizer encode, and the
    // untouched singleton's sealed row is bit-identical.
    val doc104 = "the wind rain snow cloud storm thunder light " +
      "dark dawn dusk noon night morning evening sky"
    docsDf(Seq(104L -> doc104)).coalesce(1).write.mode("append")
      .parquet(src)
    PipeIngest.ingest(spark, path, stream, s"$path/ckpt")
    PipeIngest.publish(spark, path)
    val sealedRows = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(sealedRows.keySet === Set(102L, 104L))

    val corpus = docsDf(hist ++ Seq(
      101L -> aTxt, 102L -> bTxt, 103L -> cTxt, 104L -> doc104))
    PipeIngest.compact(spark, path, corpus)
    val after = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(after.keySet === Set(101L, 104L),
      s"compaction must demote 102 and admit 101 (got ${after.keySet})")
    assert(after(104L) === sealedRows(104L),
      "the unaffected doc's sealed row must be untouched")
    assert(after(101L)(1) === -1L,
      "admitted docs carry the compaction batch_id -1")
    assert(after(101L)(2).asInstanceOf[Long] > 0L &&
      after(101L)(3).asInstanceOf[Long] >=
        after(101L)(2).asInstanceOf[Long],
      "admitted doc must be encoded through the stored tokenizer")
    // keep_shingles carries the same reconciled keep set (history
    // keeps + compacted streamed keeps), so future batches dedup
    // against the batch-rule store.
    val ks = spark.read.parquet(s"$path/keep_shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ks === Set(17L, 101L, 104L),
      s"keep_shingles must hold history keep + reconciled keeps: $ks")

    // Exactly-once: a second compact over the same corpus changes
    // nothing — no demotions, no admissions, rows identical.
    assert(PipeIngest.compact(spark, path, corpus) === 0L)
    val again = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(again === after)
  }

  test("full chain: stage order inside foreachBatch — dedup before " +
    "decontam (a decontaminated doc still gates near-dups), scrub " +
    "before encode (history + cross-batch spans cut), emitted-only " +
    "span index, exactly-once publish with span sealing") {
    val path = tempDir("graft_pipe_full").toString
    val benchText = "the history of ancient rome spans centuries " +
      "of conquest and culture"
    // 25: the benchmark text + a distinctive tail — passes quality
    // and dedup, dropped by DECONTAMINATION (overlap >= 1/ContamFrac
    // of its shingles); its tail is long enough that a one-token
    // near-copy still verifies at Jaccard >= 0.7.
    val doc25 = benchText + " while legions marched across provinces " +
      "building roads aqueducts and fortified frontier camps"
    val doc35 = doc25.dropRight(5) + "forts" // near-copy of 25
    // 26: unique text carrying ONE 5-token run from history keep 7
    // ("alpha beta gamma delta epsilon") — the greedy scrub must cut
    // exactly those 5 tokens against the build-time span index.
    val doc26 = "the u1 u2 u3 u4 alpha beta gamma delta epsilon " +
      "u5 u6 u7 u8 u9 u10"
    // 36: carries a 5-token run of wave-0 SURVIVOR 22 ("red green
    // blue cyan magenta") — cut against the STAGED wave-0 spans.
    val doc36 = "the v1 v2 red green blue cyan magenta v3 v4 v5 " +
      "v6 v7 v8 v9 v10"
    // 37: carries a 5-token run of wave-0 doc 25's TAIL ("legions
    // marched across provinces building") — 25 was decontaminated,
    // never emitted, so its spans must NOT gate: 37 stays uncut.
    val doc37 = "the w1 w2 legions marched across provinces building " +
      "w3 w4 w5 w6 w7 w8"
    val wave0F = Seq(22L -> doc22, 23L -> doc22, 25L -> doc25,
      26L -> doc26)
    val wave1F = Seq(32L -> doc32, 35L -> doc35, 36L -> doc36,
      37L -> doc37)

    PipeIngest.buildFull(spark, docsDf(histRows),
      docsDf(Seq(13L -> benchText)), path)
    val src = s"$path/src"
    val ckpt = s"$path/ckpt"
    def stream = spark.readStream.schema(docsDf(Nil).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    docsDf(wave0F).coalesce(1).write.mode("append").parquet(src)
    PipeIngest.ingestFull(spark, path, stream, ckpt)
    val after0 = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(after0.keySet === Set(22L, 26L),
      "wave 0: batch-dup 23 (dedup) and contaminated 25 (decontam) " +
        s"drop; got ${after0.keySet}")
    // Scrub-before-encode: 26 encoded its SCRUBBED stream — 16
    // tokens minus the 5 cut history-span tokens = 11, which the
    // byte pretokenizer (letter/digit/whitespace runs) renders as
    // 21 word-ish + 10 whitespace = 31 pretokens; unscrubbed it
    // would be 41.
    assert(after0(26L).getAs[Long]("n_pretokens") === 31L)
    assert(after0(22L).getAs[Long]("n_pretokens") === 31L)

    docsDf(wave1F).coalesce(1).write.mode("append").parquet(src)
    PipeIngest.ingestFull(spark, path, stream, ckpt)
    val after1 = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(after1.keySet === Set(22L, 26L, 32L, 36L, 37L),
      "wave 1: 35 must dedup-drop against DECONTAMINATED 25 " +
        "(dedup decisions are independent of decontamination); " +
        s"got ${after1.keySet}")
    // Cross-batch span gating: 36 loses 22's staged 5-token run;
    // 37 keeps 25's run (25 never emitted -> no spans).
    assert(after1(36L).getAs[Long]("n_pretokens") === 31L,
      "36 must lose the 5 tokens duplicating staged survivor 22")
    assert(after1(37L).getAs[Long]("n_pretokens") === 35L,
      "37 must stay uncut: a decontaminated doc contributes no spans")

    // The funnel rows carry each wave's per-stage acceptance.
    val funnel = spark.read.parquet(s"$path/funnel")
      .select(col("batch_id").cast("long"), col("n_in"),
        col("n_quality_kept"), col("n_dedup_kept"),
        col("n_decontam_kept"), col("n_tokens_cut"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(funnel(0L) === ((4L, 4L, 3L, 2L, 5L)),
      s"wave-0 funnel: ${funnel.get(0L)}")
    assert(funnel(1L) === ((4L, 4L, 3L, 3L, 5L)),
      s"wave-1 funnel: ${funnel.get(1L)}")

    // Exactly-once publish, span index sealed to EMITTED docs only.
    assert(PipeIngest.publish(spark, path) === 5L)
    assert(PipeIngest.publish(spark, path) === 0L)
    val spanDocs = spark.read.parquet(s"$path/span_index")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(spanDocs === Set(7L, 17L, 22L, 26L, 32L, 36L, 37L),
      s"span index = history keeps + emitted survivors: $spanDocs")
    assert(!new java.io.File(s"$path/staged_spans").exists())

    // Post-publish: the sealed spans still gate — a new doc carrying
    // a 5-token run of SCRUBBED-26's surviving text loses it.
    val doc41 = "the x1 x2 u5 u6 u7 u8 u9 x3 x4 x5 x6 x7"
    docsDf(Seq(41L -> doc41)).coalesce(1).write.mode("append")
      .parquet(src)
    PipeIngest.ingestFull(spark, path, stream, ckpt)
    val after2 = PipeIngest.docsAll(spark, path).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(after2(41L).getAs[Long]("n_pretokens") === 22L,
      "sealed span index must cut the 5-token run of emitted 26")
  }

  test("compact crash recovery: an interrupted swap (marker present, " +
    "live tables stale) completes at the next compact entry") {
    val path = tempDir("graft_pipe_cswap").toString
    PipeIngest.build(spark, docsDf(histRows), path)
    docsDf(Seq(22L -> doc22)).coalesce(1).write.mode("append")
      .parquet(s"$path/src")
    def stream = spark.readStream.schema(docsDf(Nil).schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$path/src")
    PipeIngest.ingest(spark, path, stream, s"$path/ckpt")
    PipeIngest.publish(spark, path)
    // Simulate the crash window: staged tables + marker exist, live
    // tables still the pre-compaction state. Stage = live minus 22.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$path/docs").filter(col("doc_id") =!= 22L)
      .write.parquet(s"$path/compact_tmp/docs")
    spark.read.parquet(s"$path/keep_shingles")
      .filter(col("doc_id") =!= 22L)
      .write.parquet(s"$path/compact_tmp/keep_shingles")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/compact_tmp/_COMMITTED"), true).close()
    // The next compact first completes the staged swap, THEN
    // re-decides: 22 is gone from the live store before the batch
    // rule runs, and (being a keeplist member) is re-admitted.
    PipeIngest.compact(spark, path,
      docsDf(histRows ++ Seq(22L -> doc22)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/compact_tmp")), "staging root must be gone")
    val ids = PipeIngest.docsAll(spark, path).collect()
      .map(_.getLong(0)).toSet
    assert(ids === Set(22L),
      s"the swapped-out doc must be re-admitted by the re-decide: $ids")
    assert(PipeIngest.docsAll(spark, path).first()
      .getAs[Long]("batch_id") === -1L)
  }
}
