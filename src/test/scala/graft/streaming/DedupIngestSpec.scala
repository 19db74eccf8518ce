package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.core.StoreRoot

/** Streaming-dedup lifecycle gates (VERDICT r7 item 3's "Done"
  * condition): replay converges with no duplicate pairs, pre-publish
  * results equal post-publish results, publish recovery appends only
  * the delta, and the stream-ingested pair set ≡ the batch
  * twin (the full-corpus LSH restricted to streamed endpoints) on
  * the same waves — which the fixture makes non-vacuous in all three
  * pair classes (same-wave, cross-wave, wave-vs-store).
  */
class DedupIngestSpec extends SparkSpec with TempDirs {

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Long]("inter"),
      r.getAs[Long]("uni"))).sortBy(p => (p._1, p._2)).toSeq

  test("stream lifecycle: replay converges, pre-publish == " +
      "post-publish == batch twin; recovery appends only the delta") {
    val root = tempDir("graft_dd_ingest")
    val path = root.resolve("store").toString
    val docsAll = graft.Tables(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val hist = docsAll.filter(col("doc_id") % 10 === DedupIngest.HistMod)
    DedupIngest.build(spark, hist, path)

    val src = root.resolve("src")
    Files.createDirectories(src)
    def writeWave(w: Int): Unit = docsAll
      .filter(col("doc_id") % 10 =!= DedupIngest.HistMod &&
        col("doc_id") % DedupIngest.Waves === w)
      .coalesce(1).write.mode("append").parquet(src.toString)
    def stream = spark.readStream.schema(docsAll.schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val ckpt = root.resolve("ckpt")

    (0 until DedupIngest.Waves).foreach(writeWave)
    DedupIngest.ingest(spark, path, stream, ckpt.toString)

    // Three real micro-batches; the pair classes are all present.
    val stagedPairs = spark.read.parquet(s"$path/staged_pairs")
    assert(stagedPairs.select("batch_id").distinct().count() === 3)
    val pre = pairRows(DedupIngest.pairsAll(spark, path))
    assert(pre.nonEmpty)
    assert(pre.distinct.length === pre.length, "duplicate pairs")
    def cls(a: Long, b: Long): String =
      if (a % 10 == DedupIngest.HistMod || b % 10 == DedupIngest.HistMod)
        "hist"
      else if (a % DedupIngest.Waves == b % DedupIngest.Waves) "same"
      else "cross"
    val classes = pre.map(p => cls(p._1, p._2)).toSet
    assert(classes == Set("hist", "same", "cross"),
      s"pair classes covered: $classes — fixture no longer exercises " +
        "the store join, the within-batch join and the staged join")

    // The batch twin: full-corpus minhashLsh restricted to pairs
    // with >= 1 streamed endpoint.
    val twin = pairRows(graft.dedup.Dedup.minhashLsh(spark, sf)
      .filter(col("doc_a") % 10 =!= DedupIngest.HistMod ||
        col("doc_b") % 10 =!= DedupIngest.HistMod))
    assert(pre === twin, "stream-ingested != batch twin")

    // Replay with a lost checkpoint: every batch re-lands into its
    // own partition; the pair set is unchanged.
    StoreRoot.rmTree(ckpt)
    DedupIngest.ingest(spark, path, stream, ckpt.toString)
    assert(pairRows(DedupIngest.pairsAll(spark, path)) === twin)

    // Publish seals; results identical through the transition.
    val appended = DedupIngest.publish(spark, path)
    assert(appended === twin.length.toLong)
    assert(pairRows(DedupIngest.pairsAll(spark, path)) === twin)
    assert(!Files.exists(root.resolve("store/staged_pairs")))
    // The durable store now carries every streamed doc's signatures
    // (historical + all three waves with >= 3 tokens).
    val sealedDocs = spark.read.parquet(s"$path/sigs")
      .select("doc_id").distinct().count()
    val shingledDocs = graft.dedup.Dedup
      .shingleFrame(docsAll).count()
    assert(sealedDocs === shingledDocs)

    // Recovery: re-publishing with nothing staged is a no-op delta.
    assert(DedupIngest.publish(spark, path) === 0L)

    // Crash-window recovery: stage one wave again (fresh checkpoint →
    // new batch ids), simulate a crash AFTER the pair append but
    // BEFORE the staging delete by manually appending the staged
    // pairs, then publish — the anti-join must append zero new pairs.
    val ckpt2 = root.resolve("ckpt2")
    writeWave(0) // re-arrival of known docs: all pairs already sealed
    DedupIngest.ingest(spark, path, stream, ckpt2.toString)
    assert(DedupIngest.publish(spark, path) === 0L,
      "re-ingesting already-sealed docs must append no pairs")
    assert(pairRows(DedupIngest.pairsAll(spark, path)) === twin)
    // And the signature store did not duplicate the re-arrived docs.
    val dup = spark.read.parquet(s"$path/sigs")
      .groupBy("doc_id", "bi").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(dup === 0L, "duplicate signatures after re-ingest")
  }

  test("forget (round 13): forgotten docs vanish from every table " +
      "and every on-disk file, surviving pairs are untouched, the " +
      "store equals an independent no-history recompute, replay is " +
      "a no-op") {
    val root = tempDir("graft_dd_forget")
    val path = root.resolve("store").toString
    val docsAll = graft.Tables(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val hist = docsAll.filter(col("doc_id") % 10 === DedupIngest.HistMod)
    DedupIngest.build(spark, hist, path)
    val src = root.resolve("src")
    Files.createDirectories(src)
    def writeWave(w: Int): Unit = docsAll
      .filter(col("doc_id") % 10 =!= DedupIngest.HistMod &&
        col("doc_id") % DedupIngest.Waves === w)
      .coalesce(1).write.mode("append").parquet(src.toString)
    def stream = spark.readStream.schema(docsAll.schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    // Sealed waves 0–1, wave 2 left staged — forget must scrub BOTH
    // segment states (the streamDedup lifecycle shape).
    writeWave(0); writeWave(1)
    DedupIngest.ingest(spark, path, stream, root.resolve("ck").toString)
    DedupIngest.publish(spark, path)
    writeWave(2)
    DedupIngest.ingest(spark, path, stream, root.resolve("ck").toString)

    val pre = pairRows(DedupIngest.pairsAll(spark, path))
    val del = docsAll.filter(col("doc_id") % 13 === 5)
      .select("doc_id").localCheckpoint()
    val delIds = del.collect().map(_.getLong(0)).toSet
    assert(pre.exists(p => delIds.contains(p._1) || delIds.contains(p._2)),
      "forget slice must hit at least one discovered pair (vacuous)")

    val (present, removedPairs) = DedupIngest.forget(spark, path, del)
    assert(present > 0L && removedPairs > 0L)

    // Surviving pairs untouched; forgotten-endpoint pairs gone.
    val post = pairRows(DedupIngest.pairsAll(spark, path))
    assert(post === pre.filterNot(p =>
      delIds.contains(p._1) || delIds.contains(p._2)))

    // The signature table now equals an INDEPENDENT recompute over a
    // history that never contained the forgotten docs (pair locality:
    // no third doc influences a signature row).
    def sigRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "bi", "bh").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("bi"),
          r.getAs[Long]("bh"))).toSet
    val onDisk = sigRows(spark.read.parquet(s"$path/sigs"))
      .union(sigRows(spark.read.parquet(s"$path/staged_sigs")))
    val recomputed = sigRows(graft.dedup.Dedup.bandedSigs(
      graft.dedup.Dedup.shingleFrame(
        docsAll.join(del, Seq("doc_id"), "left_anti"))))
    assert(onDisk === recomputed)

    // Byte-level forget: every parquet file under the store, read
    // INDIVIDUALLY, holds no forgotten id in any id-bearing column.
    import scala.jdk.CollectionConverters._
    def files(): Map[String, Long] = Files.walk(root.resolve("store"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        Files.isRegularFile(p))
      .map(p => p.toString -> Files.size(p)).toMap
    files().keys.foreach { f =>
      val df = spark.read.parquet(f)
      Seq("doc_id", "doc_a", "doc_b")
        .filter(df.columns.contains).foreach { c =>
          val hit = df.select(c).collect().map(_.getLong(0))
            .filter(delIds.contains)
          assert(hit.isEmpty, s"$f still holds forgotten ids in $c")
        }
    }

    // Replayed forget: provable no-op — zero counts, file census
    // (paths AND sizes) byte-identical.
    val census = files()
    assert(DedupIngest.forget(spark, path, del) === ((0L, 0L)))
    assert(files() === census)
  }

  test("a zero-pair batch still seals: publish enumerates batch ids " +
    "across ALL staging tables (ADVICE r8), not just staged_pairs") {
    import spark.implicits._
    val root = tempDir("graft_dd_zeropair")
    val path = root.resolve("store").toString
    // Store: one doc; batch: one UNIQUE doc — the verification finds
    // no pairs, so no staged_pairs/batch_id=0 partition is written.
    DedupIngest.build(spark,
      Seq((1L, "alpha beta gamma delta epsilon"))
        .toDF("doc_id", "text"), path)
    val src = root.resolve("src"); Files.createDirectories(src)
    Seq((2L, "zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    DedupIngest.ingest(spark, path, stream,
      root.resolve("ckpt").toString)

    assert(Files.exists(root.resolve("store/staged_sigs")),
      "batch must have staged its signatures")
    // The empty write may create the staged_pairs ROOT, but no
    // batch_id= partition lands — which is exactly what the pre-fix
    // enumeration missed.
    def pairBatches(): Seq[String] = {
      val d = root.resolve("store/staged_pairs").toFile
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(_.getName).filter(_.startsWith("batch_id=")).toSeq
    }
    assert(pairBatches().isEmpty,
      "precondition: a zero-pair batch writes no pairs partition")

    assert(DedupIngest.publish(spark, path) === 0L)
    // The batch's signatures are sealed and staging is fully gone —
    // the pre-fix behavior left staged_sigs/batch_id=0 forever.
    assert(!Files.exists(root.resolve("store/staged_sigs")))
    assert(!Files.exists(root.resolve("store/staged_shingles")))
    val sealedIds = spark.read.parquet(s"$path/sigs")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(sealedIds == Set(1L, 2L))
  }
}
