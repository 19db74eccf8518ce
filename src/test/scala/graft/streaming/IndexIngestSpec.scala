package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.core.StoreRoot
import graft.sim.{VectorSearch, VersionedIndex}

/** Streaming-ingest lifecycle of the persisted ANN index: staged
  * micro-batches are idempotent under replay, searchable before any
  * publish (growing ∪ sealed), and publish commits them as list pubs
  * so the store converges to exactly the batch-append
  * ([[VersionedIndex.publishAppend]]) ground truth.
  */
class IndexIngestSpec extends SparkSpec with TempDirs {

  /** The current snapshot's inverted lists. */
  private def sealedOf(path: String) = VersionedIndex.listsOf(spark, path,
    VersionedIndex.currentManifest(spark, path).get)

  private def search(path: String, q: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame) =
    searchRows(VersionedIndex.search(spark, path, q, e))

  private def listRows(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "codes", "cid")
      .withColumn("cid", col("cid").cast("long"))
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Int](r.fieldIndex("codes")).toList, r.getAs[Long]("cid")))
      .sortBy(_._1).toSeq

  private def searchRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSeq

  test("streamed batches stage idempotently, are searchable before " +
      "publish, and publish seals to the batch-append ground truth") {
    val root = tempDir("graft_ingest")
    val path = root.resolve("index").toString
    val twin = root.resolve("twin").toString
    val e = VectorSearch.vecs(spark, sf).localCheckpoint()
    val base = e.filter(col("vec_id") < 350)
    VersionedIndex.publishBuild(spark, path, base)
    VersionedIndex.publishBuild(spark, twin, base)
    val waves = Seq(350L, 400L, 450L)
    // Ground truth: the same increments batch-appended.
    waves.foreach(lo => VersionedIndex.publishAppend(spark, twin,
      e.filter(col("vec_id") >= lo && col("vec_id") < lo + 50)))

    // Stream source: one parquet file per wave → one micro-batch
    // per wave under maxFilesPerTrigger=1 + AvailableNow.
    val src = root.resolve("src")
    Files.createDirectories(src)
    waves.foreach(lo =>
      e.filter(col("vec_id") >= lo && col("vec_id") < lo + 50)
        .coalesce(1).write.mode("append").parquet(src.toString))
    def stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val ckpt = root.resolve("ckpt")

    IndexIngest.ingest(spark, path, stream, ckpt.toString)

    // Staged = the twin's appended encodes, and the stream really
    // ran as three micro-batches.
    val stagedDf = spark.read.parquet(s"$path/staged")
    assert(stagedDf.select("batch_id").distinct().count() === 3)
    val twinAppended = sealedOf(twin).filter(col("vec_id") >= 350)
    assert(listRows(stagedDf) === listRows(twinAppended))
    // Committed index untouched by the hot path.
    assert(VersionedIndex.committedVersions(spark, path) === Seq(1L))
    assert(sealedOf(path).count() === 350)

    // Growing ∪ sealed search == the fully-appended twin's search.
    val q = VectorSearch.queryFrame(e)
    val expect = search(twin, q, e)
    val allDf = IndexIngest.searchAll(spark, path, q, e)
    // The at-scale promise holds THROUGH the union: the probe join's
    // dynamic partition pruning still lands on the sealed cid= scan
    // (predicates push into both union children), so a growing
    // segment never degrades the sealed side to a full-store scan.
    assert(allDf.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      "no dynamic partition pruning on the sealed scan under union")
    assert(searchRows(allDf) === expect)

    // Replay: a fresh run over the same source (checkpoint lost)
    // re-lands every batch into its own batch_id partition — row SET
    // unchanged, no duplicates.
    StoreRoot.rmTree(ckpt)
    IndexIngest.ingest(spark, path, stream, ckpt.toString)
    assert(listRows(spark.read.parquet(s"$path/staged")) ===
      listRows(twinAppended))

    // Publish seals: staged cleared, sealed search == twin search,
    // searchAll falls back to sealed-only, second publish is a no-op
    // that commits nothing.
    assert(IndexIngest.publish(spark, path) === 150L)
    assert(!Files.exists(java.nio.file.Paths.get(s"$path/staged")))
    assert(listRows(sealedOf(path)) === listRows(sealedOf(twin)))
    assert(search(path, q, e) === expect)
    assert(searchRows(IndexIngest.searchAll(spark, path, q, e)) === expect)
    val committed = VersionedIndex.committedVersions(spark, path)
    assert(IndexIngest.publish(spark, path) === 0L)
    assert(VersionedIndex.committedVersions(spark, path) === committed)
  }

  test("publish recovers from a crash between append and staging " +
      "cleanup without duplicating the in-flight batch") {
    val root = tempDir("graft_ingest_crash")
    val path = root.resolve("index").toString
    val twin = root.resolve("twin").toString
    val e = VectorSearch.vecs(spark, sf).localCheckpoint()
    val base = e.filter(col("vec_id") < 400)
    VersionedIndex.publishBuild(spark, path, base)
    VersionedIndex.publishBuild(spark, twin, base)
    val b1 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val b2 = e.filter(col("vec_id") >= 450)
    VersionedIndex.publishAppend(spark, twin, b1)
    VersionedIndex.publishAppend(spark, twin, b2)

    val src = root.resolve("src")
    Files.createDirectories(src)
    Seq(b1, b2).foreach(
      _.coalesce(1).write.mode("append").parquet(src.toString))
    IndexIngest.ingest(spark, path,
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString),
      root.resolve("ckpt").toString)

    // Simulate the crash window: batch 0's rows are ALREADY committed
    // as a list pub, but its staging partition was not cleaned.
    val staged0 = spark.read.parquet(s"$path/staged")
      .filter(col("batch_id") === 0)
      .select("vec_id", "codes", "cid").localCheckpoint()
    val crashedRows = staged0.count()
    assert(crashedRows === 50L)
    VersionedIndex.commitRows(spark, path,
      VersionedIndex.currentManifest(spark, path).get, staged0)

    // Recovery publish: the anti-join commits only the OTHER batch.
    assert(IndexIngest.publish(spark, path) === 100L - crashedRows)
    assert(!Files.exists(java.nio.file.Paths.get(s"$path/staged")))
    // No duplicates, store == twin, searches agree.
    val sealedDf = sealedOf(path)
    assert(sealedDf.count() ===
      sealedDf.select("vec_id").distinct().count())
    assert(listRows(sealedDf) === listRows(sealedOf(twin)))
    val q = VectorSearch.queryFrame(e)
    assert(search(path, q, e) === search(twin, q, e))
  }
}
