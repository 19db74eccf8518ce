package graft.sim

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** The persisted IVFPQ artifact's lifecycle contracts (VERDICT r6
  * item 3): an append encodes ONLY the new batch against the STORED
  * quantizers, touches the store append-only (parquet files are
  * immutable — the base file set must survive bit-for-bit), and the
  * resulting store equals a full re-encode of base ∪ batch under the
  * same quantizers. The search result over the appended store is
  * additionally hash-gated against DuckDB (ss_ivfpq_incr).
  */
class VectorIndexSpec extends SparkSpec with TempDirs {

  private def files(root: Path): Map[String, Long] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }

  test("append is append-only, batch-sized, and equals a full " +
      "re-encode under the stored quantizers") {
    val root = tempDir("graft_vindex")
    val path = root.toString
    val e = VectorSearch.vecs(spark, sf).localCheckpoint()
    val base = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)

    VectorIndex.build(base, path)
    val listsRoot = root.resolve("lists")
    val before = files(listsRoot)
    val baseRows = spark.read.parquet(s"$path/lists").count()
    assert(baseRows === 400)

    VectorIndex.append(spark, path, batch)
    val after = files(listsRoot)

    // Append-only: every base file survives with its exact size, new
    // files only add.
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"base file rewritten: $f") }
    assert(after.size > before.size)

    // The new files live only in cid= partitions the batch actually
    // encodes to (derivable from the stored rows themselves).
    val stored = spark.read.parquet(s"$path/lists")
      .withColumn("cid", col("cid").cast("long")) // partition-col inference -> INT
    assert(stored.count() === 500)
    val batchCids = stored.filter(col("vec_id") >= 400)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    val newFiles = after.keySet -- before.keySet
    newFiles.foreach { f =>
      val cid = "cid=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong)
      assert(cid.exists(batchCids), s"appended file in untouched partition: $f")
    }

    // Store ∪ append == ONE-SHOT encode of the full corpus under the
    // SAME stored quantizers (the dd_incremental equivalence) — the
    // incremental path changes the work, not the result.
    val a = stored.select("vec_id", "cid", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toList)).sortBy(_._1).toSeq
    val b = VectorIndex.encode(e,
        spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(s"$path/codebooks"))
      .select("vec_id", "cid", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toList)).sortBy(_._1).toSeq
    assert(a === b)

    // Quantizers persisted with the artifact are the base-trained
    // ones: retraining on base reproduces them bit-for-bit.
    val storedCent = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getAs[Long]("cid") ->
        r.getSeq[Double](r.fieldIndex("cv")).toList).toMap
    val retrained = VectorSearch.lloydCentroids(base)
      .collect().map(r => r.getAs[Long]("cid") ->
        r.getSeq[Double](r.fieldIndex("cv")).toList).toMap
    assert(storedCent === retrained)
  }

  test("search over the appended store finds suffix-batch neighbors, " +
      "and the probe join dynamically prunes the cid partitions") {
    // The declared gate's geometry: an increment vector must be
    // findable — its list was appended, not rebuilt.
    val df = VectorIndex.ivfPqIncremental(spark, sf)
    // The 100 TB promise made literal: probing the on-disk Hive
    // layout plants a DynamicPruningExpression on the lists scan, so
    // a probe reads NProbe directories, not the store.
    assert(df.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      "no dynamic partition pruning on the stored-lists scan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === VectorSearch.NumQueries)
    byQuery.values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to rs.length).toSeq)
    }
  }

  test("compact rewrites only bloated cid partitions, preserves " +
      "content and search results, and is idempotent") {
    val root = tempDir("graft_vindex_c")
    val path = root.toString
    val e = VectorSearch.vecs(spark, sf).localCheckpoint()
    VectorIndex.build(e.filter(col("vec_id") < 350), path)
    // Three small appends → up to 4 files per touched partition.
    for (lo <- Seq(350L, 400L, 450L))
      VectorIndex.append(spark, path,
        e.filter(col("vec_id") >= lo && col("vec_id") < lo + 50))
    val listsRoot = root.resolve("lists")
    val before = files(listsRoot)
    def dirCount(m: Map[String, Long], cid: Long): Int =
      m.keySet.count(_.startsWith(s"cid=$cid/"))
    val allCids = before.keySet
      .flatMap("cid=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1).toLong))
    val maxF = 2
    val expectBloated = allCids.filter(dirCount(before, _) > maxF)
    assert(expectBloated.nonEmpty, "fixture produced no bloated partition")
    assert(allCids.exists(dirCount(before, _) <= maxF),
      "fixture has no untouched partition to pin byte-stability on")

    def snapshot() = spark.read.parquet(s"$path/lists")
      .withColumn("cid", col("cid").cast("long"))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getSeq[Int](r.fieldIndex("codes")).toList)).sortBy(_._1).toSeq
    val q = e.filter(col("vec_id") < VectorSearch.NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    def searchNow() = VectorIndex.search(spark, path, q, e)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSeq
    val contentBefore = snapshot()
    val searchBefore = searchNow()

    val got = VectorIndex.compact(spark, path, maxF)
    assert(got.toSet === expectBloated, s"compacted $got")
    val after = files(listsRoot)
    // Untouched partitions byte-for-byte identical.
    before.filter { case (f, _) =>
      !expectBloated.exists(c => f.startsWith(s"cid=$c/")) }
      .foreach { case (f, sz) =>
        assert(after.get(f).contains(sz), s"untouched file changed: $f") }
    // Bloated partitions now under the threshold.
    expectBloated.foreach { c =>
      assert(dirCount(after, c) <= maxF,
        s"cid=$c still has ${dirCount(after, c)} files") }
    // Content and search results unchanged.
    assert(snapshot() === contentBefore)
    assert(searchNow() === searchBefore)
    // Second run: nothing exceeds the threshold, store untouched.
    assert(VectorIndex.compact(spark, path, maxF).isEmpty)
    assert(files(listsRoot) === after)
  }
}
