package graft.sim

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** The persisted IVFPQ store's append contracts (VERDICT r6 item 3):
  * a [[VersionedIndex.publishAppend]] encodes ONLY the new batch
  * against the STORED quantizers, touches the store append-only
  * (parquet files are immutable — the base pub's file set must
  * survive bit-for-bit), and the resulting snapshot equals a full
  * re-encode of base ∪ batch under the same quantizers. The search
  * result over the appended store is additionally hash-gated against
  * DuckDB (ss_ivfpq_incr).
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
    def current() = VersionedIndex.currentManifest(spark, path).get

    VersionedIndex.publishBuild(spark, path, base)
    val listsRoot = root.resolve("lists")
    val before = files(listsRoot)
    val baseRows = VersionedIndex.listsOf(spark, path, current()).count()
    assert(baseRows === 400)

    VersionedIndex.publishAppend(spark, path, batch)
    val after = files(listsRoot)

    // Append-only: every base file survives with its exact size, new
    // files only add.
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"base file rewritten: $f") }
    assert(after.size > before.size)

    // The new files live only in the new pub's cid= partitions the
    // batch actually encodes to (derivable from the stored rows).
    val m = current()
    val stored = VersionedIndex.listsOf(spark, path, m)
    assert(stored.count() === 500)
    val batchCids = stored.filter(col("vec_id") >= 400)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    val newFiles = after.keySet -- before.keySet
    newFiles.foreach { f =>
      assert(f.startsWith(s"pub=${m.listPubs.last}/"),
        s"appended file outside the new pub: $f")
      val cid = "cid=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong)
      assert(cid.exists(batchCids), s"appended file in untouched partition: $f")
    }

    // Store ∪ append == ONE-SHOT encode of the full corpus under the
    // SAME stored quantizers (the dd_incremental equivalence) — the
    // incremental path changes the work, not the result.
    val cent = VersionedIndex.centOf(spark, path, m)
    val a = stored.select("vec_id", "cid", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toList)).sortBy(_._1).toSeq
    val b = VectorIndex.encode(e, cent, VersionedIndex.cbOf(spark, path, m))
      .select("vec_id", "cid", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toList)).sortBy(_._1).toSeq
    assert(a === b)

    // Quantizers persisted with the artifact are the base-trained
    // ones: retraining on base reproduces them bit-for-bit.
    val storedCent = cent
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
}
