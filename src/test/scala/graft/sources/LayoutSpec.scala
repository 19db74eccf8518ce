package graft.sources

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TempDirs}

/** Data-layout gates: the two scan-reduction mechanisms a 100 TB
  * table lives or dies by, proven on real written files —
  *
  *  1. HIVE-STYLE PARTITION PRUNING: `partitionBy(lang)` writes one
  *     directory per value; a `lang = 'en'` filter must become a
  *     PartitionFilter resolved against the file listing, so the scan
  *     never opens the other directories' files at all.
  *  2. ROW-GROUP SKIPPING via sort layout: the same predicate data
  *     can't partition on (a range over a high-cardinality column)
  *     skips via parquet min/max row-group stats — but ONLY if the
  *     writer clustered the column; on an unsorted layout every row
  *     group straddles the range and nothing skips. "Sort your fact
  *     table by its hottest filter column" is the actionable rule.
  *
  * Both are read-side free lunches earned at write time — the sink
  * half of the engine's scale story (the scan half — pushdown and
  * column pruning — is PlanAuditSpec's).
  */
class LayoutSpec extends SparkSpec with TempDirs {

  /** The single FileSourceScanExec of a materialized query. */
  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst { case s: FileSourceScanExec => s }.get
  }

  test("partitionBy layout: a partition-key filter prunes directories " +
      "(scans only the matching partition's files)") {
    val dir = tempDir("graft_layout_part").toString
    Tables(spark, sf, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)

    val all = spark.read.parquet(dir)
    val langs = all.select("lang").distinct().count()
    assert(langs >= 3, "fixture must have several partitions")

    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
      .select("doc_id", "lang")
    val scan = scanOf(pruned)
    assert(scan.partitionFilters.exists(_.toString.contains("lang")),
      s"filter must resolve as a PartitionFilter: ${scan.partitionFilters}")
    // Listing-level proof: the scan's selected file listing holds only
    // the en/ directory's files — fewer than the table's total.
    val selected = scan.selectedPartitions.toPartitionArray
      .map(_.urlEncodedPath).toSeq
    assert(selected.nonEmpty && selected.forall(_.contains("lang=en")),
      s"scan touched non-matching partitions: ${selected.take(3).mkString(",")}")
    assert(scan.selectedPartitions.partitionCount <
      all.select("lang").distinct().count())
    // And values are right (partition column reconstructed from path).
    assert(pruned.collect().forall(_.getString(1) == "en"))
  }

  test("dynamic partition overwrite restates ONE partition; every " +
      "other partition's files are physically untouched") {
    val dir = tempDir("graft_layout_backfill").toString
    val docs = Tables(spark, sf, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val otherBefore = spark.read.parquet(dir)
      .filter(col("lang") =!= "en")
      .agg(count(lit(1)), sum("doc_id")).collect()(0)
    val otherDir = new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("lang=") && f.getName != "lang=en")
      .head
    val filesBefore = otherDir.listFiles
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    // restate en with a marker transform so replacement is observable
    Formats.backfillPartitions(
      docs.filter(col("lang") === "en")
        .withColumn("doc_id", col("doc_id") + lit(10000000L)),
      "lang", dir)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("lang") === "en")
      .agg(min("doc_id")).collect()(0).getLong(0) >= 10000000L,
      "target partition must hold the restated rows")
    assert(after.filter(col("lang") =!= "en")
      .agg(count(lit(1)), sum("doc_id")).collect()(0) === otherBefore,
      "non-target partitions must be value-identical")
    val filesAfter = otherDir.listFiles
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    assert(filesAfter === filesBefore,
      "non-target partition files must not be rewritten")
  }

  test("sorted write enables row-group skipping on a range predicate; " +
      "unsorted layout reads everything") {
    // Force many small row groups so the file carries several min/max
    // ranges (64 KB blocks over the sf0.01 lineitem ≈ tens of groups;
    // production uses the 128 MB default and gets the same effect
    // from sheer volume).
    val hc = spark.sparkContext.hadoopConfiguration
    val savedBlock = Option(hc.get("parquet.block.size"))
    try {
      hc.setLong("parquet.block.size", 64 * 1024)
      val sorted = tempDir("graft_layout_sorted").toString
      val unsorted = tempDir("graft_layout_unsorted").toString
      val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      li.sort("l_orderkey").coalesce(1).write.mode("overwrite").parquet(sorted)
      // Deterministic shuffle of the same rows: order by a hash.
      li.sort(md5(concat_ws("|", col("l_orderkey"), col("l_partkey"))))
        .coalesce(1).write.mode("overwrite").parquet(unsorted)

      val lo = 1L; val hi = 50L // a thin slice of the orderkey range
      def slice(dir: String) = spark.read.parquet(dir)
        .filter(col("l_orderkey") >= lo && col("l_orderkey") <= hi)

      val sortedScan = scanOf(slice(sorted))
      val unsortedScan = scanOf(slice(unsorted))
      assert(sortedScan.metadata("PushedFilters").contains("GreaterThanOrEqual"),
        "range predicate must reach the parquet reader")
      // numOutputRows of the scan node counts rows SURVIVING row-group
      // skipping + page filtering: clustered layout reads a sliver,
      // scattered layout decodes (nearly) the whole file.
      val sortedRead = sortedScan.metrics("numOutputRows").value
      val unsortedRead = unsortedScan.metrics("numOutputRows").value
      val total = li.count()
      assert(sortedRead < total / 4,
        s"sorted layout read $sortedRead of $total rows — no skipping")
      assert(sortedRead < unsortedRead,
        s"sorted ($sortedRead) must beat unsorted ($unsortedRead)")
      // Same answer either way.
      assert(slice(sorted).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        === slice(unsorted).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq)
    } finally {
      savedBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
    }
  }
}
