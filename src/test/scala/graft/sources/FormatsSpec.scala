package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TempDirs}
import graft.core.TextSink

class FormatsSpec extends SparkSpec with TempDirs {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map(String.valueOf): Seq[Any]).toSeq
      .sortBy(_.mkString("|"))

  private val Ddl =
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE"

  private lazy val orders = Tables(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  test("csv round-trip preserves schema and values") {
    val dir = tempDir("graft_csv").toString
    Formats.writeCsv(orders, dir)
    val back = Formats.readCsv(spark, dir, Ddl)
    assert(back.schema === orders.schema)
    assert(canon(back) === canon(orders))
  }

  test("json round-trip preserves schema and values") {
    val dir = tempDir("graft_json").toString
    Formats.writeJson(orders, dir)
    val back = Formats.readJson(spark, dir, Ddl)
    assert(back.schema === orders.schema)
    assert(canon(back) === canon(orders))
  }

  test("parquet round-trip is exact") {
    val dir = tempDir("graft_pq").toString
    Formats.writeParquet(orders, dir)
    assert(canon(Formats.readParquet(spark, dir)) === canon(orders))
  }

  test("orc round-trip is exact and pushes filters to the scan") {
    val dir = tempDir("graft_orc").toString
    Formats.writeOrc(orders, dir)
    val back = Formats.readOrc(spark, dir)
    assert(back.schema === orders.schema)
    assert(canon(back) === canon(orders))
    // Same pushdown contract as parquet: the predicate must reach the
    // ORC scan (stripe-stats pruning at scale), not sit in a Filter
    // above a full read.
    val p = back.filter(col("o_totalprice") > 1000.0)
      .queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters:") && p.contains("o_totalprice"))
  }

  test("mergeSchema read unions evolved file schemas; pre-evolution " +
      "files surface the new column as null") {
    val dir = tempDir("graft_evolve").toString
    val v1 = orders.select("o_orderkey", "o_custkey")
    v1.write.mode("append").parquet(dir)
    v1.withColumn("priority_class", lit("std"))
      .write.mode("append").parquet(dir)
    val back = Formats.readParquetMerged(spark, dir)
    assert(back.columns.toSet ===
      Set("o_orderkey", "o_custkey", "priority_class"))
    assert(back.count() === 2 * v1.count())
    assert(back.filter(col("priority_class").isNull).count()
      === v1.count(), "old files must read the new column as null")
  }

  test("PERMISSIVE json ingest quarantines malformed lines instead of " +
      "failing or dropping them") {
    val dir = tempDir("graft_quarantine")
    val f = dir.resolve("landing.json")
    Files.write(f, java.util.Arrays.asList(
      """{"id": 1, "v": 10.5}""",
      """{"id": 2 "v": broken""", // malformed: missing comma, bad token
      """{"id": 3, "v": 7.0}"""))
    val back = Formats.readJsonQuarantine(spark, dir.toString,
      "id BIGINT, v DOUBLE").cache() // cache: corrupt-col-only filters
    try {
      val bad = back.filter(col("_corrupt_record").isNotNull).collect()
      assert(bad.length === 1)
      assert(bad.head.getAs[String]("_corrupt_record").contains("broken"),
        "the malformed line must be preserved verbatim for audit")
      val good = back.filter(col("_corrupt_record").isNull)
        .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(good.sortBy(_._1).toSeq === Seq((1L, 10.5), (3L, 7.0)))
    } finally back.unpersist()
  }

  test("compaction rewrites many small files into few range-clustered " +
      "ones with identical data and disjoint per-file key ranges") {
    val small = tempDir("graft_small").toString
    val compacted = tempDir("graft_compacted").toString
    orders.repartition(64).write.mode("overwrite").parquet(small)
    val nSmall = new java.io.File(small).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nSmall > 16, s"fixture must fragment (got $nSmall files)")
    Formats.compact(spark, small, compacted, "o_orderkey", 4)
    val outFiles = new java.io.File(compacted).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(outFiles.length <= 4)
    assert(canon(Formats.readParquet(spark, compacted)) === canon(orders))
    // range partitioning: per-file [min,max] key spans must not overlap
    val spans = outFiles.map { f =>
      val keys = spark.read.parquet(f.getPath)
        .agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
      (keys.getLong(0), keys.getLong(1))
    }
    spans.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo,
        s"file ranges overlap: $spans")
      case _ =>
    }
  }

  test("TextSink sharded mode keeps global order across part files") {
    import spark.implicits._
    val dir = tempDir("graft_sharded").toString
    val sorted = Tables(spark, sf, "documents")
      .select(col("doc_id")).as[Long].orderBy(col("doc_id"))
    TextSink.write[Long](sorted, _.toString, dir, single = false)
    // Part files, read in filename order, concatenate to the total
    // order (range partitioning: part i's keys precede part i+1's).
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val lines = parts.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toSeq).map(_.toLong)
    assert(lines.toSeq === lines.sorted.toSeq)
    assert(lines.length === 500)
  }
}
