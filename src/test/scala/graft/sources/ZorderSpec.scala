package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.operators.Warehouse

/** q57's layout payoff, proven on written files: sorting by the
  * Morton key buys row-group skipping on BOTH interleaved dimensions,
  * where a single-column sort only ever skips on its own column
  * (LayoutSpec). This is the multi-dimensional half of the write-time
  * clustering story — the mechanism behind every lakehouse OPTIMIZE
  * ZORDER BY.
  */
class ZorderSpec extends SparkSpec with TempDirs {

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst { case s: FileSourceScanExec => s }.get
  }

  test("z-sorted layout skips row groups on EITHER dimension; " +
      "single-column sort only on its own") {
    val hc = spark.sparkContext.hadoopConfiguration
    val savedBlock = Option(hc.get("parquet.block.size"))
    try {
      hc.setLong("parquet.block.size", 64 * 1024)
      val z = tempDir("graft_zorder_z").toString
      val single = tempDir("graft_zorder_s").toString
      // q57 IS the write order: its first output column is the key.
      val li = Warehouse.q57Zorder(spark, "/root/testdata/sf0.01")
      li.coalesce(1).write.mode("overwrite").parquet(z)
      li.sort("l_partkey").coalesce(1).write.mode("overwrite")
        .parquet(single)
      val total = li.count()

      // thin slices of each dimension's keyspace
      def partSlice(dir: String) = spark.read.parquet(dir)
        .filter(col("l_partkey") >= 1L && col("l_partkey") <= 40L)
      def suppSlice(dir: String) = spark.read.parquet(dir)
        .filter(col("l_suppkey") >= 1L && col("l_suppkey") <= 4L)

      val zPart = scanOf(partSlice(z)).metrics("numOutputRows").value
      val zSupp = scanOf(suppSlice(z)).metrics("numOutputRows").value
      val sPart = scanOf(partSlice(single)).metrics("numOutputRows").value
      val sSupp = scanOf(suppSlice(single)).metrics("numOutputRows").value

      // z-layout: a sliver on BOTH dimensions
      assert(zPart < total / 4, s"z-layout read $zPart of $total on part")
      assert(zSupp < total / 4, s"z-layout read $zSupp of $total on supp")
      // part-sorted layout: sliver on part, (nearly) everything on supp
      assert(sPart < total / 4)
      assert(zSupp < sSupp,
        s"z ($zSupp) must beat part-sorted ($sSupp) on the supp slice")
      // identical answers regardless of layout
      assert(partSlice(z).collect().map(_.toSeq.mkString("|")).sorted.toSeq
        === partSlice(single).collect().map(_.toSeq.mkString("|")).sorted
          .toSeq)
    } finally {
      savedBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
    }
  }

  test("morton key buckets then interleaves bits exactly") {
    import spark.implicits._
    // key ranges chosen so the range-bucketing is the identity map
    // ((v - 0) * 256 div 256 = v) and the interleave is auditable
    val pts = Seq((3L, 5L), (0L, 0L), (255L, 255L), (21L, 0L),
      (255L, 0L), (0L, 255L))
    val df = pts.toDF("l_partkey", "l_suppkey")
      .withColumn("l_orderkey", lit(1L))
      .withColumn("l_linenumber", lit(1L))
    val got = Warehouse.q57ZorderDf(df)
      .select("l_partkey", "l_suppkey", "zkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    def morton(a: Long, b: Long): Long =
      (0 until Warehouse.ZBits).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
        .sum
    pts.foreach { case (p, sArg) =>
      assert(got((p, sArg)) === morton(p, sArg))
    }
    // both extremes land at the curve's corners
    assert(got((0L, 0L)) === 0L)
    assert(got((255L, 255L)) === (1L << (2 * Warehouse.ZBits)) - 1)
  }
}
