package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loader (schemas in FIXTURES.md §1).
  *
  * All readers go through here so that scan-level concerns live in one
  * place: Parquet (columnar, predicate pushdown + column pruning reach
  * the row-group level for free), and the one schema fix-up the
  * fixtures need (`events.ts` is parquet TIMESTAMP(NANOS) → read as
  * int64 nanos, exposed both raw and as a micros-precision
  * `timestamp_ntz`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") eventsFixup(raw) else raw
  }

  /** (path, modification time, length, the session's parquet confs) →
    * inferred schema. A read without a schema launches a one-task
    * footer-inference job every time; the fixtures are immutable
    * between runs, so each one's schema is inferred once. The file's
    * mtime and length invalidate a rewritten fixture; the parquet
    * confs are in the key because they change what inference returns
    * (`nanosAsLong` decides `events.ts`'s type).
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Map[String, String]), StructType]

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val readerConf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }
    schemas.computeIfAbsent(
      (path, st.getModificationTime, st.getLen, readerConf),
      _ => spark.read.parquet(path).schema)
  }

  /** events.ts normalization. The fixture has shipped `ts` as BOTH
    * parquet TIMESTAMP(NANOS) (read as int64 nanos under
    * `nanosAsLong`, see GraftSession scaladoc) and plain
    * TIMESTAMP(MICROS) (read as `timestamp_ntz`), so dispatch on the
    * arrived type instead of assuming one generation of the fixture.
    * Either way the exposed shape is identical: exact epoch nanos
    * (`ts_ns`) for oracle parity (DuckDB `epoch_ns` works on both
    * physical types), and a micros-precision NTZ `ts` for
    * window/date functions. Shared by batch reads and the streaming
    * file source (which reads the same parquet schema).
    */
  def eventsFixup(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsNs = raw.schema("ts").dataType match {
      case LongType => col("ts")
      // NTZ micros → epoch nanos. The session zone is pinned UTC, so
      // the ntz→ltz cast inside unix_micros shifts nothing.
      case TimestampType | TimestampNTZType =>
        expr("unix_micros(cast(ts as timestamp))") * lit(1000L)
      // A third fixture generation (string/int32/…) must fail loudly
      // at dispatch, not inside a cast mid-query (ADVICE r4).
      case other => throw new IllegalArgumentException(
        s"events.ts arrived as unsupported type $other; expected " +
          "int64 nanos (nanosAsLong) or timestamp[_ntz] micros")
    }
    raw
      .select(raw.columns.toIndexedSeq.map {
        case "ts" => tsNs.as("ts_ns")
        case c => col(c)
      }: _*)
      .withColumn(
        "ts",
        // Integral DIV, not `/`: epoch nanos (~1.7e18) exceed double's
        // 2^53 exact range, so float division can be off by 1 µs at
        // hour-boundary timestamps vs DuckDB's integer epoch_ns//1000.
        timestamp_micros(expr("ts_ns DIV 1000"))
          .cast("timestamp_ntz"))
  }

  /** Register every fixture table as a temp view for spark.sql use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
