package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType

/** Fixture reads carry a memoized schema: the same shape as a read
  * that infers it, without the inference job on every read.
  */
class TablesSpec extends SparkSpec {

  test("memoized schemas equal inferred ones; a repeated read runs no job") {
    Tables.names.foreach { n =>
      val inferred = spark.read.parquet(s"$sf/$n.parquet")
      val want = if (n == "events") Tables.eventsFixup(inferred) else inferred
      assert(Tables(spark, sf, n).schema == want.schema, n)
    }
    // nanosAsLong: the raw int64 nanos arrive as LongType.
    assert(Tables(spark, sf, "events").schema("ts_ns").dataType == LongType)

    // Jobs started by the reads, counted up to a marker job: the
    // listener bus delivers events in order, so once the marker's
    // start arrives every earlier job start has too.
    val sc = spark.sparkContext
    val marker = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == marker)
          markerSeen.countDown()
        else if (markerSeen.getCount > 0) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      Tables.names.foreach(n => Tables(spark, sf, n))
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
  }
}
