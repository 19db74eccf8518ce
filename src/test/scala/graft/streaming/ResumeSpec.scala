package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.StoreRoot

/** Lifecycle gates for `st_resume_tumbling` that the DuckDB hash
  * cannot express: the emission really spans BOTH streaming runs
  * (i.e. the resumed query emitted windows the first run could not
  * have sealed), and no (window, type) group is ever emitted twice —
  * the exactly-once property the checkpoint is supposed to buy.
  */
class ResumeSpec extends SparkSpec {

  test("checkpoint resume: emission spans both runs, exactly once " +
    "per window, sink equals returned frame") {
    val res = Resume.resumeTumbling(spark, sf)
    val resCount = res.count()
    assert(resCount > 0)

    // Re-open the sink WITH its batch_id partition column: batch ids
    // 0/1 belong to run 1 (data batch + no-data flush), >= 2 to the
    // resumed run — both sides must have emitted rows. The workspace
    // is the session's "resume" store, with the per-run subtree under
    // run/.
    val out = spark.read.parquet(
      StoreRoot.path(spark, "resume", sf) + "/run/out")
    assert(out.count() === resCount)

    val dup = out.groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    assert(dup.count() === 0, "a window group was emitted twice")

    val batches = out.select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(batches.exists(_ <= 1L),
      s"run 1 emitted nothing (batches: $batches)")
    assert(batches.exists(_ >= 2L),
      s"the resumed run emitted nothing — checkpoint resume did not " +
        s"continue the stream (batches: $batches)")
  }
}
