package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm queries reuse their generated code: Spark's JVM-wide compiled
  * class cache (sized in [[GraftSession.SessionConf]]) holds the
  * benchmark workloads' working set, so a second round of the same
  * queries compiles nothing with Janino. With Spark's default 100-entry
  * cache each warm round recompiles the evicted classes.
  */
class CodegenCacheSpec extends SparkSpec {

  /** The queries of the two benchmark workloads (perfbench/run.py):
    * relational, event and graph-fixpoint queries, then the shared
    * store, vector, text and image queries.
    */
  private val Workloads = Seq(
    "wc_wordcount", "sm_string_match", "q1_pricing_summary",
    "q3_top_orders", "q19_asof_last_event", "q60_bfs", "st_session_30m",
    "dd_minhash_lsh", "dd_simhash", "dd_embed_cosine", "ss_ivf_topk",
    "ss_cosine_topk", "ta_tfidf", "mm_phash_dedup")

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Runs every query through the `noop` sink; returns each query's
    * compile count.
    */
  private def round(): Seq[(String, Long)] = Workloads.map { q =>
    q -> compiles(SparkEntry.queries(q)(spark, sf)
      .write.format("noop").mode("overwrite").save())
  }

  test("a second round of the benchmark queries compiles no class") {
    // The counter counts: a literal never seen before is new source.
    val fresh = System.nanoTime()
    assert(compiles(spark.range(4).selectExpr(s"id * ${fresh}L")
      .write.format("noop").mode("overwrite").save()) > 0)
    // Classes cached by earlier suites in this JVM are hits here too,
    // so the first round's count may be anything.
    val first = round()
    val recompiled = round().filter(_._2 > 0)
    assert(recompiled.isEmpty,
      s"${recompiled.map(_._2).sum} classes recompiled in the second " +
        s"round (first round: ${first.map(_._2).sum}): $recompiled")
  }
}
