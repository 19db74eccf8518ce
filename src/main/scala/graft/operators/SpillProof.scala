package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.{GraftSession, SparkEntry}

/** Forked-JVM main behind SpillProofSpec: the spill-not-OOM
  * demonstration for the 100 TB claim (VERDICT r3 item 3).
  *
  * Every scale argument in this repo rests on plan shape; this is the
  * one that demonstrates MEMORY behavior: the two biggest shuffles
  * (`dd_jaccard_prefix` — self-join over exploded prefix keys with
  * array-payload verify rows; `ta_tfidf_sim` — inverted-index
  * self-join with per-doc weight maps) run to completion inside a
  * deliberately starved executor-memory budget, and the task metrics
  * must show the pressure was absorbed by SPILLING, not by heap
  * headroom or luck.
  *
  * The budget: the spec forks this JVM at `-Xmx512m` and
  * `spark.memory.fraction=0.05` → unified pool ≈ (512−300 reserved)
  * × 0.05 ≈ 11 MB shared by 4 cores, with 8 shuffle partitions so
  * per-task partitions are large. That is a ~50× tighter
  * memory:data ratio than the sf0.1 steady state — the same regime
  * scaling data 100× against fixed executors produces. Completion +
  * nonzero `diskBytesSpilled` = Spark's sort/aggregate operators hit
  * their page limits and went through the external-spill path.
  *
  * Prints one JSON line with the accumulated spill counters; any
  * query failure exits nonzero (the spec's process call throws).
  */
object SpillProof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("4", "8", Map(
      "spark.memory.fraction" -> "0.05",
      "spark.memory.storageFraction" -> "0.1",
      // Round 14: AQE's coalescing floor (the core count, made
      // binding by the 64 KB minPartitionSize) means the gated
      // stages now run on all 4 task slots instead of one coalesced
      // partition — a MORE honest starved regime (4 tasks share the
      // ~11 MB pool, per-task cap ≈ pool/slots ≈ 2.7 MB). Under that
      // cap the DEFAULT page-size heuristic's 256 KB pages make an
      // operator's FIRST page unobtainable once its task's other
      // consumers hold their share (measured: HashAggregate
      // createHashMap dies asking 256 KB with 86 KB grantable —
      // allocation GRANULARITY, not missing spill coverage). 64 KB
      // pages let every operator make progress and spill at the
      // extreme memory:data ratio under test — the same knob a real
      // deployment turns when running many cores against a small
      // pool.
      "spark.buffer.pageSize" -> "64k"))
    val mem = new AtomicLong; val disk = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    // This JVM runs with SPARK_GRAFT_LINEAGE=off (set by the spec's
    // fork): the gate's subject is the SHUFFLES of the join plans,
    // and block-manager cache traffic inside the ~11 MB pool competes
    // with the operators under test — production pre-materializes the
    // shared frames as real tables in separate jobs, so the uncached
    // plan is the right starved-regime shape (see Lineage).
    Seq("dd_jaccard_prefix", "ta_tfidf_sim").foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // The listener bus delivers task-end events asynchronously. A
    // fixed sleep races the queue on a loaded box (undercounting the
    // spill evidence), so poll until the counters are stable for two
    // consecutive checks, bounded at 30 s.
    var stable = 0
    var last = (-1L, -1L)
    var waited = 0
    while (stable < 2 && waited < 60) {
      Thread.sleep(500); waited += 1
      val now = (mem.get, disk.get)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    println(s"""{"ok":true,"memoryBytesSpilled":${mem.get},""" +
      s""""diskBytesSpilled":${disk.get}}""")
    spark.stop()
  }
}
