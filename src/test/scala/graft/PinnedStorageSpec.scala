package graft

import org.apache.spark.graft.ListenerBusDrain

/** A long-lived session holds steady storage: running a query again
  * pins no more block-manager storage than its first run did. The
  * first run may build the shared stores that [[operators.Lineage]]
  * keeps; every other checkpoint belongs to the run's plan, and Spark's
  * `ContextCleaner` frees it once that plan is unreachable.
  */
class PinnedStorageSpec extends SparkSpec {

  /** Queries that checkpoint frames on every run: the BPE pack and
    * score rows, the persisted RAG index and the three Hamming-blocked
    * media dedups.
    */
  private val Queries = Seq(
    "ta_bpe_pack", "ta_bpe_score", "ta_bpe_bytes_pack", "ss_rag_index",
    "mm_phash_dedup", "mm_audio_dedup", "mm_video_dedup")

  private def run(q: String): Unit =
    SparkEntry.queries(q)(spark, sf)
      .write.format("noop").mode("overwrite").save()

  /** (bytes in memory plus on disk, RDD count) of the cached RDDs, read
    * once the listener bus is drained, the driver has collected
    * garbage and `ContextCleaner` has released the blocks of
    * unreachable RDDs: three equal reads in a row.
    */
  private def pinned(): (Long, Int) = {
    val sc = spark.sparkContext
    def now() = {
      val rdds = sc.getRDDStorageInfo
      (rdds.map(i => i.memSize + i.diskSize).sum, rdds.length)
    }
    ListenerBusDrain(sc)
    var (last, stable, polls) = (now(), 0, 0)
    while (stable < 3 && polls < 100) {
      System.gc()
      Thread.sleep(100)
      val cur = now()
      stable = if (cur == last) stable + 1 else 0
      last = cur
      polls += 1
    }
    last
  }

  test("runs 2 and 3 of a query pin no more storage than run 1") {
    val grown = Queries.flatMap { q =>
      run(q)
      val first = pinned()
      run(q)
      run(q)
      val third = pinned()
      if (third == first) None
      else Some(f"$q: ${first._1 / 1e6}%.3f MB in ${first._2} RDDs -> " +
        f"${third._1 / 1e6}%.3f MB in ${third._2} RDDs")
    }
    assert(grown.isEmpty, s"pinned storage grew: $grown")
  }
}
