package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Lineage.parallel]] and [[Lineage.all]] (round 12 — the
  * concurrent trainer builds) and [[graft.functions.VecSumAgg]] (the
  * one-shuffle Lloyd update): registration and failure semantics and
  * exactness the oracle rows consume indirectly.
  */
class LineageParallelSpec extends SparkSpec {
  import spark.implicits._

  test("parallel builds register under the shared cache: both keys " +
    "served from the same frames afterwards, builds run once") {
    val dir = "/tmp/lineage_par_spec"
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    def mk(v: Int) = () => {
      built.incrementAndGet()
      Seq(v).toDF("x")
    }
    Lineage.parallel(spark, dir, Seq(
      "lp_a" -> mk(1), "lp_b" -> mk(2)))
    assert(built.get() === 2)
    // Second call: both keys present — no rebuild.
    Lineage.parallel(spark, dir, Seq(
      "lp_a" -> mk(10), "lp_b" -> mk(20)))
    assert(built.get() === 2)
    // materialized() serves the SAME registered frame.
    val a = Lineage.materialized(spark, dir, "lp_a")(
      sys.error("must not rebuild"))
    assert(a.collect().map(_.getInt(0)).toSeq === Seq(1))
    // One missing key degrades to the serial materialized path.
    Lineage.parallel(spark, dir, Seq(
      "lp_a" -> mk(99), "lp_c" -> mk(3)))
    assert(built.get() === 3)
    assert(Lineage.keys(spark).contains(s"$dir#lp_c"))
  }

  test("a failed build surfaces only after its sibling has finished, " +
    "no helper thread outlives the call, and survivors register") {
    import java.util.concurrent.CountDownLatch
    import java.util.concurrent.atomic.AtomicBoolean
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val thrown = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    // Opens the sibling's latch only once the failure has been thrown
    // (and a while after), so an early rethrow would see it running.
    val releaser = new Thread(() => {
      thrown.await()
      Thread.sleep(300)
      release.countDown()
    })
    releaser.start()
    val err = intercept[IllegalStateException] {
      Lineage.all(Seq(
        () => {
          threads.add(Thread.currentThread())
          thrown.countDown()
          throw new IllegalStateException("trainer failed")
        },
        () => {
          threads.add(Thread.currentThread())
          release.await()
          siblingDone.set(true)
        }))
    }
    assert(err.getMessage === "trainer failed")
    assert(siblingDone.get(), "the failure overtook its running sibling")
    assert(threads.size === 2)
    threads.iterator().forEachRemaining(t =>
      assert(!t.isAlive, s"$t outlived the call"))
    releaser.join()

    // Lineage.parallel: the failure is rethrown, the survivor is
    // registered, the failed key is not.
    val dir = "/tmp/lineage_par_fail_spec"
    intercept[IllegalStateException] {
      Lineage.parallel(spark, dir, Seq(
        "lp_ok" -> (() => Seq(1).toDF("x")),
        "lp_bad" -> (() => throw new IllegalStateException("bad"))))
    }
    assert(Lineage.keys(spark).contains(s"$dir#lp_ok"))
    assert(!Lineage.keys(spark).contains(s"$dir#lp_bad"))
  }

  test("VecSumAgg: element-wise exact long sums with partial " +
    "aggregation; equals the posexplode/groupBy shape it replaced") {
    val df = Seq(
      (1L, Seq(1L, -2L, 3L)),
      (1L, Seq(10L, 20L, -30L)),
      (2L, Seq(5L, 5L, 5L))).toDF("k", "v")
    val got = df.groupBy("k")
      .agg(graft.functions.VecSumAgg.vecSumAgg(col("v"), 3).as("s"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(got.toSeq === Seq(
      (1L, Seq(11L, 18L, -27L)), (2L, Seq(5L, 5L, 5L))))
    // The plan is a partial aggregation (two HashAggregate phases),
    // not a sort-based window.
    val plan = df.groupBy("k")
      .agg(graft.functions.VecSumAgg.vecSumAgg(col("v"), 3).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_vecsum_agg"))
    assert(!plan.contains("Window"))
  }
}
