package graft.operators

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec

/** The fixed-round graph loops (q52 PageRank, q60 BFS) run all their
  * rounds as one plan, checkpointed once: a warm call submits the same
  * few jobs whatever the round count, no round broadcasts, and each
  * round adds exactly one exchange to the loop's plan. The loops are
  * sized from the edge cache with no job. Also runs the BFS body on
  * hand-built edge lists.
  */
class GraphLoopJobsSpec extends SparkSpec {

  private val Group = "graph-loop-jobs"

  /** Jobs that `f` submits, and the executed plans of the SQL
    * executions those jobs ran under.
    */
  private def submitted(f: => Unit): (Int, Seq[SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val plans = mutable.Map.empty[Long, SparkPlanInfo]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == Group)
          jobs.synchronized(jobs += e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans.synchronized(plans(x.executionId) = x.sparkPlanInfo)
        case _ => ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(Group, "graph loop spec")
      try f finally sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val ids = jobs.flatMap(j => Option(j.properties.getProperty(
      "spark.sql.execution.id")).map(_.toLong)).distinct
    (jobs.size, ids.flatMap(plans.get).toSeq)
  }

  /** [[submitted]] for a warm call of `q`: the first call builds the
    * shared edge frame.
    */
  private def warmCall(q: String): (Int, Seq[SparkPlanInfo]) = {
    def run(): Unit = graft.SparkEntry.queries(q)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    run()
    submitted(run())
  }

  private def names(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: p.children.flatMap(names)

  /** The loop's plan: the one execution with `joins` round joins. */
  private def loop(plans: Seq[SparkPlanInfo], joins: Int): Seq[String] = {
    val loops = plans.map(names).filter(_.count(_ == "ShuffledHashJoin") == joins)
    assert(loops.size === 1, s"${loops.size} loop plans")
    loops.head
  }

  test("a warm q60_bfs call runs its 4 rounds in one job, no broadcast") {
    val (jobs, plans) = warmCall("q60_bfs")
    // the edge checkpoint, the loop checkpoint and the final sort's
    // jobs, whatever the round count
    assert(jobs <= 6, s"$jobs jobs")
    // round 1 reads the source's edges with no join
    val l = loop(plans, GraphBasket.BfsRounds - 1)
    assert(!l.contains("BroadcastExchange"))
    assert(l.count(_ == "Exchange") === GraphBasket.BfsRounds)
  }

  test("a warm q52_pagerank call runs its 6 rounds in one job, no broadcast") {
    val (jobs, plans) = warmCall("q52_pagerank")
    // as q60, plus the degree checkpoint and the vertex count
    assert(jobs <= 8, s"$jobs jobs")
    val l = loop(plans, GraphBasket.PrIters)
    assert(!l.contains("BroadcastExchange"))
    assert(l.count(_ == "Exchange") === GraphBasket.PrIters)
  }

  test("Lineage.rows reads a built cache's row count with no job") {
    val df = Lineage.materialized(spark, sf, "graph_loop_rows")(
      spark.range(1000).filter("id % 3 = 0").toDF())
    assert(Lineage.rows(df) === 334) // counts, and so builds the cache
    var n = 0L
    assert(submitted { n = Lineage.rows(df) }._1 === 0)
    assert(n === 334)
  }

  private def bfs(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val sym = (edges ++ edges.map(_.swap)).toDF("u", "w")
    GraphBasket.bfs(sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfs reaches only the source's component, capped at 4 hops") {
    // a path 1-2-…-7 with a chord 1-3, and a second component; 7 is
    // 5 hops out
    val got = bfs(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L,
      6L -> 7L, 1L -> 3L, 10L -> 11L, 11L -> 12L))
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 4L))
  }

  test("bfs over no edges returns no rows, not a null source") {
    assert(bfs(Seq.empty).isEmpty)
  }
}
