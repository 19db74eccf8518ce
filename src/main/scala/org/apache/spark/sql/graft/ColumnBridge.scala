package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4
  * split Column off to a ColumnNode facade; classic conversions live
  * behind `org.apache.spark.sql.classic.ExpressionUtils`). This is the
  * one sanctioned-pattern seam this engine opens into Spark internals,
  * used only to surface native Catalyst expressions
  * (graft.functions.DoubleDot) as Columns without requiring session
  * function registration, and for [[ColumnBridge.statsBarrier]] and
  * [[ColumnBridge.onSession]] below.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** STATS BARRIER for iterative plans. Since Spark 3.2,
    * `Dataset.localCheckpoint` builds its `LogicalRDD` with
    * `originStats = Some(stats)` — checkpointing truncates the
    * *lineage* but deliberately carries the *statistics* forward. In
    * an iterative fixpoint (connected components, ancestor doubling,
    * pagerank) whose round joins the frame with itself, the estimated
    * `sizeInBytes` therefore SQUARES every round: by round r the
    * optimizer is folding BigIntegers of ~2^r bits, and past ~25
    * rounds each `optimizedPlan` access spends minutes inside
    * Toom-Cook multiplication on 100 MB integers (measured: a 72k-node
    * kNN graph at the 32× fixture wedged the driver at round 26 with
    * the executors idle; StatsBarrierSpec pins the doubling).
    *
    * The barrier re-wraps the materialized rows in a fresh
    * `LogicalRDD` with NO origin stats, so each round's estimates
    * start from the session default instead of compounding.
    * `internalCreateDataFrame` (what `Dataset.checkpoint` itself used
    * before stats forwarding) reuses the checkpointed `InternalRow`s
    * directly — no Row re-encoding. Cost: the barrier also drops the
    * checkpoint's preserved output partitioning, so a downstream join
    * re-exchanges the frame — for the vertex-sized label/rank frames
    * this guards, that is one small shuffle per round against an
    * exponentially-growing optimizer stall.
    */
  def statsBarrier(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** `df`'s plan rebound onto session `s`, which then plans and runs
    * it under its own conf. Frames cross between a caller's session
    * and a scoped child session ([[graft.GraftSession.scoped]]) only
    * through this: a join of frames from two sessions silently runs
    * under the LEFT side's session, so the crossing is made explicit.
    */
  def onSession(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
