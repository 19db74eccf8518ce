package graft.operators

import org.apache.spark.sql.SparkSession

/** SHUFFLE-PARTITION SCOPE for iterative fixpoint loops.
  *
  * Every driver-coordinated fixpoint in the engine (CC min-label,
  * PageRank power iteration, BFS relaxation, ancestor doubling, BPE
  * pair-merge, unigram EM) runs a handful of shuffles per round over
  * frames whose row count is known up front. At the session's full
  * partition count those rounds are pure scheduler/exchange LATENCY
  * on near-empty partitions — traced on the CC loop at the 64×
  * fixture: 22 rounds × ~0.8 s over a 128k-row label frame on 32
  * partitions, dropping to ~0.5 s/round at 8. [[scoped]] runs the
  * loop on a child session ([[graft.GraftSession.scoped]]) with
  * `spark.sql.shuffle.partitions` at ~[[RowsPerPartition]] rows per
  * partition (floor 8, capped at the caller's setting) and AQE off.
  * The caller's session is never touched, so concurrent loops and
  * queries on it need no coordination, and a nested scope (whose
  * caller is the outer child) can only keep or lower the outer count.
  *
  * At production scale the cap keeps every partition (rows/250k ≥
  * the session setting), so this is a fixture/latency regime
  * optimization that degrades to the caller's count exactly when the
  * data is big enough to need full parallelism.
  *
  * The body rebinds its loop inputs onto the child it is handed and
  * the frames that leave the loop back onto the caller
  * (`ColumnBridge.onSession`), so post-loop work plans under the
  * caller's conf. Build the WHOLE loop on the child — including any
  * pre-loop `repartition(key)` of a reused edge frame — so the
  * per-round joins co-partition with the loop and the pinned exchange
  * is actually reused.
  *
  * Two loop shapes run in a scope:
  *
  *  - FIXED-ROUND loops (q52 PageRank's 6 rounds, q60 BFS's 4) build
  *    all their rounds as ONE plan, each round reading the previous
  *    round's frame once, and checkpoint only the final frame: the
  *    loop is one Spark job, not a job, a checkpoint and a re-plan
  *    per round. The plan grows linearly with the round count, which
  *    is known and small, so its size estimates stay bounded.
  *  - CONVERGENCE loops (CC min-label, ancestor doubling) run until
  *    the data stops changing, and the BPE and unigram trainers run a
  *    round per merge or segmentation step: they checkpoint every
  *    round behind `ColumnBridge.statsBarrier`, which keeps the
  *    estimates the checkpoints carry from compounding into an
  *    optimizer stall over a round count the plan cannot bound.
  */
object Fixpoint {

  val RowsPerPartition = 250000L

  private val Key = "spark.sql.shuffle.partitions"

  /** Run `body` on a child of `s` scoped to a loop over `nRows` rows.
    * AQE is off on the child: a scoped fixpoint round runs 3–5 tiny
    * shuffles whose partition count is already pinned here, so AQE's
    * per-shuffle stage materialization + re-optimization is pure added
    * latency — measured 12.4 → 10.9 s on the 20-round BPE merge loop
    * cold at sf0.1 (~0.08 s/round), with zero plan benefit forgone
    * (loop bodies pick their joins by explicit hint, and coalesce/skew
    * handling is moot at 8 partitions).
    */
  def scoped[T](s: SparkSession, nRows: Long)(body: SparkSession => T): T = {
    val parts = math.min(s.conf.get(Key).toLong,
      math.max(8L, nRows / RowsPerPartition))
    body(graft.GraftSession.scoped(s, Map(
      Key -> parts.toString, "spark.sql.adaptive.enabled" -> "false")))
  }
}
