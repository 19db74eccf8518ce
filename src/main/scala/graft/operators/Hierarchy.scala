package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash.hash60

/** Recursive-hierarchy traversal — the engine's answer to
  * `WITH RECURSIVE` (org charts, category trees, reply threads,
  * BOM explosions). Spark has no recursive CTE; the scalable
  * equivalent is ANCESTOR DOUBLING: maintain per node its 2^i-th
  * ancestor and the hop distance to it, square the mapping each
  * round (join it with itself), and every node reaches the root in
  * ⌈log₂ depth⌉ rounds — the classic pointer-jumping bound, same
  * family as [[graft.dedup.Dedup.connectedComponents]] but computing
  * DEPTH, which label propagation cannot (labels lose path length).
  *
  * The tree is derived deterministically from the customer table:
  * parent(k) = hash60('h:'||k) mod k for k ≥ 1 (a uniformly random
  * recursive tree — expected depth ln n, max depth ~e·ln n), node 0
  * the root. Both engines build the identical forest, so DuckDB can
  * gate the full depth assignment with an actual WITH RECURSIVE walk
  * — the oracle IS the recursive CTE this operator replaces.
  *
  * Scale shape: each round is ONE self-equi-join of the (node, anc,
  * d) frame on anc=node — hash-shuffle on node ids, no window, no
  * driver data; rounds are logarithmic in depth (a 10^9-node tree of
  * depth 60 needs 6 rounds); convergence is a scalar sum check per
  * round (d is monotone non-decreasing and strictly increases for
  * any node not yet anchored at the root). localCheckpoint flattens
  * lineage across rounds exactly as in connectedComponents.
  */
object Hierarchy {

  def q51Hierarchy(s: SparkSession, dir: String): DataFrame =
    depths(Tables(s, dir, "customer").select(col("c_custkey").as("k")))
      .select(col("node").as("c_custkey"), col("depth"))
      .orderBy("c_custkey")

  /** Depth of every key in the derived forest over an ARBITRARY key
    * set. A node whose derived parent key is absent from the set is a
    * ROOT (depth 0) — forest semantics, so gapped keyspaces (shard
    * offsets, deleted ranges — e.g. the make_scale sf1 fixture's
    * CUST_OFF-strided keys) stay total instead of silently dropping
    * every chain that walks into a gap. With the root rule the
    * doubling join below is total (every anc exists in the frame), so
    * per-node d is monotone non-decreasing and the scalar-sum
    * convergence check is sound.
    */
  private[graft] def depths(nodes: DataFrame): DataFrame = {
    val rawPar = nodes.select(col("k").as("node"),
      when(col("k") === 0, lit(null).cast("long"))
        .otherwise(hash60(concat(lit("h:"), col("k").cast("string")))
          % col("k")).as("par"))
    // Root rule: parent NULL (node 0) or not in the key set.
    val withEx = rawPar.join(
      nodes.select(col("k").as("par"), lit(1).as("pex")), Seq("par"), "left")
    // A_0: roots anchor at themselves with distance 0; everyone else
    // at their parent with distance 1.
    val seeded = withEx.select(col("node"),
        when(col("par").isNull || col("pex").isNull, col("node"))
          .otherwise(col("par")).as("anc"),
        when(col("par").isNull || col("pex").isNull, lit(0L))
          .otherwise(lit(1L)).as("d"))
      .localCheckpoint()
    def distSum(df: DataFrame): Long = {
      // null-safe: SUM over an empty frame is NULL, and a frame this
      // small should still fail loudly on the cap, not NPE here
      val v = df.agg(sum(col("d"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }
    val seed = seeded.agg(count(lit(1)), sum(col("d"))).first()
    val nNodes = seed.getLong(0)
    var prevSum = if (seed.isNullAt(1)) 0L else seed.getLong(1)
    var converged = false
    var rounds = 0
    val MaxRounds = 40
    // Doubling rounds scoped to the node count — see operators.Fixpoint.
    val ancestors = Fixpoint.scoped(nodes.sparkSession, nNodes) { cs =>
    import org.apache.spark.sql.graft.ColumnBridge.onSession
    var anc = onSession(cs, seeded)
    while (!converged && rounds < MaxRounds) {
      // statsBarrier: ancestor doubling self-joins anc with itself, so
      // checkpoint-preserved stats square per round (see
      // ColumnBridge.statsBarrier for the failure mode this prevents).
      val next = org.apache.spark.sql.graft.ColumnBridge.statsBarrier(
        anc.as("a")
          .join(anc.select(col("node").as("anc"), col("anc").as("anc2"),
            col("d").as("d2")).as("b"), "anc")
          .select(col("a.node").as("node"), col("anc2").as("anc"),
            (col("a.d") + col("d2")).as("d"))
          .localCheckpoint())
      val nextSum = distSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      anc = next
      rounds += 1
    }
    onSession(nodes.sparkSession, anc)
    }
    if (!converged) throw new IllegalStateException(
      s"hierarchy: ancestor doubling did not converge in $MaxRounds " +
        "rounds — tree depth exceeds 2^MaxRounds or the parent " +
        "derivation produced a cycle")
    ancestors.select(col("node"), col("d").as("depth"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q51_hierarchy" -> q51Hierarchy,
  )

  val oracles: Map[String, String] = Map(
    // The oracle is the recursive CTE itself: walk the identical
    // derived forest top-down from the roots (same root rule: a
    // parent key absent from the key set makes the node a root).
    "q51_hierarchy" ->
      """WITH RECURSIVE par AS (
           SELECT c_custkey AS k,
             CASE WHEN c_custkey = 0 THEN NULL
               ELSE CAST(('0x' || substr(md5('h:' || c_custkey), 1, 15))
                 AS BIGINT) % c_custkey END AS parent
           FROM customer),
         par2 AS (
           SELECT p.k,
             CASE WHEN e.k IS NULL THEN NULL ELSE p.parent END AS parent
           FROM par p LEFT JOIN par e ON p.parent = e.k),
         walk AS (
           SELECT k, CAST(0 AS BIGINT) AS depth FROM par2
           WHERE parent IS NULL
           UNION ALL
           SELECT p.k, w.depth + 1 FROM par2 p JOIN walk w
           ON p.parent = w.k)
         SELECT k AS c_custkey, depth FROM walk ORDER BY c_custkey""",
  )
}
