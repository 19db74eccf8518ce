package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.onSession

import graft.Tables

/** Market-basket and graph analytics over the co-purchase structure
  * latent in `lineitem` — two more classic warehouse workloads the
  * engine should speak natively ([ext]; the reference has no joins at
  * all, SURVEY.md §2.3):
  *
  *  - [[q49BasketRules]] — frequent-itemset pair mining with
  *    support / confidence / lift (the Apriori k=2 pass — the one
  *    that dominates runtime in practice, and the payload of every
  *    "customers also bought" feature).
  *  - [[q50Triangles]]  — per-vertex triangle counting on the
  *    co-purchase graph, via DEGREE-ORDERED edge orientation (the
  *    standard scale trick: orienting every edge from its lower-
  *    (degree, id) endpoint to its higher one makes the wedge join's
  *    fan-out per vertex O(max out-degree) = O(√m) on skewed graphs,
  *    instead of O(max degree) — the hub vertex stops being a join
  *    hot key).
  *
  * Both are pure integer-count arithmetic until a final double
  * division per output row, so the DuckDB gate is bit-exact.
  *
  * Scale shape: baskets (distinct order→part) shuffle once on
  * order key; the pair generation self-join is keyed on the order —
  * fan-out bounded by basket size squared (TPC-H ≤ 7 items ⇒ ≤ 21
  * pairs), never by catalog size; item supports reuse the same
  * baskets frame; the triangle wedge join runs on the thresholded
  * (supp ≥ 2) edge set, orders of magnitude smaller than raw pairs.
  */
object GraphBasket {

  /** Minimum pair support for an association rule. */
  val MinRuleSupport = 3L

  /** Minimum co-purchase count for a graph edge. */
  val MinEdgeSupport = 2L

  // MATERIALIZED SHARED LINEAGE (VERDICT r4 item 5): the distinct
  // basket frame and the supp ≥ [[MinEdgeSupport]] co-purchase pair
  // list are the common prefix of all four graph/basket queries
  // (q49/q50/q52/q60) — and of every rep of each in a bench sweep.
  // Persisted per (session, dir) via the engine-wide [[Lineage]]
  // helper (round 6: hoisted out of this file so the near-dup CC and
  // kNN-edge families share the same race-safe cache).
  private def materialized(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    Lineage.materialized(s, dir, s"graph_$key")(build)

  /** Distinct (order, part) baskets — persisted per (session, dir). */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "baskets") {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
    }

  /** Co-purchase pairs (pa < pb) with their support, thresholded.
    * The supp ≥ [[MinEdgeSupport]] frame is the persisted shared
    * edge list; stricter thresholds (q49's ≥ [[MinRuleSupport]])
    * filter it — `HAVING count ≥ 3` ≡ `HAVING count ≥ 2` then
    * `WHERE supp ≥ 3`, so the oracles are untouched.
    */
  private def pairs(s: SparkSession, dir: String, minSupp: Long): DataFrame = {
    val base = materialized(s, dir, "edges") {
      val op = baskets(s, dir)
      op.as("a")
        .join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= MinEdgeSupport)
    }
    if (minSupp <= MinEdgeSupport) base
    else base.filter(col("supp_ab") >= minSupp)
  }

  // ---------------------------------------------------------------
  // q49: association rules on frequent pairs — supp(ab) ≥ 3 with
  // conf(a→b), conf(b→a) and lift. The scalar order count joins in
  // as a broadcast 1-row frame (no collect); lift's numerator and
  // denominator are exact integer products (< 2^53) so the single
  // IEEE division matches DuckDB bitwise.
  def q49BasketRules(s: SparkSession, dir: String): DataFrame = {
    val op = baskets(s, dir)
    val n = op.agg(countDistinct("o").as("n_orders"))
    val item = op.groupBy(col("p")).agg(count(lit(1)).as("supp"))
    pairs(s, dir, MinRuleSupport)
      .join(item.select(col("p").as("pa"), col("supp").as("supp_a")), "pa")
      .join(item.select(col("p").as("pb"), col("supp").as("supp_b")), "pb")
      .crossJoin(broadcast(n))
      .select(col("pa"), col("pb"), col("supp_ab"),
        col("supp_a"), col("supp_b"),
        (col("supp_ab").cast("double") / col("supp_a")).as("conf_a_b"),
        (col("supp_ab").cast("double") / col("supp_b")).as("conf_b_a"),
        ((col("supp_ab") * col("n_orders")).cast("double") /
          (col("supp_a") * col("supp_b"))).as("lift"))
      .orderBy("pa", "pb")
  }

  // ---------------------------------------------------------------
  // q50: per-part triangle participation on the supp ≥ 2 co-purchase
  // graph. Edges are oriented low→high by (degree, id) — a total
  // acyclic order, so each triangle is enumerated exactly once as
  // e(a,b) ⋈ e(b,c) ⋈ e(a,c) — then unpivoted so every corner part
  // gets credit.
  def q50Triangles(s: SparkSession, dir: String): DataFrame = {
    val e0 = pairs(s, dir, MinEdgeSupport)
      .select("pa", "pb")
    val deg = e0.select(col("pa").as("v"))
      .unionByName(e0.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    // localCheckpoint: the oriented edge list feeds the wedge join
    // THREE times — materializing it once keeps the branches reading
    // one small table instead of re-running the degree joins per
    // branch (ReusedExchange does not survive the cached-e0 scan;
    // measured 8.2 s vs 2.2 s at sf0.1).
    val e = e0
      .join(deg.select(col("v").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("v").as("pb"), col("d").as("db")), "pb")
      .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
        when(lower, col("pb")).otherwise(col("pa")).as("w"))
      .localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.w") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.w") === col("e2.w"))
      .select(col("e1.u").as("a"), col("e1.w").as("b"), col("e2.w").as("c"))
    tri.select(col("a").as("part"))
      .unionByName(tri.select(col("b").as("part")))
      .unionByName(tri.select(col("c").as("part")))
      .groupBy("part").agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), asc("part"))
  }

  // ---------------------------------------------------------------
  // q52: PageRank on the undirected co-purchase graph — the canonical
  // iterative-convergence workload (the reference has no iteration at
  // all; its pipelines are single map→reduce passes,
  // /root/reference/src/mapreduce.c:318-380).
  //
  // Hash-gate discipline: classic PageRank is double arithmetic whose
  // per-vertex sums depend on partition arrival order, so it can never
  // hash-match an oracle. Here ALL iteration state is integer: ranks
  // are scaled to [[PrScale]] quanta, each contribution is an integral
  // `div`, and the damping update is `(15·S) div (100·n) +
  // (85·Σcontrib) div 100`. Integer sums are associative — any
  // shuffle order gives bit-identical ranks in both engines — and the
  // one double in the output is a single final division by a power of
  // ten below 2^53. (Quantization error vs real PageRank is ≤
  // deg·2^-40 per vertex per round — far below any ranking decision.)
  //
  // Scale shape: degree is joined into the edge list ONCE, and the
  // [[PrIters]] rounds are ONE plan, checkpointed once: each round is
  // one shuffle-hash join of the rank frame on the `u`-partitioned edge
  // checkpoint (the rank frame leaves the previous round hash-
  // partitioned on its vertex, so the join itself moves nothing) and
  // one partial-aggregated shuffle (sum by dst). The vertex count is a
  // driver literal: a broadcast one-row frame would be re-broadcast by
  // every round, since each round's copy of its checkpoint scan gets
  // fresh attribute ids and so never matches for exchange reuse. Each
  // round reads the previous one once, so the plan grows linearly and,
  // with a fixed round count, its size estimates cannot compound into
  // the optimizer stall `statsBarrier` guards (see Fixpoint).
  def q52PageRank(s: SparkSession, dir: String): DataFrame = {
    val p = pairs(s, dir, MinEdgeSupport)
    // Sized from the shared edge frame, whose cache knows its rows.
    val ranks = Fixpoint.scoped(s, 2 * Lineage.rows(p)) { cs =>
    val ed = undirected(onSession(cs, p))
    val deg = ed.groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint()
    // hash-partition the edge list on the per-round join key ONCE;
    // localCheckpoint preserves the partitioning, so no round
    // exchanges the edges
    val edges = ed.join(deg, "u").repartition(col("u")).localCheckpoint()
    // at least 1: with no vertices there is no rank to divide
    val nv = deg.count().max(1L)
    var r = deg.select(col("u").as("v"), lit(PrScale / nv).as("r"))
    for (_ <- 1 to PrIters)
      r = edges.join(r.hint("shuffle_hash"), col("u") === col("v"))
        .select(col("w"), expr("r div d").as("c"))
        .groupBy("w").agg(sum("c").as("m"))
        .select(col("w").as("v"),
          (lit(15 * PrScale / (100 * nv)) + expr("(85 * m) div 100")).as("r"))
    onSession(s, r.localCheckpoint())
    }
    ranks.select(col("v").as("part"), col("r").as("rank_scaled"),
        (col("r").cast("double") / lit(PrScale).cast("double")).as("pr"))
      .orderBy(desc("rank_scaled"), asc("part"))
  }

  /** Both directions of every co-purchase pair, as (u, w). */
  private def undirected(p: DataFrame): DataFrame =
    p.select(col("pa").as("u"), col("pb").as("w"))
      .unionByName(p.select(col("pb").as("u"), col("pa").as("w")))

  /** Rank quantum: 1e-12 of total mass. */
  val PrScale = 1000000000000L

  /** Fixed iteration count — mirrored exactly by the unrolled oracle. */
  val PrIters = 6

  // ---------------------------------------------------------------
  // q60: BFS shortest-path distances from a deterministic source (the
  // minimum vertex id) on the co-purchase graph, bounded to
  // [[BfsRounds]] hops — the frontier-expansion workload (reachability
  // / "products within k recommendation hops"), completing the
  // iterative-graph trio with q51's DAG doubling and q52's full
  // per-round relaxation.
  //
  // Hash-gate discipline: distances are pure integers and min() is
  // order-independent, so a fixed round count gives bit-identical
  // results in any execution order; vertices still unreached after
  // [[BfsRounds]] rounds are absent in both engines.
  //
  // Scale shape: the [[BfsRounds]] relaxations are ONE plan,
  // checkpointed once, as in q52PageRank: each round is one shuffle-
  // hash join of the vertex-sized distance frame on the `u`-partitioned
  // edge checkpoint plus one partial-aggregated min-recombine shuffle,
  // and nothing broadcasts. The source, a global `min(u)`, is observed
  // by the edge checkpoint's own job, so it costs no stage, and round 1
  // needs no join. (True frontier-only expansion — joining just the
  // rows whose d changed — is an optimization that does not change the
  // fixed-round result.)
  def q60Bfs(s: SparkSession, dir: String): DataFrame = {
    val p = pairs(s, dir, MinEdgeSupport)
    // Sized from the shared edge frame, as in q52PageRank.
    val dists = Fixpoint.scoped(s, 2 * Lineage.rows(p)) { cs =>
      onSession(s, bfs(undirected(onSession(cs, p)).repartition(col("u")))
        .localCheckpoint())
    }
    dists.select(col("v").as("part"), col("d").as("dist"))
      .orderBy("dist", "part")
  }

  /** Hop distances (v, d) from the minimum `u` of the symmetric edge
    * list `edges` (u, w), after [[BfsRounds]] relaxations. The edges
    * are checkpointed once, and that job also yields the source: the
    * global `min(u)`, observed as the rows pass. Round 1 is then the
    * source's own edges; each later round sends every reached vertex
    * its own distance and each neighbour that distance + 1, then keeps
    * the minimum per vertex. Every reached vertex is an edge endpoint,
    * so the inner join keeps it. With no edges the source is `null`,
    * which matches no edge, so the result is empty.
    */
  private[operators] def bfs(edges: DataFrame): DataFrame = {
    val source = Observation()
    val e = edges.observe(source, min("u").as("v")).localCheckpoint()
    def relax(from: DataFrame, d: Column) =
      from.select(explode(array(struct(col("u").as("v"), d.as("d")),
          struct(col("w").as("v"), (d + 1L).as("d")))).as("x"))
        .groupBy(col("x.v").as("v")).agg(min("x.d").as("d"))
    var dist = relax(e.filter(col("u") === lit(source.get("v"))), lit(0L))
    for (_ <- 2 to BfsRounds)
      dist = relax(e.join(dist.hint("shuffle_hash"), col("u") === col("v")),
        col("d"))
    dist
  }

  /** Hop bound for the BFS — mirrored by the unrolled oracle. */
  val BfsRounds = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q49_basket_rules" -> q49BasketRules,
    "q50_triangles" -> q50Triangles,
    "q52_pagerank" -> q52PageRank,
    "q60_bfs" -> q60Bfs,
  )

  private val Baskets =
    "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem"

  val oracles: Map[String, String] = Map(
    "q49_basket_rules" ->
      s"""WITH op AS ($Baskets),
         n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM op),
         item AS (SELECT p, COUNT(*) AS supp FROM op GROUP BY p),
         pairs AS (SELECT a.p AS pa, b.p AS pb, COUNT(*) AS supp_ab
           FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= $MinRuleSupport)
         SELECT pa, pb, CAST(supp_ab AS BIGINT) AS supp_ab,
           CAST(ia.supp AS BIGINT) AS supp_a,
           CAST(ib.supp AS BIGINT) AS supp_b,
           CAST(supp_ab AS DOUBLE) / ia.supp AS conf_a_b,
           CAST(supp_ab AS DOUBLE) / ib.supp AS conf_b_a,
           CAST(supp_ab * n_orders AS DOUBLE) / (ia.supp * ib.supp)
             AS lift
         FROM pairs JOIN item ia ON pa = ia.p
           JOIN item ib ON pb = ib.p, n
         ORDER BY pa, pb""",
    "q50_triangles" ->
      s"""WITH op AS ($Baskets),
         e0 AS (SELECT a.p AS pa, b.p AS pb FROM op a JOIN op b
           ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= $MinEdgeSupport),
         deg AS (SELECT v, COUNT(*) AS d FROM
           (SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
           GROUP BY v),
         e AS (SELECT
             CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb)
               THEN pa ELSE pb END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb)
               THEN pb ELSE pa END AS w
           FROM e0 JOIN deg da ON pa = da.v JOIN deg db ON pb = db.v),
         tri AS (SELECT e1.u AS a, e1.w AS b, e2.w AS c
           FROM e e1 JOIN e e2 ON e1.w = e2.u
           JOIN e e3 ON e3.u = e1.u AND e3.w = e2.w),
         t3 AS (SELECT a AS part FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
         FROM t3 GROUP BY part ORDER BY n_triangles DESC, part""",
    "q52_pagerank" -> prOracle,
    "q60_bfs" -> bfsOracle,
  )

  /** BFS oracle: [[BfsRounds]] min-relaxation rounds as chained CTEs
    * (same unrolling rationale as [[prOracle]]); the source is the
    * minimum vertex id, a deterministic scalar subquery.
    */
  private def bfsOracle: String = {
    val rounds = (1 to BfsRounds).map { k =>
      s"""d$k AS (SELECT v, MIN(d) AS d FROM (
           SELECT v, d FROM d${k - 1}
           UNION ALL
           SELECT e.w AS v, p.d + 1 AS d
           FROM edges e JOIN d${k - 1} p ON e.u = p.v) GROUP BY v)"""
    }.mkString(",\n         ")
    s"""WITH op AS ($Baskets),
       e0 AS (SELECT a.p AS pa, b.p AS pb FROM op a JOIN op b
         ON a.o = b.o AND a.p < b.p
         GROUP BY 1, 2 HAVING COUNT(*) >= $MinEdgeSupport),
       edges AS (SELECT pa AS u, pb AS w FROM e0
         UNION ALL SELECT pb, pa FROM e0),
       d0 AS (SELECT MIN(u) AS v, 0 AS d FROM edges),
       $rounds
       SELECT v AS part, CAST(d AS BIGINT) AS dist
       FROM d$BfsRounds ORDER BY dist, part"""
  }

  /** The PageRank oracle unrolls [[PrIters]] damping rounds as chained
    * CTEs (aggregation inside a recursive CTE is non-portable). DuckDB
    * `//` and Spark `div` agree on non-negative integers, and DuckDB's
    * HUGEINT sums collapse back to the same BIGINT values Spark holds
    * throughout.
    */
  private def prOracle: String = {
    val rounds = (1 to PrIters).map { k =>
      s"""r$k AS (SELECT e.w AS v,
         ((15 * $PrScale) // (100 * n.nv))
           + ((85 * SUM(p.r // e.d)) // 100) AS r
         FROM edges e JOIN r${k - 1} p ON e.u = p.v, n
         GROUP BY e.w, n.nv)"""
    }.mkString(",\n         ")
    s"""WITH op AS ($Baskets),
       e0 AS (SELECT a.p AS pa, b.p AS pb FROM op a JOIN op b
         ON a.o = b.o AND a.p < b.p
         GROUP BY 1, 2 HAVING COUNT(*) >= $MinEdgeSupport),
       ed AS (SELECT pa AS u, pb AS w FROM e0
         UNION ALL SELECT pb, pa FROM e0),
       deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY u),
       edges AS (SELECT ed.u, ed.w, deg.d FROM ed JOIN deg USING (u)),
       n AS (SELECT COUNT(*) AS nv FROM deg),
       r0 AS (SELECT u AS v, $PrScale // n.nv AS r FROM deg, n),
       $rounds
       SELECT v AS part, CAST(r AS BIGINT) AS rank_scaled,
         CAST(r AS DOUBLE) / $PrScale AS pr
       FROM r$PrIters ORDER BY rank_scaled DESC, part"""
  }
}
