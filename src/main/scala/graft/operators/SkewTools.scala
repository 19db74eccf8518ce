package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling recipes (SURVEY.md §4.3: the reference serializes a
  * hot key on one partition mutex, `src/mapreduce.c:289`; at 100 TB a
  * hot key serializes a whole reducer the same way).
  *
  * First line of defense is AQE (`skewJoin.enabled`, on by Spark's
  * default). This module is the explicit recipe for the case AQE
  * cannot fix: an *aggregation* whose group key is so hot that one
  * partition's partial buffer dominates (AQE splits skewed JOIN
  * partitions, not aggregation groups).
  *
  * [[saltedAgg]] is the classic two-phase rewrite: append a random
  * salt to the key → partial aggregate over (key, salt) spreads the
  * hot key over `salts` reducers → final aggregate over the key
  * merges the partials. Works for any algebraic aggregate (sum,
  * count, min, max — anything with an associative merge).
  *
  * WHEN EACH WINS (demonstrated head-to-head on a planted hot key in
  * SkewAqeSpec): AQE's skew split is the default — zero code, it sees
  * actual map-output sizes at runtime, splits exactly the oversized
  * partitions, and costs nothing when there is no skew. Use the
  * explicit recipes for what AQE cannot touch: skew in an AGGREGATION
  * group ([[saltedAgg]] — AQE never splits aggregation groups), a
  * streaming join (no AQE), or a join whose hot partition must stay
  * whole for a following partition-wise op ([[saltedJoin]]). Where
  * both apply, prefer AQE: salting pays |small|×salts replication
  * unconditionally, AQE splits only when runtime sizes demand it.
  */
object SkewTools {

  /** Two-phase salted sum/count aggregation.
    *
    * @param df     input
    * @param key    group key column name
    * @param sums   columns to SUM (exact decimal discipline is the
    *               caller's job, per [[Exact]])
    * @param salts  fan-out per key (number of partial groups)
    */
  def saltedAgg(df: DataFrame, key: String, sums: Seq[String],
      salts: Int): DataFrame = {
    val partial = df
      .withColumn("__salt", (rand(seed = 42) * salts).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"),
        sums.map(c => sum(col(c)).as(s"__s_$c")): _*)
    partial
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"),
        sums.map(c => sum(col(s"__s_$c")).as(s"sum_$c")): _*)
  }

  /** The same result un-salted, for differential testing. */
  def plainAgg(df: DataFrame, key: String, sums: Seq[String]): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sums.map(c => sum(col(c)).as(s"sum_$c")): _*)

  /** Skew-safe replicated-salt equi-join: when one join key carries a
    * disproportionate share of the BIG side's rows, a plain shuffle
    * join serializes that key on one reducer. Salting spreads it:
    * every big-side row gets a deterministic salt in [0, salts), the
    * SMALL side is replicated once per salt value, and the join runs
    * on (key, salt) — the hot key now occupies `salts` reducers. The
    * result is row-identical to `big.join(small, key)` because each
    * big row meets exactly one replica of its matching small row.
    *
    * The salt must be a function of the row (not `rand()`) so retried
    * tasks salt identically; xxhash64 over all big-side columns is
    * deterministic and spreads uniformly. Cost: |small| × salts
    * replication — the recipe is for big⋈small joins where AQE's
    * skew-join splitting doesn't apply (e.g. the small side arrives
    * broadcast-unfriendly or the skew is in an aggregation feeding
    * the join).
    *
    * CAVEAT — fully-duplicate rows: because the salt is a pure
    * function of the row's columns, byte-identical copies of a hot-key
    * row all land on ONE salt and the spread silently degrades to the
    * duplicate multiplicity. Skewed-by-duplication inputs should
    * either pre-aggregate the duplicates (carry a count column — the
    * cheaper plan anyway) or mix a per-partition row index into the
    * hash; a nondeterministic index is NOT used here by default
    * because task retries would re-salt rows and double-count them.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    // Collision-checked internal column name: "__salt" could collide
    // with user data (it did not deserve to be load-bearing).
    val saltCol = Iterator.from(0).map(i => s"__graft_salt_$i")
      .find(n => !big.columns.contains(n) && !small.columns.contains(n))
      .get
    val b = big.withColumn(saltCol,
      pmod(xxhash64(big.columns.map(col): _*), lit(salts)).cast("int"))
    val sm = small.withColumn(saltCol,
      explode(sequence(lit(0), lit(salts - 1))))
    b.join(sm, Seq(key, saltCol)).drop(saltCol)
  }
}
