package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * One place for the configs every entry point (Verify, Bench, tests,
  * apps) must agree on ([[SessionConf]]), and the ONE way code scopes
  * a conf override ([[scoped]]): nothing else calls `conf.set` on a
  * caller's session (DriftGuardSpec enforces it).
  *
  * Shuffle partitions are sized to the local core count, not the 200
  * default (local[N] = one JVM; 200 tiny partitions just adds task
  * overhead). On a real cluster AQE, which Spark enables by default,
  * coalesces them.
  */
object GraftSession {

  /** Session-wide configs. None restates a Spark default
    * (GraftSessionSpec checks each against a fresh SQLConf).
    */
  val SessionConf: Seq[(String, String)] = Seq(
    // DuckDB-oracle parity: the fixture timestamps are naive (parquet
    // TIMESTAMP without UTC adjustment → Spark `timestamp_ntz`), so no
    // wall-clock shifting may happen anywhere. Spark's default is the
    // JVM's zone, which differs by machine.
    "spark.sql.session.timeZone" -> "UTC",
    // The `events` fixture stores `ts` as parquet TIMESTAMP(NANOS);
    // Spark has no nanosecond timestamp type, so we read the raw int64
    // nanos and convert explicitly (see [[Tables.events]]).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // AQE coalesces a shuffle toward max(min(advisory size,
    // total / parallelism), minPartitionSize), where parallelism is
    // the cluster's core count. At the DEFAULT 1 MB minPartitionSize
    // every exchange under cores × 1 MB — at fixture scale ALL of the
    // derived text/vector exchanges (~0.1–3 MB compressed) — collapses
    // below the core count, and the CPU-heavy work after it (regexp
    // tokenize, quadratic verify dots, sketch folds) runs as ONE task
    // (measured: ta_tfidf's whole tokenize+tf chain and
    // dd_embed_cosine's 2M-pair verify ran with max_stage_tasks=1).
    // 64 KB keeps small-but-expensive exchanges spread over the cores
    // while still coalescing genuinely tiny tails; at cluster scale a
    // shuffle feeding real work is ≫ cores × 64 KB, so total /
    // parallelism (or the advisory size) dominates and this floor
    // never binds — a local-small-data correction, not a local-only
    // tuning.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // Scan-split sizing for the fixture scale: the default 128 MB
    // makes every fixture table (even sf1 lineitem at 105 MB) a
    // SINGLE scan task, serializing the scan+filter stage on one of
    // N cores. 16 MB splits multi-row-group files (sf1 lineitem =
    // 6 × 1M-row groups → 6 tasks); single-row-group files are
    // unsplittable regardless, which is why CPU-heavy text paths
    // additionally repartition raw rows (TextAnalysis.docs,
    // TextQueries.wordcount). A real 100 TB deployment keeps the
    // 128 MB default — there the file count, not this knob,
    // provides the parallelism.
    "spark.sql.files.maxPartitionBytes" -> "16m",
    // The ObjectHashAggregate sort-fallback threshold stays at the
    // Spark DEFAULT (128 keys in Spark 4) session-wide: a session-
    // global raise is a memory-pressure risk at scale — count-based,
    // so a wide-buffer typed aggregate could hold GBs per task before
    // the sort fallback engaged. The raise is SCOPED to the
    // similarity-tier trainer/encode/embed paths that measured the
    // 2.51×/octave sort-fallback regression, via [[typedHash]] child
    // sessions; every other tier keeps the default's bounded-memory
    // behavior.
    //
    // InferFiltersFromGenerate re-infers isnotnull/size filters on a
    // generator input every optimizer iteration; alias substitution
    // expands each copy into the full derived-column expression tree
    // and pushdown stacks them below the exchanges — measured 114 s
    // (of a 2 s query) when exploding an md5-derived prefix array at
    // sf0.1. The inferred filters are a skip-empty-rows optimization
    // only; dropping the rule is semantics-preserving.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    // Constraint propagation substitutes derived-column expression
    // trees (here: md5→shingle pipelines) into the constraint set of
    // every operator above them; on self-joins with residual
    // inequality predicates the set explodes and PLANNING dominates
    // execution 20× (prefix-join candidate stage: 75 s → 4 s
    // measured at sf0.1 by flipping this flag). The constraints only
    // buy inferred isnotnull/filter pruning, which the fixture plans
    // don't need — filters are explicit and keys are non-null.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // Compiled-class cache for generated code (JVM-wide, keyed by the
    // generated source). Spark's default of 100 entries is below this
    // engine's working set, so warm passes recompiled with Janino:
    // ~120 classes per pass on the 7-query relational workload, ~110
    // on the 7-query store-read workload, 3,145 in one warm sweep of
    // all 188 queries at sf0.01, which compiles up to 4,376 distinct
    // classes. Guava splits the bound over 4 segments (2,048 each
    // here, against ~1,100 classes per segment for the full sweep:
    // ~1.9× headroom). The bound is a class count, so memory stays
    // bounded at any data scale (the full sf0.01 sweep: +18 MB
    // metaspace, +15 MB code heap over the default). STATIC conf:
    // read once, when CodeGenerator is first initialised, so it only
    // takes effect on the builder of the JVM's first session (see
    // [[local]]).
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    // The cache key is the generated source, and by default a
    // whole-stage class is named after its codegen stage id. AQE
    // plans each query stage as its inputs finish, so when independent
    // shuffles race (ta_tfidf's two document scans) the ids can differ
    // run to run, and the same pipeline came back under a new name and
    // recompiled on a warm run. One class name makes the key the
    // pipeline's code alone; identical pipelines of different stages
    // and queries then share one class too. Stage ids stay in the plan
    // and in the generated code's comments.
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.ui.enabled" -> "false",
  )

  def local(cores: String, shufflePartitions: String,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
    // Pre-context overrides (e.g. SpillProof's constrained
    // spark.memory.fraction) and static confs (the codegen cache's
    // spark.sql.codegen.cache.maxEntries in SessionConf) — only
    // effective for the JVM's FIRST session, since local-mode executor
    // memory is fixed at context creation and static SQL confs are
    // read from the context's conf; later callers get the existing
    // context regardless.
    val spark = (SessionConf ++ extraConf).foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session sized from the driver's env contract. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    local(cpus, cpus)
  }

  /** parent → (effective conf → child). Weak keys: a dropped parent
    * takes its children with it (a child holds no reference to its
    * parent).
    */
  private val children = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[Map[String, String], SparkSession]]

  /** Child session with an ISOLATED SQLConf: shares the SparkContext,
    * block manager and catalog, but owns its conf, so a scoped helper
    * (fixpoint loops, streaming lifecycles, typed-hash builds) can
    * override settings without mutating — or having to restore — the
    * caller's session, and without racing concurrent queries on it.
    *
    * `newSession()` alone starts from the CONTEXT defaults, which
    * would silently drop any runtime conf the parent has changed
    * since startup; the parent's runtime conf is therefore copied
    * first (static/non-modifiable entries skipped — they are
    * context-global and already shared), then the overrides applied.
    *
    * Memoized per parent, keyed by the child's effective conf (the
    * parent's runtime conf plus `overrides`): a repeated scope reuses
    * its child — a fresh session costs tens of ms per call — and a
    * parent whose conf has changed since gets a new child, never a
    * stale one. Plan nodes capture their session at planning time, so
    * frames built on the child execute under its conf while the
    * parent (and every consumer rebound onto it) keeps its own.
    */
  def scoped(s: SparkSession, overrides: Map[String, String]): SparkSession = {
    val parentConf = s.conf.getAll
    children.synchronized {
      children.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(parentConf ++ overrides, {
          val ss = s.newSession()
          parentConf.foreach { case (k, v) =>
            try if (ss.conf.isModifiable(k)) ss.conf.set(k, v)
            catch { case _: Exception => () }
          }
          overrides.foreach { case (k, v) => ss.conf.set(k, v) }
          ss
        })
    }
  }

  val StatePartitionsKey = "spark.graft.streaming.statePartitions"
  val WavePartitionsKey = "spark.graft.streaming.wavePartitions"

  /** Streaming lifecycle shuffle/state partition sizing: the stateful
    * gates and store-build waves run their micro-batches on child
    * sessions pinned to a SMALL partition count sized to the data
    * (state-key cardinality for the stateful gates, wave volume for
    * the ingest stores), not the core count. The counts are a single
    * documented conf each — `spark.graft.streaming.statePartitions`
    * (default 4) and `spark.graft.streaming.wavePartitions` (default
    * 8) — set on the parent session (or spark-defaults) by a
    * deployment whose state or wave volume outgrows the defaults.
    * Partition count never affects emitted rows (spec-pinned
    * invariance). Each returns the override for [[scoped]].
    */
  def statePartitions(s: SparkSession): Map[String, String] =
    streamPartitions(s, StatePartitionsKey, 4)

  def wavePartitions(s: SparkSession): Map[String, String] =
    streamPartitions(s, WavePartitionsKey, 8)

  private def streamPartitions(s: SparkSession, key: String,
      default: Int): Map[String, String] =
    Map("spark.sql.shuffle.partitions" ->
      s.conf.getOption(key).flatMap(_.toIntOption).filter(_ > 0)
        .getOrElse(default).toString)

  /** ObjectHashAggregate key threshold for the similarity-tier
    * trainer/encode/embed aggregations. The vec_id-keyed typed
    * aggregates (ArgPickAgg argmax/argmin, VecScatterSumAgg) MUST stay
    * hash passes at octave scale (128× ≈ 440k keys/task, 640× ≈ 2M —
    * the sort fallback was the 2.51×/octave ss_rag_index cold
    * crossing), and their in-memory map is byte-bounded in practice:
    * ArgPickAgg buffers are ~24 B/key (4M keys ≈ 100 MB worst case),
    * and the Dim-long VecScatterSumAgg (~520 B/key) is keyed by chunk
    * with keys/task bounded by scan/shuffle partition sizing (measured
    * 640× regime: ~210k keys/task ≈ 110 MB) — the count threshold is a
    * backstop there, not the working bound. The wide-buffer VecSumAgg
    * updates are keyed by centroid/codebook cell (bounded cardinality)
    * and never reach any threshold. Everything outside these paths —
    * collect_list tiers, multimodal, text — keeps Spark's default
    * 128-key fallback.
    */
  val TypedHashKeys: Int = 4 * 1024 * 1024

  /** The child session the similarity-tier trainer/encode/embed frames
    * are BUILT on: the eager per-round checkpoints and the
    * Lineage-persisted frames compiled from this session execute their
    * ObjectHashAggregates under the raised threshold while the parent
    * session (and every consumer of the materialized frames) keeps the
    * default.
    */
  def typedHash(s: SparkSession): SparkSession =
    scoped(s, Map("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      TypedHashKeys.toString))
}
