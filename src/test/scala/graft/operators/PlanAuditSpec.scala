package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TempDirs}

/** Physical-plan audits: correctness is the oracle gate's job; this
  * suite pins the *plan shapes* that make the same queries viable at
  * 100 TB — filters reaching the parquet scan, column pruning,
  * broadcast joins for dims, TakeOrderedAndProject for top-k, and
  * map-side partial aggregation. A regression here means a silent
  * 10–100× cost at scale long before any test fails on 60k rows.
  */
class PlanAuditSpec extends SparkSpec with TempDirs {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("q2: predicate pushdown and column pruning reach the scan") {
    val p = plan(Relational.q2FilterProject(spark, sf))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("p_size") && p.contains("p_type"))
    // Column pruning: the scan must not read p_brand-adjacent noise
    // beyond the projected set — part has 6 columns, we use 5.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
    assert(readSchema.exists(!_.contains("p_container")))
  }

  test("q5: tiny dims are broadcast, not shuffled") {
    val p = plan(Relational.q5NationRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("q3/q7: top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan(Relational.q3TopOrders(spark, sf))
      .contains("TakeOrderedAndProject"))
    assert(plan(Relational.q7TopOrderValues(spark, sf))
      .contains("TakeOrderedAndProject"))
  }

  test("q1: aggregation is partial (map-side combine before shuffle)") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_"))
  }

  test("wordcount runs inside whole-stage codegen with no UDFs") {
    val df = graft.text.WordCount(Tables(spark, sf, "documents"), "text")
    df.collect() // materialize so AQE finalizes the adaptive plan
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan.
    assert(p.contains("*(1)"))
    assert(p.contains("partial_count")) // map-side combine before shuffle
    assert(!p.contains("ScalaUDF"))
  }

  test("hive-style partitioned layout prunes partitions at the scan") {
    val dir = tempDir("graft_part").toString
    val ev = Tables(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    val aDay = ev.select("day").head().getString(0)
    val pruned = spark.read.parquet(dir).filter(col("day") === aDay)
    val plan = pruned.queryExecution.executedPlan.toString
    // The day predicate must be a PartitionFilter (directory pruning),
    // not a data filter evaluated per row.
    assert(plan.contains("PartitionFilters") && plan.contains("day"))
    assert(pruned.count() ===
      ev.filter(col("day") === aDay).count())
  }

  test("ivf index written partitionBy(cid): a probe is partition pruning") {
    // The ivfTopK scaladoc claim, proven: persist the IVF assignment
    // partitioned by centroid id, probe NProbe lists, and the scan
    // must touch exactly NProbe of the NumCentroids directories —
    // at 100 TB each query reads NProbe/C of the corpus, not all of it.
    import graft.sim.VectorSearch
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tempDir("graft_ivf").toString
    VectorSearch.ivfAssign(spark, sf)
      .write.mode("overwrite").partitionBy("cid").parquet(dir)
    val index = spark.read.parquet(dir)
    val nParts = index.select("cid").distinct().count()
    val probes = Seq(3, 7).map(_.toLong) // any NProbe=2 centroid pair
    val probe = index.filter(col("cid").isin(probes: _*))
    probe.collect() // finalize the adaptive plan
    val scans = probe.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.nonEmpty,
      "cid probe must be a PartitionFilter, not a data filter")
    val touched = scans.head.selectedPartitions.partitionCount
    assert(touched === probes.size,
      s"probe touched $touched of $nParts partitions, expected ${probes.size}")
    // and the pruned read returns exactly the probed lists
    assert(probe.count() ===
      VectorSearch.ivfAssign(spark, sf)
        .filter(col("cid").isin(probes: _*)).count())
  }

  test("interval join plans as an equi join on user_id, never a " +
    "nested-loop/cartesian theta join") {
    val p = plan(graft.streaming.EventOps.stIntervalJoin(spark, sf))
    // The time window must be a RESIDUAL predicate on a keyed join —
    // a theta plan (NLJ/cartesian) would evaluate |views|×|purchases|
    // pairs regardless of user, the shape that dies at 100 TB.
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"))
  }

  test("lm_score count tables aggregate map-side; no UDFs anywhere") {
    val p = plan(graft.text.TextAnalysis.lmScore(spark, sf))
    assert(p.contains("partial_count")) // C1/C2 combine before shuffle
    assert(!p.contains("ScalaUDF"))
  }

  test("containment candidate stage is an equi join on the shingle key") {
    val p = plan(graft.dedup.Dedup.containment(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"))
  }

  test("bloom decontam: codegen'd might_contain prefilter below the " +
      "verify join; no theta join anywhere") {
    val p = plan(graft.dedup.Dedup.bloomDecontam(spark, sf))
    assert(p.contains("might_contain"),
      "Bloom probe must appear as a scan-side filter expression")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // The prefilter must run BEFORE the exact join: in the formatted
    // plan the Filter(might_contain) node feeds the join's streamed
    // side, so might_contain appears below/before the first join op.
    val probeAt = p.indexOf("might_contain")
    val joinAt = math.max(p.indexOf("BroadcastHashJoin"),
      p.indexOf("SortMergeJoin"))
    assert(joinAt >= 0 && probeAt > joinAt,
      "prefilter must sit under the verify join (plans print top-down)")
  }

  test("heavy hitters: candidate join broadcasts; recount aggregates " +
      "map-side; MG pass shows as a typed mapPartitions only") {
    val p = plan(graft.operators.Sketches.heavyHitters(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "candidate set must broadcast — the full bigram space must not shuffle")
    assert(p.contains("partial_count"), "recount must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("interval LEFT join keeps the inner variant's keyed-join shape") {
    val p = plan(graft.streaming.EventOps.stIntervalLeft(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftOuter"))
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"))
  }

  test("semantic dedup: corpus-side label join needs no theta join") {
    val p = plan(graft.dedup.Dedup.semantic(spark, sf))
    // knnGraph's centroid pass IS a broadcast nested loop by design
    // (tiny centroid table against every vector — the IVF assignment);
    // what must never appear is an unkeyed join over corpus-sized
    // relations.
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftOuter"), "keep list must cover every vector")
  }

  test("approx_count_distinct (HLL++ scale path) tracks the exact count") {
    val r = Tables(spark, sf, "orders")
      .agg(countDistinct(col("o_custkey")).as("exact"),
        approx_count_distinct(col("o_custkey"), 0.01).as("approx"))
      .head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("no broadcast build side carries a raw (un-aggregated) " +
    "generate: token/piece STREAMS are never broadcast (round-9 " +
    "find: Catalyst's post-explode size estimate flipped the pack " +
    "dictionary join's build side onto the stream — a 3.6 GiB " +
    "broadcast at 32×, linear growth)") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // A Generate (explode/posexplode) below a broadcast build side
    // with NO aggregation in between means Spark is broadcasting a
    // per-token/per-piece stream — row count proportional to the
    // corpus, so the broadcast grows linearly and OOMs at scale. An
    // intervening aggregate bounds the subtree (vocabulary /
    // per-doc), which is the legitimate dictionary-broadcast shape.
    def rawGenerate(p: SparkPlan): Boolean = p match {
      case _: GenerateExec => true
      case _: BaseAggregateExec => false
      case other => other.children.exists(rawGenerate)
    }
    // The Generate-heavy text/pipeline surface (tokenize → explode →
    // dictionary join → pack/score); the static plan is audited —
    // the flip happened at static planning time.
    val audited = Seq("ta_bpe_encode", "ta_bpe_pack", "ta_bpe_score",
      "ta_bpe_bytes_encode", "ta_bpe_bytes_pack", "ta_bpe_sp_encode",
      "ta_unigram_encode", "ta_unigram_score", "ta_nb_quality",
      "ta_nb_eval", "ta_lm_score", "ta_line_dedup", "ta_tfidf",
      "ta_tok_store_encode", "pipe_corpus")
    audited.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val offenders = df.queryExecution.sparkPlan.collect {
        case b: BroadcastExchangeExec if rawGenerate(b.child) => b
      }
      assert(offenders.isEmpty,
        s"$name broadcasts a raw generate stream:\n" +
          offenders.map(_.toString.take(800)).mkString("\n"))
    }
  }
}
