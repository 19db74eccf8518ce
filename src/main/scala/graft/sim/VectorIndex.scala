package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.StoreRoot

/** PERSISTED IVFPQ INDEX with incremental add (VERDICT r6 item 3).
  *
  * The session-cached Lineage frames are the wrong LIFETIME for a
  * production ANN index: FAISS persists `train()`'s quantizers and the
  * inverted lists as an on-disk artifact, and tomorrow's embedding
  * batch is `add()`ed by encoding against the STORED quantizers —
  * never by retraining or re-encoding the historical corpus. This
  * module is that artifact as a Spark-native layout:
  *
  * ```
  * <path>/centroids/   parquet (cid, cv, cn)           — the IVF coarse quantizer
  * <path>/codebooks/   parquet (m, code, cbv)          — the PQ codebooks
  * <path>/lists/       parquet (vec_id, codes) PARTITIONED BY (cid)
  * ```
  *
  * `lists/` is the FAISS inverted-list file re-expressed as a Hive
  * layout: one directory per coarse cell holding PqM-byte code rows.
  * [[build]] trains on the base slice and writes all three;
  * [[append]] reads the two quantizer tables back, encodes ONLY the
  * new batch, and appends rows to the affected `cid=` directories —
  * parquet files are immutable, so the base data is provably
  * untouched (VectorIndexSpec asserts the file set only grows).
  * [[search]] is the IVFADC query over the stored tables; probing
  * joins on the partition column, so at scale a probe is directory
  * pruning exactly as the Lineage-cached [[VectorSearch.ivfPqTopK]]
  * promises.
  *
  * The declared gate `ss_ivfpq_incr` runs the full lifecycle: base =
  * the first ⌊0.9·N⌋ vec_ids (today's corpus), increment = the
  * suffix batch (tomorrow's ingest — new ids, the natural shape for
  * an append-only embedding store), quantizers trained ON BASE ONLY.
  * The DuckDB oracle recomputes base-trained quantizers, encodes the
  * FULL corpus with them and searches — exactly the store ∪ increment
  * contents — so the hash gate proves append ≡ full-rebuild-encode
  * under fixed quantizers (the [[graft.dedup.Dedup.incremental]]
  * equivalence, applied to the ANN index).
  */
object VectorIndex {

  import VectorSearch._

  /** Base fraction for the declared gate: vec_id < ⌊0.9·N⌋. */
  val BaseFrac = 0.9

  private[graft] def lists(path: String) = s"$path/lists"
  private[graft] def centPath(path: String) = s"$path/centroids"
  private[graft] def cbPath(path: String) = s"$path/codebooks"

  /** [[graft.operators.PhaseLog.phase]], kept under its historical
    * name for the sim tier's call sites.
    */
  private[sim] def phase[T](tag: String)(f: => T): T =
    graft.operators.PhaseLog.phase(tag)(f)

  /** Train quantizers on `base` and write the full artifact (the
    * base corpus encoded). Overwrites any previous index at `path`.
    */
  def build(base: DataFrame, path: String): Unit = {
    // The two trainers are independent fixed-round chains of small
    // sequential jobs; training them CONCURRENTLY (round 12) lets the
    // local scheduler interleave their per-round jobs, so the build's
    // wall is ~max of the two instead of their sum. Each chain is
    // internally eager (localCheckpoint per round), so the futures do
    // real work, not plan construction.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fCent = Future { lloydCentroids(base) }
    val fCb = Future { lloydCodebooks(base) }
    val (cent, cb) = phase("train(cent||cb)") {
      (Await.result(fCent, Duration.Inf),
        Await.result(fCb, Duration.Inf))
    }
    phase("write quantizers") {
      cent.write.mode("overwrite").parquet(centPath(path))
      cb.write.mode("overwrite").parquet(cbPath(path))
    }
    phase("encode+write base") {
      encode(base, cent, cb)
        .write.mode("overwrite").partitionBy("cid").parquet(lists(path))
    }
  }

  /** Encode a batch against GIVEN quantizers → (vec_id, codes, cid).
    * One broadcast of each quantizer table into two narrow passes —
    * the cost of an append is |batch| work, independent of the store
    * size.
    */
  private[graft] def encode(batch: DataFrame, cent: DataFrame,
      cb: DataFrame): DataFrame = {
    // Typed hash-agg argmax/argmin (round 13 — the kmeansRound
    // shape: identical selection to the former max/min(struct)
    // forms, which planned as SortAggregate and sorted the full
    // score stream; see ArgPickAgg).
    import graft.functions.ArgPickAgg.{argMaxId, argMinId}
    val asg = batch.join(broadcast(cent))
      .select(col("vec_id"),
        cosine(col("v"), col("cv"), col("nrm"), col("cn")).as("cc"),
        col("cid"))
      .groupBy("vec_id")
      .agg(argMaxId(col("cc"), col("cid")).as("cid"))
    val codes = subvecs(batch)
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"),
        subDist(col("sv"), col("cbv")).as("d"))
      .groupBy("vec_id", "m")
      .agg(argMinId(col("d"), col("code")).cast("int").as("code"))
      .groupBy("vec_id")
      .agg(collect_list(struct(col("m"), col("code"))).as("mc"))
      .select(col("vec_id"),
        transform(sort_array(col("mc")), x => x.getField("code"))
          .as("codes"))
    asg.join(codes, "vec_id").select("vec_id", "codes", "cid")
  }

  /** Incremental add: encode `batch` with the STORED quantizers and
    * append to the inverted lists. No retraining, no re-encoding of
    * stored rows — append-mode parquet only adds files to the
    * touched `cid=` directories.
    */
  def append(s: SparkSession, path: String, batch: DataFrame): Unit =
    phase("encode+append batch") {
      encode(batch,
        s.read.parquet(centPath(path)), s.read.parquet(cbPath(path)))
        .write.mode("append").partitionBy("cid").parquet(lists(path))
    }

  /** Index MAINTENANCE: compact inverted-list partitions whose
    * parquet file count exceeds `maxFiles`. Every [[append]] adds at
    * least one file to each touched `cid=` directory, so a
    * long-lived index accumulates per-file open/footer overhead on
    * exactly the partitions the probe join scans; compaction
    * rewrites ONLY the bloated partitions (dynamic partition
    * overwrite — the [[graft.sources.Formats.backfillPartitions]]
    * discipline), leaving every other partition's files
    * byte-for-byte untouched. The directory listing is driver-side
    * METADATA (the same stat calls split planning performs), never
    * data; the data path is one partition-pruned scan of the bloated
    * cids, re-clustered one-task-per-cid. The read is
    * localCheckpoint-materialized before the overwrite so the job
    * never reads the files it is replacing. At 100 TB scale the
    * `cids` argument bounds one run's memory: compact in cid batches
    * rather than all-at-once.
    *
    * Returns the compacted cids (empty = nothing exceeded the
    * threshold, store untouched — calling it again is a no-op).
    */
  def compact(s: SparkSession, path: String, maxFiles: Int = 4,
      cids: Option[Seq[Long]] = None): Seq[Long] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val listsDir = new HPath(lists(path))
    val fs = listsDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bloated = fs.listStatus(listsDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getPath.getName.stripPrefix("cid=").toLong)
      .filter(c => cids.forall(_.contains(c)))
      .sorted
    if (bloated.nonEmpty) {
      val sub = s.read.parquet(lists(path))
        .withColumn("cid", col("cid").cast("long"))
        .filter(col("cid").isin(bloated: _*)) // partition-pruned scan
        .repartition(col("cid"))
        .localCheckpoint()
      sub.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cid").parquet(lists(path))
    }
    bloated
  }

  /** IVFADC over the stored artifact for a (query_id, qv, qn) set;
    * exact rerank against `corpus`. Same shape as
    * [[VectorSearch.ivfPqTopK]] with every index input read from
    * disk.
    */
  def search(s: SparkSession, path: String, q: DataFrame,
      corpus: DataFrame): DataFrame =
    // The Hive layout re-infers the partition column from directory
    // names (cid=NN -> INT); restore the artifact's declared LONG.
    searchLists(s, path,
      s.read.parquet(lists(path)).withColumn("cid", col("cid").cast("long")),
      q, corpus)

  /** [[search]] with the inverted lists INJECTED — the seam that lets
    * a caller union the on-disk sealed lists with not-yet-published
    * rows (the [[graft.streaming.IndexIngest]] growing segment)
    * without changing the probe/ADC/rerank pipeline.
    */
  private[graft] def searchLists(s: SparkSession, path: String,
      stored: DataFrame, q: DataFrame, corpus: DataFrame): DataFrame =
    searchFrames(s, s.read.parquet(centPath(path)),
      s.read.parquet(cbPath(path)), stored, q, corpus)

  /** [[searchLists]] with the quantizer tables ALSO injected — the
    * seam [[VersionedIndex]] uses to point the probe/ADC/rerank
    * pipeline at one manifest-resolved snapshot of all three tables.
    */
  private[graft] def searchFrames(s: SparkSession, cent: DataFrame,
      cb: DataFrame, stored: DataFrame, q: DataFrame,
      corpus: DataFrame): DataFrame = {
    val wp = Window.partitionBy("query_id").orderBy(desc("pcos"), asc("cid"))
    val probes = q.join(broadcast(cent))
      .select(col("query_id"), col("cid"),
        cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("pcos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= NProbe)
      .select(col("query_id"), col("cid"))

    // The ADC table is looked up POSITIONALLY (dt[m·PqCodes + code]),
    // so it must be DENSE even when Lloyd's training emptied a
    // codebook cell (real on degenerate corpora — sparse vectors with
    // duplicate subvectors collapse assignments; found by the
    // ss_rag_index chunk corpus, where a sparse cb shifted every
    // position and the estimate read out of bounds). Cells absent
    // from the trained codebook are padded with MaxValue — no stored
    // code can reference them (codes come from the same codebook),
    // so the pad is never read; it only keeps positions aligned.
    val grid = q.sparkSession.range(PqM.toLong * PqCodes)
      .select((col("id") / PqCodes).cast("int").as("m"),
        (col("id") % PqCodes).cast("int").as("code"))
    val cbPad = grid.join(
      cb.select(col("m").cast("int").as("m"),
        col("code").cast("int").as("code"), col("cbv")),
      Seq("m", "code"), "left")
    val dts = q.select(col("query_id"), col("qv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("query_id"), col("m"),
        slice(col("qv"), col("m") * PqDs + 1, lit(PqDs)).as("qsv"))
      .join(broadcast(cbPad), "m")
      .select(col("query_id"),
        struct((col("m") * PqCodes + col("code")).as("k"),
          coalesce(subDist(col("qsv"), col("cbv")),
            lit(Double.MaxValue)).as("d")).as("kd"))
      .groupBy("query_id")
      .agg(sort_array(collect_list(col("kd"))).as("kds"))
      .select(col("query_id"),
        transform(col("kds"), x => x.getField("d")).as("dt"))

    val wc = Window.partitionBy("query_id")
      .orderBy(asc("est"), asc("neighbor_id"))
    val cand = stored
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(dts), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcEst.as("est"))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= PqRerank)
      .select("query_id", "neighbor_id")

    val wr = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    cand.join(broadcast(q), "query_id")
      .join(corpus, col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "cos")
      .orderBy("query_id", "rank")
  }

  /** Base slice: vec_id < ⌊0.9·N⌋ — the threshold is a 1-row
    * broadcast scalar frame (no driver collect), same count + IEEE
    * floor in both engines.
    */
  private[graft] def withThreshold(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(
      e.agg(floor(count(lit(1)) * lit(BaseFrac)).cast("long").as("thr"))))

  // -----------------------------------------------------------------
  // ss_ivfpq_incr: the full persisted-index lifecycle, oracle-gated.
  // The production artifact API above takes a caller-chosen path; the
  // declared gate's store lives in the session's [[StoreRoot]].
  def ivfPqIncremental(s: SparkSession, dir: String): DataFrame = {
    val path = StoreRoot.path(s, "ivfpq_index", dir)
    graft.operators.Lineage.ensure(s, dir, "ss_ivfpq_incr_store") {
      // The build/append chain (Lloyd rounds + batch encodes) is
      // bound to the typed-hash child session via its input frame
      // (round 14 — GraftSession.typedHash scaladoc).
      val et = withThreshold(
        vecs(graft.GraftSession.typedHash(s), dir)).localCheckpoint()
      build(et.filter(col("vec_id") < col("thr")).drop("thr"), path)
      append(s, path,
        et.filter(col("vec_id") >= col("thr")).drop("thr"))
    }
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    search(s, path, q, e)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_ivfpq_incr" -> ivfPqIncremental,
  )

  // The oracle: base-trained quantizers (kmCtes/pqCtes over `eb`),
  // FULL corpus encoded with them, IVFADC search — i.e. exactly the
  // store-after-append contents, computed the rebuild way. Matching
  // hashes prove the incremental path changes nothing but the work.
  val oracles: Map[String, String] = Map(
    "ss_ivfpq_incr" ->
      s"""WITH e AS ($DVecs),
         eb AS MATERIALIZED (SELECT * FROM e WHERE vec_id <
           (SELECT CAST(floor(COUNT(*) * $BaseFrac) AS BIGINT) FROM e)),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
           WHERE vec_id < $NumQueries),
         ${VectorSearch.kmCtes("eb")},
         asg AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, cent.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 ${dCos("e.v", "cv", "e.nrm", "cn")} DESC, cid) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
         pr AS (SELECT query_id, cid FROM (
             SELECT q.query_id, cent.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${dCos("qv", "cv", "qn", "cn")} DESC, cid) AS rn
             FROM q CROSS JOIN cent) WHERE rn <= $NProbe),
         ${VectorSearch.pqCtes("eb")},
         est AS (SELECT pr.query_id, asg.vec_id AS neighbor_id,
             $DAdcEst AS est
           FROM pr JOIN asg USING (cid)
             JOIN codes ON codes.vec_id = asg.vec_id
             JOIN dt ON dt.query_id = pr.query_id
           WHERE asg.vec_id <> pr.query_id),
         cand AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY est, neighbor_id) AS rn
             FROM est) WHERE rn <= $PqRerank),
         sc AS (SELECT cand.query_id, cand.neighbor_id,
             ${dCos("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
           FROM cand JOIN q USING (query_id)
             JOIN e ON e.vec_id = cand.neighbor_id),
         rk AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM sc)
         SELECT query_id, neighbor_id, rank, cos FROM rk
         WHERE rank <= $TopK ORDER BY query_id, rank""",
  )
}
