package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.StoreRoot

/** IVFPQ ENCODE + SEARCH over stored tables, and the declared
  * persisted-index gate (VERDICT r6 item 3).
  *
  * The session-cached Lineage frames are the wrong LIFETIME for a
  * production ANN index: FAISS persists `train()`'s quantizers and the
  * inverted lists as an on-disk artifact, and tomorrow's embedding
  * batch is `add()`ed by encoding against the STORED quantizers —
  * never by retraining or re-encoding the historical corpus. The
  * on-disk artifact is a [[VersionedIndex]] root (immutable `pub=`
  * data + committed manifests); this module holds the two operators
  * every store shares: [[encode]] (a batch against given quantizers)
  * and [[searchFrames]] (IVFADC over given quantizer and list frames;
  * probing joins on the `cid` partition column, so at scale a probe
  * is directory pruning exactly as the Lineage-cached
  * [[VectorSearch.ivfPqTopK]] promises).
  *
  * The declared gate `ss_ivfpq_incr` runs the full lifecycle: base =
  * the first ⌊0.9·N⌋ vec_ids (today's corpus), increment = the
  * suffix batch (tomorrow's ingest — new ids, the natural shape for
  * an append-only embedding store), quantizers trained ON BASE ONLY
  * ([[VersionedIndex.publishBuild]] = v1,
  * [[VersionedIndex.publishAppend]] = v2). The DuckDB oracle
  * recomputes base-trained quantizers, encodes the FULL corpus with
  * them and searches — exactly the store ∪ increment contents — so
  * the hash gate proves append ≡ full-rebuild-encode under fixed
  * quantizers (the [[graft.dedup.Dedup.incremental]] equivalence,
  * applied to the ANN index).
  */
object VectorIndex {

  import VectorSearch._

  /** Base fraction for the declared gate: vec_id < ⌊0.9·N⌋. */
  val BaseFrac = 0.9

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

  /** IVFADC for a (query_id, qv, qn) set over the given quantizer
    * (cent, cb) and inverted-list (vec_id, codes, cid) frames; exact
    * rerank against `corpus`. Same shape as [[VectorSearch.ivfPqTopK]]
    * with every index input injected — [[VersionedIndex.search]]
    * points it at one manifest-resolved snapshot, and
    * [[graft.streaming.IndexIngest.searchAll]] at that snapshot's
    * lists ∪ the not-yet-published staged rows.
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
  // ss_ivfpq_incr: the full persisted-index lifecycle, oracle-gated —
  // the same publish chain as ss_version_search, in its own store.
  def ivfPqIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = StoreRoot.path(s, "ivfpq_index", dir)
    graft.operators.Lineage.ensure(s, dir, "ss_ivfpq_incr_store") {
      // The build/append chain (Lloyd rounds + batch encodes) is
      // bound to the typed-hash child session via its input frame
      // (round 14 — GraftSession.typedHash scaladoc).
      VersionedIndex.publishBaseAndIncrement(s, root,
        vecs(graft.GraftSession.typedHash(s), dir), "ivfpq")
    }
    val e = vecs(s, dir)
    VersionedIndex.search(s, root, queryFrame(e), e)
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
