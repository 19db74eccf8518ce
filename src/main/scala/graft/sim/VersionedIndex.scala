package graft.sim

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.StoreRoot

/** VERSIONED ANN INDEX — the engine's one on-disk IVFPQ format,
  * with atomic publish for CONCURRENT READERS (round-8 forward item:
  * "version-pointer atomic index publish").
  *
  * An index written in place (appends adding files under `lists/`, a
  * compaction overwriting partitions) can show a reader planning a
  * scan while a writer commits a TORN index: half the appended
  * cells, or a partition mid-overwrite. Production table formats
  * solve this with immutable snapshots + an atomic commit marker
  * (Iceberg/Delta's manifest discipline); this module is that design
  * over the IVFPQ index's three tables:
  *
  * ```
  * <root>/centroids/ pub=<p>/…          immutable data, partitioned
  * <root>/codebooks/ pub=<p>/…          by the PUBLISH that wrote them
  * <root>/lists/     pub=<p>/cid=<c>/…
  * <root>/v=<N>/manifest.json           which pubs compose version N
  * <root>/v=<N>/_COMMITTED              the atomic visibility marker
  * ```
  *
  * A PUBLISH writes data only into fresh `pub=` partitions, writes
  * `manifest.json`, then creates the empty `_COMMITTED` marker —
  * single-file creation, atomic on HDFS and create-visible on object
  * stores, so no rename-with-overwrite semantics are required
  * anywhere. Readers resolve the HIGHEST committed version at plan
  * time and read the manifest's pub set as a partition-pruned scan
  * (`pub` is a partition column, so unreferenced publishes cost
  * directory pruning, zero data). A publisher that dies mid-build
  * leaves a marker-less `v=` directory that no reader ever resolves;
  * the next publish numbers past it.
  *
  * The three publish kinds mirror a production index lifecycle:
  *  - [[publishBuild]]  — train + encode a base corpus (a new quantizer
  *    generation; the only publish that writes centroids/codebooks).
  *  - [[publishAppend]] — encode ONLY the batch against the current
  *    manifest's stored quantizers and add one list pub; the new
  *    manifest references the prior pubs + the new one. |batch| work,
  *    zero copies of history — snapshot isolation WITHOUT physical
  *    snapshot copies.
  *  - [[publishCompact]] — rewrite the current list set as one fresh
  *    pub (per-cid re-clustered); old versions keep reading the old
  *    pubs untouched.
  *
  * [[gc]] is the only destructive operation (the expire-snapshots
  * twin): drop all but the newest `keepLast` committed versions, then
  * delete every `pub=` partition no kept manifest references. Like
  * every table format's expiry, it assumes the SINGLE-WRITER
  * discipline — run it when no publish is in flight (a concurrent
  * publisher's uncommitted directory is indistinguishable from a
  * crashed one's) and no reader still holds a dropped version.
  *
  * Every declared index store (ss_ivfpq_incr, ss_version_search,
  * ss_split_search, ss_delete_search, ss_rag_index and the
  * [[graft.streaming.IndexIngest]] store behind ss_ingest_search) is
  * one of these roots.
  *
  * 100 TB shape: commit cost is one small JSON + one empty marker
  * regardless of index size; append cost is |batch|; a reader runs
  * the [[VectorIndex.searchFrames]] probe with the manifest resolved
  * to a `pub IN (…)` partition filter on top of the probe-pruned
  * scan; nothing ever rewrites or copies history on the publish
  * path.
  */
object VersionedIndex {

  import VectorSearch._
  import graft.operators.PhaseLog.phase

  /** One resolved snapshot: which publishes compose each table, plus
    * the cids retired by cell splits ([[publishSplit]]) — rows with a
    * retired cid in any referenced list pub are NOT part of the
    * snapshot (their re-assigned twins live in the split's own pub).
    * Because `cid` is a partition column, the exclusion costs
    * directory pruning, zero data — the manifest granularity stays
    * pub-level while splits stay surgical.
    */
  final case class Manifest(version: Long, quantPub: String,
      listPubs: Seq[String], dropCids: Seq[Long] = Nil)

  private def centDir(root: String) = s"$root/centroids"
  private def cbDir(root: String) = s"$root/codebooks"
  private def listsDir(root: String) = s"$root/lists"
  private def vdir(root: String, v: Long) = s"$root/v=$v"

  private def hfs(s: SparkSession, root: String): FileSystem =
    new HPath(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private val VDir = "^v=([0-9]+)$".r

  /** Every version directory on disk, committed or not — the publish
    * numbering domain (a crashed publisher's number is never reused,
    * so its leftover data can never be adopted by a later commit).
    */
  private def allVersions(s: SparkSession, root: String): Seq[Long] = {
    val fs = hfs(s, root)
    val rp = new HPath(root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq.flatMap(st => st.getPath.getName match {
      case VDir(n) if st.isDirectory => Some(n.toLong)
      case _ => None
    }).sorted
  }

  /** Committed versions, ascending. */
  def committedVersions(s: SparkSession, root: String): Seq[Long] = {
    val fs = hfs(s, root)
    allVersions(s, root).filter(v =>
      fs.exists(new HPath(s"${vdir(root, v)}/_COMMITTED")))
  }

  // Manifest JSON is written and parsed HERE (both sides below), so
  // the grammar is closed: one object, three fixed keys.
  private def renderManifest(m: Manifest): String = {
    val pubs = m.listPubs.map(p => s""""$p"""").mkString(",")
    val drops = m.dropCids.mkString(",")
    s"""{"version":${m.version},"quant_pub":"${m.quantPub}",""" +
      s""""list_pubs":[$pubs],"drop_cids":[$drops]}"""
  }

  private val VerR = """"version":([0-9]+)""".r
  private val QuantR = """"quant_pub":"([^"]+)"""".r
  private val PubsR = """"list_pubs":\[([^\]]*)\]""".r
  // Optional (absent in pre-split manifests → no retired cids).
  private val DropsR = """"drop_cids":\[([^\]]*)\]""".r

  /** Read + parse one version's manifest (driver-side metadata I/O,
    * the same class of call as split planning's directory listing).
    */
  def manifest(s: SparkSession, root: String, v: Long): Manifest = {
    val fs = hfs(s, root)
    val p = new HPath(s"${vdir(root, v)}/manifest.json")
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    val txt = new String(buf, "UTF-8")
    val ver = VerR.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(sys.error(s"manifest $p: no version"))
    val quant = QuantR.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(sys.error(s"manifest $p: no quant_pub"))
    val pubs = PubsR.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(sys.error(s"manifest $p: no list_pubs"))
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      .map(_.stripPrefix("\"").stripSuffix("\""))
    val drops = DropsR.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse("")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    require(ver == v, s"manifest $p claims version $ver, dir says $v")
    Manifest(ver, quant, pubs, drops)
  }

  /** The newest committed snapshot, if any publish ever completed. */
  def currentManifest(s: SparkSession, root: String): Option[Manifest] =
    committedVersions(s, root).lastOption.map(manifest(s, root, _))

  /** Write manifest.json, THEN create the `_COMMITTED` marker — the
    * ordering that makes the marker mean "everything this version
    * references is fully on disk".
    */
  private def commit(s: SparkSession, root: String,
      m: Manifest): Unit = {
    val fs = hfs(s, root)
    val dir = vdir(root, m.version)
    val out = fs.create(new HPath(s"$dir/manifest.json"), true)
    try out.write(renderManifest(m).getBytes("UTF-8"))
    finally out.close()
    fs.create(new HPath(s"$dir/_COMMITTED"), true).close()
  }

  private def nextVersion(s: SparkSession, root: String): Long =
    allVersions(s, root).lastOption.getOrElse(0L) + 1L

  /** Manifest-resolved table frames: partition-pruned by `pub`. */
  private[graft] def centOf(s: SparkSession, root: String,
      m: Manifest): DataFrame =
    s.read.parquet(centDir(root))
      .filter(col("pub") === m.quantPub).drop("pub")

  private[graft] def cbOf(s: SparkSession, root: String,
      m: Manifest): DataFrame =
    s.read.parquet(cbDir(root))
      .filter(col("pub") === m.quantPub).drop("pub")

  private[graft] def listsOf(s: SparkSession, root: String,
      m: Manifest): DataFrame = {
    val base = s.read.parquet(listsDir(root))
      .filter(col("pub").isin(m.listPubs: _*)).drop("pub")
      .withColumn("cid", col("cid").cast("long"))
    // Retired cids (cell splits) are excluded snapshot-wide: split
    // pubs assign fresh child cids, so the filter can never touch a
    // live row, and cid is a partition column — pure pruning.
    if (m.dropCids.isEmpty) base
    else base.filter(!col("cid").isin(m.dropCids: _*))
  }

  /** New quantizer generation: train on `base`, encode it, commit —
    * the engine's one train-and-encode path. Returns the committed
    * version number.
    */
  def publishBuild(s: SparkSession, root: String,
      base: DataFrame): Long = {
    val v = nextVersion(s, root)
    val pub = s"p$v"
    // The two trainers are independent fixed-round chains of small
    // sequential jobs; training them CONCURRENTLY (round 12) lets the
    // local scheduler interleave their per-round jobs, so the build's
    // wall is ~max of the two instead of their sum. Each chain is
    // internally eager (localCheckpoint per round), so the threads do
    // real work, not plan construction.
    val Seq(cent, cb) = phase("train(cent||cb)") {
      graft.operators.Lineage.all(Seq(
        () => lloydCentroids(base).localCheckpoint(),
        () => lloydCodebooks(base).localCheckpoint()))
    }
    phase("write quantizers") {
      cent.withColumn("pub", lit(pub)).write.mode("append")
        .partitionBy("pub").parquet(centDir(root))
      cb.withColumn("pub", lit(pub)).write.mode("append")
        .partitionBy("pub").parquet(cbDir(root))
    }
    phase("encode+write base") {
      VectorIndex.encode(base, cent, cb).withColumn("pub", lit(pub))
        .write.mode("append").partitionBy("pub", "cid")
        .parquet(listsDir(root))
    }
    commit(s, root, Manifest(v, pub, Seq(pub)))
    v
  }

  /** Incremental snapshot: encode ONLY `batch` against the current
    * manifest's stored quantizers, land it as one fresh pub, and
    * commit a manifest referencing history + the new pub. History is
    * neither read (beyond the two small quantizer tables) nor
    * copied.
    */
  def publishAppend(s: SparkSession, root: String,
      batch: DataFrame): Long = {
    val prev = currentManifest(s, root)
      .getOrElse(sys.error(s"$root: nothing committed to append to"))
    phase("encode+append batch") {
      commitRows(s, root, prev, VectorIndex.encode(batch,
        centOf(s, root, prev), cbOf(s, root, prev)))
    }
  }

  /** Land already-encoded (vec_id, codes, cid) `rows` — encoded
    * against `prev`'s quantizers — as one fresh list pub and commit a
    * manifest referencing `prev`'s pubs + the new one. The tail every
    * list-only publish shares ([[publishAppend]],
    * [[graft.streaming.IndexIngest.publish]]).
    */
  private[graft] def commitRows(s: SparkSession, root: String,
      prev: Manifest, rows: DataFrame): Long = {
    val v = nextVersion(s, root)
    val pub = s"p$v"
    rows.withColumn("pub", lit(pub))
      .write.mode("append").partitionBy("pub", "cid")
      .parquet(listsDir(root))
    // Carry the retired-cid set forward (round-13 fix): an append
    // after a split/delete previously committed dropCids = Nil,
    // silently RESURRECTING every retired cid's rows in the prior
    // pubs for the new snapshot. Rows encoded against centOf(prev)
    // can only carry cids present there — never a retired one — so
    // carrying the drops is always correct.
    commit(s, root, Manifest(v, prev.quantPub, prev.listPubs :+ pub,
      prev.dropCids))
    v
  }

  /** Maintenance snapshot: rewrite the CURRENT list set as one fresh
    * per-cid-clustered pub and commit a manifest referencing only it.
    * Nothing is overwritten — readers of older versions keep their
    * pubs bit-for-bit until [[gc]].
    */
  def publishCompact(s: SparkSession, root: String): Long = {
    val prev = currentManifest(s, root)
      .getOrElse(sys.error(s"$root: nothing committed to compact"))
    val v = nextVersion(s, root)
    val pub = s"p$v"
    listsOf(s, root, prev)
      .repartition(col("cid"))
      .withColumn("pub", lit(pub))
      .write.mode("append").partitionBy("pub", "cid")
      .parquet(listsDir(root))
    commit(s, root, Manifest(v, prev.quantPub, Seq(pub)))
    v
  }

  /** CELL-SPLIT REBALANCING (VERDICT r9 item 4; split algorithm
    * revised round 11): as the corpus drifts, hot cells grow
    * unbounded under the base generation's centroids — probe cost
    * rises linearly with the hottest cell and nothing re-trains.
    * This publish detects the hottest cell from list metadata,
    * BISECTS it at the median of the anchor-cosine axis, and commits
    * a new snapshot:
    *
    *  - occupancy = per-cid counts of the current snapshot's lists
    *    (a [[VectorSearch.NumCentroids]]-row aggregate; the two
    *    driver reads on it are metadata-scale, the class of a
    *    directory listing);
    *  - split runs only if hottest > `minRatio` × mean occupancy
    *    (None = balanced store untouched — re-running is a no-op);
    *  - BALANCED MEDIAN BISECTION: anchor = the cell's min-vec_id
    *    member; every member is ranked by (cosine to the anchor ASC,
    *    vec_id), and the far half (rank·2 ≤ n) becomes child 0, the
    *    near half child 1 — a deterministic EXACT halving, followed
    *    by the same exact-integer centroid recompute the Lloyd step
    *    uses. Round 11 replaced the earlier bounded 2-means here
    *    after measuring its farthest-point seeding collapse into the
    *    mass-vs-outliers local optimum on drift-shaped cells (one
    *    dominant content cluster + stragglers: 330 → 307 → 306 → …,
    *    shedding ~one outlier per round) — a split that cannot
    *    guarantee progress makes the [[rebalance]] loop's
    *    termination a hope; the median cut halves EVERY cell,
    *    including duplicate-dominated ones, so loop convergence is
    *    structural. The probe quality trade (children overlap more
    *    than converged 2-means children would) is spec-measured:
    *    recall through the split is pinned non-degrading;
    *  - the new pub carries a full centroid generation (prior
    *    centroids minus the hot one, plus children at fresh cids
    *    maxCid+1+child), a copy of the unchanged PQ codebooks (both
    *    quantizer tables are centroid-count-bounded — copying them
    *    keeps the manifest's single quant_pub), and ONLY the split
    *    cell's list rows re-assigned to the child cids — PQ codes are
    *    cid-independent, so no re-encoding happens;
    *  - the manifest references the prior list pubs UNSPLIT plus the
    *    new pub, and retires the hot cid via `drop_cids`
    *    ([[Manifest.dropCids]]) — only the split cell's partitions
    *    are ever rewritten, old versions still resolve their pubs
    *    bit-for-bit.
    *
    * `corpus` supplies the member vectors (vec_id, v, nrm) — the
    * stored rows hold codes, not vectors, exactly like production
    * (the raw corpus is the durable table; the index stores codes).
    */
  def publishSplit(s: SparkSession, root: String, corpus: DataFrame,
      minRatio: Double = 2.0): Option[Long] = {
    import org.apache.spark.sql.expressions.Window
    val prev = currentManifest(s, root)
      .getOrElse(sys.error(s"$root: nothing committed to split"))
    val lists = listsOf(s, root, prev)
    val occ = lists.groupBy("cid").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val hotRow = occ.orderBy(desc("n"), asc("cid")).first()
    val meanN = occ.agg(avg("n")).first().getDouble(0)
    if (hotRow.getAs[Long]("n") < minRatio * meanN) return None

    val hot = hotRow.getAs[Long]("cid")
    val maxCid = centOf(s, root, prev).agg(max("cid")).first().getLong(0)
    val members = lists.filter(col("cid") === hot)
      .select("vec_id", "codes").localCheckpoint()
    val mv = members.select("vec_id")
      .join(corpus, "vec_id").select("vec_id", "v", "nrm")
      .localCheckpoint()
    val eq = mv.select(col("vec_id"), quantize(col("v")).as("qv"))
      .localCheckpoint()
    // Balanced median bisection: rank by anchor-cosine (the global
    // window carries only (vec_id, ca) — slim keys, one cell's rows).
    val anchor = mv.orderBy("vec_id").limit(1)
    val scoredM = mv
      .crossJoin(broadcast(anchor.select(col("v").as("av"),
        col("nrm").as("an"))))
      .select(col("vec_id"),
        cosine(col("v"), col("av"), col("nrm"), col("an")).as("ca"))
    val kasg = scoredM
      .withColumn("rn",
        row_number().over(Window.orderBy(asc("ca"), asc("vec_id"))))
      .crossJoin(broadcast(scoredM.agg(count(lit(1)).as("nm"))))
      .select(col("vec_id"),
        when(col("rn") * 2 <= col("nm"), 0L).otherwise(1L).as("cid"))
      .localCheckpoint()
    // Children = exact-integer means of the halves (the Lloyd step's
    // centroid recompute, over one assignment).
    val kids = centroidsOf(kasg, eq).localCheckpoint()
    val fas = kasg
      .select(col("vec_id"), (lit(maxCid + 1L) + col("cid")).as("cid"))

    val v = nextVersion(s, root)
    val pub = s"p$v"
    centOf(s, root, prev).filter(col("cid") =!= hot)
      .unionByName(kids.select((lit(maxCid + 1L) + col("cid")).as("cid"),
        col("cv"), col("cn")))
      .withColumn("pub", lit(pub)).write.mode("append")
      .partitionBy("pub").parquet(centDir(root))
    cbOf(s, root, prev).withColumn("pub", lit(pub)).write.mode("append")
      .partitionBy("pub").parquet(cbDir(root))
    members.join(fas, "vec_id").select("vec_id", "codes", "cid")
      .withColumn("pub", lit(pub)).write.mode("append")
      .partitionBy("pub", "cid").parquet(listsDir(root))
    commit(s, root, Manifest(v, pub, prev.listPubs :+ pub,
      prev.dropCids :+ hot))
    Some(v)
  }

  /** ROW-LEVEL DELETE / FORGET (VERDICT r12 item 4): the takedown /
    * opt-out / GDPR operation every production training-data store
    * needs — remove `ids` (a (vec_id) frame) from the index so no
    * snapshot AT OR AFTER this publish can ever return them, with
    * [[gc]] reclaiming the bytes.
    *
    * Mechanism — the [[publishSplit]] remap discipline, applied to
    * deletion: only the cells that CONTAIN a deleted row are touched.
    * Each touched cid's SURVIVING rows are rewritten into the new pub
    * under a FRESH cid (maxCid+1+rank — fresh because `drop_cids` is
    * snapshot-wide, so survivors could not keep the old cid without
    * being dropped with it); the new pub carries a full centroid
    * generation where each touched cell's centroid moves to its
    * fresh cid UNCHANGED (no retraining — deletion must not shift
    * anyone else's probe geometry) and a cell emptied by the delete
    * simply loses its centroid; codebooks copy (centroid-count-
    * bounded, keeps the manifest's single quant_pub); the manifest
    * references the prior pubs + the new one and retires the touched
    * cids. Untouched partitions are never read, written, or moved —
    * deletion cost is |touched cells|, not |index|.
    *
    * The old pubs still hold the deleted bytes until [[gc]]: that is
    * snapshot isolation doing its job (pre-delete versions must keep
    * answering until expired). `gc(keepLast = 1)` after the delete
    * commits removes every `cid=` partition directory that all kept
    * manifests retire — at that point the deleted rows are gone from
    * disk, file by file (VersionedIndexSpec scans every remaining
    * parquet file to prove it).
    *
    * Returns the committed version, or None when no stored row
    * matches `ids` — which makes a REPLAYED delete a provable no-op
    * (idempotency): the first publish removed the rows, so the
    * second finds nothing and commits nothing.
    */
  def publishDelete(s: SparkSession, root: String,
      ids: DataFrame): Option[Long] = {
    val prev = currentManifest(s, root)
      .getOrElse(sys.error(s"$root: nothing committed to delete from"))
    val del = ids.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().localCheckpoint()
    val lists = listsOf(s, root, prev)
    // Touched cells: metadata-scale driver read (≤ centroid count —
    // the publishSplit occupancy class).
    val touched = lists.join(del, "vec_id")
      .select("cid").distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) return None

    import s.implicits._
    val maxCid = centOf(s, root, prev).agg(max("cid")).first().getLong(0)
    val rmap = touched.zipWithIndex
      .map { case (c, i) => (c, maxCid + 1L + i) }
      .toDF("cid", "ncid")
    val survivors = lists.filter(col("cid").isin(touched: _*))
      .join(del, Seq("vec_id"), "left_anti")
      .join(broadcast(rmap), "cid")
      .select(col("vec_id"), col("codes"), col("ncid").as("cid"))
      .localCheckpoint()
    // Cells the delete emptied keep no centroid (same driver-read
    // class as `touched`).
    val live = survivors.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq

    val v = nextVersion(s, root)
    val pub = s"p$v"
    centOf(s, root, prev).filter(!col("cid").isin(touched: _*))
      .unionByName(centOf(s, root, prev)
        .join(broadcast(rmap), "cid")
        .filter(if (live.isEmpty) lit(false)
          else col("ncid").isin(live: _*))
        .select(col("ncid").as("cid"), col("cv"), col("cn")))
      .withColumn("pub", lit(pub)).write.mode("append")
      .partitionBy("pub").parquet(centDir(root))
    cbOf(s, root, prev).withColumn("pub", lit(pub)).write.mode("append")
      .partitionBy("pub").parquet(cbDir(root))
    survivors.withColumn("pub", lit(pub)).write.mode("append")
      .partitionBy("pub", "cid").parquet(listsDir(root))
    commit(s, root, Manifest(v, pub, prev.listPubs :+ pub,
      prev.dropCids ++ touched))
    Some(v)
  }

  /** INDEX MAINTENANCE LOOP (VERDICT r10 item 6): repeat
    * [[publishSplit]] until the store is balanced — the policy a
    * 100 TB index runs at publish cadence instead of a hand-issued
    * single split. Each round splits the CURRENT hottest cell iff it
    * exceeds `maxRatio` × mean occupancy and commits one snapshot
    * (atomic per round: a reader never sees a half-rebalanced index,
    * and a crash leaves a balanced-so-far store whose next run simply
    * continues). The loop ends when [[publishSplit]] declines (the
    * post-condition: hottest ≤ maxRatio × mean — note the mean
    * itself falls as splits add cells, so the target is conservative)
    * or after `maxRounds` (the bounded-rounds guard: occupancy work
    * is metadata-scale, but each round rewrites one cell's lists, so
    * a drifted store amortizes its rebalancing across maintenance
    * windows instead of one unbounded stall). TERMINATION IS
    * STRUCTURAL: the median bisection halves the hottest cell every
    * round (see [[publishSplit]] — the round-11 revision exists
    * precisely because the earlier 2-means could stall on
    * drift-shaped cells and turn this loop into a budget burner), so
    * with any `maxRatio` > 1 the loop reaches policy in
    * O(log hottest) rounds. Returns the committed versions, oldest
    * first — empty means the store was already balanced and nothing
    * was written.
    */
  def rebalance(s: SparkSession, root: String, corpus: DataFrame,
      maxRatio: Double = 2.0, maxRounds: Int = 8): Seq[Long] = {
    require(maxRatio > 1.0, "a ratio <= 1 can never terminate")
    val out = Seq.newBuilder[Long]
    var round = 0
    var more = true
    while (more && round < maxRounds) {
      publishSplit(s, root, corpus, maxRatio) match {
        case Some(v) => out += v
        case None => more = false
      }
      round += 1
    }
    out.result()
  }

  /** IVFADC search over one committed snapshot (default: newest).
    * Resolution happens HERE, at plan time — a publish that commits
    * after this call changes nothing the returned plan reads.
    */
  def search(s: SparkSession, root: String, q: DataFrame,
      corpus: DataFrame, version: Option[Long] = None): DataFrame = {
    val m = version.map(manifest(s, root, _))
      .orElse(currentManifest(s, root))
      .getOrElse(sys.error(s"$root: no committed version to search"))
    VectorIndex.searchFrames(s, centOf(s, root, m), cbOf(s, root, m),
      listsOf(s, root, m), q, corpus)
  }

  /** Expire snapshots: keep the newest `keepLast` committed versions,
    * delete every other `v=` directory (committed or crashed — under
    * the single-writer discipline an uncommitted directory has no
    * live owner), then delete every `pub=` partition no kept manifest
    * references. Returns (dropped versions, dropped pubs).
    */
  def gc(s: SparkSession, root: String,
      keepLast: Int = 2): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "gc must keep at least the current version")
    val fs = hfs(s, root)
    val committed = committedVersions(s, root)
    val kept = committed.takeRight(keepLast).toSet
    val dropVs = allVersions(s, root).filterNot(kept)
    dropVs.foreach(v => fs.delete(new HPath(vdir(root, v)), true))
    val keptMs = kept.toSeq.sorted.map(manifest(s, root, _))
    val refQuant = keptMs.map(_.quantPub).toSet
    val refLists = keptMs.flatMap(_.listPubs).toSet
    def sweep(dir: String, ref: Set[String]): Seq[String] = {
      val dp = new HPath(dir)
      if (!fs.exists(dp)) Seq.empty
      else fs.listStatus(dp).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("pub="))
        .map(_.getPath.getName.stripPrefix("pub="))
        .filterNot(ref)
        .map { p => fs.delete(new HPath(s"$dir/pub=$p"), true); p }
    }
    val droppedPubs = (sweep(centDir(root), refQuant) ++
      sweep(cbDir(root), refQuant) ++
      sweep(listsDir(root), refLists)).distinct.sorted
    // CID-LEVEL reclamation (round 13, the [[publishDelete]] forget
    // step): `drop_cids` retires cells snapshot-wide, but the retired
    // rows' BYTES live on in still-referenced pubs (an append-heavy
    // pub keeps serving its untouched cids). Once EVERY kept manifest
    // that references a list pub also drops cid c, pub=P/cid=c is
    // unreadable by any surviving version — delete the partition
    // directory. This is what makes delete + gc a true forget: after
    // it, no file on disk holds a deleted row (spec-gated by a
    // file-by-file scan). Metadata-scale: |kept manifests| ×
    // |dropCids| existence probes, no data read.
    val droppedCidDirs = refLists.toSeq.sorted.flatMap { p =>
      val referencing = keptMs.filter(_.listPubs.contains(p))
      val dropsEverywhere =
        if (referencing.isEmpty) Set.empty[Long]
        else referencing.map(_.dropCids.toSet).reduce(_ intersect _)
      dropsEverywhere.toSeq.sorted.flatMap { c =>
        val d = new HPath(s"${listsDir(root)}/pub=$p/cid=$c")
        if (fs.exists(d)) { fs.delete(d, true); Some(s"$p/cid=$c") }
        else None
      }
    }
    (dropVs, droppedPubs ++ droppedCidDirs)
  }

  /** The declared stores' common prologue: delete the root a crashed
    * previous run left, split `e` at the [[VectorIndex.BaseFrac]]
    * threshold (checkpointed under the phase tag `<tag>: threshold
    * ckpt`), then publish v1 = build(base) and v2 = append(increment).
    * The session `e` is bound to is the one the build runs on.
    */
  private[graft] def publishBaseAndIncrement(s: SparkSession, root: String,
      e: DataFrame, tag: String): Unit = {
    hfs(s, root).delete(new HPath(root), true)
    val et = phase(s"$tag: threshold ckpt") {
      VectorIndex.withThreshold(e).localCheckpoint()
    }
    publishBuild(s, root, et.filter(col("vec_id") < col("thr")).drop("thr"))
    publishAppend(s, root,
      et.filter(col("vec_id") >= col("thr")).drop("thr"))
  }

  // -----------------------------------------------------------------
  // ss_version_search: the versioned lifecycle, oracle-gated. v1 =
  // publishBuild(base), v2 = publishAppend(increment) — the same chain
  // as ss_ivfpq_incr's store, so the oracle is reused verbatim
  // (base-trained quantizers, full corpus encoded with them, IVFADC
  // search): matching hashes prove the manifest-resolved read
  // composes the two pubs into precisely the rebuilt index. The spec
  // additionally pins what the oracle cannot express — that v1 still
  // answers with the BASE-ONLY result after v2 commits (snapshot
  // isolation), the crash-window and gc behaviors.
  def versionSearch(s: SparkSession, dir: String): DataFrame = {
    val root = StoreRoot.path(s, "vindex", dir)
    graft.operators.Lineage.ensure(s, dir, "ss_version_store") {
      publishBaseAndIncrement(s, root,
        vecs(graft.GraftSession.typedHash(s), dir), "version")
    }
    val e = vecs(s, dir)
    search(s, root, queryFrame(e), e)
  }

  // ss_split_search: the versioned lifecycle PLUS a cell split —
  // v1 = publishBuild(base), v2 = publishAppend(increment), v3 =
  // publishSplit (minRatio 0: always split the hottest cell, so the
  // gate exercises the split on every fixture). Own store root
  // (family "vsplit") — the split must never mutate the snapshot
  // ss_version_search's newest-version search resolves.
  def splitSearch(s: SparkSession, dir: String): DataFrame = {
    val root = StoreRoot.path(s, "vsplit", dir)
    graft.operators.Lineage.ensure(s, dir, "ss_split_store") {
      publishBaseAndIncrement(s, root,
        vecs(graft.GraftSession.typedHash(s), dir), "split")
      publishSplit(s, root, vecs(s, dir), minRatio = 0.0)
      ()
    }
    val e = vecs(s, dir)
    search(s, root, queryFrame(e), e)
  }

  /** The declared delete slice: ~6% of the corpus, spread across
    * cells — takedown requests arrive scattered, not clustered.
    */
  val DeleteMod = 17L
  val DeleteRem = 3L

  // ss_delete_search: the versioned lifecycle PLUS a row-level
  // delete — v1 = publishBuild(base), v2 = publishAppend(increment),
  // v3 = publishDelete(vec_id % DeleteMod == DeleteRem), then search
  // the newest snapshot. The gate also replays the delete and
  // requires the replay to be a committed no-op (idempotency is part
  // of the declared behavior, not just a spec nicety). Own store
  // root (family "vdelete").
  def deleteSearch(s: SparkSession, dir: String): DataFrame = {
    val root = StoreRoot.path(s, "vdelete", dir)
    graft.operators.Lineage.ensure(s, dir, "ss_delete_store") {
      publishBaseAndIncrement(s, root,
        vecs(graft.GraftSession.typedHash(s), dir), "delete")
      val del = vecs(s, dir)
        .filter(col("vec_id") % DeleteMod === DeleteRem)
        .select("vec_id")
      require(publishDelete(s, root, del).nonEmpty,
        "ss_delete_store: delete slice matched no stored row")
      require(publishDelete(s, root, del).isEmpty,
        "ss_delete_store: replayed delete must be a no-op")
      ()
    }
    val e = vecs(s, dir)
    search(s, root, queryFrame(e), e)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_version_search" -> versionSearch,
    "ss_split_search" -> splitSearch,
    "ss_delete_search" -> deleteSearch,
  )

  // The split oracle: the ss_ivfpq_incr chain (base-trained
  // quantizers, full-corpus assignment `asg`), THEN the rebalance
  // twin — hottest cell by (count DESC, cid ASC), the same BALANCED
  // MEDIAN BISECTION (rank by anchor-cosine ASC, vec_id; far half =
  // child 0) and exact-integer child-centroid recompute, centroid
  // table with the hot cell replaced by children at maxCid+1+child,
  // the hot members re-assigned — and the IVFADC tail over the
  // rebalanced (cent2, asg2). PQ codes are cid-independent, so the
  // codes/dt CTEs carry over unchanged.
  private lazy val SplitCtes: String =
    s"""occ AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
         FROM asg GROUP BY cid),
       hot AS (SELECT cid FROM occ ORDER BY n DESC, cid LIMIT 1),
       mx AS (SELECT MAX(cid) AS mc FROM cent),
       hotv AS MATERIALIZED (SELECT e.vec_id, e.v, e.nrm
         FROM asg JOIN e USING (vec_id)
         WHERE asg.cid = (SELECT cid FROM hot)),
       hq AS MATERIALIZED (SELECT vec_id,
           ${VectorSearch.dQuant("v")} AS qv FROM hotv),
       hsc AS (SELECT h.vec_id,
           ${VectorSearch.dCos("h.v", "a.av", "h.nrm", "a.an")} AS ca
         FROM hotv h
         CROSS JOIN (SELECT v AS av, nrm AS an FROM hotv
           ORDER BY vec_id LIMIT 1) a),
       kasg AS MATERIALIZED (SELECT vec_id,
           CASE WHEN rn * 2 <= nm THEN CAST(0 AS BIGINT)
             ELSE CAST(1 AS BIGINT) END AS cid
         FROM (SELECT vec_id,
             row_number() OVER (ORDER BY ca ASC, vec_id) AS rn,
             COUNT(*) OVER () AS nm
           FROM hsc)),
       kct AS MATERIALIZED (SELECT cid, cv,
           ${VectorSearch.dNorm("cv")} AS cn
         FROM (SELECT cid, list(cd ORDER BY idx) AS cv FROM (
             SELECT cid, idx,
               (CAST(qs AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)
                 AS cd
             FROM (SELECT a.cid, idx, CAST(SUM(q) AS BIGINT) AS qs,
                 COUNT(*) AS n
               FROM (SELECT a0.cid, a0.vec_id,
                   unnest(range(0, len(hq.qv))) AS idx,
                   unnest(hq.qv) AS q
                 FROM kasg a0 JOIN hq ON hq.vec_id = a0.vec_id) a
               GROUP BY a.cid, idx))
           GROUP BY cid)),
       fas AS (SELECT vec_id,
           (SELECT mc FROM mx) + 1 + cid AS cid
         FROM kasg),
       cent2 AS (SELECT cid, cv, cn FROM cent
           WHERE cid <> (SELECT cid FROM hot)
         UNION ALL
         SELECT (SELECT mc FROM mx) + 1 + cid, cv, cn
         FROM kct),
       asg2 AS (SELECT vec_id, cid FROM asg
           WHERE cid <> (SELECT cid FROM hot)
         UNION ALL
         SELECT vec_id, cid FROM fas)"""

  import VectorSearch.{dCos => dc}

  // The delete oracle: the ss_ivfpq_incr chain (base-trained
  // quantizers, full-corpus assignment `asg`), THEN the forget twin —
  // the deleted slice, its touched cells, the SAME fresh-cid remap
  // (maxCid + rank over touched cids ASC), survivors re-assigned to
  // the fresh cids, each touched cell's centroid moved UNCHANGED to
  // its fresh cid (dropped if the cell emptied) — and the IVFADC
  // tail over (cent2, asg2). PQ codes are cid-independent, so the
  // codes/dt CTEs carry over unchanged; deleted ids simply have no
  // asg2 row, so no candidate, so no result row.
  private lazy val DeleteCtes: String =
    s"""del AS (SELECT vec_id FROM e
         WHERE vec_id % $DeleteMod = $DeleteRem),
       touched AS (SELECT DISTINCT cid FROM asg
         JOIN del USING (vec_id)),
       mx AS (SELECT MAX(cid) AS mc FROM cent),
       tmap AS (SELECT cid, (SELECT mc FROM mx)
           + CAST(row_number() OVER (ORDER BY cid) AS BIGINT) AS ncid
         FROM touched),
       surv AS MATERIALIZED (SELECT a.vec_id, t.ncid AS cid
         FROM asg a JOIN tmap t USING (cid)
         WHERE a.vec_id NOT IN (SELECT vec_id FROM del)),
       cent2 AS (SELECT cid, cv, cn FROM cent
           WHERE cid NOT IN (SELECT cid FROM touched)
         UNION ALL
         SELECT t.ncid, c.cv, c.cn FROM cent c JOIN tmap t USING (cid)
         WHERE EXISTS (SELECT 1 FROM surv WHERE surv.cid = t.ncid)),
       asg2 AS (SELECT vec_id, cid FROM asg
           WHERE cid NOT IN (SELECT cid FROM touched)
         UNION ALL
         SELECT vec_id, cid FROM surv)"""

  val oracles: Map[String, String] = Map(
    // Verbatim oracle reuse (the ss_ingest_search precedent): the
    // newest snapshot must equal the incremental store's contents.
    "ss_version_search" -> VectorIndex.oracles("ss_ivfpq_incr"),
    "ss_split_search" ->
      s"""WITH e AS (${VectorSearch.DVecs}),
         eb AS MATERIALIZED (SELECT * FROM e WHERE vec_id <
           (SELECT CAST(floor(COUNT(*) * ${VectorIndex.BaseFrac})
             AS BIGINT) FROM e)),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
           WHERE vec_id < $NumQueries),
         ${VectorSearch.kmCtes("eb")},
         asg AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, cent.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 ${dc("e.v", "cv", "e.nrm", "cn")} DESC, cid) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
         ${VectorSearch.pqCtes("eb")},
         $SplitCtes,
         pr AS (SELECT query_id, cid FROM (
             SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${dc("qv", "c.cv", "qn", "c.cn")} DESC, c.cid) AS rn
             FROM q CROSS JOIN cent2 c) WHERE rn <= $NProbe),
         est AS (SELECT pr.query_id, asg2.vec_id AS neighbor_id,
             ${VectorSearch.DAdcEst} AS est
           FROM pr JOIN asg2 USING (cid)
             JOIN codes ON codes.vec_id = asg2.vec_id
             JOIN dt ON dt.query_id = pr.query_id
           WHERE asg2.vec_id <> pr.query_id),
         cand AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY est, neighbor_id) AS rn
             FROM est) WHERE rn <= ${VectorSearch.PqRerank}),
         sc AS (SELECT cand.query_id, cand.neighbor_id,
             ${dc("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
           FROM cand JOIN q USING (query_id)
             JOIN e ON e.vec_id = cand.neighbor_id),
         rk AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM sc)
         SELECT query_id, neighbor_id, rank, cos FROM rk
         WHERE rank <= $TopK ORDER BY query_id, rank""",
    "ss_delete_search" ->
      s"""WITH e AS (${VectorSearch.DVecs}),
         eb AS MATERIALIZED (SELECT * FROM e WHERE vec_id <
           (SELECT CAST(floor(COUNT(*) * ${VectorIndex.BaseFrac})
             AS BIGINT) FROM e)),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
           WHERE vec_id < $NumQueries),
         ${VectorSearch.kmCtes("eb")},
         asg AS MATERIALIZED (SELECT vec_id, cid FROM (
             SELECT e.vec_id, cent.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 ${dc("e.v", "cv", "e.nrm", "cn")} DESC, cid) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
         ${VectorSearch.pqCtes("eb")},
         $DeleteCtes,
         pr AS (SELECT query_id, cid FROM (
             SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${dc("qv", "c.cv", "qn", "c.cn")} DESC, c.cid) AS rn
             FROM q CROSS JOIN cent2 c) WHERE rn <= $NProbe),
         est AS (SELECT pr.query_id, asg2.vec_id AS neighbor_id,
             ${VectorSearch.DAdcEst} AS est
           FROM pr JOIN asg2 USING (cid)
             JOIN codes ON codes.vec_id = asg2.vec_id
             JOIN dt ON dt.query_id = pr.query_id
           WHERE asg2.vec_id <> pr.query_id),
         cand AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY est, neighbor_id) AS rn
             FROM est) WHERE rn <= ${VectorSearch.PqRerank}),
         sc AS (SELECT cand.query_id, cand.neighbor_id,
             ${dc("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
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
