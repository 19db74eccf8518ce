package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** The versioned index's contracts the SQL oracle cannot express
  * (the oracle gate `ss_version_search` proves the NEWEST snapshot
  * equals the rebuilt index):
  *  - snapshot isolation: after an append commits v2, a reader
  *    resolving v1 still gets the BASE-ONLY answer, and the v1 list
  *    files are bit-identical;
  *  - atomic visibility: a publisher that dies after writing data
  *    but BEFORE the `_COMMITTED` marker is invisible to readers and
  *    never blocks the next publish;
  *  - compaction-as-snapshot: publishCompact changes no reader's
  *    answer, shrinks the current version's file count, and leaves
  *    old pubs untouched;
  *  - gc: expiring old snapshots deletes exactly the unreferenced
  *    versions/pubs and the surviving snapshot still answers
  *    identically.
  */
class VersionedIndexSpec extends SparkSpec with TempDirs {

  private def freshRoot(): String =
    tempDir("graft_vtest").toString

  private def split(): (DataFrame, DataFrame, DataFrame) = {
    val e = VectorSearch.vecs(spark, sf).localCheckpoint()
    (e, e.filter(col("vec_id") < 400), e.filter(col("vec_id") >= 400))
  }

  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < VectorSearch.NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("manifest round-trips and the commit marker orders visibility") {
    val root = freshRoot()
    val (_, base, _) = split()
    val v1 = VersionedIndex.publishBuild(spark, root, base)
    assert(v1 === 1L)
    val m = VersionedIndex.manifest(spark, root, v1)
    assert(m === VersionedIndex.Manifest(1L, "p1", Seq("p1")))
    assert(VersionedIndex.committedVersions(spark, root) === Seq(1L))
  }

  test("snapshot isolation: v1 answers base-only after v2 commits, " +
      "and v1's files are untouched") {
    val root = freshRoot()
    val (e, base, inc) = split()
    val q = queriesOf(e)

    VersionedIndex.publishBuild(spark, root, base)
    val v1Before = rows(VersionedIndex.search(spark, root, q, e))

    // An UNversioned reference index over base only.
    val refRoot = freshRoot()
    VectorIndex.build(base, refRoot)
    val baseOnly = rows(VectorIndex.search(spark, refRoot, q, e))
    assert(v1Before === baseOnly)

    val p1Lists = new java.io.File(s"$root/lists/pub=p1")
    def fileSizes = p1Lists.listFiles().flatMap { d =>
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length())
    }.toMap
    val sizesBefore = fileSizes

    val v2 = VersionedIndex.publishAppend(spark, root, inc)
    assert(v2 === 2L)
    assert(VersionedIndex.manifest(spark, root, v2).listPubs ===
      Seq("p1", "p2"))

    // v1 resolved EXPLICITLY still answers base-only; its files are
    // bit-for-bit (size-for-size) what they were.
    val v1After =
      rows(VersionedIndex.search(spark, root, q, e, Some(1L)))
    assert(v1After === baseOnly)
    assert(fileSizes === sizesBefore)

    // The default (newest) resolution sees base ∪ increment — equal
    // to the unversioned incremental store's answer.
    VectorIndex.append(spark, refRoot, inc)
    assert(rows(VersionedIndex.search(spark, root, q, e)) ===
      rows(VectorIndex.search(spark, refRoot, q, e)))
  }

  test("a crashed publisher (no marker) is invisible and never " +
      "blocks or pollutes the next publish") {
    val root = freshRoot()
    val (e, base, inc) = split()
    val q = queriesOf(e)
    VersionedIndex.publishBuild(spark, root, base)
    val before = rows(VersionedIndex.search(spark, root, q, e))

    // Simulate a publisher that died mid-build: a version dir with a
    // manifest but no marker, plus orphan data.
    val dead = new java.io.File(s"$root/v=2")
    assert(dead.mkdirs())
    Files.write(dead.toPath.resolve("manifest.json"),
      """{"version":2,"quant_pub":"p1","list_pubs":["p1","p2"]}"""
        .getBytes("UTF-8"))
    assert(new java.io.File(s"$root/lists/pub=p2/cid=0").mkdirs())

    // Readers resolve v1; the committed set excludes the corpse.
    assert(VersionedIndex.committedVersions(spark, root) === Seq(1L))
    assert(rows(VersionedIndex.search(spark, root, q, e)) === before)

    // The next publish numbers PAST the corpse (its data can never
    // be adopted) and commits cleanly.
    val v3 = VersionedIndex.publishAppend(spark, root, inc)
    assert(v3 === 3L)
    assert(VersionedIndex.manifest(spark, root, v3).listPubs ===
      Seq("p1", "p3"))
    assert(VersionedIndex.committedVersions(spark, root) === Seq(1L, 3L))
  }

  test("publishCompact preserves every reader's answer and gc drops " +
      "exactly the expired versions and unreferenced pubs") {
    val root = freshRoot()
    val (e, base, inc) = split()
    val q = queriesOf(e)
    VersionedIndex.publishBuild(spark, root, base)    // v1: p1
    VersionedIndex.publishAppend(spark, root, inc)    // v2: p1+p2
    val v2Ans = rows(VersionedIndex.search(spark, root, q, e))

    val v3 = VersionedIndex.publishCompact(spark, root) // v3: p3 only
    assert(VersionedIndex.manifest(spark, root, v3).listPubs ===
      Seq("p3"))
    // Same answer through the compacted snapshot AND the old one.
    assert(rows(VersionedIndex.search(spark, root, q, e)) === v2Ans)
    assert(rows(VersionedIndex.search(spark, root, q, e, Some(2L)))
      === v2Ans)

    // gc(keepLast=1): v1/v2 dirs gone, p1's lists and p2 gone, the
    // quantizer pub p1 KEPT (v3 still references it), answer stable.
    val (dropV, dropP) = VersionedIndex.gc(spark, root, keepLast = 1)
    assert(dropV === Seq(1L, 2L))
    assert(dropP === Seq("p1", "p2"))
    assert(!new java.io.File(s"$root/v=1").exists())
    assert(!new java.io.File(s"$root/lists/pub=p1").exists())
    assert(!new java.io.File(s"$root/lists/pub=p2").exists())
    assert(new java.io.File(s"$root/centroids/pub=p1").exists())
    assert(VersionedIndex.committedVersions(spark, root) === Seq(3L))
    assert(rows(VersionedIndex.search(spark, root, q, e)) === v2Ans)
  }

  test("publishSplit rewrites ONLY the hot cell, keeps old versions " +
      "resolving, loses no vector, and preserves recall") {
    import org.apache.spark.sql.expressions.Window
    val root = freshRoot()
    val (e, base, inc) = split()
    val q = queriesOf(e)
    VersionedIndex.publishBuild(spark, root, base)   // v1: p1
    VersionedIndex.publishAppend(spark, root, inc)   // v2: p1+p2
    val preAns = rows(VersionedIndex.search(spark, root, q, e))

    // Exact ground truth for recall (brute-force top-k).
    val wr = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    val truth = q.crossJoin(e)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorSearch.cosine(col("qv"), col("v"), col("qn"), col("nrm"))
          .as("cos"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= VectorSearch.TopK)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ans: Seq[(Long, Long, Long)]): Double =
      ans.map(t => (t._1, t._2)).toSet.intersect(truth).size.toDouble /
        truth.size

    // Pre-split state for the only-affected-partitions assertion.
    def listFiles(pub: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/lists/pub=$pub")
      Option(d.listFiles()).getOrElse(Array.empty).flatMap { cd =>
        Option(cd.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.length())
      }.toMap
    }
    val p1Before = listFiles("p1")
    val p2Before = listFiles("p2")
    val m2 = VersionedIndex.manifest(spark, root, 2L)
    val hotExpected = VersionedIndex.listsOf(spark, root, m2)
      .groupBy("cid").count()
      .orderBy(desc("count"), asc("cid")).first().getLong(0)
    val maxCid = VersionedIndex.centOf(spark, root, m2)
      .agg(max("cid")).first().getLong(0)
    val v2Ids = VersionedIndex.listsOf(spark, root, m2)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // Below threshold: balanced-enough store is untouched.
    assert(VersionedIndex.publishSplit(spark, root, e,
      minRatio = 1e9) === None)
    assert(VersionedIndex.committedVersions(spark, root) === Seq(1L, 2L))

    val v3 = VersionedIndex.publishSplit(spark, root, e, minRatio = 0.0)
    assert(v3 === Some(3L))
    val m3 = VersionedIndex.manifest(spark, root, 3L)
    assert(m3.quantPub === "p3" &&
      m3.listPubs === Seq("p1", "p2", "p3") &&
      m3.dropCids === Seq(hotExpected))

    // Only the split cell's partitions were written: prior pubs are
    // bit-identical, the new pub holds only child cids past maxCid.
    assert(listFiles("p1") === p1Before)
    assert(listFiles("p2") === p2Before)
    val p3Cids = Option(new java.io.File(s"$root/lists/pub=p3")
        .listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName.stripPrefix("cid=").toLong)
      .toSet
    assert(p3Cids.nonEmpty && p3Cids.forall(_ > maxCid),
      s"children must take fresh cids past $maxCid: $p3Cids")

    // The centroid generation replaced the hot cell with the children.
    val cids3 = VersionedIndex.centOf(spark, root, m3)
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(!cids3.contains(hotExpected) && p3Cids.subsetOf(cids3))

    // No vector lost or duplicated across the split.
    val ids3 = VersionedIndex.listsOf(spark, root, m3)
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids3.length === ids3.distinct.length)
    assert(ids3.toSet === v2Ids)

    // Old versions still resolve to their exact pre-split answer.
    assert(rows(VersionedIndex.search(spark, root, q, e, Some(2L)))
      === preAns)

    // Recall is preserved through the rebalance.
    val postAns = rows(VersionedIndex.search(spark, root, q, e))
    assert(recallOf(postAns) >= recallOf(preAns),
      s"recall ${recallOf(postAns)} fell below ${recallOf(preAns)}")
  }

  /** Drifted-store builder. `blobs = true` plants four SEPARABLE
    * 50-vector blobs tilted around one trained centroid (all four
    * encode into its cell — a hot cell 2-means CAN keep halving,
    * blob by blob); `blobs = false` plants 300 near-clones of one
    * base vector (a duplicate-dominated cell 2-means cannot split —
    * the farthest-point seeds shed ~one outlier per round).
    */
  private def driftedStore(blobs: Boolean)
      : (String, DataFrame, DataFrame) = {
    import spark.implicits._
    val root = freshRoot()
    val (e, base, inc) = split()
    VersionedIndex.publishBuild(spark, root, base)
    val skew =
      if (!blobs) {
        val seedV = e.filter(col("vec_id") === 20L)
          .select("v").collect()(0).getSeq[Double](0).toArray
        (0 until 300).map { i =>
          val v = Array.tabulate(seedV.length)(d =>
            seedV(d) + ((i * 31 + d * 17) % 11 - 5) * 0.01)
          (100000L + i, v.toSeq, math.sqrt(v.map(x => x * x).sum))
        }.toDF("vec_id", "v", "nrm")
      } else {
        // Four blob directions c ± tilt_k around the centroid the
        // base vector 20 assigned to — cos(blob, c) ≈ 0.97 keeps all
        // four in its cell, inter-blob cos ≈ 0.94 keeps them
        // 2-means-separable.
        val v20 = e.filter(col("vec_id") === 20L)
          .select("v", "nrm").collect()(0)
        val (v20v, v20n) =
          (v20.getSeq[Double](0).toArray, v20.getDouble(1))
        val cents = spark.read.parquet(s"$root/centroids")
          .select("cid", "cv", "cn").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
            r.getDouble(2)))
        val c = cents.maxBy { case (_, cv, cn) =>
          (0 until 64).map(d => v20v(d) * cv(d)).sum / (cn * v20n)
        }._2
        (0 until 200).map { i =>
          val k = i % 4
          val v = Array.tabulate(c.length) { d =>
            val tilt = c((d + 8 + 8 * k) % c.length)
            c(d) + 0.25 * tilt +
              ((i * 31 + d * 17) % 11 - 5) * 0.002
          }
          (100000L + i, v.toSeq, math.sqrt(v.map(x => x * x).sum))
        }.toDF("vec_id", "v", "nrm")
      }
    val corpus = e.unionByName(skew).localCheckpoint()
    VersionedIndex.publishAppend(spark, root, inc.unionByName(skew))
    (root, e, corpus)
  }

  private def occOf(root: String): Seq[Long] = {
    val m = VersionedIndex.currentManifest(spark, root).get
    VersionedIndex.listsOf(spark, root, m)
      .groupBy("cid").count().collect().map(_.getLong(1)).toSeq
  }

  test("rebalance (round 11): repeat-until-balanced policy on " +
      "splittable drift — post-condition max <= ratio * mean, one " +
      "snapshot per round, old versions intact, no-op when balanced") {
    val (root, e, corpus) = driftedStore(blobs = true)
    val q = queriesOf(e)
    val preAns = rows(VersionedIndex.search(spark, root, q, corpus))
    val occ0 = occOf(root)
    val ratio = 2.0 // the production drift policy
    assert(occ0.max > ratio * (occ0.sum.toDouble / occ0.length),
      "the drifted store must start out of policy")
    val vs = VersionedIndex.rebalance(spark, root, corpus,
      maxRatio = ratio, maxRounds = 16)
    assert(vs.nonEmpty, "the fixture store must need rebalancing")
    // One committed snapshot per round, consecutively numbered.
    assert(vs === (3L until 3L + vs.length).toSeq)
    assert(VersionedIndex.committedVersions(spark, root)
      === (1L to (2L + vs.length)).toSeq)
    // Policy post-condition (the loop ended by balance, not budget).
    assert(vs.length < 16, "rebalance must converge inside the budget")
    val occ = occOf(root)
    val mean = occ.sum.toDouble / occ.length
    assert(occ.max <= ratio * mean,
      s"post-condition violated: max ${occ.max} > $ratio x $mean")
    // A second loop is a no-op on the balanced store.
    assert(VersionedIndex.rebalance(spark, root, corpus,
      maxRatio = ratio, maxRounds = 16) === Seq.empty)
    // Pre-rebalance snapshots still answer bit-for-bit.
    assert(rows(VersionedIndex.search(spark, root, q, corpus, Some(2L)))
      === preAns)
    // The final snapshot still answers with dense ranks per query.
    val fin = rows(VersionedIndex.search(spark, root, q, corpus))
    fin.groupBy(_._1).values.foreach(rs =>
      assert(rs.map(_._3).sorted === (1L to rs.length.toLong)))
  }

  /** All parquet data files currently under `root`/lists (path →
    * length) — the byte-census the delete gates diff.
    */
  private def listFiles(root: String): Map[String, Long] = {
    val d = java.nio.file.Paths.get(s"$root/lists")
    val it = java.nio.file.Files.walk(d).iterator()
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        out += p.toString -> java.nio.file.Files.size(p)
    }
    out.result()
  }

  /** Every vec_id readable from ANY list file on disk — each file
    * read INDIVIDUALLY (not via the manifest, not via partition
    * discovery), so presence here means the bytes are still in some
    * file regardless of what any snapshot resolves.
    */
  private def idsOnDisk(root: String): Set[Long] =
    listFiles(root).keySet.flatMap { f =>
      spark.read.parquet(f).select("vec_id")
        .collect().map(_.getLong(0))
    }

  test("publishDelete (round 13): surgical rewrite, idempotent " +
      "replay, pre-gc snapshot isolation, post-gc byte-level forget, " +
      "and equivalence with a re-encoded survivor index") {
    val root = freshRoot()
    val (e, base, inc) = split()
    val q = queriesOf(e)
    VersionedIndex.publishBuild(spark, root, base)  // v1
    VersionedIndex.publishAppend(spark, root, inc)  // v2
    val preAns = rows(VersionedIndex.search(spark, root, q, e))

    val del = e.filter(col("vec_id") % VersionedIndex.DeleteMod
      === VersionedIndex.DeleteRem).select("vec_id")
    val delIds = del.collect().map(_.getLong(0)).toSet
    assert(preAns.exists { case (_, n, _) => delIds.contains(n) },
      "the delete slice must intersect the pre-delete answer " +
        "(otherwise the gate is vacuous)")

    val before = listFiles(root)
    val v3 = VersionedIndex.publishDelete(spark, root, del)
    assert(v3.nonEmpty)
    // Idempotency: the rows are gone, so the replay finds nothing
    // and commits nothing.
    assert(VersionedIndex.publishDelete(spark, root, del).isEmpty)
    assert(VersionedIndex.committedVersions(spark, root)
      === Seq(1L, 2L, v3.get))

    // Surgical: every pre-existing list file is still there,
    // byte-for-byte the same length — the delete only ADDED a pub.
    val after = listFiles(root)
    before.foreach { case (p, n) =>
      assert(after.get(p).contains(n), s"delete touched $p")
    }

    // Post-delete search == IVFADC over the surviving corpus
    // re-encoded from scratch against the SAME quantizer generation
    // (the manifest's cent/cb): deletion is pure set subtraction.
    val m3 = VersionedIndex.manifest(spark, root, v3.get)
    val cent2 = VersionedIndex.centOf(spark, root, m3).localCheckpoint()
    val cb2 = VersionedIndex.cbOf(spark, root, m3).localCheckpoint()
    val eSurv = e.join(del, Seq("vec_id"), "left_anti")
    val want = rows(VectorIndex.searchFrames(spark, cent2, cb2,
      VectorIndex.encode(eSurv, cent2, cb2), q, e))
    val got = rows(VersionedIndex.search(spark, root, q, e))
    assert(got === want)
    assert(got.forall { case (_, n, _) => !delIds.contains(n) })

    // Snapshot isolation: v2 still answers the PRE-delete result,
    // because the deleted bytes are still on disk...
    assert(rows(VersionedIndex.search(spark, root, q, e, Some(2L)))
      === preAns)
    assert(idsOnDisk(root).intersect(delIds).nonEmpty)

    // ...until gc expires the pre-delete snapshots: then NO file on
    // disk holds a deleted row (pub-level sweep for the old quant
    // generation + cid-level sweep for the retired cells).
    VersionedIndex.gc(spark, root, keepLast = 1)
    assert(idsOnDisk(root).intersect(delIds) === Set.empty)
    assert(rows(VersionedIndex.search(spark, root, q, e)) === want)
  }

  test("publishAppend carries drop_cids forward — an append after a " +
      "split cannot resurrect the retired cell's rows") {
    val root = freshRoot()
    val (e, base, inc) = split()
    VersionedIndex.publishBuild(spark, root, base)  // v1
    VersionedIndex.publishAppend(spark, root, inc)  // v2
    val v3 = VersionedIndex.publishSplit(spark, root, e, minRatio = 0.0)
    val drops = VersionedIndex.manifest(spark, root, v3.get).dropCids
    assert(drops.nonEmpty)
    val batch = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 90000L).as("vec_id"), col("v"),
        col("nrm"))
    val v4 = VersionedIndex.publishAppend(spark, root, batch)
    val m4 = VersionedIndex.manifest(spark, root, v4)
    assert(m4.dropCids === drops)
    assert(VersionedIndex.listsOf(spark, root, m4)
      .filter(col("cid").isin(drops: _*)).count() === 0L)
  }

  test("rebalance: a clone-dominated hot cell ALSO converges — the " +
      "median bisection halves a cell regardless of content " +
      "diversity (the case 2-means could not split)") {
    // Near-zero angular spread: farthest-point-seeded 2-means shed
    // ~one outlier per round on this cell (measured 330 -> 307 ->
    // 306 -> ...), which is why publishSplit bisects at the median
    // instead. Balance must now reach policy in O(log) rounds.
    val (root, _, corpus) = driftedStore(blobs = false)
    val occ0 = occOf(root)
    val ratio = 2.0
    assert(occ0.max > ratio * (occ0.sum.toDouble / occ0.length))
    val vs = VersionedIndex.rebalance(spark, root, corpus,
      maxRatio = ratio, maxRounds = 16)
    assert(vs.nonEmpty && vs.length < 16,
      s"halving must converge in O(log) rounds, ran ${vs.length}")
    val occ = occOf(root)
    assert(occ.sum === occ0.sum, "no vector lost by the loop")
    assert(occ.max <= ratio * (occ.sum.toDouble / occ.length),
      s"post-condition violated: ${occ.max} vs mean ${occ.sum / occ.length}")
  }
}
