package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, TempDirs}

/** The publish crash matrix of the growing/sealed protocol, run once
  * against [[Segments]] on a two-table synthetic store (tables `a` and
  * `b`, both keyed by `k`). Each case leaves the store the way a crash
  * at one point of [[Segments.publish]] would, then replays the
  * publish: it must commit only the missing rows, report only that
  * delta and leave no staged root.
  */
class SegmentsSpec extends SparkSpec with TempDirs {

  private val Cols = Seq("k", "v")

  /** Staged batches: 0 = a {1, 2}, b {1, 2}; 1 = a {3}, b {3, 4}. */
  private val BatchA = Map(0L -> Seq(1L, 2L), 1L -> Seq(3L))
  private val BatchB = Map(0L -> Seq(1L, 2L), 1L -> Seq(3L, 4L))

  private class Store(root: Path) {
    val stA = s"$root/st_a"
    val stB = s"$root/st_b"
    val a = s"$root/a"
    val b = s"$root/b"

    def rowsOf(t: String, ks: Seq[Long]): DataFrame = {
      import spark.implicits._
      ks.map(k => (k, s"$t$k")).toDF("k", "v")
    }

    def stage(aBatches: Map[Long, Seq[Long]],
        bBatches: Map[Long, Seq[Long]]): Unit = {
      aBatches.foreach { case (id, ks) =>
        Segments.stage(stA)(rowsOf("a", ks), id)
      }
      bBatches.foreach { case (id, ks) =>
        Segments.stage(stB)(rowsOf("b", ks), id)
      }
    }

    /** Seal the staged partition of batch `id` of one table by hand. */
    def sealByHand(staged: String, sealedRoot: String, id: Long): Unit =
      spark.read.parquet(s"$staged/batch_id=$id").select("k", "v")
        .write.mode("append").parquet(sealedRoot)

    def tables(sealB: DataFrame => Long =
        Segments.appendMissing(spark, b, Seq("k"))): Seq[Segments.Table] =
      Seq(Segments.Table(stA, Cols,
          Segments.appendMissing(spark, a, Seq("k"))),
        Segments.Table(stB, Cols, sealB))

    def publish(): Seq[Long] = Segments.publish(spark, tables())

    def sealedKeys(t: String): Seq[Long] =
      spark.read.parquet(t).select("k").collect().map(_.getLong(0))
        .toSeq.sorted

    def assertSealedAndClean(): Unit = {
      assert(sealedKeys(a) === Seq(1L, 2L, 3L))
      assert(sealedKeys(b) === Seq(1L, 2L, 3L, 4L))
      assert(!Files.exists(java.nio.file.Paths.get(stA)), "staged a left")
      assert(!Files.exists(java.nio.file.Paths.get(stB)), "staged b left")
    }
  }

  test("a clean publish seals every batch and reports every row") {
    val st = new Store(tempDir("graft_seg_clean"))
    st.stage(BatchA, BatchB)
    assert(Segments.staged(spark, st.rowsOf("a", Nil), st.stA, Cols)
      .count() === 3L)
    assert(st.publish() === Seq(3L, 4L))
    st.assertSealedAndClean()
    assert(st.publish() === Seq(0L, 0L), "a second publish is a no-op")
  }

  test("crash after a table's append, before its partition delete") {
    val st = new Store(tempDir("graft_seg_append"))
    st.stage(BatchA, BatchB)
    // b's seal of batch 0 appends, then the process dies: both tables
    // hold batch 0, and no staged partition was deleted.
    var calls = 0
    val crashing: DataFrame => Long = { rows =>
      val n = Segments.appendMissing(spark, st.b, Seq("k"))(rows)
      calls += 1
      if (calls == 1) throw new IllegalStateException("crash")
      n
    }
    intercept[IllegalStateException](
      Segments.publish(spark, st.tables(crashing)))
    assert(st.sealedKeys(st.a) === Seq(1L, 2L))
    assert(st.sealedKeys(st.b) === Seq(1L, 2L))
    assert(st.publish() === Seq(1L, 2L), "replay reports only batch 1")
    st.assertSealedAndClean()
  }

  test("crash between two tables' partition deletes") {
    val st = new Store(tempDir("graft_seg_delete"))
    st.stage(BatchA, BatchB)
    // Batch 0 sealed in both tables; only a's partition was deleted.
    st.sealByHand(st.stA, st.a, 0L)
    st.sealByHand(st.stB, st.b, 0L)
    graft.core.StoreRoot.rmTree(
      java.nio.file.Paths.get(s"${st.stA}/batch_id=0"))
    assert(st.publish() === Seq(1L, 2L), "replay reports only batch 1")
    st.assertSealedAndClean()
  }

  test("an empty staged root left after the last partition delete") {
    val st = new Store(tempDir("graft_seg_root"))
    st.stage(BatchA, BatchB)
    assert(st.publish() === Seq(3L, 4L))
    // The crash hit before the roots were removed.
    Files.createDirectories(java.nio.file.Paths.get(st.stA))
    Files.createDirectories(java.nio.file.Paths.get(st.stB))
    assert(Segments.staged(spark, st.rowsOf("a", Nil), st.stA, Cols)
      .count() === 0L, "an empty root must read as no staged rows")
    assert(st.publish() === Seq(0L, 0L))
    st.assertSealedAndClean()
  }

  test("a batch staged in only one root still seals") {
    val st = new Store(tempDir("graft_seg_one"))
    // Batch 1 staged nothing in b (a zero-row table of that batch),
    // and batch 2 staged b's rows {3, 4} with nothing in a.
    st.stage(BatchA, Map(0L -> BatchB(0L), 2L -> BatchB(1L)))
    assert(st.publish() === Seq(3L, 4L))
    st.assertSealedAndClean()
    assert(st.publish() === Seq(0L, 0L))
  }
}
