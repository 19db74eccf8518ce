package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.StoreRoot

/** The stale-store sweep of [[StoreRoot]]: a dead pid's root is reaped
  * whatever store families it holds; live roots (our own, init's) and
  * names outside the `graft_<pid>_<hash>` layout are never touched.
  */
class GateSweepSpec extends AnyFunSuite {

  /** Every store family the engine writes. */
  private val families = Seq("ivfpq_index", "vindex", "vsplit", "vdelete",
    "rag_index", "ingest_gate", "dedup_ingest", "pipe_ingest",
    "pipe_compact", "pipe_full", "tok_store", "uni_store", "resume",
    "sharded", "events_stream", "ckpt")

  private val md5 = "0123456789abcdef0123456789abcdef"

  /** A root `/tmp/<name>` holding one store of each family. */
  private def mkRoot(name: String): Path = {
    val d = Paths.get("/tmp", name)
    families.foreach { f =>
      val st = Files.createDirectories(d.resolve(s"${f}_$md5"))
      Files.write(st.resolve("payload"), "x".getBytes)
    }
    d
  }

  test("sweep deletes dead-pid gate stores only") {
    // A pid that certainly does not exist: beyond pid_max ranges is
    // unsafe to assume, so probe downward from a large value.
    val deadPid = Iterator.iterate(999999L)(_ - 1)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val self = ProcessHandle.current().pid()

    // The events_stream store links to the fixture: the sweep must
    // remove the link, never what it points at.
    val target = Files.createTempFile("graft_sweep_target", ".parquet")
    val dead = mkRoot(s"graft_${deadPid}_42")
    Files.createSymbolicLink(
      dead.resolve(s"events_stream_$md5/events.parquet"), target)
    val deadNeg = mkRoot(s"graft_${deadPid}_-7")
    val mine = mkRoot(s"graft_${self}_42")
    val init = mkRoot("graft_1_42") // pid 1 is alive
    val spec = Files.createTempDirectory("graft_vtest")
    val late = Paths.get("/tmp", s"graft_${deadPid}_43")

    try {
      StoreRoot.resetForTest()
      StoreRoot.sweepStale()
      assert(!Files.exists(dead), "dead-pid root must be reaped")
      assert(!Files.exists(deadNeg), "dead-pid root must be reaped")
      assert(Files.exists(target), "a link's target is not ours")
      families.foreach { f =>
        assert(Files.exists(mine.resolve(s"${f}_$md5/payload")),
          s"our own $f store must survive")
        assert(Files.exists(init.resolve(s"${f}_$md5/payload")),
          s"a live pid's $f store must survive")
      }
      assert(Files.exists(spec), "a temp dir outside the layout is not ours")
      // Idempotence: a second call in the same JVM is a no-op even
      // if new stale roots appear (once-per-JVM contract).
      mkRoot(late.getFileName.toString)
      StoreRoot.sweepStale()
      assert(Files.exists(late))
    } finally {
      Seq(dead, deadNeg, mine, init, spec, late, target)
        .foreach(StoreRoot.rmTree)
      StoreRoot.resetForTest()
    }
  }
}
