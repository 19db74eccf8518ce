package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

/** The one place that decides where the engine's on-disk stores
  * live, how they are keyed and how they are deleted.
  *
  * The declared queries that persist a store (index, tokenizer,
  * ingest and pipeline stores, streaming checkpoints, the resume
  * workspace, the sharded sink) all ask [[path]] for their
  * directory:
  *
  * {{{
  *   /tmp/graft_<pid>_<identityHashCode(session)>/<family>_<md5(key)>
  * }}}
  *
  * Each (JVM, session) pair owns one top-level root, so two
  * concurrent harness JVMs, or two sessions in one JVM, never clobber
  * each other's store mid-read. A root outlives its session: a frame
  * returned to the caller reads its store lazily. Instead, each JVM
  * sweeps once, on its first [[path]] call, every root whose pid is
  * no longer alive; roots of live processes (our own included) are
  * never touched. Because the sweep matches the root, not the family,
  * a new store family is reaped without touching this module.
  *
  * Production callers of the artifact APIs pass their own paths;
  * this layout is the declared-query harness's scratch space.
  */
object StoreRoot {

  private val Root = "/tmp"

  /** `graft_<pid>_<identity hash>`; the hash may be negative. */
  private val Pat = "^graft_([0-9]+)_(-?[0-9]+)$".r

  private val swept = new AtomicBoolean(false)

  private[graft] def resetForTest(): Unit = swept.set(false)

  /** The directory of store `family` for `key` (usually the fixture
    * dir) in session `s`'s root. Nothing is created.
    */
  def path(s: SparkSession, family: String, key: String): String = {
    sweepStale()
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$Root/graft_${ProcessHandle.current().pid()}_" +
      s"${System.identityHashCode(s)}/${family}_$md5"
  }

  /** Delete the roots of dead pids. Idempotent per JVM. */
  private[graft] def sweepStale(): Unit =
    if (swept.compareAndSet(false, true)) {
      val self = ProcessHandle.current().pid()
      Option(new java.io.File(Root).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .foreach { f =>
          f.getName match {
            case Pat(pid, _) if f.isDirectory && pid.toLong != self && {
                val h = ProcessHandle.of(pid.toLong)
                !(h.isPresent && h.get().isAlive)
              } =>
              try rmTree(f.toPath)
              catch { // a residue costs disk, not correctness
                case e @ (_: java.io.IOException |
                    _: java.io.UncheckedIOException) =>
                  System.err.println(s"StoreRoot: could not reap $f: $e")
              }
            case _ => ()
          }
        }
    }

  /** Delete `p` and everything under it; symlinks are removed, never
    * followed. A missing `p` is a no-op.
    */
  def rmTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
      } finally walk.close()
    }
}
