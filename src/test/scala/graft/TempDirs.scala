package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.core.StoreRoot

/** Temp directories that live as long as the suite: [[tempDir]] hands
  * one out, and `afterAll` deletes every one the suite made.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = made.synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  override def afterAll(): Unit =
    try made.synchronized(made.foreach(StoreRoot.rmTree))
    finally super.afterAll()
}
