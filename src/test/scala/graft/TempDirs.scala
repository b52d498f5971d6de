package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a suite. Each [[tempDir]] is made under the
  * system temp dir and deleted, with everything in it, after the
  * suite's last test. Any streaming query still active then is stopped
  * first, so nothing writes into a directory while it is removed.
  */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[File]()

  /** A fresh directory named `prefix…`; returns its absolute path. */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    dirs.add(dir)
    dir.getAbsolutePath
  }

  override protected def afterAll(): Unit =
    try {
      SparkSession.getDefaultSession.foreach(_.streams.active.foreach(_.stop()))
      dirs.forEach(d => FileUtils.deleteDirectory(d))
    } finally super.afterAll()
}
