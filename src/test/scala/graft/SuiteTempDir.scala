package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** One temp dir per suite for the stores its tests build, deleted when
  * the suite ends, so repeated runs leave nothing behind. */
trait SuiteTempDir extends BeforeAndAfterAll { this: Suite =>
  private lazy val root: Path = Files.createTempDirectory(getClass.getSimpleName)

  /** A fresh directory under the suite's temp dir. */
  protected def tmpDir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** A fresh store path (not yet created) under the suite's temp dir. */
  protected def tmp(prefix: String): String = tmpDir(prefix) + "/s"

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    finally super.afterAll()
}
