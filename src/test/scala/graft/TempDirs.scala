package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a suite's tests: each is made under one
  * `graft-<suite>*` root in the system temp dir, and the root is
  * deleted after the suite. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private lazy val tempRoot = Files.createTempDirectory(s"graft-${getClass.getSimpleName}")

  protected def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  override def afterAll(): Unit =
    try super.afterAll()
    finally graft.etl.Writers.deleteRecursively(tempRoot.toFile)
}
