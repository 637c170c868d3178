package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories of one suite, all under a root in
  * `java.io.tmpdir` that is deleted when the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private lazy val tempRoot = Files.createTempDirectory(s"graft_${getClass.getSimpleName}")

  /** A new empty directory whose name starts with `prefix`. */
  def freshDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  /** A path named `name` that does not exist yet, in a new directory:
    * for writers and table locations that must start absent. */
  def freshPath(name: String): String = freshDir(name).resolve(name).toString

  override def afterAll(): Unit =
    try super.afterAll()
    finally org.apache.commons.io.FileUtils.deleteQuietly(tempRoot.toFile)
}
