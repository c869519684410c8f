package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{Args, Status, Suite, SuiteMixin}

/** Scratch directories for a suite: [[scratchDir]] creates one under the
  * JVM tmpdir, and every directory the suite created is deleted when the
  * suite finishes, whether its tests passed, failed or aborted — so a
  * suite run leaves nothing in a tmpdir it shares with other processes.
  * Deletion waits for the suite's end because suites keep shared stores
  * in lazy vals across tests.
  */
trait ScratchDirs extends SuiteMixin { this: Suite =>

  private val scratch = new ConcurrentLinkedQueue[Path]()

  /** A fresh empty directory named `prefix<random>`, deleted with the suite. */
  def scratchDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    scratch.add(d)
    d
  }

  abstract override def run(testName: Option[String], args: Args): Status = {
    val status =
      try super.run(testName, args)
      catch { case e: Throwable => deleteScratch(); throw e }
    status.whenCompleted(_ => deleteScratch())
    status
  }

  private def deleteScratch(): Unit =
    Iterator.continually(scratch.poll()).takeWhile(_ != null)
      .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
}
