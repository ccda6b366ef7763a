package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

/** Temporary directories of one test JVM: each is deleted, with everything
  * under it, when the JVM exits. */
object TestDirs {
  private val made = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach(p => FileUtils.deleteQuietly(p.toFile))))

  /** A new empty directory under the system temp dir, named `prefix` + a
    * random suffix. */
  def fresh(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }
}
