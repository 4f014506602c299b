package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.util.ShutdownHookManager

/** Scratch space for specs: every temp dir a spec makes lives under one
  * root per test JVM, deleted when the JVM exits. The delete runs as a
  * Hadoop shutdown hook below Spark's own (priority 40), so it starts
  * only after the shared session has stopped writing into the root.
  */
object TempDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-specs")
    ShutdownHookManager.get().addShutdownHook(
      () => FileUtils.deleteQuietly(r.toFile), 20)
    r
  }

  /** A fresh directory named `prefix` + random digits under the root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
