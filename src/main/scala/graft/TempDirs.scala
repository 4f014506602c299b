package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.util.ShutdownHookManager

/** Scratch space for one JVM: the query fixtures' memoized dirs and the
  * specs' temp dirs all live under one root, deleted when the JVM exits.
  * The delete runs as a Hadoop shutdown hook below Spark's own
  * (priority 40), so it starts only after the session has stopped
  * writing into the root.
  */
object TempDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    ShutdownHookManager.get().addShutdownHook(
      () => FileUtils.deleteQuietly(r.toFile), 20)
    r
  }

  /** A fresh directory named `prefix` + random digits under the root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
