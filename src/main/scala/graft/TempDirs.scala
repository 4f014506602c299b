package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.util.ShutdownHookManager

/** Fixture state for one JVM: the registry of query fixtures, each
  * built once per (kind, data dir), and one scratch root for their dirs,
  * the session's warehouse and the specs' temp dirs, deleted when the
  * JVM exits. The delete runs as a Hadoop shutdown hook below Spark's
  * own (priority 40), so it starts only after the session has stopped
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

  /** Holds one fixture's build; `get` runs it at most once to success. */
  private final class Once(build: => Any) { lazy val get: Any = build }

  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Once]()

  /** The fixture `kind` over data dir `dir`, built once per JVM. The map
    * only stores the holder; the build runs outside the map call, so a
    * build may itself call `once` for other keys. A build that throws
    * caches nothing: its holder is dropped and the next call builds
    * again with its own arguments.
    */
  def once[T](kind: String, dir: String)(build: => T): T = {
    val key = (kind, dir)
    val holder = fixtures.computeIfAbsent(key, _ => new Once(build))
    try holder.get.asInstanceOf[T]
    catch { case e: Throwable => fixtures.remove(key, holder); throw e }
  }
}
