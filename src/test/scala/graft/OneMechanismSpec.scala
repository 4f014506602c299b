package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder and one fixture registry: outside comments and
  * string literals, `src/main` and `src/test` start a `SparkSession`
  * only in `Tables.session` and make a `ConcurrentHashMap` only in
  * `TempDirs`, the registry of per-JVM fixtures. The two other maps are
  * `Listing.creationAccessors`, a per-class reflection cache, and the
  * spec that shows a plain `computeIfAbsent` registry failing.
  */
class OneMechanismSpec extends AnyFunSuite {
  import OneMechanismSpec._

  test("SparkSession.builder and ConcurrentHashMap appear only in their homes") {
    val root = Paths.get("src")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), UTF_8))
    assert(sources.size > 100, s"found only ${sources.size} sources under $root")
    val found = strays(sources)
    assert(found.isEmpty, s"${found.size} uses outside their home:\n" +
      found.mkString("\n"))
  }

  test("a use counts in code, not in comments or strings, and not at home") {
    val sources = Seq(
      "main/scala/graft/Tables.scala" -> "object T { SparkSession.builder() }",
      "main/scala/graft/A.scala" ->
        ("object A { val m = new java.util.concurrent.ConcurrentHashMap[Int, Int]\n" +
          "  // SparkSession.builder\n  val s = \"ConcurrentHashMap\" }"),
      "test/scala/graft/B.scala" -> "object B { SparkSession\n    .builder() }")
    assert(strays(sources) === Seq(
      "main/scala/graft/A.scala: ConcurrentHashMap",
      "test/scala/graft/B.scala: SparkSession\n    .builder"))
  }
}

object OneMechanismSpec {

  /** Each single mechanism's pattern, with the files (under `src`) that
    * may use it. */
  val homes: Seq[(String, Set[String])] = Seq(
    """SparkSession\s*\.\s*builder""" -> Set("main/scala/graft/Tables.scala"),
    "ConcurrentHashMap" -> Set(
      "main/scala/graft/TempDirs.scala",
      "main/scala/graft/sources/Listing.scala",
      "test/scala/graft/TempDirsSpec.scala"))

  /** "file: match" for every use of a pattern outside its home files,
    * over (file, source) pairs. */
  def strays(sources: Seq[(String, String)]): Seq[String] =
    for {
      (f, src) <- sources.sortBy(_._1)
      code = ReachabilitySpec.codeOf(src)
      (pattern, home) <- homes if !home(f)
      m <- pattern.r.findAllMatchIn(code)
    } yield s"$f: ${m.matched}"
}
