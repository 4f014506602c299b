package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level object in `src/main` is named, outside comments and
  * string literals, by main code outside its own definition. An object
  * that only specs reach is a second path beside the ones the queries,
  * pipelines and CLI run: wire it in or delete it.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("every top-level main object is named outside its own definition") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), UTF_8))
    assert(sources.size > 50, s"found only ${sources.size} main sources under $root")
    val found = orphans(sources).filterNot { case (_, name) => exempt(name) }
    assert(found.isEmpty, "main objects named only inside their own " +
      s"definition:\n${found.map { case (f, n) => s"$f: $n" }.mkString("\n")}")
  }

  test("an object is named from another file, or from its own file outside its body") {
    val sources = Seq(
      "a.scala" -> "object Used { def f = 1 }\nobject Lonely { def g = Lonely.h }\n",
      "b.scala" -> ("object Caller { Used.f }\nobject Helper { def f = 2 }\n" +
        "class Local { Helper.f } // Lonely\n"),
      "c.scala" -> "object Bare extends Runnable\n")
    assert(orphans(sources) === Seq("a.scala" -> "Lonely",
      "b.scala" -> "Caller", "c.scala" -> "Bare"))
  }

  test("the scanner drops comments and string bodies, keeps interpolated code") {
    val tq = "\"\"\""
    val src =
      """object A { // B
        |  /* C /* nested D */ still E */
        |  val q = '"'; val e = '\''; val s = "F // G \" M"
        |  val t = s"x ${H.h} $I y"; val z = s"${R.r("P")} $S"
        |""".stripMargin +
        s"  val u = ${tq}J $${K} $tq; val w = s${tq}N $${O} $tq\n" +
        """  val v = raw"\d${L}"
        |}
        |  object Nested
        |""".stripMargin
    val c = codeOf(src)
    Seq("A", "H", "I", "L", "O", "R", "S").foreach(n => assert(names(c, n), n))
    Seq("B", "C", "D", "E", "F", "G", "J", "K", "M", "N", "P").foreach(n =>
      assert(!names(c, n), n))
    assert(topLevelObjects(c).map(_._1) === Seq("A"))
  }
}

object ReachabilitySpec {

  /** Objects that nothing else in `src/main` need name. */
  val exempt: Set[String] = Set(
    // entry points, run by name with `runMain`
    "Main", "Bench", "Verify", "Explain",
    // named only inside configuration strings (`fs.file.impl`,
    // `spark.sql.extensions`)
    "LocalFs", "GraftExtensions",
    // operators/Metrics.scala: MetricsSpec uses it to measure main
    // queries, and ROADMAP item 1 makes it the one listener main code
    // reports through
    "Metrics")

  private def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '$'

  /** Whether `code` names the identifier `name`. */
  def names(code: String, name: String): Boolean =
    ("(?<![A-Za-z0-9_$])" + java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_$])").r.findFirstIn(code).isDefined

  /** The objects a source's code defines at the top level (column 0),
    * each with the extent of its definition: to the brace that closes
    * its body, or to the next top-level line if it has none.
    */
  def topLevelObjects(code: String): Seq[(String, Int, Int)] =
    """(?m)^(?:(?:private|protected|final|case)(?:\[\w+\])?\s+)*object\s+(\w+)""".r
      .findAllMatchIn(code).map { m =>
        val nextTop = """(?m)^\S""".r.findFirstMatchIn(code.substring(m.end))
          .map(m.end + _.start).getOrElse(code.length)
        val open = code.indexOf('{', m.end)
        val end =
          if (open < 0 || open > nextTop) nextTop
          else {
            var depth = 0
            var i = open
            do {
              if (code(i) == '{') depth += 1
              else if (code(i) == '}') depth -= 1
              i += 1
            } while (i < code.length && depth > 0)
            i
          }
        (m.group(1), m.start, end)
      }.toSeq

  /** (file, object) for every top-level object that no code outside its
    * own definition names, over (file, source) pairs.
    */
  def orphans(sources: Seq[(String, String)]): Seq[(String, String)] = {
    val code = sources.map { case (f, src) => f -> codeOf(src) }
    for {
      (f, c) <- code.sortBy(_._1)
      (name, from, to) <- topLevelObjects(c)
      if !names(c.substring(0, from) + " " + c.substring(to), name)
      if !code.exists { case (g, d) => g != f && names(d, name) }
    } yield f -> name
  }

  /** `src` without comments, string literals and char literals; the
    * code inside an interpolated string's `${...}` and `$name` stays.
    */
  def codeOf(src: String): String = {
    val out = new StringBuilder
    code(src, 0, out, nested = false)
    out.toString
  }

  /** Copies code from `start` to `out`. Nested in a `${`, it stops after
    * the `}` that closes it and returns the index that follows. */
  private def code(src: String, start: Int, out: StringBuilder,
                   nested: Boolean): Int = {
    val n = src.length
    var i = start
    var depth = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var d = 1
        i += 2
        while (i < n && d > 0) {
          if (src.startsWith("/*", i)) { d += 1; i += 2 }
          else if (src.startsWith("*/", i)) { d -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (src(i) == '"') {
        i = string(src, i, out)
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a char literal: 'x', '\n', '\''
        var j = if (src(i + 1) == '\\') i + 3 else i + 2
        while (j < n && src(j) != '\'') j += 1
        out.append(' ')
        i = j + 1
      } else {
        val c = src(i)
        if (nested && c == '}' && depth == 0) return i + 1
        if (nested && c == '{') depth += 1
        if (nested && c == '}') depth -= 1
        out.append(c)
        i += 1
      }
    }
    i
  }

  /** Skips the string literal at `start`, copying an interpolated
    * string's code to `out`; returns the index after the literal. */
  private def string(src: String, start: Int, out: StringBuilder): Int = {
    val n = src.length
    val interpolated = start > 0 && isIdent(src(start - 1))
    val triple = src.startsWith("\"\"\"", start)
    var j = if (triple) start + 3 else start + 1
    out.append(' ')
    while (j < n) {
      if (triple && src.startsWith("\"\"\"", j)) {
        j += 3
        while (j < n && src(j) == '"') j += 1 // """a"""" ends on the last three
        return j
      } else if (!triple && src(j) == '"') {
        return j + 1
      } else if (!triple && src(j) == '\n') {
        return j
      } else if (!triple && src(j) == '\\') {
        j += 2
      } else if (interpolated && src.startsWith("${", j)) {
        out.append(' ')
        j = code(src, j + 2, out, nested = true)
        out.append(' ')
      } else if (interpolated && src.startsWith("$$", j)) {
        j += 2
      } else if (interpolated && src(j) == '$') {
        var k = j + 1
        while (k < n && isIdent(src(k)) && src(k) != '$') k += 1
        out.append(' ').append(src.substring(j + 1, k)).append(' ')
        j = k
      } else j += 1
    }
    j
  }
}
