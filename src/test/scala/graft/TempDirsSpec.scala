package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** `TempDirs.once`: one build per (kind, dir) per JVM, no cached
  * failures, and builds that themselves call `once` for other keys.
  */
class TempDirsSpec extends AnyFunSuite {

  // kinds no query fixture uses
  private def kind(k: String) = s"TempDirsSpec:$k"

  test("the same (kind, dir) builds once and returns the same value") {
    val builds = new AtomicInteger
    def build = { builds.incrementAndGet(); new Object }
    val a = TempDirs.once(kind("same"), "d")(build)
    val b = TempDirs.once(kind("same"), "d")(build)
    assert(a eq b)
    assert(builds.get === 1)
  }

  test("a different dir or kind builds again") {
    val builds = new AtomicInteger
    def build = builds.incrementAndGet()
    assert(TempDirs.once(kind("k1"), "d1")(build) === 1)
    assert(TempDirs.once(kind("k1"), "d2")(build) === 2)
    assert(TempDirs.once(kind("k2"), "d1")(build) === 3)
    assert(TempDirs.once(kind("k1"), "d1")(build) === 1)
  }

  test("a build that throws caches nothing; the next call builds again") {
    val e = intercept[IllegalStateException](
      TempDirs.once[String](kind("flaky"), "d")(
        throw new IllegalStateException("boom")))
    assert(e.getMessage === "boom")
    assert(TempDirs.once(kind("flaky"), "d")("built") === "built")
    assert(TempDirs.once(kind("flaky"), "d")("again") === "built")
  }

  /** One fixture whose build reads 64 other fixtures. */
  private def fanOut(once: (String, () => Int) => Int, k: String): Int =
    once(s"$k:outer", () =>
      (0 until 64).map(i => once(s"$k:inner$i", () => i)).sum)

  test("a build that calls 64 other keys completes") {
    assert(fanOut((key, f) => TempDirs.once(key, "d")(f()), kind("fan")) ===
      (0 until 64).sum)
  }

  test("the same fan-out through one computeIfAbsent wrapper fails") {
    // the registry shape `once` replaces: the build runs inside the map
    // call, so a nested call on the same map meets the outer key's
    // reservation (a shared bin, or the resize that 64 keys force)
    val map = new ConcurrentHashMap[String, Any]()
    def wrapper(key: String, f: () => Int): Int =
      map.computeIfAbsent(key, _ => f()).asInstanceOf[Int]
    val e = intercept[IllegalStateException](fanOut(wrapper, "wrapper"))
    assert(e.getMessage === "Recursive update")
  }
}
