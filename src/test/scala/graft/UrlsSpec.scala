package graft

import org.apache.spark.sql.functions._

import graft.functions.Urls

/** URL canonicalization: each rule in isolation plus the no-guessing
  * null contract for non-absolute inputs. */
class UrlsSpec extends SparkSpec {

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("u").select(Urls.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
  }

  test("scheme/host lowercase, default ports dropped, non-default kept") {
    assert(canon(
      "HTTP://EXAMPLE.COM/x",
      "http://example.com:80/x",
      "https://example.com:443/x",
      "https://example.com:8443/x",
      "http://example.com:443/x") === Seq(  // 443 is NOT http's default
      "http://example.com/x",
      "http://example.com/x",
      "https://example.com/x",
      "https://example.com:8443/x",
      "http://example.com:443/x"))
  }

  test("path: slashes collapse, trailing slash drops, root and empty stay /") {
    assert(canon(
      "https://h.com/a//b///c/",
      "https://h.com/",
      "https://h.com",
      "https://h.com//") === Seq(
      "https://h.com/a/b/c",
      "https://h.com/",
      "https://h.com/",
      "https://h.com/"))
  }

  test("query: tracking params drop, rest sort, fragment drops") {
    assert(canon(
      "https://h.com/p?utm_source=x&b=2&a=1&gclid=g#frag",
      "https://h.com/p?a=1&b=2",
      "https://h.com/p?b=2&a=1",
      "https://h.com/p?utm_campaign=only",
      "https://h.com/p#frag") === Seq(
      "https://h.com/p?a=1&b=2",
      "https://h.com/p?a=1&b=2",
      "https://h.com/p?a=1&b=2",   // order-insensitive = same canonical
      "https://h.com/p",           // all params tracked away
      "https://h.com/p"))
  }

  test("non-absolute or garbage input is null, never guessed") {
    assert(canon("not a url", "/relative/path", "", "example.com/x")
      === Seq(null, null, null, null))
  }

  test("raw U+0001 (the split delimiter) in any input is null") {
    // three raw bytes in a non-matching string used to split into the
    // four scheme/host/path/tail parts and canonicalize to garbage
    assert(canon("a\u0001b\u0001/c\u0001d", "https://h.com/p\u0001q")
      === Seq(null, null))
  }

  test("canonical form is a fixed point: canon(canon(u)) == canon(u)") {
    // property over generated messy URLs: random case, optional default
    // or odd port, duplicate slashes, shuffled params with tracking
    // noise, optional fragment — idempotence is what lets a pipeline
    // re-canonicalize already-clean URLs (re-crawls, merged corpora)
    // without drift
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val gen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      host <- Gen.oneOf("Example.COM", "sub.Host.org", "X.io")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      slashes <- Gen.oneOf("/", "//", "///")
      segs <- Gen.listOfN(2, Gen.alphaNumStr.suchThat(_.nonEmpty))
      trail <- Gen.oneOf("", "/")
      params <- Gen.someOf(Seq("a=1", "b=2", "utm_source=x", "gclid=g", "z=9"))
      frag <- Gen.oneOf("", "#sec")
    } yield s"$scheme://$host$port$slashes${segs.mkString("/")}$trail" +
      (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag
    (1L to 5L).foreach { s =>
      val urls = sample(Gen.listOfN(40, gen), 400 + s)
      val once = canon(urls: _*)
      val twice = canon(once.filter(_ != null): _*)
      assert(once.filter(_ != null) === twice)
      // and canonicalization never yields an empty or fragment-bearing form
      once.filter(_ != null).foreach { c =>
        assert(c.matches("^https?://[^#]*$"), c)
      }
    }
  }
}
