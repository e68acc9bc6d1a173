package graft

import org.apache.spark.sql.functions._
import graft.clean.UrlFns

/** URL canonicalization rules, each pinned on a planted case. */
class UrlFnsSpec extends SparkSuite {
  import spark.implicits._

  private def canon(u: String): String =
    Seq(u).toDF("u").select(UrlFns.canonicalUrl(col("u"))).collect()(0).getString(0)

  test("scheme/host lowercase; PATH case preserved") {
    assert(canon("HTTP://WWW.Site.COM/CaseSensitive/Path")
      == "http://www.site.com/CaseSensitive/Path")
  }

  test("default port stripped only for the matching scheme") {
    assert(canon("http://a.com:80/x") == "http://a.com/x")
    assert(canon("https://a.com:443/x") == "https://a.com/x")
    assert(canon("https://a.com:80/x") == "https://a.com:80/x")
    assert(canon("http://a.com:8080/x") == "http://a.com:8080/x")
  }

  test("host/path split of canonical URLs: port, query, fragment, empty path") {
    def split(u: String): (String, String) = {
      val c = UrlFns.canonicalUrl(col("u"))
      val r = Seq(u).toDF("u").select(UrlFns.host(c), UrlFns.path(c)).collect()(0)
      (r.getString(0), r.getString(1))
    }
    // a non-default port stays in the canonical authority, never in the host
    assert(split("HTTP://Site.COM:8080/a/B?x=1#f") == ("site.com", "/a/B?x=1"))
    assert(split("https://a.com:443/p") == ("a.com", "/p"))
    // query without a path; fragment-only remainder; empty path
    assert(split("https://a.com?q=1") == ("a.com", "?q=1"))
    assert(split("https://a.com/#top") == ("a.com", "/"))
    assert(split("https://a.com") == ("a.com", ""))
    // no scheme: no host, the whole string is the remainder
    assert(split("a.com/x") == ("", "a.com/x"))
    // the DuckDB fragments the oracles embed, byte for byte
    assert(UrlFns.hostDuck("canon") ==
      "regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1)")
    assert(UrlFns.pathDuck("canon") ==
      "regexp_replace(canon, '^[a-z0-9+.-]+://[^/?#]*', '', 'g')")
  }

  test("fragment dropped; queryless and fragmentless URLs pass through") {
    assert(canon("http://a.com/x#frag#more") == "http://a.com/x")
    assert(canon("http://a.com/x") == "http://a.com/x")
  }

  test("tracking params dropped, survivors sorted binary, empty query loses '?'") {
    assert(canon("http://a.com/x?utm_source=f&b=2&utm_campaign=c&a=1")
      == "http://a.com/x?a=1&b=2")
    assert(canon("http://a.com/x?z=1&Z=2&ref=t") == "http://a.com/x?Z=2&z=1")
    assert(canon("http://a.com/x?utm_medium=m&fbclid=f&gclid=g&ref=r")
      == "http://a.com/x")
    // 'referrer=x' is NOT the tracking param 'ref' (anchored match)
    assert(canon("http://a.com/x?referrer=x") == "http://a.com/x?referrer=x")
  }

  test("canonicalization collapses crawl-frontier variants to one key") {
    val variants = Seq(
      "HTTP://Site.com/p?id=1&utm_source=a",
      "http://site.com:80/p?id=1",
      "http://SITE.COM/p?id=1#top",
      // RFC 3986 §6.2.2.3: dot-segment variants are the SAME resource
      "http://site.com/a/../p?id=1",
      "http://site.com/./p?id=1")
    assert(variants.map(canon).distinct == Seq("http://site.com/p?id=1"))
  }

  test("dotSteps residue at the bound is pinned (silent-rewrite guard)") {
    // the algebra is documented as bounded: ≤8 '..' levels resolve
    // fully; DEEPER traversals leave a residue that both engines share.
    // Pin the exact residue shape so a future rewrite of dotSteps
    // cannot change cross-engine behavior silently (ADVICE r14).
    val eight = "http://a.com" + "/d" * 8 + "/.." * 8 + "/x"
    assert(canon(eight) == "http://a.com/x")
    // NESTED traversals retire one level per up-pass: the 9th stays
    val nine = "http://a.com" + "/d" * 9 + "/.." * 9 + "/x"
    assert(canon(nine) == "http://a.com/d/../x", canon(nine))
    // 17 levels leave exactly 9 unresolved pairs — verbatim, both engines
    val deep = "http://a.com" + "/d" * 17 + "/.." * 17 + "/x"
    assert(canon(deep) == "http://a.com" + "/d" * 9 + "/.." * 9 + "/x", canon(deep))
    // consecutive '.' segments: 4 halving passes clear runs of <= 15;
    // 16+ leaves a single '/./' residue
    assert(canon("http://a.com" + "/." * 15 + "/x") == "http://a.com/x")
    val dots20 = "http://a.com" + "/." * 20 + "/x"
    assert(canon(dots20) == "http://a.com/./x", canon(dots20))
  }

  test("pct normalization: hex uppercase, unreserved decode, reserved kept") {
    // the three %7E spellings are ONE frontier key (RFC 3986 §6.2.2.1-2)
    assert(Seq("http://a.com/a%7eb", "http://a.com/a%7Eb", "http://a.com/a~b")
      .map(canon).distinct == Seq("http://a.com/a~b"))
    // letters + digits decode; reserved %2F stays encoded but uppercases
    assert(canon("http://a.com/v%41r%330?q=x%2fy") == "http://a.com/vAr30?q=x%2Fy")
    // a decoded %2E can mint a dot segment — removed AFTER the decode
    assert(canon("http://a.com/%2E%2E/x") == "http://a.com/x")
    // malformed sequences pass through untouched
    assert(canon("http://a.com/p%zq?x=%a") == "http://a.com/p%zq?x=%a")
    // the documented order-sensitive adversarial window (UrlFns)
    assert(canon("http://a.com/%4%311") == "http://a.com/A1")
    // normalization happens BEFORE the query sort, so %6a and %6A
    // collapse and then sort as equals
    assert(canon("http://a.com/x?b=%6a&a=%6A") == "http://a.com/x?a=j&b=j")
  }

  test("IDN table subset: unicode/punycode/uppercase spellings are one key") {
    assert(Seq("https://münchen.example.com/x",
        "https://xn--mnchen-3ya.example.com/x",
        "https://MÜNCHEN.example.com/x").map(canon).distinct
      == Seq("https://xn--mnchen-3ya.example.com/x"))
    assert(canon("https://日本.example.com/") == "https://xn--wgv71a.example.com/")
    // labels OUTSIDE the table pass through (documented subset)
    assert(canon("https://żółć.example.com/") == "https://żółć.example.com/")
  }

  test("IDN rewrite is label-anchored and encoder-derived (ADVICE r15)") {
    // a table key INSIDE a longer label must NOT rewrite (the r15
    // substring false-rewrite: münchenstadt minted an invalid punycode
    // spelling that could alias a literal ASCII host)
    assert(canon("https://münchenstadt.example.com/x")
      == "https://münchenstadt.example.com/x")
    assert(canon("https://stadtmünchen.example.com/x")
      == "https://stadtmünchen.example.com/x")
    // a label never present in the old hand list is covered because the
    // table is DERIVED from the reference encoder over idnLabels
    assert(canon("https://zürich.example.com/x")
      == "https://xn--zrich-kva.example.com/x")
    UrlFns.idnPairs.foreach { case (l, p) =>
      assert(p == java.net.IDN.toASCII(l), s"idnPairs($l) is not the encoder's output")
    }
    // documented residue: ADJACENT same-label occurrences share a dot
    // boundary, so one anchored pass rewrites alternate occurrences —
    // identical in all three engines (the dotSteps residue precedent)
    assert(canon("https://münchen.münchen.example.com/")
      == "https://xn--mnchen-3ya.münchen.example.com/")
  }

  test("dot segments normalize in the path, never in the query") {
    assert(canon("http://a.com/x/y/../z") == "http://a.com/x/z")
    assert(canon("http://a.com/x/./y/.") == "http://a.com/x/y/")
    assert(canon("http://a.com/../x") == "http://a.com/x") // root excess clamps
    // a query carrying /../ is DATA, not a path — untouched
    assert(canon("http://a.com/p?next=/a/../b") == "http://a.com/p?next=/a/../b")
  }

  test("canonical_url native == declarative chain, interpreted == codegen") {
    // the edge-case fixture: every rule plus the shapes that stress the
    // native reimplementation's string carpentry (no authority, empty
    // path, '?'-only query, '&&' runs, '#' before '?', non-URL text)
    val cases = Seq(
      "HTTP://WWW.Site.COM/CaseSensitive/Path",
      "http://a.com:80/x", "https://a.com:443/x", "https://a.com:80/x",
      "http://a.com:8080/x", "http://a.com/x#frag#more",
      "http://a.com/x?utm_source=f&b=2&utm_campaign=c&a=1",
      "http://a.com/x?z=1&Z=2&ref=t", "http://a.com/x?referrer=x",
      "http://a.com/x?utm_medium=m&fbclid=f&gclid=g&ref=r",
      "https://a.com", "https://a.com?b=1", "https://a.com/?",
      "http://a.com/x?&&a=1&&", "http://a.com/x#?notaquery",
      "HTTPS://A.com:443?x=2#f", "not a url", "", "rel/path?x=1#f",
      "ftp://Other.COM:21/z?b=1&a=2",
      "http://a.com/x/y/../z", "http://a.com/./p", "http://a.com/../x",
      "http://a.com/a/b/../../c?d=/e/../f",
      // pct normalization (§6.2.2.1–2): case variants, mixed hex,
      // reserved stays encoded, decode minting a dot segment, malformed
      // ('%zq', trailing '%a') passing through, adversarial decode
      // windows ('%4%311' — order-sensitivity documented in UrlFns)
      "http://a.com/a%7eb", "http://a.com/a%7Eb", "http://a.com/a~b",
      "http://a.com/v%41r%330?q=x%2fy", "http://a.com/%2E%2E/x",
      "http://a.com/p%zq?x=%a", "http://a.com/%4%311",
      "http://a.com/x?b=%6a&a=%6A",
      // IDN table subset: unicode/punycode/uppercase spellings + a
      // label outside the table
      "https://münchen.example.com/x", "https://MÜNCHEN.example.com/x",
      "https://xn--mnchen-3ya.example.com/x", "https://żółć.example.com/",
      // label anchoring: key inside a longer label, derived-only label,
      // adjacent same-label residue
      "https://münchenstadt.example.com/x", "https://stadtmünchen.example.com/x",
      "https://zürich.example.com/x", "https://münchen.münchen.example.com/")
    val df = cases.toDF("u")
    val native = df.select(UrlFns.canonicalUrl(col("u"))).collect().map(_.getString(0))
    val decl = df.select(UrlFns.canonicalUrlDeclarative(col("u"))).collect().map(_.getString(0))
    assert(native.toSeq == decl.toSeq,
      cases.zip(native.zip(decl)).filter(t => t._2._1 != t._2._2).toString)
    // interpreted compute == the codegen'd column path
    import org.apache.spark.unsafe.types.UTF8String
    cases.zip(native).foreach { case (u, want) =>
      val got = graft.functions.CanonicalUrl.compute(UTF8String.fromString(u)).toString
      assert(got == want, s"u=$u eval=$got codegen=$want")
    }
  }

  test("streaming canonicalization == batch on the same synthetic frontier") {
    val dir = "/root/testdata/sf0.001"
    def urls(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(lit("HTTP://Host"), (col("doc_id") % 9).cast("string"),
        lit(".COM:80/p?utm_source=s&id="), col("doc_id").cast("string"),
        lit("#f")).as("url"))
    val streaming = graft.streaming.DocStreams.urlCanonicalized(
      urls(graft.streaming.DocStreams.readStream(spark, dir)))
    val q = streaming.writeStream.outputMode("append")
      .format("memory").queryName("url_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("url_out").orderBy("doc_id").collect().toSeq
      val want = graft.streaming.DocStreams.urlCanonicalized(
        urls(Tables(spark, dir, "documents"))).orderBy("doc_id").collect().toSeq
      assert(got.nonEmpty && got == want)
      assert(got.head.getString(1).startsWith("http://host"))
    } finally q.stop()
  }
}
