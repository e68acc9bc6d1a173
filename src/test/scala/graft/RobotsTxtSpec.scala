package graft

import graft.ext.RobotsTxt
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt parsing: RFC 9309 grammar pins on planted files — group
  * boundaries, UA selection precedence, empty-Disallow drop, comment
  * strip, percent normalization — and the wildcard gate's reduction to
  * the prefix gate on wildcard-free rules.
  */
class RobotsTxtSpec extends SparkSuite {

  import spark.implicits._

  private def rules(txt: String, agent: String = "graftbot") =
    RobotsTxt.parseRobots(Seq(("h.com", txt)).toDF("host", "robots_txt"), agent)
      .collect().map(r => (r.getString(1), r.getInt(2))).sorted.toList

  test("specific group wins and * group is ignored; stacked UAs share rules") {
    val got = rules(RobotsTxt.robotsSelf)
    // /pri%76ate2 percent-normalizes (v is unreserved); empty Disallow
    // dropped; the otherbot and * groups contribute nothing
    assert(got == List(("/*/data$", 0), ("/private", 0), ("/private/ok", 1),
      ("/private2", 0)), got.mkString(", "))
  }

  test("no specific group falls back to the * group") {
    val got = rules(RobotsTxt.robotsStar)
    assert(got == List(("/p*e$", 0), ("/pub", 0), ("/pub/ok", 1)), got.mkString(", "))
  }

  test("rules before any user-agent line are invalid and dropped") {
    assert(rules("Disallow: /early\nUser-agent: *\nDisallow: /late\n") ==
      List(("/late", 0)))
  }

  test("comments strip mid-line; directive names match case-insensitively; CRLF tolerated") {
    val got = rules(
      "USER-AGENT: GraftBot # our bot\r\nDISALLOW: /a # trailing comment\r\nallow: /a/b\r\n")
    assert(got == List(("/a", 0), ("/a/b", 1)), got.mkString(", "))
  }

  test("a user-agent line after rules starts a NEW group") {
    // graftbot's group ends at the second User-agent line: /x is ours,
    // /y belongs to the (unselected) star group
    val got = rules("User-agent: graftbot\nDisallow: /x\nUser-agent: *\nDisallow: /y\n")
    assert(got == List(("/x", 0)), got.mkString(", "))
  }

  test("multiple groups naming the agent union their rules") {
    val got = rules(
      "User-agent: graftbot\nDisallow: /a\n\nUser-agent: other\nDisallow: /b\n\n" +
        "User-agent: graftbot\nDisallow: /c\n")
    assert(got == List(("/a", 0), ("/c", 0)), got.mkString(", "))
  }

  test("reserved percent-encodings stay encoded (only unreserved normalize)") {
    // %2F is '/', reserved: decoding it would change path structure
    val got = rules("User-agent: *\nDisallow: /a%2Fb\nDisallow: /c%41d\n")
    assert(got == List(("/a%2Fb", 0), ("/cAd", 0)), got.mkString(", "))
  }

  test("lowercase hex percent-encodings decode too (site owners hand-author)") {
    val got = rules("User-agent: *\nDisallow: /%7euser\nDisallow: /%7Euser2\n")
    assert(got == List(("/~user", 0), ("/~user2", 0)), got.mkString(", "))
  }

  test("a UTF-8 BOM on the first line does not void the file") {
    val got = rules("\ufeffUser-agent: *\nDisallow: /blocked\n")
    assert(got == List(("/blocked", 0)), got.mkString(", "))
  }

  test("a FEFF inside a rule pattern is content and survives") {
    // only the FILE-LEADING BOM strips (Google's reference behavior);
    // a zero-width no-break space written into a path pattern stays
    val got = rules("User-agent: *\nDisallow: /x\ufeffy\n")
    assert(got == List(("/x\ufeffy", 0)), got.mkString(", "))
  }

  test("crawl-delay: selected group binds; non-numeric drops; max is conservative") {
    import spark.implicits._
    def delays(txt: String) = RobotsTxt.crawlDelays(
      Seq(("h.com", txt)).toDF("host", "robots_txt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    // specific group's delay wins over *'s
    assert(delays(RobotsTxt.robotsDelaySelf) == List(("h.com", 2000L)))
    // fallback to * when no specific group; otherbot's 9s ignored
    assert(delays(RobotsTxt.robotsDelayStar) == List(("h.com", 1500L)))
    // fractional seconds floor to ms; multiple selected values take MAX
    assert(delays("User-agent: graftbot\nCrawl-delay: 0.25\n\n" +
      "User-agent: graftbot\nCrawl-delay: 1.5\n") == List(("h.com", 1500L)))
    // non-numeric value drops (no row -> scheduler default)
    assert(delays("User-agent: *\nCrawl-delay: fast\n").isEmpty)
  }

  test("wildcard-free rules: robotsGateWild == the prefix robotsGate, row for row") {
    val urls = spark.range(60).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 3).cast("string"), lit(".com"),
        when(col("id") % 4 === 0, lit("/private/data"))
          .when(col("id") % 4 === 1, lit("/private/ok/p"))
          .when(col("id") % 4 === 2, lit("/pub/x"))
          .otherwise(lit("/other"))).as("url"))
    val hosts = (0 until 3).map(i => s"h$i.com")
    val ruleRows = for (h <- hosts; r <- Seq(("/private", 0), ("/private/ok", 1), ("/pub", 1)))
      yield (h, r._1, r._2)
    val prefixRules = ruleRows.toDF("host", "prefix", "allow")
    val wildRules = ruleRows.toDF("host", "pattern", "allow")
    // the prefix gate as a flat window: longest matching prefix wins,
    // allow wins length ties, no match allows
    val canon = graft.clean.UrlFns.canonicalUrl(col("url"))
    val hit = col("prefix").isNotNull && expr("startswith(path, prefix)")
    val a = urls
      .select(col("doc_id"),
        regexp_extract(canon, "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"),
        regexp_replace(canon, "^[a-z0-9+.-]+://[^/?#]*", "").as("path"))
      .join(prefixRules, Seq("host"), "left")
      .withColumn("hit", hit)
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy(
        col("hit").desc, length(col("prefix")).desc, col("allow").desc, col("prefix").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), when(col("hit"), col("allow").cast("long")).otherwise(lit(1L)))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val b = RobotsTxt.robotsGate(urls, wildRules)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3))).toList
    assert(a == b && a.nonEmpty, s"${a.take(5)} vs ${b.take(5)}")
  }

  test("routing pin: wildcard-free rules never touch RLIKE (NULL __rx)") {
    // robotsGate computes __rx = NULL for wildcard-free patterns and
    // routes them to startsWith/equality; if a routing slip sent them to
    // the RLIKE branch, RLIKE(path, NULL) would yield NO hit and these
    // disallows would default-allow — so the 0s below prove the
    // non-regex path evaluated them. The wild rule alongside proves the
    // regex residue still works in the same rule set.
    val urls = Seq((1L, "https://h.com/private/x"), (2L, "https://h.com/exact"),
      (3L, "https://h.com/a/data"), (4L, "https://h.com/open")).toDF("doc_id", "url")
    val rules = Seq(
      ("h.com", "/private", 0), // wildcard-free prefix
      ("h.com", "/exact$", 0),  // wildcard-free anchored
      ("h.com", "/*/data$", 0)  // the only rule allowed to regex
    ).toDF("host", "pattern", "allow")
    val got = RobotsTxt.robotsGate(urls, rules).orderBy("doc_id")
      .collect().map(_.getLong(3)).toList
    assert(got == List(0L, 0L, 0L, 1L), got.mkString(", "))
  }

  test("$ anchors only at the end; elsewhere it is literal") {
    val urls = Seq((1L, "https://h.com/ab"), (2L, "https://h.com/abc"),
      (3L, "https://h.com/a$b")).toDF("doc_id", "url")
    val anchored = Seq(("h.com", "/ab$", 0)).toDF("host", "pattern", "allow")
    val gotA = RobotsTxt.robotsGate(urls, anchored).orderBy("doc_id")
      .collect().map(_.getLong(3)).toList
    assert(gotA == List(0L, 1L, 1L), gotA.mkString(", ")) // only exact /ab blocked
    val literal = Seq(("h.com", "/a$b", 0)).toDF("host", "pattern", "allow")
    val gotL = RobotsTxt.robotsGate(urls, literal).orderBy("doc_id")
      .collect().map(_.getLong(3)).toList
    assert(gotL == List(1L, 1L, 0L), gotL.mkString(", ")) // only literal /a$b blocked
  }

  test("sitemapDirectives: CRLF, comments, case, group-independence, drops") {
    val robots = Seq(("h.com",
      "﻿Sitemap: https://h.com/a.xml\r\n" + // BOM + CRLF first line
        "User-agent: *\r\nDisallow: /x\r\n" +
        "sitemap:https://h.com/b.xml # in-group, no space, lowercase\r\n" +
        "Sitemap: /relative.xml\r\n" + // broken per spec → dropped
        "Sitemap:\r\n" + // empty value → dropped
        "﻿Sitemap: https://h.com/c.xml\r\n")) // mid-file BOM = content → dropped
      .toDF("host", "robots_txt")
    val got = RobotsTxt.sitemapDirectives(robots)
      .collect().map(_.getString(1)).sorted.toList
    assert(got == List("https://h.com/a.xml", "https://h.com/b.xml"), got.toString)
  }

  test("line normalization strips ALL CRs — the \\r\\r ending that diverged") {
    // pre-fix the Spark regex '\r$' and the oracle's RE2 twin disagreed
    // on '\r\r' line endings (Java '$' matches before a final line
    // terminator, RE2 only at end-of-text) — normalization is now a
    // plain character replace, identical by construction. Pin the
    // parser AND the sitemap directives on doubled-CR lines.
    val robots = Seq(("h.com",
      "User-agent: *\r\r\nDisallow: /x\r\r\nSitemap: https://h.com/s.xml\r\r\n"))
      .toDF("host", "robots_txt")
    val rules = RobotsTxt.parseRobots(robots).collect()
      .map(r => (r.getString(1), r.getInt(2)))
    assert(rules.toList == List(("/x", 0)), rules.toList.toString)
    val sm = RobotsTxt.sitemapDirectives(robots).collect().map(_.getString(1))
    assert(sm.toList == List("https://h.com/s.xml"), sm.toList.toString)
  }
}
