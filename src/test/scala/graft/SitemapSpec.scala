package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.sources.Sitemap

/** Sitemap source: field extraction edges, entity decoding, and the
  * split contract (many tiny splits ≡ one).
  */
class SitemapSpec extends SparkSuite {

  private def write(content: String): String = {
    val dir = graft.util.TempDirs.scratch("sitemap_spec")
    Files.write(Paths.get(dir, "sitemap.xml"), content.getBytes(StandardCharsets.UTF_8))
    dir
  }

  test("loc entity-decodes, whitespace trims, absent fields are empty") {
    val dir = write(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>
        |  https://a.com/x?p=1&amp;q=2
        |</loc><lastmod>2026-01-02</lastmod><changefreq>daily</changefreq>
        |<priority>0.8</priority></url>
        |<url><loc>https://b.com/%7Euser</loc></url>
        |</urlset>""".stripMargin)
    val rows = Sitemap.readUrlEntries(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toList
    assert(rows == List(
      ("https://a.com/x?p=1&q=2", "2026-01-02", "daily", "0.8"),
      ("https://b.com/%7Euser", "", "", "")), rows.mkString(" | "))
  }

  test("many tiny splits == one split, entry for entry") {
    val entries = (0 until 200).map(i =>
      s"<url><loc>https://h${i % 5}.com/p/$i</loc><lastmod>2026-02-0${1 + i % 9}</lastmod></url>")
    val dir = write("<urlset>\n" + entries.mkString("\n") + "\n</urlset>")
    def rows(split: Option[Long]) = Sitemap.readUrlEntries(spark, dir, split)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val single = rows(None)
    val many = rows(Some(512L))
    assert(single.size == 200 && many == single)
  }

  test("default split width follows Spark's file-split rule") {
    // ~7 MB: one local 32 MB block, but more than one split under Spark's
    // rule at the suite's parallelism
    val entries = (0 until 90000).map(i =>
      s"<url><loc>https://h${i % 5}.com/p/$i</loc><lastmod>2026-02-0${1 + i % 9}</lastmod></url>")
    val dir = write("<urlset>\n" + entries.mkString("\n") + "\n</urlset>")
    val bytes = Files.size(Paths.get(dir, "sitemap.xml"))
    assert(bytes > 5L * 1000 * 1000 && bytes < 9L * 1000 * 1000, s"$bytes bytes")
    val df = Sitemap.readUrlEntries(spark, dir)
    val n = df.rdd.getNumPartitions
    val text = spark.read.text(dir).rdd.getNumPartitions
    assert(n > 1, s"single file did not split: $n partitions")
    // Hadoop folds a tail of up to 10% of a split into the last split,
    // where Spark's file source gives the tail a partition of its own
    assert(n == text || n == text - 1, s"$n splits vs spark.read.text's $text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val got = rows(df)
    assert(got.size == 90000 && got == rows(Sitemap.readUrlEntries(spark, dir, Some(Long.MaxValue))))
  }

  test("double-escaped entities decode exactly one level (&amp;lt; -> &lt;)") {
    val dir = write("<urlset><url><loc>https://a.com/?t=&amp;lt;tag&amp;gt;</loc></url></urlset>")
    val got = Sitemap.readUrlEntries(spark, dir).collect()(0).getString(0)
    assert(got == "https://a.com/?t=&lt;tag&gt;", got)
  }

  test("recrawlQueue: due selection, interval mapping, priority defaults, cap") {
    import spark.implicits._
    val entries = Seq(
      // daily, 10 days old, prio 0.9 → due, score (10-1)*900 = 8100
      ("https://a.com/p1", "2026-02-19", "daily", "0.9"),
      // a tracking-param VARIANT of p1: canonicalizes to the same page
      // and must NOT occupy a second queue slot (internal dedup; the
      // fresher lastmod row's attributes win)
      ("https://a.com/p1?utm_source=feed", "2026-01-01", "yearly", "0.1"),
      // yearly, 10 days old → NOT due
      ("https://a.com/p2", "2026-02-19", "yearly", "0.9"),
      // absent changefreq → 30-day default; 40 days old, absent prio →
      // 0.5 default: due, score (40-30)*500 = 5000
      ("https://a.com/p3", "2026-01-20", "", ""),
      // weekly, exactly at the interval boundary (7 days) → due, score 0
      ("https://a.com/p4", "2026-02-22", "weekly", "0.2"),
      // ABSENT lastmod (optional in the protocol): unknown freshness is
      // due at minimum urgency (age defaults to the interval, score 0),
      // never silently exempt from recrawl forever
      ("https://a.com/p5", "", "weekly", "0.9")
    ).toDF("loc", "lastmod", "changefreq", "priority")
    val got = Sitemap.recrawlQueue(entries, "2026-03-01", cap = 8)
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getLong(4), r.getLong(5))).toList
    assert(got == List(
      ("https://a.com/p1", 8100L, 1L),
      ("https://a.com/p3", 5000L, 2L),
      ("https://a.com/p4", 0L, 3L),
      ("https://a.com/p5", 0L, 4L)), got.toString)
    // cap binds: 1-per-host keeps only the top score
    val capped = Sitemap.recrawlQueue(entries, "2026-03-01", cap = 1).collect()
    assert(capped.length == 1 && capped(0).getString(1) == "https://a.com/p1")
  }

  test("recrawlQueue: W3C datetime lastmod normalizes to its date prefix") {
    import spark.implicits._
    // real sitemaps routinely carry full W3C datetimes; the queue must
    // (a) age them off the date part — not fail the cast or diverge
    // from a date-only oracle — and (b) compare date and datetime forms
    // of the SAME page consistently in the freshness dedup (pre-fix the
    // string-desc sort ranked '2026-02-19T...' above '2026-02-19',
    // i.e. by representation, not freshness)  [ADVICE r12]
    val entries = Seq(
      // datetime form of p1 declares YEARLY (not due at 10 days);
      // pre-fix its longer string won the desc sort by representation
      // and silently exempted p1 from the queue
      ("https://a.com/p1", "2026-02-19T08:30:00Z", "yearly", "0.1"),
      // DATE form of p1, SAME date, daily/0.9: freshness must tie and
      // fall to the deterministic tie-breaks (changefreq asc → 'daily'
      // wins) → due, score (10-1)*900 = 8100
      ("https://a.com/p1?utm_source=x", "2026-02-19", "daily", "0.9"),
      // datetime form, 40 days old, default interval/prio → score 5000
      ("https://a.com/p3", "2026-01-20T23:59:59+00:00", "", ""))
      .toDF("loc", "lastmod", "changefreq", "priority")
    val got = Sitemap.recrawlQueue(entries, "2026-03-01", cap = 8)
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getLong(4), r.getLong(5))).toList
    assert(got == List(
      ("https://a.com/p1", 8100L, 1L),
      ("https://a.com/p3", 5000L, 2L)), got.toString)
  }
}
