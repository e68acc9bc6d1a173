package graft

import graft.ext.Frontier
import org.apache.spark.sql.functions._

/** frontierPlan edges the x_pipe10 hash can't see: hosts with no
  * robots file at all, a cap that never binds, and the salted
  * two-level cap's exactness against a flat rank; the robots gate's
  * prefix verdicts and hostCap against a flat window.
  */
class FrontierSpec extends SparkSuite {
  import spark.implicits._

  test("no robots file: everything allowed, default delay prices the plan") {
    val locs = (1 to 5).map(i => s"https://h.com/p/$i").toDF("loc")
    val robots = Seq.empty[(String, String)].toDF("host", "robots_txt")
    val got = Frontier.frontierPlan(locs, robots, cap = 8).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_discovered") == 5 && r.getAs[Long]("n_allowed") == 5 &&
      r.getAs[Long]("n_fetch") == 5 && r.getAs[Long]("delay_ms") == 1000 &&
      r.getAs[Long]("fetch_sec") == 5, r.toString)
  }

  test("salted two-level cap == flat rank, and binds only past the cap") {
    val locs = (1 to 40).map(i => f"https://big.com/p/$i%03d") ++
      (1 to 3).map(i => s"https://small.com/p/$i")
    val robots = Seq.empty[(String, String)].toDF("host", "robots_txt")
    val got = Frontier.frontierPlan(locs.toDF("loc"), robots, cap = 10)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_fetch"))).sortBy(_._1)
    assert(got.toList == List(("big.com", 10L), ("small.com", 3L)), got.toList)
  }

  test("gated-out URLs never reach the schedule") {
    val locs = Seq("https://h.com/keep/1", "https://h.com/keep/2",
      "https://h.com/private/x").toDF("loc")
    val robots = Seq(("h.com", "User-agent: *\nDisallow: /private\nCrawl-delay: 3\n"))
      .toDF("host", "robots_txt")
    val r = Frontier.frontierPlan(locs, robots, cap = 8).collect()(0)
    assert(r.getAs[Long]("n_discovered") == 3 && r.getAs[Long]("n_allowed") == 2 &&
      r.getAs[Long]("n_fetch") == 2 && r.getAs[Long]("delay_ms") == 3000 &&
      r.getAs[Long]("fetch_sec") == 6, r.toString)
  }

  test("redirectEdges: status gating, header bounding, missing Location") {
    val rows = Seq(
      // 301 with Location → edge
      ("https://a.com/p", "HTTP/1.1 301 Moved\r\nLocation: https://b.com/x\r\n\r\nbody"),
      // 200 carrying a Location header (unusual but legal) → NOT a redirect
      ("https://a.com/q", "HTTP/1.1 200 OK\r\nLocation: https://c.com/y\r\n\r\nbody"),
      // 302 with the Location ONLY in the body → no edge (header-bounded)
      ("https://a.com/r", "HTTP/1.1 302 Found\r\n\r\nLocation: https://d.com/z"),
      // 308 relative → resolved against the request URL
      ("https://a.com/s", "HTTP/1.1 308 Permanent Redirect\r\nLocation: /n\r\n\r\n"))
      .toDF("url", "payload")
    val got = Frontier.redirectEdges(rows)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toList
    assert(got == List(
      ("https://a.com/p", "https://b.com/x"),
      ("https://a.com/s", "https://a.com/n")), got.toString)
  }

  test("a caller-owned stageDir is reused across invocations, not accumulated") {
    // a long-lived driver replanning on a cadence must get CONSTANT
    // disk: the stage writes are mode(overwrite) into the same two
    // paths, so invocation N leaves exactly what invocation 1 left
    // (pre-fix each call minted a fresh TempDirs.scratch, deferred to
    // JVM-exit cleanup — frontier-sized copies piling up)  [ADVICE r12]
    val locs = (1 to 6).map(i => s"https://h.com/p/$i").toDF("loc")
    val robots = Seq.empty[(String, String)].toDF("host", "robots_txt")
    val stage = java.nio.file.Files.createTempDirectory("graft_frontier_own")
    try {
      def entries() = {
        val s = java.nio.file.Files.list(stage)
        try {
          val b = Seq.newBuilder[String]
          s.forEach(p => b += p.getFileName.toString)
          b.result().sorted
        } finally s.close()
      }
      val r1 = Frontier.frontierPlan(locs, robots, cap = 8,
        stageDir = stage.toString).collect()
      val after1 = entries()
      val r2 = Frontier.frontierPlan(locs, robots, cap = 8,
        stageDir = stage.toString).collect()
      assert(entries() == after1, "stage paths must be overwritten, not added")
      assert(after1.toSet == Set("sel", "gated"), after1.toString)
      assert(r1.toSeq == r2.toSeq)
    } finally graft.util.TempDirs.deleteRecursively(stage)
  }

  test("collapseRedirects: terminals, bound, loops, self-loop, min-dst determinism") {
    val edges = Seq(
      // 3-hop chain a1 -> a2 -> a3 -> a4 (a4 is no source: terminal)
      ("https://a.com/1", "https://a.com/2"),
      ("https://a.com/2", "https://a.com/3"),
      ("https://a.com/3", "https://a.com/4"),
      // 6-hop chain c1..c7: deeper than the 5-hop bound -> unresolved
      ("https://c.com/1", "https://c.com/2"),
      ("https://c.com/2", "https://c.com/3"),
      ("https://c.com/3", "https://c.com/4"),
      ("https://c.com/4", "https://c.com/5"),
      ("https://c.com/5", "https://c.com/6"),
      ("https://c.com/6", "https://c.com/7"),
      // 2-loop
      ("https://l1.com/a", "https://l2.com/b"),
      ("https://l2.com/b", "https://l1.com/a"),
      // self-redirect
      ("https://s.com/x", "https://s.com/x"),
      // divergent recorded Locations: MIN dst wins deterministically
      ("https://m.com/p", "https://m.com/q2"),
      ("https://m.com/p", "https://m.com/q1")).toDF("src", "dst")
    val got = Frontier.collapseRedirects(edges).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("https://a.com/1") == (("https://a.com/4", 3L, true)))
    assert(got("https://a.com/2") == (("https://a.com/4", 2L, true)))
    assert(got("https://a.com/3") == (("https://a.com/4", 1L, true)))
    // the over-bound chain walks 5 hops and is still on a source
    assert(got("https://c.com/1") == (("https://c.com/6", 5L, false)))
    assert(got("https://c.com/2") == (("https://c.com/7", 5L, true)))
    assert(got("https://l1.com/a")._3 == false && got("https://l2.com/b")._3 == false)
    assert(got("https://s.com/x") == (("https://s.com/x", 5L, false)))
    assert(got("https://m.com/p") == (("https://m.com/q1", 1L, true)))
    assert(got.size == 13) // one row per distinct redirect source
  }

  test("collapseRedirects leaves no persisted intermediates behind (except the result)") {
    val edges = Seq(("https://a.com/1", "https://a.com/2"),
      ("https://a.com/2", "https://a.com/3")).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Frontier.collapseRedirects(edges).collect()
    // the returned frame's cache is the documented survivor; the hop
    // table must be unpersisted before return
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"leaked ${added.size} persisted RDDs")
  }

  test("robotsGate: longest prefix wins, allow wins ties, no-rule default-allows") {
    val rules = Seq(
      ("a.com", "/private", 0L),
      ("a.com", "/private/ok", 1L),
      ("a.com", "/p", 1L)).toDF("host", "pattern", "allow")
    val urls = Seq(
      (1L, "https://a.com/private/data"),   // /private disallow wins over /p allow (longer)
      (2L, "https://a.com/private/ok/x"),   // /private/ok allow wins (longest)
      (3L, "https://a.com/public"),         // only /p matches -> allow
      (4L, "https://a.com/other"),          // no rule matches -> default allow
      (5L, "https://b.com/private/data")).toDF("doc_id", "url") // unknown host -> allow
    val got = graft.ext.RobotsTxt.robotsGate(urls, rules)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3))).toList
    assert(got == List((1L, 0L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)), got.mkString(", "))
  }

  test("hostCap: salted two-level == flat window on a skewed single host") {
    import org.apache.spark.sql.expressions.Window
    // one mega-host (200 docs), one small host (2 docs) — the salted
    // path must pick the identical survivors a flat window would
    val mega = (1L to 200L).map(i =>
      (i, s"http://big.com/p$i",
        "the quick brown fox and the dog ran to the big red barn " + ("w " * (i % 37).toInt)))
    val small = Seq(
      (501L, "http://tiny.org/a", "the cat and the dog sat in the sun for a while today"),
      (502L, "http://tiny.org/b", "!!!! #### 0000"))
    val docs = (mega ++ small).toDF("doc_id", "url", "text")
    val got = Frontier.hostCap(docs, col("url"), cap = 3, salts = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val q = graft.ext.PipelineOps3.addQualityRuleSignals(docs)
      .select(col("doc_id"),
        regexp_extract(graft.clean.UrlFns.canonicalUrl(col("url")),
          "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"),
        col("keep"), col("n_words"))
    val flat = q.withColumn("host_rank", row_number().over(
        Window.partitionBy("host")
          .orderBy(col("keep").desc, col("n_words").desc, col("doc_id").asc)).cast("long"))
      .filter(col("host_rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4))).sorted.toSeq
    assert(got == flat && got.size == 5, s"got ${got.size} rows")
    val viaDoor = graft.api.Corpus(docs).capPerHost().df.count()
    assert(viaDoor == 5L)
  }
}
