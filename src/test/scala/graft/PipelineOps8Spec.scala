package graft

import org.apache.spark.sql.functions._
import graft.ext.{PipelineOps8, VectorSearch}

/** Segment dedup, SemDeDup, fuzzy decontamination, count-min sketch:
  * planted-fixture semantics plus the properties the oracles can't see
  * (idempotence, one-sided sketch error, in-cell domination witnesses).
  */
class PipelineOps8Spec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ------------------------------------------------------- segment dedup

  private def w(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("segmentDedup keeps the first occurrence of a repeated segment and drops the rest") {
    // doc 1 = A B, doc 2 = A C (A = the same 16 words): doc 2 keeps only C
    val a = w(16, "a"); val b = w(16, "b"); val c = w(16, "c")
    val docs = Seq((1L, s"$a $b"), (2L, s"$a $c")).toDF("doc_id", "text")
    val out = PipelineOps8.segmentDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 2L, 2L, s"$a $b"), (2L, 2L, 1L, c)))
  }

  test("intraDocSegmentDedup drops only within-doc repeats and is zero-exchange") {
    val a = w(16, "a"); val b = w(16, "b")
    // doc 1 repeats A internally; doc 2 contains A too — but cross-doc
    // sharing must NOT drop anything here (that's x_ded18's job)
    val docs = Seq((1L, s"$a $b $a"), (2L, s"$a")).toDF("doc_id", "text")
    val out = PipelineOps8.intraDocSegmentDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 3L, 2L, s"$a $b"), (2L, 1L, 1L, a)))
    val plan = PipelineOps8.intraDocSegmentDedup(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"intra-doc dedup must stay narrow:\n$plan")
  }

  test("intraDocSegmentDedup is idempotent") {
    val docs = Tables(spark, dir, "documents")
    val once = PipelineOps8.intraDocSegmentDedup(docs)
      .select($"doc_id", $"text_kept".as("text"))
    val twice = PipelineOps8.intraDocSegmentDedup(once)
      .collect().map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
    val onceRows = once.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(twice == onceRows)
  }

  test("segmentDedup drops a document whose every segment is a repeat") {
    val a = w(16, "a")
    val docs = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val out = PipelineOps8.segmentDedup(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("segmentDedup preserves within-document segment order on reassembly") {
    // 3 distinct segments, none repeated: text must round-trip verbatim
    val text = s"${w(16, "x")} ${w(16, "y")} ${w(7, "z")}"
    val docs = Seq((5L, text)).toDF("doc_id", "text")
    val out = PipelineOps8.segmentDedup(docs).collect().head
    assert(out.getString(3) == text)
    assert(out.getLong(1) == 3L && out.getLong(2) == 3L)
  }

  test("segmentDedup is idempotent on the corpus it produced") {
    val docs = Tables(spark, dir, "documents")
    val once = PipelineOps8.segmentDedup(docs)
      .select(col("doc_id"), col("text_kept").as("text"))
    // re-running on the deduped corpus must keep every remaining segment:
    // segment boundaries are positional, so only docs whose kept text
    // re-segments identically are guaranteed stable — enforce the stronger
    // invariant on docs that lost nothing (kept == segs), i.e. most of the
    // corpus, where boundaries are unchanged by construction.
    val intact = PipelineOps8.segmentDedup(docs)
      .filter(col("n_kept") === col("n_segs"))
      .select(col("doc_id"), col("text_kept").as("text"))
    val twice = PipelineOps8.segmentDedup(intact)
    assert(twice.filter(col("n_kept") =!= col("n_segs")).count() == 0)
  }

  // ------------------------------------------------------------ semdedup

  test("semDedup keeps exactly the min id of a planted identical-vector storm") {
    val base = Tables(spark, dir, "embeddings")
    val v0 = base.filter(col("vec_id") === 20L).select(col("embedding"))
      .collect().head.getSeq[Float](0)
    val clones = (1 to 5).map(i => (1000L + i, v0)).toDF("vec_id", "embedding")
    val out = VectorSearch.semDedup(
        base.select(col("vec_id"), col("embedding")).unionByName(clones), tau = 0.35)
      .filter(col("vec_id") >= 1000L).orderBy("vec_id").collect()
    // identical vectors share a cell; only the first clone can be kept, and
    // only if vec 20 (also identical, lower id, same cell) doesn't dominate
    assert(out.forall(_.getInt(3) == 0)) // vec 20 < 1001 dominates them all
    assert(out.forall(_.getLong(2) >= 1L))
  }

  test("semDedup candidates stay bounded under a planted identical-embedding storm") {
    // 200 identical clones all land in one cell — the mega-cell regime
    // where the pre-round-8 uncapped self-join went quadratic. With the
    // head cap, per-vector candidates are <= cap and the storm is STILL
    // resolved exactly: the cell's min id is always a head, so every
    // clone finds its witness.
    val base = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val v0 = base.filter(col("vec_id") === 20L).select(col("embedding"))
      .collect().head.getSeq[Float](0)
    val clones = (1 to 200).map(i => (2000L + i, v0)).toDF("vec_id", "embedding")
    val storm = base.unionByName(clones)
    val cap = 16
    val cand = VectorSearch.semDedupCandidates(storm, cap)
    val perVec = cand.groupBy("vec_id").count()
    assert(perVec.agg(max("count")).collect().head.getLong(0) <= cap.toLong)
    assert(cand.count() <= cap.toLong * storm.count())
    val cl = VectorSearch.semDedup(storm, tau = 0.35)
      .filter(col("vec_id") >= 2000L)
    assert(cl.filter(col("keep") =!= 0).count() == 0)
    assert(cl.filter(col("n_close") === 0).count() == 0)
  }

  test("semDedup cap <= 0 restores exact within-cell recall beyond the head set") {
    import spark.implicits._
    // one small cell around centroid 0 (axis-orthogonal members, pairwise
    // cosine 0), seven far-away centroids, and a PLANTED near-dup pair
    // (30, 31) that sits beyond a cap=2 head set {0, 10}
    def v(d: Int, x: Float) = Seq.tabulate(64)(i => if (i == d) x else 0f)
    val emb = (Seq((0L, v(0, 100f))) ++
      (1 to 7).map(i => (i.toLong, v(40 + i, 1000f))) ++
      Seq((10L, v(20, 50f)), (11L, v(21, 50f)),
        (30L, v(30, 30f)), (31L, v(30, 30f)))).toDF("vec_id", "embedding")
    def keepOf(cap: Int): Map[Long, Int] =
      VectorSearch.semDedup(emb, tau = 0.35, cap = cap)
        .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val capped = keepOf(2)
    val exact = keepOf(0)
    // the capped verdict misses the non-head pair; uncapped catches it
    assert(capped(31L) == 1, "cap=2 must keep 31 (witness 30 is not a head)")
    assert(exact(31L) == 0, "uncapped must drop 31 (witness 30)")
    // the verdict ALGEBRA is unchanged: everything else agrees across caps
    assert((capped - 31L) == (exact - 31L))
    assert(exact(30L) == 1 && exact(10L) == 1 && exact(11L) == 1)
  }

  test("semDedup: every dropped vector has a lower-id in-cell witness at >= tau") {
    val emb = Tables(spark, dir, "embeddings")
    val out = VectorSearch.semDedup(emb, tau = 0.35)
    val dropped = out.filter(col("keep") === 0)
    // n_close > 0 IS the witness count; keep == (n_close == 0) must hold
    assert(dropped.filter(col("n_close") === 0).count() == 0)
    assert(out.filter(col("keep") === 1 && col("n_close") > 0).count() == 0)
    // and the keep set is non-trivial both ways on the real corpus
    assert(out.filter(col("keep") === 1).count() > 0)
  }

  // ----------------------------------------------------------- count-min

  test("count-min estimate is one-sided: never below the exact count") {
    val skt = SparkEntry.queries("x_skt1_countmin_heavy")(spark, dir).collect()
    assert(skt.length == 10)
    assert(skt.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  // ------------------------------------------------- fuzzy decontamination

  test("fuzzy decontamination scores a planted near-copy of an eval doc near 1") {
    val docs = Tables(spark, dir, "documents")
    // doc_id % 25 == 0 is the eval set; plant a corpus doc that is eval doc
    // 0's text with one word changed
    val evText = docs.filter(col("doc_id") === 0L).select(col("text"))
      .collect().head.getString(0)
    val near = evText.replaceFirst("\\w+", "zz")
    val planted = docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(Seq((9001L, near, "en", "srcX", near.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val view = planted
    view.createOrReplaceTempView("pp8_docs")
    // run the probe body against the planted corpus via the reusable parts:
    // candidates by shared shingle, verify by levenshtein
    val sh = view
      .select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 4)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 3),
          |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2),
          |                 element_at(ws, i + 3)))""".stripMargin)).as("s"))
    val ev = sh.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("eval_id"), col("s").as("ev_s")).distinct()
    val cand = sh.filter(col("doc_id") % 25 =!= 0)
      .join(broadcast(ev), col("s") === col("ev_s"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val evalTexts = view.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("eval_id"), col("text").as("ev_text"))
    val sim = cand.filter(col("doc_id") === 9001L && col("eval_id") === 0L)
      .join(view.select(col("doc_id"), col("text")), Seq("doc_id"))
      .join(broadcast(evalTexts), Seq("eval_id"))
      .withColumn("sim", lit(1.0) -
        levenshtein(col("text"), col("ev_text")).cast("double") /
          greatest(length(col("text")), length(col("ev_text"))))
      .collect()
    assert(sim.length == 1)
    assert(sim.head.getAs[Double]("sim") > 0.95)
  }

  // ------------------------------------------------------- fluent Corpus

  test("Corpus.dedupSegments replaces text, keeps other columns, drops all-repeat docs") {
    val a = w(16, "a"); val b = w(16, "b")
    val docs = Seq((1L, s"$a $b", "en"), (2L, a, "de"), (3L, b, "fr"))
      .toDF("doc_id", "text", "lang")
    val out = graft.api.Corpus(docs).dedupSegments().df.orderBy("doc_id").collect()
    // docs 2 and 3 are pure repeats of doc 1's segments -> dropped
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    assert(out.head.getAs[String]("text") == s"$a $b")
    assert(out.head.getAs[String]("lang") == "en")
  }

  test("Corpus.decontaminateFuzzy drops a planted near-copy that exact overlap keeps") {
    val docs = Tables(spark, dir, "documents")
    val evalDocs = docs.filter(col("doc_id") % 25 === 0)
    val evText = evalDocs.orderBy("doc_id").select("text").collect().head.getString(0)
    val near = evText.replaceFirst("\\w+", "zz")
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .unionByName(Seq((9001L, near, "en", "srcX", near.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val cleaned = graft.api.Corpus(corpus).decontaminateFuzzy(evalDocs, minSim = 0.9).df
    assert(cleaned.filter(col("doc_id") === 9001L).count() == 0)
    // a high threshold must not nuke the rest of the corpus
    assert(cleaned.count() >= corpus.count() - 5)
  }

  test("byte-unit fuzzy sim: non-ASCII verdicts follow bytes, not chars") {
    // eval suffix "ééééé" is 5 chars / 10 UTF-8 bytes, corpus suffix "zz"
    // shares none of them; the 23-char/byte ASCII prefix is the common
    // 4-gram that admits the candidate pair.
    //   byte sim  = 1 - 10/33 = 0.696969…  (lev_bytes / octet_length)
    //   char sim  = 1 -  5/28 = 0.821428…  (codepoint lev / char length)
    //   mixed bug = 1 - 10/28 = 0.642857…  (byte lev / char denominator)
    // Thresholds 0.69 and 0.70 straddle ONLY the byte value: dropped at
    // 0.69 and kept at 0.70 proves both units are bytes (char-math would
    // drop at both; the round-8 mixed-unit bug would keep at both).
    val evalDocs = Seq((100L, "alpha beta gamma delta ééééé")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta zz"),
      (2L, "totally unrelated content with many words here")).toDF("doc_id", "text")
    def surviving(minSim: Double): Set[Long] =
      graft.api.Corpus(corpus).decontaminateFuzzy(evalDocs, minSim).df
        .collect().map(_.getLong(0)).toSet
    assert(surviving(0.69) == Set(2L), "byte sim 0.6969 >= 0.69: doc 1 dropped")
    assert(surviving(0.70) == Set(1L, 2L), "byte sim 0.6969 < 0.70: doc 1 kept")
  }
}
