package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Corpus
import graft.ext.{Dedup, EmbedDedup, PipelineOps7, Sampling, Sketches, TokenLayout, VectorSearch}

/** Empty-input robustness: at 100 TB an operator routinely receives an
  * EMPTY frame (a filter that matched nothing, an empty partition of a
  * date range, a first-run incremental diff) — and under ANSI mode the
  * latent failure shapes are runtime errors (DIV by zero, element_at on
  * empty, collect-to-nothing), not silent wrong answers. Every major
  * operator must return an empty (or well-defined) result, not throw.
  */
class EmptyInputSpec extends SparkSuite {

  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def emptyEmb: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Array[Float])].toDF("vec_id", "label", "embedding")
  }

  test("quality signals, novelty, entropy, token counts on an empty corpus") {
    assert(graft.ext.PipelineOps3.addQualityRuleSignals(emptyDocs).count() == 0)
    assert(PipelineOps7.noveltyScores(emptyDocs).count() == 0)
    assert(PipelineOps7.tokenEntropy(emptyDocs).count() == 0)
    GraftExtensions.register(spark)
    assert(emptyDocs.select(expr("bpe_count(text)")).count() == 0)
  }

  test("dedup chains on an empty corpus") {
    assert(Corpus(emptyDocs).dedupExact().df.count() == 0)
    assert(Corpus(emptyDocs).dedupNearMinHash().df.count() == 0)
    assert(Corpus(emptyDocs).dedupNearClustered().df.count() == 0)
    assert(Corpus(emptyDocs).dedupNearQualitySurvivor().df.count() == 0)
    assert(Corpus(emptyDocs).dedupNearVerified(800000L).df.count() == 0)
    assert(Dedup.minhashPairs(emptyDocs).count() == 0)
  }

  test("connected components on an empty pair list") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
  }

  test("embedding chain on an empty vector table") {
    assert(EmbedDedup.nearDupPairs(emptyEmb, tau = 0.35).count() == 0)
    assert(EmbedDedup.dedupClusters(emptyEmb, tau = 0.35).count() == 0)
  }

  test("token budget (both forms), split, epoch order on an empty corpus") {
    val d = emptyDocs.select(col("doc_id"), col("lang"), lit(1L).as("n_tok"))
    assert(TokenLayout.takeTokenBudget(d, col("lang"), col("n_tok"), 100L).count() == 0)
    assert(TokenLayout.takeTokenBudgetSharded(d, col("lang"), col("n_tok"), 100L).count() == 0)
    assert(Sampling.splitByGroup(emptyDocs, col("source"),
      Seq("train", "val", "test"), Seq(80, 90)).count() == 0)
    assert(Sampling.epochOrder(emptyDocs, epochs = 2, shards = 4).count() == 0)
  }

  test("Bloom build and scoring against an EMPTY released corpus") {
    val bloom = PipelineOps7.gramBloom(emptyDocs)
    // the bitmap row exists (all zeros) even when the corpus is empty
    val row = bloom.collect()
    assert(row.length == 1 && row.head.getSeq[Long](0).forall(_ == 0L))
    // scoring real docs against the empty bitmap: everything is novel
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(10)
    val scored = PipelineOps7.scoreNoveltyBloom(docs, bloom).collect()
    assert(scored.nonEmpty && scored.forall(_.getAs[Long]("n_seen_bloom") == 0L))
    // and scoring an empty stream against a real bitmap yields nothing
    assert(PipelineOps7.scoreNoveltyBloom(emptyDocs,
      PipelineOps7.gramBloom(docs)).count() == 0)
  }

  test("segment dedup, semdedup, fuzzy decontamination on empty inputs") {
    assert(graft.ext.PipelineOps8.segmentDedup(emptyDocs).count() == 0)
    assert(Corpus(emptyDocs).dedupSegments().df.count() == 0)
    assert(VectorSearch.semDedup(emptyEmb, tau = 0.35).count() == 0)
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(10)
    // empty eval set: nothing is contaminated, corpus passes through
    assert(Corpus(docs).decontaminateFuzzy(emptyDocs).df.count() == 10)
    // empty corpus against a real eval set: empty out
    assert(Corpus(emptyDocs).decontaminateFuzzy(docs).df.count() == 0)
  }

  test("sketches, spans, PQ on empty inputs") {
    import graft.ext.PipelineOps9
    assert(Sketches.countMinCells(emptyDocs).count() == 0)
    assert(Sketches.kmvDistinctBigrams(emptyDocs).count() == 0)
    assert(Sketches.histogramQuantiles(
      emptyDocs.withColumn("n_chars", col("n_chars"))).count() == 0)
    assert(PipelineOps9.dupSpans(emptyDocs).count() == 0)
    assert(VectorSearch.pqTopK(emptyEmb).count() == 0)
    assert(VectorSearch.ivfPqTopK(emptyEmb).count() == 0)
  }

  test("IVF index: train, query and append on empty embeddings") {
    val h = VectorSearch.train(emptyEmb)
    assert(h.centroids.count() == 0 && h.assignments.count() == 0)
    assert(VectorSearch.query(h, emptyEmb, k = 5).count() == 0)
    // an empty shard appended to a real index leaves its assignments as they were
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val out = graft.util.TempDirs.scratch("ivf_empty_append")
    VectorSearch.save(VectorSearch.train(emb), out)
    def rows() = VectorSearch.load(spark, out).assignments
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val before = rows()
    VectorSearch.append(spark, out, emptyEmb)
    assert(before.nonEmpty && rows() == before)
  }

  test("exact gram set + sorted_count_in novelty against an empty release") {
    val gs = PipelineOps7.gramSet(emptyDocs)
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(10)
    val scored = PipelineOps7.scoreNoveltyAgainst(docs, gs).collect()
    assert(scored.nonEmpty && scored.forall(_.getAs[Long]("n_seen") == 0L))
  }

  test("LM, BM25, DSIR, PMI, HLL on empty inputs") {
    import graft.ext.PipelineOps10
    assert(graft.ext.LanguageModels.lmScore(emptyDocs, emptyDocs).count() == 0)
    assert(PipelineOps10.bm25TopK(emptyDocs, emptyDocs, 5).count() == 0)
    assert(PipelineOps10.dsirWeights(emptyDocs, emptyDocs).count() == 0)
    assert(PipelineOps10.pmiCollocations(emptyDocs, 5, 20).count() == 0)
    assert(Sketches.hllDistinct(emptyDocs).count() == 0)
    import spark.implicits._
    val noEvents = Seq.empty[(java.sql.Timestamp, String)].toDF("ts", "event_type")
    assert(PipelineOps10.rateAnomalies(noEvents).count() == 0)
  }

  test("round-9 operators are empty-safe (repetition, ppx, packing, mix, KN, advice)") {
    import spark.implicits._
    assert(graft.ext.PipelineOps13.repetitionSignals(emptyDocs).count() == 0)
    assert(graft.ext.PipelineOps13.ppxBuckets(emptyDocs).count() == 0)
    assert(TokenLayout.packPlacements(emptyDocs).count() == 0)
    val targets = Seq(("src0", 1000000L)).toDF("source", "target_ppm")
    assert(Sampling.mixturePlan(emptyDocs, targets).count() == 0)
    assert(Corpus.fromHtml(emptyDocs.withColumnRenamed("text", "html")).df.count() == 0)
    // KN tables from an empty corpus: empty index, loud nothing
    val idx = graft.ext.LanguageModels.knIndex(emptyDocs)
    assert(idx.v == 0L && idx.h3s.isEmpty && idx.bt == 0L)
    // join advice with an EMPTY side degrades to broadcast, never NPEs
    val adv = Sketches.adviseJoin(
      emptyDocs.select(col("doc_id")), "doc_id",
      (1L to 100L).toDF("doc_id"), "doc_id")
    assert(adv.nA == 0L && adv.estJoin == 0L && adv.strategy == "broadcast_a")
  }

  test("LM store round-trips an empty corpus (empty tables, not a crash)") {
    import graft.ext.LanguageModels
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_empty").toString
    try {
      LanguageModels.buildLm(emptyDocs, tmp)
      val idx = LanguageModels.loadLmIndex(spark, tmp)
      assert(idx.v == 0L && idx.ws.isEmpty && idx.hbs.isEmpty)
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("LM index from an empty corpus scores everything at the 1/(0+0) guard") {
    import graft.ext.LanguageModels
    // v = 0 and all counts 0: ln((0+1)/(0+0)) would be ln(inf); the index
    // builder is the right gate — an empty train corpus is a recipe error.
    val idx = LanguageModels.lmIndex(emptyDocs)
    assert(idx.v == 0L && idx.ws.isEmpty && idx.hbs.isEmpty)
    // scoring anything against it yields a non-finite NLL (p = 1/0), never
    // a crash; same pass-through the declarative round() gives ±Inf
    import spark.implicits._
    val out = LanguageModels.lmScoreNative(
      Seq((1L, "two words")).toDF("doc_id", "text"), idx).collect()
    assert(out.length == 1 && out(0).getDouble(2).isNegInfinity)
  }

  test("link graph and unigram tokenizer on empty/degenerate inputs") {
    import spark.implicits._
    // a page with no anchors (or no pages at all) extracts zero links
    val noAnchors = Seq(("https://a.com/p", "<html><body>text</body></html>"))
      .toDF("url", "html")
    assert(graft.ext.LinkGraph.extractLinks(noAnchors).count() == 0)
    val emptyPages = Seq.empty[(String, String)].toDF("url", "html")
    assert(graft.ext.LinkGraph.extractLinks(emptyPages).count() == 0)
    // an empty graph is a recipe error for PageRank (rank of nothing) —
    // the operator fails LOUDLY, the precedent of the lmIndex gate
    val emptyEdges = Seq.empty[(String, String)].toDF("src", "dst")
    intercept[IllegalArgumentException](
      graft.ext.LinkGraph.pageRankHosts(emptyEdges))
    // vocab induction on an empty corpus is an empty vocab, and token
    // accounting under it degrades to pure UNK (cost = word length)
    val vocab = graft.ext.UnigramTok.induceVocab(emptyDocs)
    assert(vocab.count() == 0)
    val docs = Seq((1L, "ab cde")).toDF("doc_id", "text")
    val got = graft.ext.UnigramTok.minTokenCounts(docs, vocab).collect()(0)
    assert(got.getAs[Long]("n_words") == 2L && got.getAs[Long]("n_pieces") == 5L)
  }
}
