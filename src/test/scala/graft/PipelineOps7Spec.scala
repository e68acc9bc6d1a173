package graft

import org.apache.spark.sql.functions._
import graft.ext.{PipelineOps7, Sampling, TokenLayout}

/** Novelty, entropy, length batching, epoch ordering: hand-built fixture
  * semantics plus invariants on the real tables.
  */
class PipelineOps7Spec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables(spark, dir, "documents")

  private def mkDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("noveltyScores: copies score 0, originals 1e6, partial copies exact ppm") {
    val d = mkDocs(
      1L -> "a b c d e",         // grams {a b c d, b c d e} — both first here
      2L -> "a b c d e",         // exact copy — zero novel
      3L -> "a b c d x y z w",   // {a b c d}(seen) + 4 new of 5 distinct
      4L -> "p q r")             // < 4 tokens — excluded entirely
    val out = PipelineOps7.noveltyScores(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((2L, 1000000L)))
    assert(out(2L) == ((2L, 0L)))
    assert(out(3L) == ((5L, 800000L)))
    assert(!out.contains(4L))
  }

  test("noveltyScores: novelty is over DISTINCT grams (repeats don't inflate)") {
    val d = mkDocs(1L -> "a b c d a b c d a b c d") // many positions, few grams
    val out = PipelineOps7.noveltyScores(d).collect()
    assert(out.length == 1)
    // distinct grams of the repeated text: a b c d / b c d a / c d a b / d a b c
    assert(out.head.getLong(1) == 4L)
    assert(out.head.getLong(2) == 1000000L)
  }

  test("tokenEntropy: uniform text 0, two equiprobable tokens ln 2") {
    val d = mkDocs(1L -> "a a a a", 2L -> "a b", 3L -> "x")
    val out = PipelineOps7.tokenEntropy(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 4L && out(1L)._2 == 0.0)
    assert(out(2L)._2 == BigDecimal(math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(3L)._2 == 0.0)
  }

  test("tokenEntropy: whitespace-robust via the shared tokenizer") {
    val d = mkDocs(1L -> "a\t b\n\nb   a", 2L -> "a b b a")
    val out = PipelineOps7.tokenEntropy(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == out(2L)) // dirty whitespace must not mint empty tokens
  }

  test("lengthBatches: bucket/batch arithmetic and padding accounting") {
    // n_tok: 3,3,3 in bucket 0; 17,18,19,20 in bucket 1 (width 16, batch 2)
    val d = mkDocs(
      1L -> "a b c", 2L -> "d e f", 3L -> "g h i",
      4L -> Seq.fill(17)("w").mkString(" "), 5L -> Seq.fill(18)("w").mkString(" "),
      6L -> Seq.fill(19)("w").mkString(" "), 7L -> Seq.fill(20)("w").mkString(" "))
    val out = TokenLayout.lengthBatches(d, bucketWidth = 16, batchSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out((0L, 0L)) == ((2L, 3L, 6L, 0L)))   // two 3-token docs, no padding
    assert(out((0L, 1L)) == ((1L, 3L, 3L, 0L)))   // trailing singleton batch
    assert(out((1L, 0L)) == ((2L, 18L, 35L, 1L))) // (17,18): waste 2*18-35
    assert(out((1L, 1L)) == ((2L, 20L, 39L, 1L))) // (19,20): waste 2*20-39
  }

  test("lengthBatches routes through REAL n_tok_bpe when the corpus carries it") {
    import org.apache.spark.sql.functions.{col, expr, size => fsize}
    import spark.implicits._
    // the synthetic corpus is simple English whose learned BPE merges
    // whole words (bpe ≈ ws there) — plant the case the denominator
    // exists FOR: single "words" of unmergeable bytes, where ws counts 1
    // and bpe counts dozens (the code/CJK undercount, BpeSpec)
    val planted = docs.select(col("doc_id"), col("text")).unionByName(
      Seq((900001L, Seq.fill(40)("zq7#").mkString),
          (900002L, Seq.fill(60)("x9!k").mkString)).toDF("doc_id", "text"))
    val withBpe = graft.api.Corpus(planted).withBpeTokenCount().df
    val out = TokenLayout.lengthBatches(withBpe, bucketWidth = 16, batchSize = 8)
    def hist(df: org.apache.spark.sql.DataFrame, tok: String): Map[Long, Long] = df
      .select(expr(s"$tok DIV 16").as("b")).groupBy("b").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the operator's per-bucket doc counts must equal the independent
    // bpe_count histogram (computed here from the column, not the operator)
    val gotHist = out.groupBy("bucket")
      .agg(org.apache.spark.sql.functions.sum("n_docs").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bpeHist = hist(withBpe, "n_tok_bpe")
    assert(gotHist == bpeHist)
    // and the ws histogram differs, so the assertion above is discriminating
    val wsHist = hist(planted.select(
      fsize(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("w")), "w")
    assert(bpeHist != wsHist, "fixture cannot discriminate bpe from ws")
  }

  test("lengthBatches: waste bounded by construction on the real corpus") {
    val out = TokenLayout.lengthBatches(docs, bucketWidth = 16, batchSize = 8).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nDocs, waste) = (r.getLong(2), r.getLong(5))
      assert(nDocs <= 8L)
      assert(waste <= (16L - 1L) * nDocs, s"padding bound violated: $r")
    }
  }

  test("epochOrder: epochs permute differently, ranks contiguous, deterministic") {
    val base = docs.select("doc_id")
    val n = base.count()
    val out = Sampling.epochOrder(base, epochs = 3, shards = 8)
    assert(out.count() == 3 * n)
    // each (epoch, shard) ranks exactly 1..count
    val bad = out.groupBy("epoch", "shard")
      .agg(count(lit(1)).as("c"), max("rk").as("m"), min("rk").as("lo"))
      .filter(col("m") =!= col("c") || col("lo") =!= 1L).count()
    assert(bad == 0L)
    // the same document lands in different shard/rank positions across epochs
    val perDoc = out.groupBy("doc_id")
      .agg(countDistinct(concat_ws(":", col("shard"), col("rk"))).as("pos"))
    assert(perDoc.filter(col("pos") > 1).count() > n / 2)
    // reproducible algebra: two plans, identical schedule
    val again = Sampling.epochOrder(base, epochs = 3, shards = 8)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("epochOrder: non-positive epochs/shards fail loudly") {
    val base = docs.select("doc_id")
    intercept[IllegalArgumentException] { Sampling.epochOrder(base, epochs = 0, shards = 8) }
    intercept[IllegalArgumentException] { Sampling.epochOrder(base, epochs = -1, shards = 8) }
    intercept[IllegalArgumentException] { Sampling.epochOrder(base, epochs = 3, shards = 0) }
  }

  test("corpus invariants: first doc fully novel, ppm bounded, entropy bounded") {
    val nov = PipelineOps7.noveltyScores(docs).collect()
    val firstId = nov.map(_.getLong(0)).min
    assert(nov.find(_.getLong(0) == firstId).get.getLong(2) == 1000000L,
      "the corpus' earliest doc must be 100% novel")
    assert(nov.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 1000000L))
    val ent = PipelineOps7.tokenEntropy(docs).collect()
    assert(ent.forall { r =>
      val (n, h) = (r.getLong(1), r.getDouble(2))
      // the surfaced value is round(H, 6): HALF_UP can sit up to 5e-7
      // above the true bound when H == ln(n) exactly (all tokens distinct)
      h >= -1e-6 && h <= math.log(n.toDouble) + 1e-6
    }, "entropy must sit in [0, ln n_tok] up to the 6-decimal rounding")
  }

  test("lengthBatches: token mass is conserved across the layout") {
    val total = docs
      .select(sum(size(graft.clean.CleanFns.tokens(col("text")))).cast("long"))
      .collect().head.getLong(0)
    val packed = TokenLayout.lengthBatches(docs)
      .agg(sum("sum_tok").cast("long")).collect().head.getLong(0)
    assert(packed == total)
  }

  test("incremental novelty (static gram set) == batch novelty for a newer doc") {
    val released = mkDocs(
      1L -> "a b c d e",
      2L -> "m n o p q r")
    val newDoc = mkDocs(10L -> "a b c d x y z w")
    val incr = PipelineOps7.scoreNoveltyAgainst(newDoc, PipelineOps7.gramSet(released))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val batch = PipelineOps7.noveltyScores(released.unionByName(newDoc))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a doc with the highest id: "first seen here" == "absent from index"
    assert(incr(10L) == batch(10L))
    assert(incr(10L) == ((5L, 800000L))) // {a b c d} seen, 4 of 5 novel
  }

  test("Corpus API forms match the probe outputs") {
    import graft.api.Corpus
    val novProbe = SparkEntry.queries("x_txt14_novelty")(spark, dir)
      .select("doc_id", "novelty_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val novApi = Corpus(spark, dir).withNoveltyScore().df
      .select("doc_id", "novelty_ppm").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(novApi.filter(_._2 >= 0L) == novProbe)
    val entProbe = SparkEntry.queries("x_txt15_token_entropy")(spark, dir)
      .select("doc_id", "entropy").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val entApi = Corpus(spark, dir).withTokenEntropy().df
      .select("doc_id", "entropy").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(entApi == entProbe)
    val lbApi = Corpus(spark, dir).lengthBatches().orderBy("bucket", "batch").collect().toSeq
    val lbProbe = SparkEntry.queries("x_pack3_length_batching")(spark, dir).collect().toSeq
    assert(lbApi == lbProbe)
  }
}
