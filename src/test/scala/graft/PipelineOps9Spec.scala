package graft

import org.apache.spark.sql.functions._
import graft.ext.{EmbedDedup, EmbedLsh, PipelineOps9, Sketches, VectorSearch}

/** KMV sketch (merge property, exact-below-k), duplicated spans (planted
  * fixtures), JL projection (self-similarity, sign agreement with the LSH
  * bit matrix).
  */
class PipelineOps9Spec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ------------------------------------------------------------------ KMV

  test("KMV: merging per-shard k-minima equals sketching the union directly") {
    val docs = Tables(spark, dir, "documents")
    val k = 16
    val h = Sketches.bigramFractions(docs)
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang")).orderBy(col("f"), col("b"))
    // direct: k-th smallest fraction per lang over the whole corpus
    val direct = h.withColumn("rn", row_number().over(byLang))
      .filter(col("rn") === k).select(col("lang"), col("f").as("fk"))
    // sharded: per (lang, shard) k-minima, then k-th smallest of the union
    val bigramShard = abs(hash(col("b"))) % 4
    val byShard = Window.partitionBy(col("lang"), bigramShard).orderBy(col("f"), col("b"))
    val merged = h.withColumn("rs", row_number().over(byShard))
      .filter(col("rs") <= k)
      .withColumn("rn", row_number().over(byLang))
      .filter(col("rn") === k).select(col("lang"), col("f").as("fk2"))
    val joined = direct.join(merged, "lang").collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
  }

  test("KMV is exact when a group has at most k distinct values") {
    val docs = Seq(
      (1L, "a b c", "xx"), (2L, "b c d", "xx"), (3L, "a b", "yy"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"))
    val out = Sketches.kmvDistinctBigrams(docs).orderBy("lang").collect()
    // xx: bigrams {a b, b c, c d} = 3; yy: {a b} = 1 — all <= 64 -> exact
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("xx", 3L, 3L), ("yy", 1L, 1L)))
  }

  test("KMV estimate on the real corpus is positive and in a sane band") {
    val out = Sketches.kmvDistinctBigrams(
      Tables(spark, "/root/testdata/sf0.01", "documents")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est > 0)
      // k=64 standard error ~ 1/sqrt(62) ~ 13%; allow a generous 3-sigma
      assert(math.abs(est - exact).toDouble / exact < 0.5,
        s"lang=${r.getString(0)} exact=$exact est=$est")
    }
  }

  // ------------------------------------------------------------ dup spans

  private def w(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("dupSpans finds the longest shared consecutive-gram run") {
    // docs 1 and 2 share a 10-word span = 3 consecutive 8-grams;
    // doc 3 shares nothing
    val span = w(10, "s")
    val docs = Seq(
      (1L, s"${w(8, "a")} $span ${w(8, "b")}"),
      (2L, s"${w(8, "c")} $span ${w(8, "d")}"),
      (3L, w(30, "z"))).toDF("doc_id", "text")
    val out = PipelineOps9.dupSpans(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 10L, 3L), (2L, 3L, 10L, 3L)))
  }

  test("dupSpans: scattered single shared grams yield runs of 1 (span 8)") {
    val g = w(8, "g")
    val docs = Seq(
      (1L, s"$g ${w(9, "a")} $g"),
      (2L, s"${w(9, "c")} $g ${w(9, "d")}")).toDF("doc_id", "text")
    val out = PipelineOps9.dupSpans(docs).orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getLong(1) == 1L, "max run must be 1 gram")
      assert(r.getLong(2) == 8L, "span must be the gram width")
    }
  }

  // ------------------------------------------------------ histogram sketch

  test("histogram cells merge by addition: sharded build == whole build") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val merged = Sketches.histCells(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(Sketches.histCells(docs.filter(col("doc_id") % 2 === 1)))
      .groupBy(col("lang"), col("bin")).agg(sum(col("c")).as("c"))
    assert(cells(merged) == cells(Sketches.histCells(docs)))
  }

  test("histogram quantile estimates land within one bin width of exact") {
    val out = Sketches.histogramQuantiles(
      Tables(spark, "/root/testdata/sf0.01", "documents")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) <= 20.0,
        s"p50 off by more than a bin: $r")
      assert(math.abs(r.getDouble(4) - r.getDouble(5)) <= 20.0,
        s"p90 off by more than a bin: $r")
    }
  }

  // -------------------------------------------------------- segment index

  test("SegIndex: planted all-seen and all-novel shards count correctly") {
    import graft.ext.SegIndex
    val a = w(16, "a"); val b = w(16, "b"); val n = w(16, "n")
    val released = Seq((1L, s"$a $b")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_segidx_spec").toString
    try {
      SegIndex.build(released, tmp)
      val idx = SegIndex.load(spark, tmp)
      val newShard = Seq(
        (10L, s"$b $a"), // both segments released (order differs, segments equal)
        (11L, n), // fully novel
        (12L, s"$a $n")) // half and half
        .toDF("doc_id", "text")
      val out = SegIndex.newSegmentCounts(newShard, idx).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.toSeq == Seq((10L, 2L, 0L), (11L, 1L, 1L), (12L, 2L, 1L)))
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  // --------------------------------------------------------- fluent Corpus

  test("Corpus.withDupSpans fills zero for clean docs; filterDupSpans drops long spans") {
    val span = w(12, "s")
    val docs = Seq(
      (1L, s"${w(8, "a")} $span"),
      (2L, s"${w(8, "c")} $span"),
      (3L, w(30, "z"))).toDF("doc_id", "text")
    val out = graft.api.Corpus(docs).withDupSpans().df.orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out(2).getAs[Long]("span_words") == 0L)
    assert(out(0).getAs[Long]("span_words") == 12L)
    val kept = graft.api.Corpus(docs).filterDupSpans(maxSpanWords = 12L).df
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(3L))
  }

  // -------------------------------------------------------- JL projection

  test("JL projection: identical vectors project identically; cos_proj(self-clone) = 1") {
    val cfg = EmbedLsh(dims = 64, planes = 16)
    val emb = VectorSearch.quantized(Tables(spark, dir, "embeddings").limit(20))
      .withColumn("p", VectorSearch.jlProject(cfg))
    val rows = emb.select(col("vec_id"), col("p")).collect()
    assert(rows.forall(_.getSeq[Double](1).length == 16))
    // projection is a pure function of v: re-computing must match exactly
    val again = emb.select(col("vec_id"), VectorSearch.jlProject(cfg).as("p2")).collect()
    assert(rows.map(_.getSeq[Double](1)).toSeq == again.map(_.getSeq[Double](1)).toSeq)
  }

  test("JL projection signs equal the LSH sign bits (shared hyperplane matrix)") {
    val cfg = EmbedLsh(dims = 64, planes = 16)
    val emb = Tables(spark, dir, "embeddings").limit(50)
    val proj = VectorSearch.quantized(emb)
      .withColumn("p", VectorSearch.jlProject(cfg))
      .select(col("vec_id"), expr("transform(p, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)").as("sp"))
    val bits = EmbedDedup.signatures(emb, cfg).select(col("vec_id"), col("bits"))
    val joined = proj.join(bits, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"vec ${r.getLong(0)}")
    }
  }
}
