package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Bpe, BpeCount}

/** Byte-level BPE: encode round-trips, count bounds, determinism across
  * runs and partitionings, interpreted ≡ codegen, trainer determinism —
  * the property suite standing in for the (inexpressible) SQL oracle.
  */
class BpeSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def lat1(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)

  test("checked-in vocabulary loads; ranks are dense") {
    assert(Bpe.defaultMerges.nonEmpty)
    assert(Bpe.defaultRanks.size() == Bpe.defaultMerges.size)
  }

  test("encode round-trips: symbols reconcatenate to the word bytes") {
    val words = Seq("table", "customer", "internationalization", "x",
      lat1("中文字符串"), lat1("naïve"), "if(x>0){return;}", "a_b_c.d")
    words.foreach { w =>
      val syms = Bpe.encodeWord(w, Bpe.defaultRanks)
      assert(syms.mkString == w, s"round-trip broke for $w")
      assert(syms.forall(_.nonEmpty))
    }
    assert(Bpe.encodeWord("", Bpe.defaultRanks).isEmpty)
  }

  test("count bounds: 1 <= count <= byte length per word; text sums words") {
    val texts = Seq("table scan join", "  spaced\t out \n", "", "中文 code(x)")
    texts.foreach { t =>
      val total = BpeCount.compute(UTF8String.fromString(t))
      val words = t.split("\\s+").filter(_.nonEmpty)
      val perWord = words.map(w => Bpe.countWord(lat1(w), Bpe.defaultRanks))
      assert(total == perWord.sum.toLong, s"text=$t")
      perWord.zip(words).foreach { case (c, w) =>
        val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        assert(c >= 1 && c <= bytes, s"word=$w count=$c bytes=$bytes")
      }
    }
  }

  test("trained merges compress the training corpus' own words") {
    // corpus-independent (the driver may regenerate testdata with a new
    // vocabulary): train merges on whatever the corpus holds TODAY, then
    // its own frequent multi-byte words must encode in far fewer symbols
    // than bytes
    val freqs = Tables(spark, dir, "documents")
      .select(explode(graft.clean.CleanFns.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(1000)
      .collect().map(r => (lat1(r.getString(0)), r.getLong(1))).toSeq
    val ranks = Bpe.ranksOf(Bpe.train(freqs, 500))
    val words = freqs.map(_._1).filter(_.length >= 3).take(5)
    assert(words.nonEmpty)
    val ratio = words.map { w =>
      Bpe.countWord(w, ranks).toDouble / w.length
    }.sum / words.size
    assert(ratio <= 0.5, s"expected >=2x compression on in-vocab words, got $ratio")
  }

  test("interpreted eval == codegen result; partitioning-invariant; deterministic") {
    GraftExtensions.register(spark)
    val docs = Tables(spark, dir, "documents")
    val viaDf = docs.select(col("doc_id"), expr("bpe_count(text)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val repart = docs.repartition(7)
      .select(col("doc_id"), expr("bpe_count(text)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDf == repart)
    val interp = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> BpeCount.compute(UTF8String.fromString(r.getString(1))))
      .toMap
    assert(viaDf == interp)
    assert(viaDf.nonEmpty)
  }

  test("bpe never undercounts whitespace words; CJK/code counts exceed word counts") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val rows = Seq(
      (1L, "plain english words here"),
      (2L, "中文字符串 没有空格的长句子"), // 2 whitespace words, many bytes
      (3L, "def f(x): return x*x + g(x,y)")
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("w"),
        expr("bpe_count(text)").as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every word is >= 1 subword, so bpe >= whitespace always
    rows.values.foreach { case (w, b) => assert(b >= w) }
    // out-of-vocab CJK and code MUST count higher than whitespace words —
    // the undercount x_mix3/x_pack* inherit from word counts
    assert(rows(2L)._2 > 3 * rows(2L)._1, s"CJK barely counted: ${rows(2L)}")
    assert(rows(3L)._2 > rows(3L)._1, s"code barely counted: ${rows(3L)}")
  }

  test("BPE-denominated budget fill: sharded == single-window (the x_mix3b identity holds for any token column)") {
    GraftExtensions.register(spark)
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("CAST(bpe_count(text) AS BIGINT)").as("n_tok_bpe"))
    for (budget <- Seq(300L, 5000L)) {
      val a = graft.ext.TokenLayout
        .takeTokenBudget(d, col("lang"), col("n_tok_bpe"), budget)
        .select("doc_id", "lang", "n_tok_bpe", "cum_tok")
      val b = graft.ext.TokenLayout
        .takeTokenBudgetSharded(d, col("lang"), col("n_tok_bpe"), budget)
        .select("doc_id", "lang", "n_tok_bpe", "cum_tok")
      assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L,
        s"budget=$budget: BPE-denominated sharded fill diverged")
    }
  }

  test("trainer is deterministic; render/parse is a bijection") {
    val freqs = Tables(spark, dir, "documents")
      .select(explode(graft.clean.CleanFns.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(100000)
      .collect()
      .map(r => (lat1(r.getString(0)), r.getLong(1))).toSeq
    val m1 = Bpe.train(freqs, 500)
    val m2 = Bpe.train(freqs, 500)
    assert(m1 == m2, "trainer nondeterministic")
    assert(Bpe.parse(Bpe.render(m1)) == m1, "render/parse not a bijection")
  }
}
