package graft

import graft.api.Corpus
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The native functions reach operators without the session function
  * registry: every `graft.functions` Column API and the corpus pipeline
  * run on a fresh session that has none registered. SQL text is the only
  * surface that needs registration, and after `GraftExtensions.register`
  * it agrees with the Column API for every function in the table.
  */
class NativeFunctionsSpec extends SparkSuite {

  private def fixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "hello world", "hello word", Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0),
        "HTTP://Example.com:80/a/./b?utm_source=x&b=2#frag", "../c/d?q=1", "abcab"),
      (2L, "the cat sat on the mat the cat sat on the mat", "the cat sat",
        Seq(0.5, -1.0), Seq(2.0, 2.0), "https://a.com/p/q", "/x/../y", "thecat"),
      (3L, "Ｆｕｌｌ ﬁ Straße ＴＥＳＴ", "", Seq.empty[Double], Seq.empty[Double],
        "https://b.org/", "mailto:a@b.org", ""))
      .toDF("id", "t", "u", "a", "b", "url", "href", "w")
      .withColumn("ws", split(col("t"), " "))
      .withColumn("set", array(lit("cat"), lit("hello"), lit("the")))
      .withColumn("g", array(md5(col("t")), md5(col("u"))))
      .withColumn("bloom", array(lit(0x5a5a5a5aL)))
      .withColumn("pieces", array(Seq("ab", "at", "ca", "he", "th").map(lit): _*))
      .withColumn("costs", array(Seq(2L, 3L, 2L, 1L, 1L).map(lit): _*))
      .withColumn("unk", lit(5L))
  }

  private def train(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the log"),
      (3L, "hello world hello cat")).toDF("doc_id", "text")
  }

  private def sqlArray(xs: Seq[Any]): String = xs.map {
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case l: Long => s"${l}L"
  }.mkString("array(", ", ", ")")

  /** SQL name -> (SQL text, Column API) over [[fixture]]'s columns. */
  private def cases(s: SparkSession): Seq[(String, (String, Column))] = {
    val lm = ext.LanguageModels.lmIndex(train(s))
    val kn = ext.LanguageModels.knIndex(train(s))
    val knArgs = Seq(kn.h3s, kn.c3s, kn.habs, kn.ctx2s, kn.n3fs, kn.hbcs, kn.cont3s,
      kn.hbs, kn.mids, kn.n2fs, kn.cs, kn.cont2s).map(sqlArray).mkString(", ")
    Seq(
      "rolling_hash" -> ("rolling_hash(t)", RollingHash.rolling_hash(col("t"))),
      "dot_d" -> ("dot_d(a, b)", DotProduct.dot_d(col("a"), col("b"))),
      "simhash32" -> ("simhash32(t)", SimHash32.simhash32(col("t"))),
      "minhash_bands" -> ("minhash_bands(t)", MinHashBands.minhash_bands(col("t"))),
      "sorted_count_in" -> ("sorted_count_in(ws, set)",
        SortedCountIn.sorted_count_in(col("ws"), col("set"))),
      "ngram_md5" -> ("ngram_md5(t, 2)", NgramMd5.ngram_md5(col("t"), 2)),
      "quality_signals" -> ("quality_signals(lower(t))",
        QualitySignals.quality_signals(lower(col("t")))),
      "bloom_hits" -> ("bloom_hits(g, bloom, 1, 2)",
        BloomHits.bloom_hits(col("g"), col("bloom"), 1, 2)),
      "bpe_count" -> ("bpe_count(t)", BpeCount.bpe_count(col("t"))),
      "min_seg_count" -> ("min_seg_count(w, pieces)", MinSeg.min_seg_count(col("w"), col("pieces"))),
      "lev_bytes" -> ("lev_bytes(t, u)", LevBytes.lev_bytes(col("t"), col("u"))),
      "lm_nll" -> (s"lm_nll(t, ${sqlArray(lm.hbs)}, ${sqlArray(lm.c2s)}, " +
        s"${sqlArray(lm.ws)}, ${sqlArray(lm.c1s)}, ${lm.v}L)", LmNll.lm_nll(col("t"), lm)),
      "kn_nll" -> (s"kn_nll(t, $knArgs, ${kn.bt}L, ${kn.v}L)", KnNll.kn_nll(col("t"), kn)),
      "nfkc_casefold" -> ("nfkc_casefold(t)", NfkcCasefold.nfkc_casefold(col("t"))),
      "repetition_signals" -> ("repetition_signals(t)",
        RepetitionSignals.repetition_signals(col("t"))),
      "min_seg_cost" -> ("min_seg_cost(w, pieces, costs, unk)",
        MinSegCost.min_seg_cost(col("w"), col("pieces"), col("costs"), col("unk"))),
      "min_seg_pieces" -> ("min_seg_pieces(w, pieces, costs, unk)",
        MinSegPieces.min_seg_pieces(col("w"), col("pieces"), col("costs"), col("unk"))),
      "canonical_url" -> ("canonical_url(url)", CanonicalUrl.canonical_url(col("url"))),
      "resolve_href" -> ("resolve_href(url, href)", ResolveHref.resolve_href(col("url"), col("href"))))
  }

  private def viaColumn(fx: DataFrame, c: Column): Seq[Row] =
    fx.orderBy("id").select(c.as("r")).collect().toSeq

  /** 60 generated 30-word documents, an exact copy of doc 1 (id 61) and
    * a repetition-spam document (id 62); doc 5 is the eval set. */
  private def corpusChain(s: SparkSession): Set[Long] = {
    import s.implicits._
    val gen = (1L to 60L).map { i =>
      i -> (0L until 30L).map(j => s"w${(i * 2654435761L + j * 40503L) % 5000L}").mkString(" ")
    }
    val docs = (gen ++ Seq(61L -> gen.head._2, 62L -> Seq.fill(40)("the").mkString(" ")))
      .toDF("doc_id", "text")
    Corpus(docs)
      .withQualitySignals().filterQuality(minWords = 3, maxWords = 100000)
      .dedupExact().dedupNearMinHash().filterByRepetition()
      .withKnScore().decontaminate(docs.filter(col("doc_id") === 5L))
      .df.select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("every Column API evaluates on a fresh session with no registration") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("rolling_hash"))
    val table = cases(fresh)
    assert(table.map(_._1).toSet == GraftExtensions.functions.map(_._1).toSet)
    val fx = fixture(fresh)
    for ((name, (_, c)) <- table)
      assert(viaColumn(fx, c).length == 3, name)
    assert(!fresh.catalog.functionExists("rolling_hash"))
  }

  test("the corpus pipeline chain runs on a fresh session with no registration") {
    val fresh = spark.newSession()
    val got = corpusChain(fresh)
    assert(!fresh.catalog.functionExists("quality_signals"))
    assert(got.nonEmpty && !got.contains(61L) && !got.contains(5L))
    assert(got == corpusChain(spark))
  }

  test("SQL text after register equals the Column API, for every registered function") {
    GraftExtensions.register(spark)
    val fx = fixture(spark)
    fx.createOrReplaceTempView("native_fx")
    val table = cases(spark)
    assert(table.map(_._1) == GraftExtensions.functions.map(_._1))
    for ((name, (sql, c)) <- table) {
      val viaSql = spark.sql(s"SELECT $sql AS r FROM native_fx ORDER BY id").collect().toSeq
      assert(viaSql == viaColumn(fx, c), s"$name: $sql")
    }
  }
}
