package graft

import graft.api.Corpus
import org.apache.spark.sql.functions._

/** The fluent corpus pipeline end-to-end: quality gates, exact and
  * near-dup removal, fingerprints — one fused lazy plan.
  */
class CorpusSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("full chain runs and preserves schema contracts") {
    val out = Corpus(spark, dir)
      .withQualitySignals()
      .filterQuality(minWords = 3, maxWords = 5000)
      .dedupExact()
      .withFingerprints()
      .df
    assert(out.columns.contains("content_fp") && out.columns.contains("bow_fp"))
    val n = out.count()
    assert(n > 0 && n <= 500)
    // exact dedup: content hashes unique
    assert(out.select(md5(col("text"))).distinct().count() == n)
  }

  test("withUnigramTokenCount matches the x_tok3 distinct-word join form") {
    val docs = Tables(spark, dir, "documents")
    val vocab = graft.ext.UnigramTok.induceVocab(docs)
    val got = Corpus(docs).withUnigramTokenCount(Some(vocab)).df
      .select(col("doc_id"), col("n_tok_unigram"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = graft.ext.UnigramTok.minTokenCounts(docs, vocab)
      .select(col("doc_id"), col("n_pieces").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.nonEmpty && got == want)
    // an existing n_words column must survive untouched
    val withW = Corpus(docs.withColumn("n_words", lit(-7L)))
      .withUnigramTokenCount(Some(vocab)).df
    assert(withW.select("n_words").distinct().collect().map(_.getLong(0)).toSeq == Seq(-7L))
  }

  test("dedupExact keeps the smallest id among planted duplicates") {
    val docs = Tables(spark, dir, "documents")
    val planted = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 10000L))
    val out = Corpus(planted).dedupExact().df
    assert(out.count() == docs.count())
    assert(out.filter(col("doc_id") >= 10000L).count() == 0)
  }

  test("dedupNearMinHash drops the higher-id member of exact-dup pairs") {
    val docs = Tables(spark, dir, "documents").limit(50)
    val planted = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 10000L))
    val out = Corpus(planted).dedupNearMinHash().df
    // every planted copy shares all bands with its original -> dropped;
    // genuine near-dups among the originals may also be removed (that IS
    // the operator), so the count is <= 50 but never collapses
    assert(out.filter(col("doc_id") >= 10000L).count() == 0)
    val n = out.count()
    assert(n >= 40 && n <= 50, s"unexpected survivor count $n")
  }

  test("dedupNearClustered keeps exactly one survivor per transitive group") {
    val docs = Tables(spark, dir, "documents").limit(50)
    // two planted copies of every doc: {d, d+10000, d+20000} form one
    // 3-member component; the cluster form must keep ONLY the original
    val planted = docs
      .unionAll(docs.withColumn("doc_id", col("doc_id") + 10000L))
      .unionAll(docs.withColumn("doc_id", col("doc_id") + 20000L))
    val out = Corpus(planted).dedupNearClustered().df
    assert(out.filter(col("doc_id") >= 10000L).count() == 0)
    val n = out.count()
    assert(n >= 40 && n <= 50, s"unexpected survivor count $n")
  }

  test("dedupNearQualitySurvivor keeps the HIGHEST-QUALITY cluster member, not the min id") {
    val docs = Tables(spark, dir, "documents").limit(50)
    // planted copy of each doc at id+10000 whose text is TRUNCATED to 5
    // words (fails the n_words >= 10 keep rule), and one at id+20000 with
    // identical text: the cluster {d, d+10000, d+20000} must keep d (same
    // keep as d+20000, tie broken by id) — and crucially, NEVER d+10000
    // even where near-dup banding still groups it
    val truncated = docs.withColumn("doc_id", col("doc_id") + 10000L)
      .withColumn("text", expr(
        "concat_ws(' ', slice(filter(split(text, '\\\\s+'), t -> length(t) > 0), 1, 5))"))
    val planted = docs
      .unionAll(truncated)
      .unionAll(docs.withColumn("doc_id", col("doc_id") + 20000L))
    val out = Corpus(planted).dedupNearQualitySurvivor().df
    // exact copies at +20000 tie on quality -> min id (the original) wins
    assert(out.filter(col("doc_id") >= 20000L).count() == 0)
    // originals survive their clusters (a couple may lose to a genuine
    // cross-doc near-dup inside the natural corpus — same tolerance as the
    // dedupNearClustered test); crucially, wherever a truncated low-quality
    // copy DID cluster with its full original, the original won
    val originals = out.filter(col("doc_id") < 10000L).count()
    assert(originals >= 45 && originals <= 50, s"originals kept: $originals")
    // every surviving truncated copy is a SINGLETON (no band collision with
    // its original) — no cluster ever elected the low-quality member while
    // its high-quality original was present
    val labels = graft.ext.Dedup.qualitySurvivorLabels(
      planted, graft.ext.Dedup.minhashPairs(planted))
    val badWins = labels.alias("l")
      .filter(col("l.is_survivor") === 1L && col("l.doc_id") >= 10000L && col("l.doc_id") < 20000L)
      .join(labels.alias("o").filter(col("o.doc_id") < 10000L)
          .select(col("o.comp_id").as("oc"), col("o.keep").as("ok")),
        col("l.comp_id") === col("oc") && col("ok") > col("l.keep"))
      .count()
    assert(badWins == 0, s"$badWins low-quality docs beat a higher-quality clustermate")
  }

  test("dedupNearVerified removes exact dups but keeps sub-threshold docs") {
    val docs = Tables(spark, dir, "documents").limit(50)
    val planted = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 10000L))
    // Jaccard 1.0 for planted copies: with threshold 900000 ppm only true
    // (near-)exact dups go; LSH-candidate pairs with lower overlap survive
    // the verification stage even though they collided in a band
    val out = Corpus(planted).dedupNearVerified(900000L).df
    assert(out.filter(col("doc_id") >= 10000L).count() == 0)
    val n = out.count()
    // verification is STRICTER than raw band collision: at least as many
    // survivors as dedupNearMinHash would keep, and every original whose
    // only duplicate was its planted copy survives
    assert(n >= 45 && n <= 50, s"unexpected survivor count $n")
  }

  test("dedupNearVerified candidate cap: template storm bounded, cap-on == cap-off on normal data") {
    val s = spark
    import s.implicits._
    // adversarial fixture (the PERF.md template-storm input): 200 docs
    // sharing one 40-word template with a unique tail. Pairs verify at
    // Jaccard 39/41 ≈ 951k ppm, and the UNCAPPED candidate set is nearly
    // all ~19900 pairs; the default cap bounds verification to ≤ 64 pairs
    // per doc, and the capped pair graph still chains the storm into one
    // component. (A doc whose unique tail shingle wins the min-hash in
    // BOTH bands is isolated by LSH recall itself — P ≈ (1-(38/39)⁴)² ≈ 1%
    // per doc, independent of the cap — hence the small survivor slack.)
    val template = (1 to 40).map(j => s"w$j").mkString(" ")
    val storm = (1L to 200L).map(i => (i, s"$template tail$i", "en"))
      .toDF("doc_id", "text", "lang")
    val survivors = api.Corpus(storm).dedupNearVerified(800000L).df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the storm collapses to one survivor plus the rare LSH-isolated docs
    assert(survivors.contains(1L) && survivors.size <= 10, s"got $survivors")
    // parity: on the normal planted fixture the cap must be invisible
    val docs = Tables(spark, dir, "documents").limit(30)
    val planted = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 10000L))
    val withCap = api.Corpus(planted).dedupNearVerified(900000L).df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val noCap = api.Corpus(planted)
      .dedupNearVerified(900000L, maxCandidatesPerDoc = 0).df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(withCap == noCap, "K=64 changed survivors on the non-adversarial fixture")
  }

  test("quality gate boundaries are inclusive and empty text is safe") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five", "en"),   // 5 words: kept at min=5
      (2L, "one two three four", "en"),        // 4 words: dropped
      (3L, "", "en"))                          // empty: signals NULL, dropped
      .toDF("doc_id", "text", "lang")
    val out = Corpus(df).withQualitySignals().filterQuality(5, 100).df
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // empty text produced NULL ppm signals, not a DIVIDE_BY_ZERO crash
    val sig = Corpus(df).withQualitySignals().df
      .filter(col("doc_id") === 3L).select("letter_ppm").collect()(0)
    assert(sig.isNullAt(0))
  }

  test("language filter + vectors entry point") {
    val en = Corpus(spark, dir).filterLanguages("en").df
    assert(en.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
    val v = Corpus.vectors(spark, dir)
    assert(v.columns.toSeq == Seq("vec_id", "label", "v", "n2"))
    assert(v.filter(col("n2") <= 0).count() == 0)
  }

  test("decontaminate: broadcast == shuffle; bloom removes a superset; all drop x_dec1's docs") {
    val docs = Tables(spark, dir, "documents")
    val ev = docs.filter(col("doc_id") % 25 === 0)
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    def ids(c: Corpus) = c.df.select("doc_id").collect().map(_.getLong(0)).toSet
    val bc = ids(Corpus(corpus).decontaminate(ev, Corpus.EvalBroadcast))
    val sh = ids(Corpus(corpus).decontaminate(ev, Corpus.EvalShuffle))
    val bl = ids(Corpus(corpus).decontaminate(ev, Corpus.EvalBloom))
    assert(bc == sh) // join strategy must not change semantics
    assert(bl.subsetOf(bc)) // bloom false positives only REMOVE more
    // survivors of the exact modes = corpus minus the oracle-checked
    // x_dec1 contaminated set
    val contaminated = Registry.all.find(_.name == "x_dec1_contamination").get
      .run(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bc == all -- contaminated)
    // bloom drops exactly the oracle-checked x_dec3 bloom-positive docs
    val bloomPositive = Registry.all.find(_.name == "x_dec3_bloom_contamination").get
      .run(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bl == all -- bloomPositive)
    // no shingle, nothing to match: NULL text and a 3-token prefix of an
    // eval document survive every mode
    import spark.implicits._
    val prefix = ev.orderBy("doc_id").select("text").head().getString(0)
      .split("\\s+").filter(_.nonEmpty).take(3).mkString(" ")
    val short = Seq((-1L, Option.empty[String]), (-2L, Some(prefix))).toDF("doc_id", "text")
    for (mode <- Seq(Corpus.EvalBroadcast, Corpus.EvalShuffle, Corpus.EvalBloom))
      assert(ids(Corpus(short).decontaminate(ev, mode)) == Set(-1L, -2L), mode)
  }

  test("dedupIncremental drops exactly the band-colliding new docs (x_ded9 semantics)") {
    val docs = Tables(spark, dir, "documents")
    val newShard = docs.filter(col("doc_id") % 3 === 0)
    val oldCorpus = docs.filter(col("doc_id") % 3 =!= 0)
    val out = Corpus(newShard).dedupIncremental(oldCorpus).df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = Registry.all.find(_.name == "x_ded9_incremental").get.run(spark, dir)
      .select("new_id").collect().map(_.getLong(0)).toSet
    val allNew = newShard.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == allNew -- dropped)
    spark.catalog.clearCache() // x_ded9 persists its band table
  }

  test("shardByTokenBudget equals the naive single-window shard assignment") {
    import org.apache.spark.sql.expressions.Window
    // every 7th document loses its lang: the naive window keeps NULL-lang
    // documents as one group of their own, so the two-level form must too
    val docs = Tables(spark, dir, "documents")
      .withColumn("lang", when(col("doc_id") % 7 =!= 0, col("lang")))
    val got = Corpus(docs).shardByTokenBudget(4096L)
      .df.select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val naive = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = docs
      .withColumn("n_tok", size(graft.clean.CleanFns.tokens(col("text"))).cast("long"))
      .withColumn("cum_end", sum("n_tok").over(naive))
      .select(col("doc_id"), expr("(cum_end - n_tok) DIV 4096").as("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(want.keySet.exists(_ % 7 == 0))
    assert(got.nonEmpty && got == want)
  }

  test("withBpeTokenCount re-denominates packPlacements and shardByTokenBudget") {
    import spark.implicits._
    // the corpus's BPE merges whole words (bpe == ws there): plant two
    // single "words" of unmergeable bytes, where ws counts 1 and bpe dozens
    val planted = Tables(spark, dir, "documents").select("doc_id", "text", "lang")
      .unionByName(Seq((900001L, "zq7#" * 40, "en"), (900002L, "x9!k" * 60, "en"))
        .toDF("doc_id", "text", "lang"))
    val bpe = Corpus(planted).withBpeTokenCount()
    val want = bpe.df.select("doc_id", "n_tok_bpe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want(900001L) > 1L && want(900002L) > 1L, "fixture cannot discriminate bpe from ws")
    val placed = bpe.packPlacements().select("doc_id", "n_tok")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // packing skips empty documents; every placed one counts BPE tokens
    assert(placed.nonEmpty && placed == want.filter(_._2 > 0))
    val sharded = bpe.shardByTokenBudget(4096L).df.select("doc_id", "n_tok")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sharded == want)
  }

  test("redactPii scrubs planted emails/IPs/phones and touches nothing else") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "write to alice9@mail.com today", "en"),
      (2L, "server at 192.168.0.12 rebooted", "en"),
      (3L, "call 512-555-0137 or 800-555-0199", "en"),
      (4L, "no pii here at all", "en")).toDF("doc_id", "text", "lang")
    val out = Corpus(dirty).redactPii().df.orderBy("doc_id")
      .collect().map(_.getString(1)).toSeq
    assert(out == Seq(
      "write to <EMAIL> today",
      "server at <IP> rebooted",
      "call <PHONE> or <PHONE>",
      "no pii here at all"))
  }

  test("withQualityRules / filterByQualityRules match the x_txt11 probe verdicts") {
    val api = Corpus(spark, dir).withQualityRules().df
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probe = Registry.all.find(_.name == "x_txt11_quality_rules").get.run(spark, dir)
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(api == probe)
    val kept = Corpus(spark, dir).filterByQualityRules().df.count()
    assert(kept == probe.values.count(_ == 1L))
  }

  test("withSubstringDupSignals matches x_ded10; short docs carry zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h tail one", "en"),
      (2L, "a b c d e f g h tail two", "en"),
      (3L, "tiny doc", "en")).toDF("doc_id", "text", "lang")
    val out = Corpus(docs).withSubstringDupSignals().df
      .select("doc_id", "n_grams", "n_dup").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._2 > 0 && out(2L)._2 > 0, s"planted shared span not flagged: $out")
    assert(out(3L) == ((0L, 0L)), "sub-8-token doc must carry zeros, not nulls")
    // and the filter drops exactly the high-dup docs
    val left = Corpus(docs).filterSubstringDups(maxDupPpm = 0L).df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left == Set(3L), s"got $left")
    // API stats == probe rows on the real table
    val api = Corpus(spark, dir).withSubstringDupSignals().df
      .filter(col("n_grams") > 0).select("doc_id", "n_grams", "n_dup", "dup_ppm")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue()).toSeq
    val probe = Registry.all.find(_.name == "x_ded10_substring_dup").get.run(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(api == probe)
  }

  test("topTerms matches the oracle-checked x_txt6 probe") {
    val api = Corpus(spark, dir).topTerms(3).orderBy("doc_id", "rk")
      .collect().map(_.toSeq).toSeq
    val probe = Registry.all.find(_.name == "x_txt6_top_terms").get.run(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(api.nonEmpty && api == probe)
    // no doc exceeds k rows; ranks are 1..k dense
    val byDoc = api.groupBy(_.head)
    assert(byDoc.values.forall(rows => rows.map(_(1)) == (1L to rows.length).toSeq))
  }

  test("scoreContamination matches x_dec4 ppm; sampleExactN matches x_smp5") {
    val docs = Tables(spark, dir, "documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val scored = Corpus(docs.filter(col("doc_id") % 25 =!= 0))
      .scoreContamination(eval).df
      .select("doc_id", "contam_ppm")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probe = SparkEntry.queries("x_dec4_contamination_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // probe drops sub-4-token docs (no shingles); API scores them 0
    assert(probe.forall { case (id, ppm) => scored.get(id).contains(ppm) })
    assert(scored.keySet.diff(probe.keySet).forall(scored(_) == 0L))

    val viaApi = Corpus(docs).sampleExactN(100).df
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val viaProbe = SparkEntry.queries("x_smp5_exact_n")(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(viaApi == viaProbe)
  }

  test("README pipeline executes end-to-end: quality -> dedup -> decon -> mix -> chunk -> JSONL") {
    // a slice, and pair-based near-dedup instead of the Verified chain:
    // the synthetic corpus's tiny shared vocabulary makes every doc an LSH
    // near-collision of every other, so candidates (and the component
    // graph the Verified chain then closes over) grow ~quadratically in
    // fixture size — a property of THIS fixture, not the operators, each
    // of which has its own planted-dup spec above
    val docs = Tables(spark, dir, "documents").limit(120)
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline").toString + "/shards"
    try {
      Corpus(docs.filter(col("doc_id") % 25 =!= 0))
        .withQualityRules()
        .filterByQualityRules()
        .filterByLangMedian()
        .materialize()      // stage boundary: cut the plan tower before dedup
        .dedupExact()
        .dedupNearMinHash()
        .decontaminate(eval)
        .materialize()      // and again before the fan-out stages
        .redactPii()
        .mixByTemperature(0.5)
        .chunkTokens(window = 16, stride = 12)
        .writeJsonl(out)
      val back = spark.read.text(out)
      val n = back.count()
      assert(n > 0, "pipeline produced no training chunks")
      // every line is a JSON object with the chunk schema
      val parsed = spark.read.json(out)
      assert(Seq("doc_id", "chunk_idx", "n_tokens", "chunk_hash")
        .forall(parsed.columns.contains))
      assert(parsed.filter(col("chunk_hash").isNull).count() == 0)
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(out).getParentFile)
    }
  }

  test("dedupNearSimHash drops planted exact copies, keeps distinct docs") {
    val docs = Tables(spark, dir, "documents").limit(50)
    val planted = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 10000L))
    val out = Corpus(planted).dedupNearSimHash().df
    // every planted copy has Hamming distance 0 to its original -> dropped
    assert(out.filter(col("doc_id") >= 10000L).count() == 0)
    // survivors are original docs (the synthetic corpus's small shared
    // vocabulary makes many GENUINE sub-2-Hamming pairs, so the count
    // collapses well below 50 — that is the operator working)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.subsetOf(docs.collect().map(_.getLong(0)).toSet))
    // the guarantee: no surviving pair is within the Hamming threshold
    val sigs = Corpus(docs).df
      .select(col("doc_id"), graft.functions.SimHash32.simhash32(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (a <- kept; b <- kept if a < b)
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) > 2,
        s"survivors $a and $b are within Hamming 2")
  }

  test("dedupCanonical survivor policy: longest variant wins, or first-seen") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Hello, world!"),          // canonical "hello world", 13 chars
      (2L, "hello world"),            // canonical "hello world", 11 chars
      (3L, "HELLO;;; world.....!!"),  // canonical "hello world", 21 chars
      (4L, "something else entirely")
    ).toDF("doc_id", "text")
    val longest = Corpus(docs).dedupCanonical(keepLongest = true).df
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(longest == Seq(3L, 4L))
    val first = Corpus(docs).dedupCanonical(keepLongest = false).df
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(first == Seq(1L, 4L))
    // probe parity on real data: survivors == x_ded11's survivor set
    val real = Tables(spark, dir, "documents")
    val viaApi = Corpus(real).dedupCanonical(keepLongest = true).df
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaProbe = SparkEntry.queries("x_ded11_survivor_longest")(spark, dir)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(viaApi == viaProbe)
  }

  test("writeJsonl / readJsonl round-trip preserves every row and column") {
    val docs = Tables(spark, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/docs"
    try {
      Corpus(docs).writeJsonl(path, numFiles = Some(4))
      // files are plain text JSONL, one object per line
      val nLines = spark.read.text(path).count()
      assert(nLines == docs.count())
      val back = Corpus.readJsonl(spark, path, docs.schema).df
        .select(docs.columns.map(col).toIndexedSeq: _*)
      assert(back.schema == docs.schema)
      val a = back.orderBy("doc_id").collect().toSeq
      val b = docs.orderBy("doc_id").collect().toSeq
      assert(a == b)
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(path).getParentFile)
    }
  }

  test("mixByTemperature: replication tracks the x_mix2 weights; deterministic") {
    val docs = Tables(spark, dir, "documents")
    val weights = SparkEntry.queries("x_mix2_temperature_weights")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = Corpus(docs).mixByTemperature(0.5).df
    val perSrc = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    weights.foreach { case (src, (n, ppm)) =>
      val full = ppm / 1000000L
      val got = perSrc.getOrElse(src, 0L)
      assert(got >= n * full && got <= n * (full + 1),
        s"$src: $got copies of $n docs at $ppm ppm")
    }
    // majority source (weight exactly 1e6) is passed through untouched
    val (majSrc, _) = weights.maxBy(_._2._1)
    assert(perSrc(majSrc) == weights(majSrc)._1)
    val again = Corpus(docs).mixByTemperature(0.5).df
      .orderBy("doc_id", "epoch").collect().toSeq
    assert(out.orderBy("doc_id", "epoch").collect().toSeq == again)
  }

  test("mixBySourceWeights: integer epochs exact, fractional deterministic, default 1.0") {
    val s = spark
    import s.implicits._
    val docs = (1L to 400L).map(i => (i, s"src${i % 4}", s"text $i"))
      .toDF("doc_id", "source", "text")
    val weights = Map("src0" -> 2500000L, "src1" -> 250000L, "src2" -> 0L)
    val out = Corpus(docs).mixBySourceWeights(weights).df.cache()
    try {
      val perSrc = out.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // src0 ×2.5: every doc 2 or 3 times, total in (200, 300) exclusive
      val src0PerDoc = out.filter($"source" === "src0").groupBy("doc_id").count()
        .collect().map(_.getLong(1))
      assert(src0PerDoc.forall(n => n == 2L || n == 3L))
      assert(perSrc("src0") > 200L && perSrc("src0") < 300L, perSrc.toString)
      // src1 ×0.25: strict subset, single copies only
      assert(perSrc("src1") > 0L && perSrc("src1") < 100L, perSrc.toString)
      // src2 ×0: gone entirely
      assert(!perSrc.contains("src2"))
      // src3 absent from the map: exactly one copy of each, epoch 0
      assert(perSrc("src3") == 100L)
      assert(out.filter($"source" === "src3" && $"epoch" =!= 0L).count() == 0L)
      // deterministic: a second evaluation from scratch is identical
      val again = Corpus(docs).mixBySourceWeights(weights).df
        .orderBy("doc_id", "epoch").collect().toSeq
      assert(out.orderBy("doc_id", "epoch").collect().toSeq == again)
    } finally out.unpersist()
  }

  test("dedupSegmentsIntra rewrites text to the within-doc-deduped form, keeps metadata") {
    val s = spark
    import s.implicits._
    def w(n: Int, tag: String): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val a = w(16, "a"); val b = w(16, "b")
    val docs = Seq((1L, s"$a $b $a", "en", "web", 10L), (2L, s"$b", "de", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus(docs).dedupSegmentsIntra().df
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("text")).toSeq == Seq(s"$a $b", b))
    assert(out.map(_.getAs[String]("lang")).toSeq == Seq("en", "de"))
  }

  test("text-rewriting stages refresh a carried n_tok_bpe (token budgets never see stale counts)") {
    val s = spark
    import s.implicits._
    GraftExtensions.register(s)
    def w(n: Int, tag: String): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val a = w(16, "a"); val b = w(16, "b")
    // doc 1 halves under intra-doc segment dedup; doc 2 is untouched
    val docs = Seq((1L, s"$a $b $a $b", "en", "web", 10L), (2L, b, "de", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus(docs).withBpeTokenCount().dedupSegmentsIntra().df
      .withColumn("expect", expr("CAST(bpe_count(text) AS BIGINT)"))
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_tok_bpe") == r.getAs[Long]("expect"),
        s"stale n_tok_bpe after rewrite for doc ${r.getAs[Long]("doc_id")}")
    }
    // and the count genuinely shrank for the rewritten doc
    val fresh = Corpus(docs).withBpeTokenCount().df
      .orderBy("doc_id").collect().map(_.getAs[Long]("n_tok_bpe"))
    assert(out(0).getAs[Long]("n_tok_bpe") < fresh(0))
    assert(out(1).getAs[Long]("n_tok_bpe") == fresh(1))
  }

  test("capPerGroup matches x_cur2; withBoilerplateScore matches x_txt13 ppm") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
    val got = Corpus(docs).capPerGroup(15).df
      .select("doc_id", "source", "rnk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val want = SparkEntry.queries("x_cur2_domain_cap")(spark, dir)
      .select("doc_id", "source", "rnk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got.nonEmpty && got == want)
    val gotBp = Corpus(docs).withBoilerplateScore().df
      .select("doc_id", "bp_ppm")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantBp = SparkEntry.queries("x_txt13_boilerplate")(spark, dir)
      .select("doc_id", "bp_ppm")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBp.nonEmpty && gotBp == wantBp)
    // annotation form keeps every input column
    val cols = Corpus(docs).withBoilerplateScore().df.columns.toSet
    assert(docs.columns.toSet.subsetOf(cols))
  }
}
