package graft.api

import graft.ext.{Decontamination, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.BpeCount.bpe_count
import graft.functions.DotProduct.dot_d
import graft.functions.RollingHash.rolling_hash

/** Fluent corpus-pipeline API: composes the engine's text/dedup/similarity
  * operators into the standard pre-training data flow. Every stage is a
  * lazy DataFrame transformation — nothing executes until an action — so
  * chained stages fuse into one plan wherever Catalyst allows.
  *
  * {{{
  * Corpus(spark, "/data/sf0.01")
  *   .withQualitySignals()
  *   .filterQuality(minWords = 5, maxWords = 2000)
  *   .dedupExact()
  *   .withFingerprints()
  *   .df
  * }}}
  */
final case class Corpus(df: DataFrame) {

  private def chain(f: DataFrame => DataFrame): Corpus = Corpus(f(df))

  /** Stage boundary: persist and materialize the pipeline so far, cutting
    * the plan tower. Stages like [[filterByLangMedian]] or
    * [[dedupNearVerified]] embed aggregates/joins OVER their input — every
    * downstream rescan of an unmaterialized chain re-runs those subplans,
    * and plan size (hence optimizer time) compounds per stage. Insert
    * `materialize()` after the heavy filters in a multi-stage pipeline —
    * the in-JVM analogue of the checkpoint-to-parquet a 100 TB run places
    * between stages. Remember to [[unmaterialize]] (or let the job end)
    * when the frame is no longer needed.
    */
  def materialize(): Corpus = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    Corpus(cached)
  }

  /** Release a [[materialize]]d stage's cache. */
  def unmaterialize(): Corpus = { df.unpersist(); this }

  /** Whitespace tokenization column (idempotent). */
  def withTokens(col_ : String = "text"): Corpus =
    chain(_.withColumn("ws", graft.clean.CleanFns.tokens(col(col_))))

  /** Quality signals: char/word counts, letter ratio and English-stopword
    * ratio (both exact ppm; NULL — not a crash — on empty text under ANSI
    * mode via the nullif guards).
    */
  def withQualitySignals(): Corpus = withTokens().chain {
    _.withColumn("len_chars", length(col("text")).cast("long"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("letter_ppm",
        expr("(CAST(length(regexp_replace(text, '[^a-z]', '')) AS BIGINT) * 1000000) DIV nullif(len_chars, 0)"))
      .withColumn("stop_ppm",
        expr("(CAST(size(filter(ws, w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) * 1000000) DIV nullif(n_words, 0)"))
  }

  /** Length gate — the standard corpus filter. */
  def filterQuality(minWords: Long, maxWords: Long): Corpus =
    chain(_.filter(col("n_words").between(minWords, maxWords)))

  /** Exact dedup on content hash; deterministic smallest-id survivor. */
  def dedupExact(idCol: String = "doc_id", textCol: String = "text"): Corpus = chain { d =>
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    d.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Canonical-form dedup with a survivor POLICY (x_ded11): group by the
    * punctuation/case/whitespace-normalized content hash; keep the longest
    * original (tie-break smallest id) when `keepLongest`, else first-seen —
    * "prefer the most complete copy" for truncation-style near-dups.
    */
  def dedupCanonical(keepLongest: Boolean = true,
      idCol: String = "doc_id", textCol: String = "text"): Corpus = chain { d =>
    val ckey = md5(lower(regexp_replace(
      regexp_replace(col(textCol), "[^a-zA-Z0-9 ]", ""), " +", " ")))
    val ord =
      if (keepLongest) Seq(length(col(textCol)).desc, col(idCol).asc)
      else Seq(col(idCol).asc)
    val w = Window.partitionBy(ckey).orderBy(ord: _*)
    d.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Near-dup candidate REMOVAL by MinHash-LSH: drops the higher-id doc of
    * every full-band collision (see ext.Dedup.x_ded2 for the checked
    * candidate-generation semantics).
    */
  def dedupNearMinHash(): Corpus = chain { d =>
    // native zero-exchange signatures (MinHashNativeSpec: identical to the
    // oracle-checked declarative generator); each join side recomputes a
    // scan-local projection, so no persist is needed
    val bands = graft.ext.Dedup.minhashBandsNative(d)
    val a = bands.select(col("doc_id").as("a_id"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("b_id"), col("band").as("band_b"),
      col("sig").as("sig_b"))
    val losers = a.join(b,
        a("band") === b("band_b") && a("sig") === b("sig_b") && a("a_id") < b("b_id"))
      .select(col("b_id").as("doc_id")).distinct()
    d.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Near-dup candidate REMOVAL by SimHash: drops the higher-id doc of
    * every pair within `maxHamming` (default 2) on the native 32-bit
    * `simhash32` fingerprint. Candidates come from the x_ded3b 3-band
    * pigeonhole split (recall-lossless for Hamming ≤ 2): signature
    * generation is a zero-exchange per-row call, candidate generation a
    * linear band-bucket join, and the exact bit_count filter runs only on
    * band collisions.
    */
  def dedupNearSimHash(maxHamming: Int = 2): Corpus = chain { d =>
    def sig = d.select(col("doc_id"),
      graft.functions.SimHash32.simhash32(col("text")).as("sh"))
    def banded = graft.ext.Dedup.simhash3Bands(sig)
    val a = banded.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("bi"), col("bv"))
    val b = banded.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("bi").as("bi_b"), col("bv").as("bv_b"))
    val losers = a.join(b,
        a("bi") === b("bi_b") && a("bv") === b("bv_b") &&
        a("a_id") < b("b_id") &&
        expr(s"bit_count(a_sh ^ b_sh) <= $maxHamming"))
      .select(col("b_id").as("doc_id")).distinct()
    d.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Near-dup removal by CLUSTER, not by pair: connected components over
    * the MinHash-LSH candidate pairs, keep only each component's min-id
    * doc. Strictly stronger than [[dedupNearMinHash]]: pair-based removal
    * keeps any doc whose candidate neighbors all have higher ids (e.g.
    * component {1,3,2} linked 1–3, 3–2 keeps both 1 and 2), while the
    * cluster form keeps exactly one survivor per transitive group —
    * x_ded7_components' oracle-checked semantics.
    *
    * @param checkpointEvery lineage-truncation cadence for the label-
    *   propagation loop (see [[graft.ext.Dedup.connectedComponents]]);
    *   set >0 with a checkpoint dir on long-running clusters so an
    *   executor loss late in the loop cannot recompute the whole chain.
    */
  def dedupNearClustered(checkpointEvery: Int = 0): Corpus = chain { d =>
    val losers = graft.ext.Dedup.connectedComponents(
        graft.ext.Dedup.minhashPairs(d), checkpointEvery)
      .filter(col("doc_id") =!= col("comp_id"))
      .select(col("doc_id"))
    d.join(losers, Seq("doc_id"), "left_anti")
  }

  /** [[dedupNearClustered]] with a QUALITY-AWARE survivor (x_ded17): each
    * near-dup cluster keeps its highest-quality member — ordered
    * (keep DESC, n_words DESC, doc_id ASC) over the native one-pass
    * quality signals — instead of the min id, so a clean original never
    * loses to a boilerplate-ridden copy. Deterministic even between
    * quality ties; one extra narrow projection + a comp-keyed window
    * bounded by cluster sizes.
    */
  def dedupNearQualitySurvivor(checkpointEvery: Int = 0): Corpus = chain { d =>
    // same labeling code as the oracle-checked x_ded17 probe
    val losers = graft.ext.Dedup.qualitySurvivorLabels(
        d, graft.ext.Dedup.minhashPairs(d), checkpointEvery)
      .filter(col("is_survivor") =!= 1L)
      .select(col("doc_id"))
    d.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The full production near-dup chain: LSH candidates → EXACT bigram-
    * Jaccard verification computed only on candidate docs → connected
    * components over verified pairs → keep each component's min-id doc.
    *
    * This is the documented scale route for exact pairwise Jaccard
    * (x_ded4): the all-pairs bigram join never happens — bigram sets are
    * materialized only for docs that appear in a candidate pair (a
    * semi-join-bounded slice of the corpus), and the quadratic work is
    * per-candidate, linear in candidate count. Probabilistic recall comes
    * from the bands (like every production LSH dedup); precision is exact.
    *
    * `maxCandidatesPerDoc` is the adversarial-input guard: on a template
    * storm (parked domains, mirrors — thousands of near-identical docs) the
    * band buckets degenerate and the candidate set grows quadratically in
    * the storm size; the cap keeps verification work ≤ K pairs per doc
    * (ranked by band-collision count desc, then id — the strongest
    * candidates verify first). Transitive connected-components still merge
    * a storm into ONE component through chained pairs, so dedup of large
    * dup clusters survives the cap; what is (deliberately) bounded is how
    * many DIRECT pairs each doc verifies. Recall note: a true near-dup pair
    * can be missed only when a doc already has K stronger band collisions —
    * at the default K=64 that only happens inside dup clusters larger than
    * K, where the cluster is dropped to one survivor anyway. Set ≤ 0 to
    * disable the cap (exact x_ded4-style candidate set).
    */
  def dedupNearVerified(
      minJaccardPpm: Long = 800000L,
      checkpointEvery: Int = 0,
      maxCandidatesPerDoc: Int = 64): Corpus = chain { d =>
    val bands = graft.ext.Dedup.minhashBandsNative(d)
    val ba = bands.select(col("doc_id").as("a_id"), col("band"), col("sig"))
    val bb = bands.select(col("doc_id").as("b_id"), col("band").as("band_b"),
      col("sig").as("sig_b"))
    // (a_id, b_id) + collision strength in one aggregation — the same
    // shuffle the old pair-distinct paid, now carrying the cap's rank key
    val rawCand = ba.join(bb,
        ba("band") === bb("band_b") && ba("sig") === bb("sig_b") && ba("a_id") < bb("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("__nb"))
    val capped =
      if (maxCandidatesPerDoc > 0) {
        val wCap = Window.partitionBy(col("a_id"))
          .orderBy(col("__nb").desc, col("b_id"))
        rawCand.withColumn("__rk", row_number().over(wCap))
          .filter(col("__rk") <= maxCandidatesPerDoc)
      } else rawCand
    // lazy throughout (round 7, the x_ded13 lesson): cand's multi-way
    // fan-out (candDocs semi-join bound + both verification sides) all
    // sits above the candidate aggregation/window EXCHANGES, which
    // canonicalize identically -> ReusedExchange computes them once; only
    // narrow tails re-run. connectedComponents then materializes the
    // whole verified chain ONCE into its own edge cache, so nothing here
    // needs a persist and nothing can leak into the block manager for the
    // session lifetime (the round-6 ADVICE leak class).
    val cand = capped.select(col("a_id"), col("b_id"))
    val candDocs = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    // bigram sets ONLY for candidate docs (left-semi bound)
    val bg = d.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"))
        .as("g"))
      .distinct() // ends in its own exchange -> one ReusedExchange serves
                  // sz and both verification joins
    val sz = bg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = cand
      .join(bg.withColumnRenamed("doc_id", "a_id"), "a_id")
      .join(bg.withColumnRenamed("doc_id", "b_id"), Seq("b_id", "g"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("c"))
    val verified = shared
      .join(sz.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sz.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .filter(expr(s"(c * 1000000) DIV (na + nb - c) >= $minJaccardPpm"))
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val losers = graft.ext.Dedup.connectedComponents(verified, checkpointEvery)
      .filter(col("doc_id") =!= col("comp_id"))
      .select(col("doc_id"))
    d.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Remove documents sharing any 4-word shingle with an eval/benchmark
    * set — the x_dec1/x_dec2/x_dec3 semantics as one API with an explicit
    * size regime (shingle, sketch and join all live in
    * [[graft.ext.Decontamination]]):
    *
    *  - [[Corpus.EvalBroadcast]] (eval ≪ corpus, KBs–MBs): broadcast the
    *    raw eval shingles; corpus never shuffles. Exact.
    *  - [[Corpus.EvalShuffle]] (eval is another corpus): merge join, both
    *    sides shuffle once on the shingle. Exact.
    *  - [[Corpus.EvalBloom]]: fold eval shingles into a fixed-size Bloom
    *    sketch (k=3 × 4096 slots) — bounded broadcast at ANY eval size and
    *    a narrow per-document filter, with deterministic false positives
    *    (removal is conservative: a false positive drops a clean doc,
    *    never keeps a contaminated one).
    *
    * In every mode a document with NULL text or fewer than 4 tokens has no
    * shingle and survives.
    */
  def decontaminate(evalDocs: DataFrame, mode: Corpus.EvalMode = Corpus.EvalBroadcast): Corpus =
    chain(Decontamination.decontaminate(_, evalDocs, mode))

  /** FUZZY decontamination (x_dec5): drop documents whose edit-distance
    * similarity to ANY eval doc reaches `minSim` (sim = 1 - lev/max(len)),
    * with candidates from the exact shingle hit so the O(len^2) verify
    * only ever touches the candidate slice. Catches light paraphrase that
    * exact-overlap [[decontaminate]] misses. `lev_bytes` is byte-level —
    * == codepoint distance on single-byte text; see LevBytes.
    */
  def decontaminateFuzzy(evalDocs: DataFrame, minSim: Double = 0.30): Corpus =
    chain { d =>
      val hits = Decontamination.fuzzyMatches(d, evalDocs, minSim).select(col("doc_id")).distinct()
      d.join(hits, Seq("doc_id"), "left_anti")
    }

  /** Cross-document segment dedup (x_ded18): consecutive 16-word segments,
    * first-occurrence survivor, text rebuilt from surviving segments in
    * original order. Documents whose every segment is a repeat are DROPPED
    * (the web-pipeline line-dedup semantics). `text` is replaced by the
    * reassembled text; all other columns ride along.
    */
  def dedupSegments(): Corpus = chain { d =>
    val kept = graft.ext.PipelineOps8.segmentDedup(d)
      .select(col("doc_id"), col("text_kept"))
    Corpus.refreshNChars(
      d.join(kept, Seq("doc_id"))
        .withColumn("text", col("text_kept"))
        .drop("text_kept"))
  }

  /** Intra-document segment dedup (x_ded22): drop segments repeated
    * WITHIN each document (first occurrence kept) — narrow, zero-exchange;
    * run before [[dedupSegments]] so self-repeating pages can't dominate
    * their own cross-corpus fingerprints.
    */
  def dedupSegmentsIntra(): Corpus = chain { d =>
    Corpus.refreshNChars(
      graft.ext.PipelineOps8.intraDocSegmentDedup(d)
        .drop("n_segs", "n_kept") // internal accounting, not corpus columns
        .join(d.drop("text"), Seq("doc_id"), "left")
        .withColumnRenamed("text_kept", "text"))
  }

  /** Duplicated-span signals (x_ded20): max_run_grams / span_words /
    * n_dup_positions appended per doc (0 for docs with no cross-document
    * duplicated 8-gram).
    */
  def withDupSpans(n: Int = 8): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps9.dupSpans(d, n), Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("max_run_grams", "span_words", "n_dup_positions"))
      // a doc with no duplicated gram has span 0, not the gram width
      .withColumn("span_words",
        when(col("max_run_grams") === 0L, 0L).otherwise(col("span_words")))
  }

  /** Drop documents embedding a shared span of at least `maxSpanWords`
    * words (x_ded20's policy form): "quoting a phrase is fine, embedding a
    * boilerplate paragraph is not."
    */
  def filterDupSpans(maxSpanWords: Long, n: Int = 8): Corpus = chain { d =>
    val long = graft.ext.PipelineOps9.dupSpans(d, n)
      .filter(col("span_words") >= maxSpanWords)
      .select(col("doc_id"))
    d.join(long, Seq("doc_id"), "left_anti")
  }

  /** Incremental near-dedup: drop documents of THIS corpus (the new crawl
    * shard) that MinHash-band-collide with an already-released corpus —
    * x_ded9's semantics. Only new×old candidates are generated; the old
    * side is never self-joined (at scale its bands are a persisted index
    * partitioned by signature, so each run shuffles only the new shard).
    */
  def dedupIncremental(oldCorpus: DataFrame): Corpus = chain { d =>
    val newBands = graft.ext.Dedup.minhashBandsNative(d)
    val oldBands = graft.ext.Dedup.minhashBandsNative(oldCorpus)
      .select(col("band").as("band_o"), col("sig").as("sig_o"))
    val dropIds = newBands
      .join(oldBands, newBands("band") === oldBands("band_o") && newBands("sig") === oldBands("sig_o"),
        "left_semi")
      .select("doc_id").distinct()
    d.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Incremental near-dedup against a PERSISTED band index
    * (`ext.BandIndex.build`): same drop semantics as
    * [[dedupIncremental(oldCorpus*]], but the released corpus's bands are
    * READ from their prefix-partitioned parquet instead of recomputed —
    * the daily-crawl run never re-reads (let alone re-hashes) the old
    * corpus text, and dynamic partition pruning bounds the index scan to
    * the signature prefixes this shard collides with. BandIndexSpec pins
    * index-read drops == recompute drops.
    */
  def dedupIncremental(indexDir: String): Corpus = chain { d =>
    val index = graft.ext.BandIndex.load(d.sparkSession, indexDir)
    d.join(graft.ext.BandIndex.collidingNewIds(d, index), Seq("doc_id"), "left_anti")
  }

  /** Incremental EXACT dedup through a persisted Bloom prefilter
    * (`ext.BloomIndex.build` + an exact digest frame, x_ded24): docs the
    * filter rules out are definitely new and never touch `baseDigests`;
    * only Bloom positives confirm-join, so the exact probe runs on the
    * collision-density fraction of the shard. No false negatives ⇒
    * identical survivors to a plain exact-membership anti-join
    * (BloomIndexSpec + the x_ded24 oracle pin it).
    */
  def dedupExactIncremental(bloomDir: String, baseDigests: DataFrame): Corpus =
    chain { d =>
      // geometry comes from the artifact's own meta — probing with a
      // different (m, k) than the filter was built with would silently
      // produce false negatives (missed duplicates)
      val (m, k) = graft.ext.BloomIndex.loadMeta(d.sparkSession, bloomDir)
      val marked = graft.ext.BloomIndex.markDuplicates(
        d, graft.ext.BloomIndex.load(d.sparkSession, bloomDir), baseDigests, m, k)
      d.join(marked.filter(col("is_dup") === 1L).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }

  /** Global token-budget shard assignment (adds `n_tok` and `shard`):
    * x_pack2's exact two-level prefix sum — within-group cumsum over
    * bounded (lang, grp) windows plus an exclusive cumsum of group totals,
    * never a whole-language window partition.
    */
  def shardByTokenBudget(budgetTokens: Long, grpSize: Long = 1000L): Corpus = chain { d =>
    val t = d.withColumn("__grp", expr(s"doc_id DIV $grpSize"))
      .withColumn("n_tok", size(graft.clean.CleanFns.tokens(col("text"))).cast("long"))
    val wIn = Window.partitionBy("lang", "__grp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = t.withColumn("__cum_in", sum("n_tok").over(wIn))
    val wG = Window.partitionBy("lang").orderBy("__grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("lang", "__grp").agg(sum("n_tok").as("__g_tok"))
      .withColumn("__g_off", coalesce(sum("__g_tok").over(wG), lit(0L)))
      .select(col("lang").as("__lang_o"), col("__grp").as("__grp_o"), col("__g_off"))
    within
      .join(offsets, within("lang") === offsets("__lang_o") && within("__grp") === offsets("__grp_o"))
      .withColumn("shard", expr(s"(__g_off + __cum_in - n_tok) DIV $budgetTokens"))
      .drop("__grp", "__cum_in", "__lang_o", "__grp_o", "__g_off")
  }

  /** PII redaction over `text` (x_txt10's patterns: emails, IPv4, phones →
    * typed placeholder tokens). Narrow; order email → IP → phone.
    */
  def redactPii(): Corpus = chain {
    _.withColumn("text",
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        "[a-z0-9]+@[a-z]+[.][a-z]+", "<EMAIL>"),
        "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+", "<IP>"),
        "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"))
  }

  /** Quality-rule signals (x_txt11's Gopher/C4 family: n_words,
    * mean_len_c, alpha_ppm, stop_hits, keep) — one narrow projection,
    * zero shuffles; shared code with the oracle-checked probe.
    */
  def withQualityRules(): Corpus = chain(graft.ext.PipelineOps3.addQualityRuleSignals)

  /** Learned quality score (x_qc1): ridge-distill the rule gate on a
    * labeled frame (default: this corpus self-labeled by the rules) and
    * append (quality_score, quality_pred). Train = one aggregation pass
    * over `labeled`; score = 1-row broadcast + narrow arithmetic —
    * zero exchanges on this corpus beyond the doc_id join back.
    *
    * DISTILLATION semantics: `labeled` chooses the TRAINING SUBSET; the
    * label y is always the rule gate recomputed over it (a `keep`/`y`
    * column on the frame is ignored). To fit human labels, call
    * [[graft.ext.QualityModel.trainRidge]] on a hand-built
    * (doc_id, x1, x2, y) frame directly.
    */
  def withLearnedQuality(labeled: Option[DataFrame] = None): Corpus = chain { d =>
    val coef = graft.ext.QualityModel.trainRidge(
      graft.ext.QualityModel.features(labeled.getOrElse(d)))
    d.join(graft.ext.QualityModel.scoreWith(d, coef)
        .select(col("doc_id"), col("score").as("quality_score"),
          col("pred").as("quality_pred")),
      Seq("doc_id"), "left")
  }

  /** Drop documents failing the quality rules (adds the signals if not
    * already present, then filters on the combined verdict).
    */
  def filterByQualityRules(): Corpus = chain { d =>
    val withKeep = if (d.columns.contains("keep")) d
      else graft.ext.PipelineOps3.addQualityRuleSignals(d)
    withKeep.filter(col("keep") === 1L)
  }

  /** Duplicated-substring signals (x_ded10: per-doc fraction of token
    * `n`-grams shared with other docs), joined back onto the corpus.
    * Docs shorter than `n` tokens carry zeros. The stats subtree shuffles
    * gram DIGESTS (fixed 16-hex payload), never gram text.
    */
  def withSubstringDupSignals(n: Int = 8): Corpus = chain { d =>
    val stats = graft.ext.PipelineOps3.substringDupStats(d, n)
    d.join(stats, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_grams", "n_dup", "dup_ppm"))
  }

  /** Drop documents whose duplicated-`n`-gram fraction exceeds
    * `maxDupPpm` — the span-level companion to whole-doc near-dedup
    * (boilerplate and templated spans that MinHash misses).
    */
  def filterSubstringDups(maxDupPpm: Long, n: Int = 8): Corpus = {
    val withStats = if (df.columns.contains("dup_ppm")) this
      else withSubstringDupSignals(n)
    withStats.chain(_.filter(col("dup_ppm") <= maxDupPpm))
  }

  /** Source-weighted data mixing (x_smp3's semantics, generic weights):
    * replicate each doc `weight` times — integer epochs exactly, the
    * fractional epoch kept iff a fixed md5 prefix of (doc_id, epoch)
    * falls under the weight's hex threshold. Fully deterministic (no
    * rand()), content-independent, and cluster-size-independent. Weights
    * are given in ppm (2_500_000 = 2.5 epochs); sources absent from the
    * map keep weight 1.0. The weights table is sources-sized → joined
    * via AQE broadcast; the expansion itself is narrow.
    */
  def mixBySourceWeights(weightsPpm: Map[String, Long]): Corpus = chain { d =>
    val s = d.sparkSession
    import s.implicits._
    val w = weightsPpm.toSeq.map { case (src, ppm) =>
      require(ppm >= 0, s"negative weight for $src")
      (src, ppm)
    }.toDF("source", "weight_ppm")
    Corpus.mixExpand(d, w)
  }

  /** Temperature-scaled mixing (T = 1/invTemp): compute per-source
    * upsampling weights `(n_max / n_source)^invTemp` from the corpus's own
    * composition (x_mix2's oracle-checked rule at invTemp = 0.5), then
    * replicate through the same deterministic epoch expansion as
    * [[mixBySourceWeights]]. Two corpus scans (count + expand), zero
    * corpus shuffles — the weights live on a sources-sized aggregate that
    * joins back as a broadcast.
    */
  def mixByTemperature(invTemp: Double = 0.5): Corpus = chain { d =>
    Corpus.mixExpand(d,
      graft.ext.PipelineOps4.temperatureWeights(d, invTemp)
        .select("source", "weight_ppm"))
  }

  /** Contamination scoring (x_dec4): annotate every document with the ppm
    * of its distinct 4-word shingles found in `evalDocs` — the number a
    * drop/flag threshold policy consumes, where [[decontaminate]] is the
    * hard-drop endpoint. The per-doc denominator is computed in the token
    * array domain (narrow); eval shingles broadcast; the hit table
    * (∝ contamination, not corpus size) re-joins via AQE broadcast.
    */
  def scoreContamination(evalDocs: DataFrame): Corpus =
    chain(Decontamination.withContaminationPpm(_, evalDocs))

  /** Exact-N deterministic sample (x_smp5): the smallest `n` documents by
    * a content-independent hash order — reproducible at any corpus size,
    * planned as per-partition top-k (TakeOrderedAndProject), never a
    * global sort.
    */
  def sampleExactN(n: Int): Corpus = chain { d =>
    d.withColumn("_h", md5(col("doc_id").cast("string")))
      .orderBy(col("_h"), col("doc_id")).limit(n)
      .drop("_h")
  }

  /** Per-domain document cap (x_cur2): keep at most `n` documents per
    * `groupCol`, preferring higher `orderCol` (doc_id tiebreak) — the
    * "at most N pages per domain" rule that stops template-heavy domains
    * dominating the mix. Runs the skew-safe two-phase rank
    * (`ext.PipelineOps5.cappedPerGroup`): no reducer ever sees a whole
    * mega-domain. Adds a `rnk` column (1..n within the group).
    */
  def capPerGroup(n: Int, groupCol: String = "source",
      orderCol: String = "n_chars"): Corpus = chain { d =>
    graft.ext.PipelineOps5.cappedPerGroup(d, group = col(groupCol),
      order = Seq(col(orderCol).desc, col("doc_id")), key = col("doc_id"), n = n)
  }

  /** Leakage-safe deterministic split (x_smp6): adds a `split` column so
    * every document whose `groupCol` hashes alike lands in the same split —
    * near-duplicates sharing a domain/source can never straddle train and
    * test. Pure per-row hash algebra: no shuffle, reproducible across
    * re-crawls. `cuts` are cumulative percent cut-points (Seq(80, 90) =
    * 80/10/10).
    */
  def splitByGroup(groupCol: String = "source",
      names: Seq[String] = Seq("train", "val", "test"),
      cuts: Seq[Int] = Seq(80, 90)): Corpus = chain { d =>
    graft.ext.PipelineOps6.splitByGroup(d, col(groupCol), names, cuts)
  }

  /** Frontier politeness report (x_url3): per-host raw/canonical counts
    * and variant-noise ppm for the top-`k` hosts by canonical page
    * count — the fetch scheduler's planning table over a corpus that
    * carries a `urlCol`. Returns a k-row report frame (not a corpus).
    * Exact at any host cardinality by default; pass `approxBuffer` to
    * opt into the bounded single-pass aggregator ranking.
    */
  def frontierReport(urlCol: String = "url", k: Int = 5,
      approxBuffer: Option[Int] = None): DataFrame =
    graft.ext.PipelineOps13.frontierReport(
      df.select(col(urlCol).as("url")), k, approxBuffer)

  /** Pipeline funnel report (x_pipe7): per-stage in/out counts and drop
    * rates for the standard curation chain (quality gate → exact dedup →
    * decontamination) — the datacard table every release writes.
    */
  def funnelReport(): DataFrame = graft.ext.PipelineOps15.funnelReport(df)

  /** RefinedWeb-style per-domain cap (x_url4): keep at most `cap` docs
    * per canonical host, quality-ranked — no single domain dominates.
    * Skew-immune two-level top-K (exact; the oracle pins it against a
    * flat window).
    */
  def capPerHost(urlCol: String = "url", cap: Int = 3): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps13.hostCap(d, col(urlCol), cap)
      .select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Encoding repair (x_enc1): the deterministic ftfy-lite chain of
    * [[graft.clean.EncodingFns]] — BOM strip, the cp1252-mojibake common
    * table, C1-control drop — run before any text statistic. One narrow
    * zero-exchange projection per pass; `passes = 2` unwinds DOUBLE
    * encodings ("ÃƒÂ©" → "Ã©" → "é" — the table repairs one encoding
    * level per application). A carried `n_chars`/`n_tok_bpe` is
    * refreshed to describe the REPAIRED text. Streaming twin:
    * [[graft.streaming.DocStreams.encodingRepaired]].
    */
  def repairEncoding(passes: Int = 1): Corpus = chain { d =>
    require(passes >= 1 && passes <= 3, s"passes must be in [1, 3]; got $passes")
    val repaired = (1 to passes).foldLeft(col("text"))((c, _) =>
      graft.clean.EncodingFns.repairEncoding(c))
    Corpus.refreshNChars(d.withColumn("text", repaired))
  }

  /** Honest subword token accounting (x_tok1): adds `n_tok_bpe`, the
    * byte-level BPE count under the checked-in vocabulary — the
    * token-denominated operators' alternative to whitespace word counts
    * (which undercount code/CJK by multiples). A pure narrow native
    * expression; feed it to [[takeTokenBudget]]-class operators via
    * `PipelineOps6.takeTokenBudgetSharded(df, g, col("n_tok_bpe"), b)`
    * or [[lengthBatches]]' tokens argument.
    */
  def withBpeTokenCount(): Corpus = chain { d =>
    d.withColumn("n_tok_bpe", bpe_count(col("text")).cast("bigint"))
  }

  /** Unigram-tokenizer token accounting (x_tok3): `n_tok_unigram` — the
    * minimal-piece subword count under an induced (or caller-provided)
    * piece vocabulary, via the native `min_seg_count` DP inside one HOF
    * lambda per row (the stream-capable form; no distinct-word join, no
    * extra exchange, and no collision with an existing `n_words`
    * column). Induce once and pass the vocab when annotating many
    * shards — the default re-induces from THIS corpus.
    */
  def withUnigramTokenCount(vocab: Option[DataFrame] = None): Corpus = chain { d =>
    val v = vocab.getOrElse(graft.ext.UnigramTok.induceVocab(d))
    graft.ext.UnigramTok.withMinSegCount(d, v, "n_tok_unigram")
  }

  /** Greedy per-group token budget (x_mix3b's sharded algebra). The
    * budget is DENOMINATED in `n_tok_bpe` subword counts when the corpus
    * carries them ([[withBpeTokenCount]]) — "2B tokens of code" in word
    * units over-fills by multiples — and whitespace words otherwise.
    */
  def takeTokenBudget(budget: Long, groupCol: String = "lang"): Corpus = chain { d =>
    val tokens =
      if (d.columns.contains("n_tok_bpe")) col("n_tok_bpe").cast("long")
      else size(graft.clean.CleanFns.tokens(col("text"))).cast("long")
    graft.ext.PipelineOps6.takeTokenBudgetSharded(d, col(groupCol), tokens, budget)
  }

  /** Corpus boilerplate score (x_txt13): annotate each document with the
    * ppm of its trigram positions drawn from corpus-frequent trigrams
    * (document frequency >= `minDf`) — the template text (nav chrome,
    * license footers) that near-dedup misses. One gram-keyed shuffle; the
    * frequent-gram set broadcasts as a single array row; scoring is
    * computed in place (no doc-keyed join, the corpus is never
    * doc-shuffled). Documents with fewer than 3 tokens are dropped.
    */
  def withBoilerplateScore(minDf: Int = 5): Corpus =
    chain(graft.ext.PipelineOps5.withBoilerplate(_, minDf))

  /** Curriculum deciles (x_cur1): annotate each document with its corpus
    * quality decile — the distributed replacement for a global
    * `ntile(10)`: one 9-double percentile row broadcasts back, assignment
    * is narrow. Requires an `n_chars` column (or pass another numeric
    * quality column).
    */
  def withQualityDeciles(qualityCol: String = "n_chars"): Corpus = chain { d =>
    val cuts = broadcast(d.agg(expr(
      s"percentile($qualityCol, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))")
      .as("__cuts")))
    d.crossJoin(cuts)
      .withColumn("decile",
        expr(s"CAST(1 + size(filter(__cuts, x -> CAST($qualityCol AS DOUBLE) >= x)) AS BIGINT)"))
      .drop("__cuts")
  }

  /** Per-language adaptive quality floor (x_txt12): keep documents at or
    * above their own language's median word count — no single language's
    * length distribution sets a global bar. The threshold table is
    * lang-count-sized (broadcast); the corpus is scanned, never shuffled.
    */
  def filterByLangMedian(): Corpus =
    chain { d =>
      val med = d
        .select(col("lang"), size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n_words"))
        .groupBy("lang").agg(expr("percentile(n_words, 0.5)").as("lang_median"))
      d.withColumn("_nw", size(graft.clean.CleanFns.tokens(col("text"))).cast("long"))
        .join(med, Seq("lang")) // lang-count-sized build side -> AQE broadcast
        .filter(col("_nw") >= col("lang_median"))
        .drop("_nw", "lang_median")
    }

  /** Context-window chunking (x_chunk1's semantics, generic sizes):
    * overlapping token windows of `window` with stride `stride`; trailing
    * windows keep their natural length so every token lands in a chunk.
    * Narrow explode — no shuffle at any corpus size.
    */
  def chunkTokens(window: Int = 16, stride: Int = 12): Corpus =
    chain(graft.ext.PipelineOps4.chunkTokenWindows(_, window, stride))

  /** Corpus composition report (x_rep1): per (source, lang) doc/token/char
    * volumes and corpus share in ppm — the mixture table
    * [[mixBySourceWeights]] is tuned against.
    */
  def compositionReport(): Corpus =
    chain(graft.ext.PipelineOps4.compositionReport)

  /** Export as JSONL (one JSON object per line) — the interchange format
    * training loaders consume. Column-order-stable (fields in current
    * DataFrame column order); `numFiles` controls output sharding
    * (defaults to the current partitioning — at scale, one file per task).
    */
  def writeJsonl(path: String, numFiles: Option[Int] = None): Unit = {
    val out = numFiles.fold(df)(df.repartition(_))
    out.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Per-document 4-gram novelty score (x_txt14): exact-ppm fraction of a
    * document's distinct 4-grams first seen (min doc_id) in that document.
    * Flags derivative-but-not-duplicate content stitched from many earlier
    * documents. Joined back onto the corpus by doc_id.
    */
  def withNoveltyScore(): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps7.noveltyScores(d)
        .select(col("doc_id"), col("novelty_ppm")), Seq("doc_id"), "left")
  }

  /** Token-entropy information-density score (x_txt15): Shannon entropy in
    * nats of each document's token distribution; low entropy = templated/
    * repetitive text. Joined back by doc_id.
    */
  def withTokenEntropy(): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps7.tokenEntropy(d)
        .select(col("doc_id"), col("entropy")), Seq("doc_id"), "left")
  }

  /** Length-bucketed batch layout (x_pack3): per-(bucket, batch) padding
    * accounting for dynamic batching; bucketWidth bounds padding waste per
    * sequence by construction, so no global sort is needed.
    */
  def lengthBatches(bucketWidth: Int = 16, batchSize: Int = 8): DataFrame =
    graft.ext.PipelineOps7.lengthBatches(df, bucketWidth, batchSize)

  /** Per-epoch deterministic sharded data order (x_smp7): each epoch a
    * different reproducible permutation, ordered within epoch x shard —
    * no RNG state, no global sort.
    */
  def epochOrder(epochs: Int, shards: Int = 64): DataFrame =
    graft.ext.PipelineOps7.epochOrder(df, epochs, shards)

  /** Content (native `rolling_hash`) + bag-of-words fingerprints. */
  def withFingerprints(): Corpus = chain { d =>
    d.withColumn("content_fp", rolling_hash(col("text")))
      .withColumn("bow_fp",
        md5(array_join(array_sort(array_distinct(graft.clean.CleanFns.tokens(col("text")))), " ")))
  }

  /** Keep documents whose declared language is in the allow-list. */
  def filterLanguages(langs: String*): Corpus =
    chain(_.filter(col("lang").isin(langs: _*)))

  /** Bigram-LM NLL quality score (x_txt18): each document's negative
    * log-likelihood under the add-one-smoothed LM of this corpus itself —
    * the statistical outlier signal (gibberish, wrong-language slips,
    * encoding damage surface high). Joined back by doc_id; docs with < 2
    * tokens carry NULL.
    */
  def withLmScore(): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps10.lmScore(d, d)
        .select(col("doc_id"), col("nll_avg")), Seq("doc_id"), "left")
  }

  /** Bigram-LM NLL against a RELEASED reference corpus (x_txt18b/c): the
    * incremental regime — this corpus is the new shard, `reference` is
    * the corpus whose statistics judge it. Routed through the native
    * per-row scorer (narrow, zero-exchange, the same expression
    * `DocStreams.lmScored` runs at the stream door).
    */
  def withLmScore(reference: DataFrame): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps10.lmScoreNative(d, graft.ext.PipelineOps10.lmIndex(reference))
        .select(col("doc_id"), col("nll_avg")), Seq("doc_id"), "left")
  }

  /** Trigram Kneser-Ney NLL (x_txt22) — one order above [[withLmScore]]:
    * repetitive template text that fools a bigram model (locally fluent
    * pairs) scores high when its trigram continuations are unseen.
    * Self-scored, join regime; docs with < 3 tokens carry NULL.
    */
  def withKnScore(): Corpus = chain { d =>
    d.join(graft.ext.KnLm.knScore(d, d)
        .select(col("doc_id"), col("kn_avg")), Seq("doc_id"), "left")
  }

  /** Trigram KN NLL against a RELEASED reference corpus (x_txt22c) —
    * native per-row scorer, the expression `DocStreams.knScored` runs at
    * the stream door. Broadcast-regime gate as for [[withLmScore]].
    */
  def withKnScore(reference: DataFrame): Corpus = chain { d =>
    d.join(graft.ext.KnLm.knScoreNative(d, graft.ext.KnLm.knIndex(reference))
        .select(col("doc_id"), col("kn_avg")), Seq("doc_id"), "left")
  }

  /** Trigram KN NLL against a PERSISTED store (x_txt22d). */
  def withKnScoreFromStore(indexDir: String): Corpus = chain { d =>
    val idx = graft.ext.KnLm.loadKnIndex(d.sparkSession, indexDir)
    d.join(graft.ext.KnLm.knScoreNative(d, idx)
        .select(col("doc_id"), col("kn_avg")), Seq("doc_id"), "left")
  }

  /** Drop documents failing the Gopher repetition thresholds. Routed
    * through the native one-pass expression (x_txt23b: ~3× the
    * declarative form, zero exchanges — every signal is a function of
    * the row's own tokens).
    */
  def filterByRepetition(): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps13.repetitionSignalsNative(d)
        .filter(col("keep") === 1).select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** CCNet-style perplexity bucket (x_cur5): head / middle / tail by the
    * language's terciles of the self-scored LM NLL — the
    * curriculum/selection label of the public CCNet pipeline. Joined
    * back by doc_id; docs with < 2 tokens carry NULL.
    */
  def withPpxBucket(): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps13.ppxBuckets(d)
        .select(col("doc_id"), col("nll_avg"), col("bucket")), Seq("doc_id"), "left")
  }

  /** Solve the per-source replication weights that hit `targetsPpm`
    * (x_mix5; Σ targets = 1e6) — the planning step whose output feeds
    * [[mixBySourceWeights]] directly:
    * {{{ c.mixBySourceWeights(c.planMixture(targets)) }}}
    * Sources absent from `targetsPpm` get weight 0 (dropped by the mix).
    * The collect is sources-bounded.
    */
  def planMixture(targetsPpm: Map[String, Long]): Map[String, Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    val targets = targetsPpm.toSeq.toDF("source", "target_ppm")
    graft.ext.PipelineOps14.mixturePlan(df, targets)
      .select("source", "weight_ppm")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
  }

  /** Sequential context-window packing placements (x_pack6): each doc's
    * shard/offset/bin under the concat-then-split layout, with the
    * split-across-bins flag.
    */
  def packPlacements(ctx: Int = 256, shards: Int = 16): DataFrame =
    graft.ext.PipelineOps14.packPlacements(df, ctx, shards)

  /** Keep only documents whose DSIR weight vs `target` is positive — the
    * importance-selection pass of a targeted data recipe.
    */
  def selectByDsir(target: DataFrame): Corpus = chain { d =>
    d.join(graft.ext.PipelineOps10.dsirWeights(d, target)
        .filter(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
  }

  /** Per-document top-k keywords after stopword removal: (doc_id, rk, tok,
    * n), deterministic (count DESC, term ASC) tiebreak. Same shape as the
    * oracle-checked x_txt6_top_terms; plans as two-phase WindowGroupLimit,
    * so the shuffle carries k rows per doc, not all tokens.
    */
  def topTerms(k: Int, stopwords: Seq[String] = Corpus.defaultStopwords): DataFrame = {
    val tf = df.select(col("doc_id"), explode(graft.clean.CleanFns.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0 && !col("tok").isInCollection(stopwords))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("n").desc, col("tok"))
    tf.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("tok"), col("n"))
  }
}

object Corpus {

  /** Corpus from raw crawl HTML: extracts `text` from `htmlCol` via the
    * deterministic [[graft.clean.HtmlFns.htmlToText]] rule chain and
    * drops the raw markup column — the crawl-ingest entry point
    * (x_html1/x_html2). One narrow codegen projection, zero exchanges;
    * the streaming twin is
    * [[graft.streaming.DocStreams.htmlExtracted]]. A carried `n_chars`
    * is refreshed to describe the EXTRACTED text.
    */
  def fromHtml(df: DataFrame, htmlCol: String = "html"): Corpus = {
    val extracted = df.withColumn("text",
      graft.clean.HtmlFns.htmlToText(col(htmlCol)))
    Corpus(refreshNChars(
      if (htmlCol == "text") extracted else extracted.drop(htmlCol)))
  }

  /** After any text-rewriting stage (segment dedup, extraction), a carried
    * `n_chars` would silently describe the PRE-rewrite text to every
    * downstream length-based operator (length quantiles, PSI len_bin,
    * data card). Recompute it from the current `text`, preserving its
    * declared type; frames without the column pass through untouched.
    * A carried `n_tok_bpe` ([[Corpus.withBpeTokenCount]]) is refreshed the
    * same way — token-budget operators switch to it silently, so a stale
    * count after `dedupSegments`/`fromHtml` would budget against the
    * PRE-rewrite text (round-9 ADVICE).
    */
  private[api] def refreshNChars(d: DataFrame): DataFrame = {
    val chars =
      if (d.columns.contains("n_chars"))
        d.withColumn("n_chars", length(col("text")).cast(d.schema("n_chars").dataType))
      else d
    if (chars.columns.contains("n_tok_bpe")) {
      chars.withColumn("n_tok_bpe",
        bpe_count(col("text")).cast(chars.schema("n_tok_bpe").dataType))
    } else chars
  }

  /** Eval-side size regime for [[Corpus.decontaminate]]. */
  sealed trait EvalMode
  case object EvalBroadcast extends EvalMode
  case object EvalShuffle extends EvalMode
  case object EvalBloom extends EvalMode

  /** Deterministic weighted replication shared by `mixBySourceWeights`
    * and `mixByTemperature`: a (source, weight_ppm) table — sources-sized,
    * so the left-outer join broadcasts — drives integer-epoch explode plus
    * an md5-threshold keep for the fractional epoch. Sources absent from
    * the weights table keep weight 1.0; weight 0 drops the source.
    */
  private[api] def mixExpand(d: DataFrame, weightsPpm: DataFrame): DataFrame =
    d.join(
        weightsPpm.select(col("source"),
          expr("CAST(weight_ppm DIV 1000000 AS INT)").as("full_ep"),
          expr("""CASE WHEN weight_ppm % 1000000 = 0 THEN ''
                 |ELSE lower(lpad(hex(weight_ppm % 1000000 * 65536 DIV 1000000), 4, '0'))
                 |END""".stripMargin).as("thr")),
        Seq("source"), "left_outer")
      .na.fill(1, Seq("full_ep")).na.fill("", Seq("thr"))
      .withColumn("epoch", explode(expr("sequence(0, full_ep)")))
      .filter(expr(
        "epoch < full_ep OR substr(md5(concat(CAST(doc_id AS STRING), ':', CAST(epoch AS STRING))), 1, 4) < thr"))
      .drop("full_ep", "thr")

  /** Read a [[Corpus.writeJsonl]] export back with an explicit schema
    * (schema-on-read; no sampling inference pass over a 100 TB layout).
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Corpus =
    Corpus(spark.read.schema(schema).json(path))

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "an", "be", "this", "that", "from", "or")

  /** Entry point over the standard documents table. */
  def apply(spark: SparkSession, dir: String): Corpus =
    Corpus(graft.Tables(spark, dir, "documents"))

  /** Embedding-side entry: quantized vectors + norms, ready for
    * similarity operators (shares Similarity.intVec).
    */
  def vectors(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), expr(Similarity.intVec).as("v"))
      .withColumn("n2", dot_d(col("v"), col("v")))
  }

  /** Embedding near-duplicate pairs (x_ded13): banded sign-LSH candidates
    * verified by exact integer-quantized cosine at `tau` — the scale path
    * for embedding-space dedup (the brute-force x_ded5 join is quadratic).
    */
  def nearDupVectors(spark: SparkSession, dir: String, tau: Double = 0.35): DataFrame =
    graft.ext.EmbedDedup.nearDupPairs(graft.Tables(spark, dir, "embeddings"), tau)
}
