package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.Decontamination
import graft.functions.BpeCount.bpe_count

/** Structured Streaming surface over the documents table: the corpus
  * pipeline stages that are naturally stream-capable — benchmark
  * decontamination as a stream-static broadcast semi join and stratified
  * sampling as a pure narrow filter.
  *
  * The transforms are written against a plain DataFrame so the SAME code
  * runs in batch (the oracle-checked x_dec1 / x_smp2 shapes live in
  * `ext.Decontamination` / `ext.PipelineOps`) and in streaming;
  * StreamingSpec pins stream ≡ batch.
  */
object DocStreams {

  /** documents schema as stored (TESTDATA.md). */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming scan of the documents parquet (file source; at scale this is
    * the landing directory an ingest job keeps appending to).
    */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).format("parquet")
      .option("pathGlobFilter", "documents.parquet")
      .load(dir)

  /** Stream-capable decontamination: doc_ids of documents sharing any
    * 4-word shingle with the (static) held-out eval set. `evalShingles`
    * carries an `s` column of [[graft.ext.Decontamination.shingles]], the
    * same definition the batch path and the x_dec probes call.
    *
    * Scale design mirrors x_dec1: the eval side is `broadcast()` — eval
    * benchmarks are KBs-to-MBs against an unbounded stream — so the join is
    * map-side and the stream is never shuffled by it. The only stateful
    * operator is the per-doc dropDuplicates collapsing multi-shingle hits;
    * its state is proportional to CONTAMINATED doc count, not corpus size.
    */
  def contaminatedIds(docs: DataFrame, evalShingles: DataFrame): DataFrame =
    Decontamination.shingles(docs)
      .join(broadcast(evalShingles.select(col("s"))), Seq("s"), "left_semi")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")

  /** Stream-capable quality gate — x_txt11's Gopher/C4 rule family as a
    * pure narrow projection + filter (shared code with the oracle-checked
    * probe via `ext.PipelineOps3.addQualityRuleSignals`): zero state, zero
    * shuffle, so the same call runs identically over a stream.
    */
  def qualityFilter(docs: DataFrame): DataFrame =
    graft.ext.PipelineOps3.addQualityRuleSignals(docs)
      .filter(col("keep") === 1L)
      .select(col("doc_id"), col("lang"), col("n_words"), col("mean_len_c"))

  /** Stream-capable exact dedup: one surviving row per distinct content
    * hash, first-seen in micro-batch arrival order — the streaming
    * analogue of x_ded1b's grouped form. Stateful: one fingerprint per
    * distinct document; on an unbounded ingest pair this with a watermark
    * on ingestion time (or periodic state TTL) so state stays bounded —
    * the fixture corpus here is finite.
    */
  def dedupExactStream(docs: DataFrame): DataFrame =
    docs.withColumn("content_fp", md5(col("text"))).dropDuplicates("content_fp")

  /** Static SimHash band index for [[nearDupSimHashIds]]: (doc_id, sh)
    * signatures of an already-released corpus, computed with the native
    * zero-exchange `simhash32`. At scale this is built once and persisted
    * (signatures are 12 bytes/doc — the aggregate is ~10⁻⁴ of corpus
    * text size, which is what makes the stream-side broadcast viable).
    */
  def simhashIndex(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), graft.functions.SimHash32.simhash32(col("text")).as("sh"))
  }

  /** Stream-capable SimHash NEAR-dedup: doc_ids of streaming documents
    * within Hamming ≤ `maxHamming` of any doc in a STATIC band index —
    * the incremental near-dedup regime (new crawl vs released corpus) as
    * a stream.
    *
    * Scale design mirrors the batch x_ded3b shape: the stream side's
    * signature is the native `simhash32` (narrow, per-row, zero
    * exchanges); candidates come from the shared 3-band pigeonhole split
    * (`Dedup.simhash3Bands` — recall-lossless for Hamming ≤ 2) joined
    * stream-static against the broadcast index bands, so the stream is
    * never shuffled by the join. The only stateful operator is the
    * per-doc dropDuplicates collapsing multi-band hits; its state is
    * proportional to FLAGGED doc count, not stream size.
    */
  def nearDupSimHashIds(docs: DataFrame, indexSigs: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    val banded = graft.ext.Dedup.simhash3Bands(
      docs.select(col("doc_id"), graft.functions.SimHash32.simhash32(col("text")).as("sh")))
    val idx = graft.ext.Dedup.simhash3Bands(indexSigs)
      .select(col("bi").as("bi_i"), col("bv").as("bv_i"), col("sh").as("sh_i"))
    banded.join(broadcast(idx),
        col("bi") === col("bi_i") && col("bv") === col("bv_i") &&
        expr(s"bit_count(sh ^ sh_i) <= $maxHamming"))
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Stream-capable MinHash NEAR-dedup against a persisted [[graft.ext.BandIndex]]:
    * doc_ids of streaming documents whose full band signature collides
    * with any band of the released corpus — the daily-crawl incremental
    * regime (x_ded9 / x_ded12 semantics) as a stream.
    *
    * Scale design: the stream side's band signatures come from the native
    * zero-exchange `minhash_bands` expression (narrow per-row generate),
    * and the static side is the index SCAN, not a recompute — the released
    * corpus text is never re-read. Unlike the SimHash variant the index
    * here is band rows (10 per doc), so it is joined stream-static as a
    * relation rather than force-broadcast: Spark picks BHJ while the index
    * is small and falls back to shuffling the MICRO-BATCH (bounded) plus
    * the pruned index scan when it is not. The only stateful operator is
    * the per-doc dropDuplicates; its state is proportional to flagged doc
    * count, not stream size.
    */
  def nearDupMinHashIds(docs: DataFrame, index: DataFrame,
      prefixChars: Int = graft.ext.BandIndex.defaultPrefixChars): DataFrame = {
    val bands = graft.ext.Dedup.minhashBandsNative(docs)
      .withColumn("sig_p", substring(col("sig"), 1, prefixChars))
    val idx = index.select(col("sig_p").as("sig_p_i"), col("band").as("band_i"),
      col("sig").as("sig_i"))
    bands.join(idx,
        col("sig_p") === col("sig_p_i") && col("band") === col("band_i") &&
        col("sig") === col("sig_i"))
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Stream-capable boilerplate scoring — x_txt13's scoring stage against
    * a STATIC commons set (built batch-side from a released corpus with
    * `ext.PipelineOps5.boilerplateCommons`; corpus-wide document
    * frequencies are not a streaming quantity). The scorer itself is a
    * stateless narrow transform: trigram expansion + the native
    * `sorted_count_in` binary search against the broadcast commons row —
    * each micro-batch scores its own documents, zero state, zero shuffle.
    */
  def boilerplateScored(docs: DataFrame, commons: DataFrame): DataFrame =
    graft.ext.PipelineOps5.scoreAgainstCommons(docs, commons)

  /** Stream-capable leakage-safe split assignment — x_smp6's semantics at
    * ingest time: each arriving document is tagged train/val/test by the
    * md5 bucket of its GROUP (source/domain), so a crawl tagged as it
    * lands agrees exactly with any batch re-run. Pure per-row hash
    * algebra: stateless, zero shuffle.
    */
  def withSplit(docs: DataFrame): DataFrame =
    graft.ext.PipelineOps6.splitByGroup(docs, col("source"),
      Seq("train", "val", "test"), Seq(80, 90))

  /** Stream-capable novelty scoring — x_txt14's semantics in the
    * incremental-crawl regime: each streamed document's novelty is the
    * ppm of its DISTINCT 4-grams absent from a STATIC released-corpus
    * gram set (built batch-side with `ext.PipelineOps7.gramSet`). A
    * stateless narrow transform (per-row gram digests + native
    * `sorted_count_in` binary search against the broadcast set) — zero
    * state, zero shuffle, same regime note as the batch helper: broadcast
    * while the index fits, Bloom sketch or batch join beyond.
    */
  def noveltyScored(docs: DataFrame, gramSet: DataFrame): DataFrame =
    graft.ext.PipelineOps7.scoreNoveltyAgainst(docs, gramSet)

  /** Stream-capable novelty BEYOND broadcast size — x_txt17's scorer: the
    * released corpus' gram membership is a BOUNDED Bloom bitmap (24 KiB
    * at the defaults, independent of corpus size — the x_dec3 pattern),
    * so the stream side stays a stateless narrow projection (native
    * `ngram_md5` digests + native O(1) `bloom_hits` bit probes) at ANY
    * released-corpus size, at the price of a deterministic seen-side
    * false-positive rate (novelty is never overstated). This closes the
    * [[noveltyScored]] broadcast-regime caveat: build the bitmap batch-side
    * with `ext.PipelineOps7.gramBloom`, hand it here, and the stream never
    * holds more than the bitmap.
    */
  def noveltyScoredBloom(docs: DataFrame, bloom: DataFrame,
      hexChars: Int = 4, k: Int = 3): DataFrame =
    graft.ext.PipelineOps7.scoreNoveltyBloom(docs, bloom, hexChars, k)

  /** Stream-capable LM quality scoring — x_txt18's semantics in the
    * incremental-crawl regime: each streamed document's NLL under the
    * RELEASED corpus' bigram LM (count tables built batch-side ONCE with
    * `ext.PipelineOps10.lmIndex`, baked into the native `lm_nll`
    * expression). A stateless narrow transform — one JVM pass per row,
    * zero state, zero shuffle — so statistical quality gating happens at
    * the stream door exactly as in batch (StreamingSpec pins stream ≡
    * batch ≡ declarative). Broadcast-regime caveat as for novelty: tables
    * are vocabulary-bounded; beyond broadcast, route through the batch
    * x_txt18 join.
    */
  def lmScored(docs: DataFrame, idx: graft.functions.LmIndex): DataFrame =
    graft.ext.PipelineOps10.lmScoreNative(docs, idx)

  /** Stream-capable KN scoring — [[lmScored]] one order up: the trigram
    * interpolated Kneser-Ney model (x_txt22c) at the stream door. Same
    * broadcast-regime caveat (tables gated in `KnLm.knIndex`).
    */
  def knScored(docs: DataFrame, idx: graft.functions.KnIndex): DataFrame =
    graft.ext.KnLm.knScoreNative(docs, idx)

  /** Stream-capable minimal-piece token accounting — x_tok3's semantics
    * at the stream door: the piece vocabulary is induced batch-side ONCE
    * ([[graft.ext.UnigramTok.induceVocab]]), its sorted array broadcast
    * (1-row build side), and each arriving document pays the
    * `min_seg_count` DP per OWN word inside one HOF lambda. No
    * distinct-word join — a stream cannot shuffle for annotation — so
    * repeated words re-pay their DP; the COUNTS are identical to the
    * batch join-back form by construction (same DP, same vocab), which
    * StreamingSpec pins.
    */
  def minSegTokens(docs: DataFrame, vocab: DataFrame): DataFrame =
    graft.ext.UnigramTok.withMinSegCount(docs, vocab, "n_pieces")
      .withColumn("n_words",
        size(graft.clean.CleanFns.tokens(col("text"))).cast("long"))
      // zero-token (empty/whitespace/null text) docs produce NO row in
      // the batch explode+join form — match it exactly, or the first
      // empty document breaks the stream ≡ batch reconciliation
      .filter(col("n_words") > 0)

  /** Stream-capable WEIGHTED (unigram-LM bit-cost) token accounting —
    * x_tok4's cost model at the stream door: the same per-row HOF DP as
    * [[minSegTokens]] against the broadcast (pieces, costs, unk) row,
    * same zero-token-document row contract.
    */
  def bitCostTokens(docs: DataFrame, vocab: DataFrame): DataFrame =
    graft.ext.UnigramTok.withMinSegBitCost(docs, vocab, "bit_cost")
      .withColumn("n_words",
        size(graft.clean.CleanFns.tokens(col("text"))).cast("long"))
      .filter(col("n_words") > 0)

  /** Stream-capable link extraction — the x_lnk1 chain (anchor regex →
    * href resolution → canonicalization) at the stream door: a pure
    * narrow regex projection + explode, zero state, zero shuffle. Host
    * aggregation/PageRank stay batch-side jobs over the landed edges.
    */
  def linkExtracted(pages: DataFrame): DataFrame =
    graft.ext.LinkGraph.extractLinks(pages)

  /** Stream-capable anchor-text extraction — x_lnk3's (dst, dst_host,
    * atext) rows at the stream door; same narrow-regex reasoning as
    * [[linkExtracted]].
    */
  def anchorTexts(pages: DataFrame): DataFrame =
    graft.ext.LinkGraph.anchorTexts(pages)

  /** Stream-capable redirect-edge extraction — x_url11's 3xx/Location
    * chain on fetched responses AT the stream door (status gate +
    * header-bounded Location + resolution + canonicalization are one
    * narrow projection). The anti-join against the fetched set stays a
    * batch job over the landed edges ([[graft.ext.Frontier
    * .frontierFromRedirects]]) — a stream cannot hold the crawl
    * history.
    */
  def redirectEdges(responses: DataFrame): DataFrame =
    graft.ext.Frontier.redirectEdges(responses)

  /** Stream-capable HTML → text extraction — crawl pages extracted AT THE
    * STREAM DOOR with the exact batch rule chain
    * ([[graft.clean.HtmlFns.htmlToText]], shared with
    * `Corpus.fromHtml`): a pure narrow codegen projection, zero state,
    * zero shuffle — each micro-batch extracts its own pages, so every
    * downstream text operator sees identical input batch and stream.
    */
  def htmlExtracted(docs: DataFrame, htmlCol: String = "html"): DataFrame = {
    val extracted = docs.withColumn("text",
      graft.clean.HtmlFns.htmlToText(org.apache.spark.sql.functions.col(htmlCol)))
    if (htmlCol == "text") extracted else extracted.drop(htmlCol)
  }

  /** Stream-capable encoding repair — [[graft.clean.EncodingFns]]'s
    * ftfy-lite chain (x_enc1) at the stream door: narrow per-row
    * replaces, zero state, so damaged crawl text is repaired before any
    * stateful stage sees it.
    */
  def encodingRepaired(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, graft.clean.EncodingFns.repairEncoding(
      org.apache.spark.sql.functions.col(textCol)))

  /** Stream-capable URL canonicalization — the frontier-dedup key
    * (x_url1's [[graft.clean.UrlFns.canonicalUrl]] chain) computed at
    * the stream door: a narrow per-row regex/array chain, zero state,
    * so `dropDuplicates` on the canonical key dedups the frontier
    * across micro-batches with watermarked state.
    */
  def urlCanonicalized(docs: DataFrame, urlCol: String = "url"): DataFrame =
    docs.withColumn(urlCol,
      graft.clean.UrlFns.canonicalUrl(org.apache.spark.sql.functions.col(urlCol)))

  /** Stream-capable declared-charset decode (x_enc2's
    * [[graft.clean.CharsetFns]]): resolve the charset from the carried
    * Content-Type / a bounded meta sniff and decode `binCol` bytes into
    * `textCol` — one narrow per-row projection, zero state, the byte
    * tier of the crawl door running inside a micro-batch exactly as in
    * batch.
    */
  def charsetDecoded(docs: DataFrame, binCol: String = "bin",
      contentTypeCol: String = "content_type",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cs = graft.clean.CharsetFns.resolveCharset(col(contentTypeCol), col(binCol))
    docs.withColumn(textCol,
      graft.clean.CharsetFns.decodeCharset(col(binCol), cs))
  }

  /** Stream-capable charset HONESTY gate (x_enc3's
    * [[graft.clean.CharsetFns.charsetStatus]]): annotate each page with
    * its resolved status (`utf-8` / `windows-1252` /
    * `unsupported:<label>`) and a supported flag, so a streaming door
    * drops undecodable pages LOUDLY instead of mojibaking them through
    * the default — zero state, one narrow projection.
    */
  def charsetGated(docs: DataFrame, binCol: String = "bin",
      contentTypeCol: String = "content_type",
      statusCol: String = "charset_status",
      keptCol: String = "charset_kept"): DataFrame = {
    import org.apache.spark.sql.functions.col
    docs
      .withColumn(statusCol,
        graft.clean.CharsetFns.charsetStatus(col(contentTypeCol), col(binCol)))
      .withColumn(keptCol,
        graft.clean.CharsetFns.charsetSupported(col(statusCol)).cast("int"))
  }

  /** Stream-capable HTTP wire-coding decode
    * ([[graft.sources.Warc.decodeHttpPages]], x_warc8's operator;
    * parity is pinned against x_warc7's fingerprints): dechunk +
    * decompress the
    * streamed pages' bodies per their carried Transfer-Encoding /
    * Content-Encoding, keeping the Content-Type for the charset tier
    * downstream. `Dataset.mapPartitions` is fully streamable (zero
    * state, narrow); the lenient salvage contract carries over — a
    * corrupt body in a micro-batch yields an `error` row, never a dead
    * query. Input columns: url, body (binary), te, ce, ct.
    */
  def codingDecoded(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    graft.sources.Warc.decodeHttpPages(
      pages.select(col("url").cast("string").as("url"),
        col("body").cast("binary").as("body"),
        col("te").cast("string").as("te"), col("ce").cast("string").as("ce"),
        col("ct").cast("string").as("ct"))
        .as[graft.sources.HttpEncodedPage]).toDF()
  }

  /** Stream-capable robots gate (x_url6): mark each streamed URL
    * allowed/blocked against a STATIC parsed-rules frame
    * ([[graft.ext.RobotsTxt.parseRobots]] output) — a stream-static
    * join on host plus the per-URL winner resolved WITHOUT a window
    * (windows don't stream): the max_by(struct) aggregation keyed by
    * doc_id picks the most specific rule under the same (hit, length,
    * allow, pattern) ordering the batch gate uses.
    */
  def robotsGated(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.functions._
    val u = docs
      .withColumn("__canon", graft.clean.UrlFns.canonicalUrl(col(urlCol)))
      .withColumn("__host", regexp_extract(col("__canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1))
      .withColumn("__path", regexp_replace(col("__canon"), "^[a-z0-9+.-]+://[^/?#]*", ""))
      .withColumn("__pathd", graft.ext.RobotsTxt.pctDecodeUnreserved(col("__path")))
    // rule-shape routing is SHARED with the batch gate (RobotsTxt.routedRx/
    // routedHit): wildcard-free patterns never touch RLIKE; __rx is NULL
    // for them, so batch and streaming verdicts cannot drift
    u.join(rules.withColumnRenamed("host", "__host"), Seq("__host"), "left")
      .withColumn("__rx", graft.ext.RobotsTxt.routedRx(col("pattern")))
      .withColumn("__hit", graft.ext.RobotsTxt.routedHit(
        col("__pathd"), col("pattern"), expr("__pathd RLIKE __rx")))
      .groupBy("doc_id")
      .agg(expr(
        """max_by(CASE WHEN __hit THEN allow ELSE NULL END,
          |  struct(__hit, length(pattern), allow, pattern))""".stripMargin).as("__best"),
        first(col(urlCol)).as(urlCol))
      .select(col("doc_id"), col(urlCol),
        coalesce(col("__best").cast("long"), lit(1L)).as("allowed"))
  }

  /** Stream-capable LEARNED quality scoring — x_qc1/x_qc3's ridge model
    * at the stream door: the coefficient row comes from a model trained
    * on the released corpus (`QualityModel.trainRidge` /
    * `trainRidgeN`), broadcasts once, and each micro-batch scores as a
    * narrow projection (zero state) — the train-on-release /
    * score-the-stream regime every released-model operator here follows.
    */
  def learnedQualityScored(docs: DataFrame, coef: DataFrame): DataFrame =
    graft.ext.QualityModel.scoreWith(docs, coef)

  /** Stream-capable Bloom membership verdict — x_ded24's prefilter at
    * the stream door: the persisted filter's dense bitmap row
    * ([[graft.ext.BloomIndex.denseRow]]) broadcasts once, each
    * micro-batch row tests its k bits in a narrow codegen projection
    * (zero state, zero exchange). Route bloom_pos = 0 docs straight
    * through (definitely new); sink bloom_pos = 1 docs to the batch
    * confirm join. Identical verdicts to the batch sparse-join form
    * (BloomIndexSpec pins dense ≡ sparse on the real corpus).
    */
  def bloomSeen(docs: DataFrame, dense: DataFrame,
      m: Int = graft.ext.BloomIndex.defaultBits,
      k: Int = graft.ext.BloomIndex.defaultK): DataFrame =
    graft.ext.BloomIndex.mightContainDense(docs, dense, m, k)

  /** Stream-capable Gopher repetition gate — x_txt23's signals as one
    * narrow JVM pass per row (`repetition_signals`): zero state, zero
    * shuffle, each micro-batch gates its own documents with EXACTLY the
    * batch verdict (x_txt23b hash-pins the expression to the relational
    * oracle).
    */
  def repetitionScored(docs: DataFrame): DataFrame =
    graft.ext.PipelineOps13.repetitionSignalsNative(docs)

  /** Stream-capable BPE token accounting — x_tok1's subword counter as a
    * pure narrow native expression (checked-in vocabulary, per-executor
    * word memo): zero state, zero shuffle, each micro-batch annotates its
    * own documents — so token-budget decisions downstream are denominated
    * identically batch and stream.
    */
  def bpeCounted(docs: DataFrame): DataFrame = {
    docs.withColumn("n_tok_bpe", bpe_count(col("text")).cast("bigint"))
  }

  /** Stream-capable context-window chunking — x_chunk1's exact expansion
    * (shared code with the oracle-checked probe via
    * `ext.PipelineOps4.chunkTokenWindows`): a pure narrow explode, zero
    * state, zero shuffle — each micro-batch chunks its own documents.
    */
  def chunkWindows(docs: DataFrame, window: Int = 16, stride: Int = 12): DataFrame =
    graft.ext.PipelineOps4.chunkTokenWindows(docs, window, stride)

  /** Stream-capable source-weighted mixing — `Corpus.mixBySourceWeights`'s
    * exact expansion: the sources-sized weights table joins as a
    * stream-static broadcast, the epoch explode and md5-threshold keep are
    * narrow, so replication factors hold per micro-batch with zero state.
    */
  def weightedMix(docs: DataFrame, weightsPpm: Map[String, Long]): DataFrame =
    graft.api.Corpus(docs).mixBySourceWeights(weightsPpm).df

  /** Stream-capable stratified downsampling — x_smp2's exact filter ('en'
    * keeps 2/16 of docs, every other language 8/16, decided by a
    * content-independent md5 bucket of the id). A pure narrow filter: runs
    * identically over a stream with zero state, zero shuffle.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
    docs.filter(when(col("lang") === "en", bucket.isin("0", "1"))
        .otherwise(bucket < "8"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Stream-capable SEGMENT dedup — x_ded18's first-occurrence semantics
    * at ingest: each arriving document explodes into its 16-word segments
    * (narrow), and only segments whose digest has never been seen pass
    * (stateful dropDuplicates on the digest — one 16-hex fingerprint per
    * distinct segment, the same state-per-distinct-content budget as
    * [[dedupExactStream]]). Emits surviving (doc_id, seg_idx, seg) rows;
    * document reassembly is a sink-side concern (it needs the doc's full
    * segment set, which an append stream by definition has not closed).
    * Within one micro-batch the survivor among simultaneous duplicates is
    * arrival-order (batch x_ded18 pins min (doc_id, seg_idx)); the
    * SURVIVING SEGMENT SET is identical, which StreamingSpec pins.
    */
  def segmentsFirstSeen(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, CAST(ceil(size(ws) / 16.0) AS INT)),
          |  k -> concat_ws(' ', slice(ws, (k - 1) * 16 + 1, 16)))""".stripMargin))
        .as(Seq("seg_idx", "seg")))
      .withColumn("seg_fp", substring(md5(col("seg")), 1, 16))
      .dropDuplicates("seg_fp")

  /** Stream-capable count-min sketch build — x_skt1's sketch as a
    * STREAMING AGGREGATION: each micro-batch's tokens fold into the same
    * (r, slot) cells (update mode). The state IS the sketch — at most
    * 3 x 256 cells no matter how much text has streamed through, the
    * textbook case of a streaming summary whose state is bounded by
    * construction (no watermark needed). Cells merge by addition, so the
    * final table equals the batch build cell-for-cell (StreamingSpec).
    */
  def countMinCells(docs: DataFrame): DataFrame =
    graft.ext.PipelineOps8.countMinCells(docs) // shared build, cannot drift

  /** Stream-capable FUZZY decontamination — x_dec5 at ingest: candidates
    * from the stream-static broadcast shingle join (the corpus side is
    * never shuffled), verified per candidate pair by the batch path's own
    * narrow `lev_bytes` similarity against the broadcast eval texts.
    * Stateless except the final per-doc dropDuplicates (state proportional
    * to FLAGGED docs, not stream size). Emits contaminated doc_ids.
    */
  def fuzzyContaminatedIds(docs: DataFrame, evalDocs: DataFrame,
      minSim: Double = 0.30): DataFrame = {
    // text rides THROUGH the shingle explode: re-joining `docs` for the
    // text would be a stream-stream self-join. A (doc, eval) pair hit by
    // several shingles verifies once per hit — bounded by hit count, and
    // lev_bytes is cheap; the batch path's pair-distinct would be state.
    val cand = Decontamination.shingles(docs, col("text"))
      .join(Decontamination.evalShingles(evalDocs), Seq("s"))
    Decontamination.verified(cand, evalDocs, minSim)
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Stream-capable distribution-drift counts — x_rep5's new-snapshot
    * side as a STREAMING AGGREGATION: each micro-batch's (feature,
    * bucket) pairs fold into running counts (complete mode). State is
    * bounded by the bucket vocabulary (languages x length bins), never
    * stream size — no watermark needed. The PSI finisher
    * (`PipelineOps11.psiAgainst` vs the RELEASED corpus's persisted
    * `bucketCounts`) runs over the materialized counts per batch
    * (foreachBatch in deployment); StreamingSpec pins the streamed
    * counts — and the finished PSI — ≡ batch.
    */
  def driftCounts(docs: DataFrame,
      features: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    graft.ext.PipelineOps11.bucketCounts(docs, features) // shared build, cannot drift
}
