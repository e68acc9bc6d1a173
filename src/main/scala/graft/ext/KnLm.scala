package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trigram interpolated Kneser-Ney language model (Kneser & Ney 1995;
  * Chen & Goodman 1999) — the CCNet-grade quality signal, one order up
  * from the x_txt18 bigram LM. Same three-regime discipline:
  *
  *   - [[knScoreWith]]: the JOIN regime — trigram stream joined against
  *     the five count tables (shuffle joins keyed on fixed-width 16-hex
  *     digests for the trigram-type-bounded tables; vocabulary-bounded
  *     tables broadcast). The beyond-broadcast scale path.
  *   - [[knIndex]] + [[knScoreNative]]: the NARROW regime — tables
  *     collected (loudly gated at 2M entries) into
  *     [[graft.functions.KnNll]], one tight JVM pass per row; the
  *     stream-door form for a released-corpus KN model.
  *   - [[buildKn]] / [[loadKnTables]] / [[loadKnIndex]]: the PERSISTED
  *     regime — the [[LmStore]] pattern: scan the released corpus once,
  *     score every later shard/stream against parquet tables.
  *
  * The model (D = 0.75 — exactly representable in binary, so every
  * discount is the same IEEE value in Spark, DuckDB, and the JVM path):
  *
  *   p1(c)     = (cont2(c) + 1) / (B + V)
  *   p2(c|b)   = (max(cont3(b,c) − D, 0) + D·n2f(b)·p1(c)) / mid(b)
  *               when b is a known middle, else p1(c)
  *   p3(c|a,b) = (max(c3(a,b,c) − D, 0) + D·n3f(a,b)·p2) / ctx2(a,b)
  *               when context (a,b) is known, else p2
  *
  * where, with trigram OCCURRENCES tr and distinct trigram TYPES ty and
  * distinct adjacent-bigram TYPES bty (all from the one shared
  * tokenizer):
  *
  *   c3(a,b,c)  = count of tr grouped by trigram digest
  *   ctx2(a,b)  = count of tr grouped by context digest
  *   n3f(a,b)   = distinct c per context digest (types following (a,b))
  *   cont3(b,c) = distinct a per (b,c) digest over ty   [N₁₊(·bc)]
  *   mid(b)     = count of ty per middle digest          [N₁₊(·b·)]
  *   n2f(b)     = distinct c per middle digest           [N₁₊(b·)]
  *   cont2(c)   = distinct predecessors of c over bty    [N₁₊(·c)]
  *   B          = |bty|, V = vocabulary size
  *
  * All counts are exact integers; the continuation counts are the KN
  * insight (a word after an unseen context should be scored by how many
  * distinct contexts it follows, not how often it occurs). The +1/(B+V)
  * unigram floor keeps OOV finite, mirroring the x_txt18 add-one floor.
  */
object KnLm {

  /** (doc_id, a, b, c): every adjacent token triple — the trigram
    * occurrence stream (one explode; digests are computed at use sites
    * so the stream itself stays string-typed for `c`'s unigram lookup).
    */
  private[ext] def trigramsTok(tok: DataFrame): DataFrame = tok
    .select(col("doc_id"), col("ws"))
    .filter(size(col("ws")) >= 3)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(ws) - 2), i -> named_struct(" +
        "'a', element_at(ws, i), 'b', element_at(ws, i + 1), 'c', element_at(ws, i + 2)))")).as("p"))
    .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"), col("p.c").as("c"))

  /** DuckDB twin of [[trigramsTok]] from a CTE `src(doc_id, ws)`. */
  private[ext] def trigramsDuck(src: String): String =
    s"""SELECT doc_id, ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c
       |  FROM (SELECT doc_id, ws FROM $src WHERE len(ws) >= 3),
       |       UNNEST(generate_series(1, len(ws) - 2)) AS g(i)""".stripMargin

  private def h16(c: Column): Column = substring(md5(c), 1, 16)

  /** The five KN count tables plus the (bt, v) scalar frame — all lazy
    * DataFrames, so the join regime never collects anything.
    */
  final case class KnTables(
      t3: DataFrame,   // (h3, c3)
      ctx: DataFrame,  // (hab, ctx2, n3f)
      bc: DataFrame,   // (hbc, cont3)
      mid: DataFrame,  // (hb, mid, n2f)
      u2: DataFrame,   // (c, cont2)
      sc: DataFrame)   // 1 row: (bt, v)

  def knTables(train: DataFrame): KnTables =
    knTablesTok(PipelineOps10.docTokens(train))

  /** [[knTables]] from a pre-tokenized (doc_id, ws) frame.
    *
    * Shuffle shape: the trigram STREAM is exchanged exactly ONCE, keyed
    * on the fixed-width trigram digest h3 (map-side combined); every
    * type-level table (contexts, continuation counts, middle-token
    * stats) then derives from that trigram-TYPE frame — each h3 group's
    * hbc/hab/hb/c are identical within the group (they are functions of
    * the same trigram), so MIN carries them deterministically on both
    * engines. The bigram stream likewise shuffles once on its digest.
    * A naive build (distinct over raw (a,b,c) + per-context stream aggs)
    * would shuffle raw token payloads twice more — the plan pin in
    * PlanAuditSpec forbids any raw-token-keyed exchange here.
    */
  def knTablesTok(tok: DataFrame): KnTables =
    knTablesFrom(trigramTypes(tok), bigramTypes(tok), tok)

  /** The trigram-TYPE frame (h3, c3, hab, hbc, hb, c): the single
    * digest-keyed pass over the trigram stream from which every KN table
    * derives.
    */
  private def trigramTypes(tok: DataFrame): DataFrame =
    trigramsTok(tok)
      // digests per TYPE, not per occurrence (guide §1.2 per-task work):
      // the corpus carries ~9.6 occurrences per trigram type (measured,
      // sf0.1), so grouping raw words first cuts the md5 count ~9.6×
      // (4/occurrence → 4/type) and the partial agg shrinks the exchange
      // the same way. The second, digest-keyed grouping reproduces the
      // original h3-grouped algebra exactly (sum of sub-counts, min of
      // sub-mins — associative), md5-collision behavior included.
      .groupBy("a", "b", "c")
      .agg(count(lit(1)).as("cnt"))
      .select(
        h16(concat_ws(" ", col("a"), col("b"), col("c"))).as("h3"),
        h16(concat_ws(" ", col("a"), col("b"))).as("hab"),
        h16(concat_ws(" ", col("b"), col("c"))).as("hbc"),
        h16(col("b")).as("hb"),
        col("c"), col("cnt"))
      .groupBy("h3")
      .agg(sum(col("cnt")).as("c3"),
        min(col("hab")).as("hab"), min(col("hbc")).as("hbc"),
        min(col("hb")).as("hb"), min(col("c")).as("c"))

  /** The bigram-TYPE frame (h2, c): one digest-keyed exchange, types
    * carry their continuation token.
    */
  private def bigramTypes(tok: DataFrame): DataFrame =
    PipelineOps10.bigramPairsTok(tok)
      // same per-type digest discipline as [[trigramTypes]]: group the raw
      // bigram first (partial-agg shrink), digest once per type, then the
      // digest-keyed grouping reproduces the original algebra exactly
      .groupBy("b").agg(min(col("w2")).as("w2"))
      .select(h16(col("b")).as("h2"), col("w2"))
      .groupBy("h2").agg(min(col("w2")).as("c"))

  private def knTablesFrom(t3f: DataFrame, b2t: DataFrame,
      tok: DataFrame): KnTables =
    knTablesFromTypes(t3f, b2t,
      tok.select(explode(col("ws")).as("w")).agg(count_distinct(col("w")).as("v")))

  /** The five scoring tables derived from the TYPE frames alone — the
    * shared endpoint of the full-retrain and incremental-merge paths
    * (`vRow` is a 1-row (v) vocabulary-size frame).
    */
  private def knTablesFromTypes(t3f: DataFrame, b2t: DataFrame,
      vRow: DataFrame): KnTables = {
    val t3 = t3f.select("h3", "c3")
    val ctx = t3f.groupBy("hab")
      .agg(sum(col("c3")).as("ctx2"), count_distinct(col("c")).as("n3f"))
    val bc = t3f.groupBy("hbc").agg(count(lit(1)).as("cont3"))
    val mid = t3f.groupBy("hb")
      .agg(count(lit(1)).as("mid"), count_distinct(col("c")).as("n2f"))
    val u2 = b2t.groupBy("c").agg(count(lit(1)).as("cont2"))
    val sc = b2t.agg(count(lit(1)).as("bt")).join(vRow)
    KnTables(t3, ctx, bc, mid, u2, sc)
  }

  /** Run `f` over KN tables whose type frames are PERSISTED for the
    * duration — the multi-action builders' route: 5 collects (index) or
    * 6 writes (store) each instantiate the type-frame subtree; cached,
    * the trigram/bigram streams are aggregated exactly once.
    */
  private def withCachedTables[T](train: DataFrame)(f: KnTables => T): T = {
    val tok = PipelineOps10.docTokens(train)
    val t3f = trigramTypes(tok)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b2t = bigramTypes(tok)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(knTablesFrom(t3f, b2t, tok))
    finally { t3f.unpersist(); b2t.unpersist(): Unit }
  }

  /** Train on `train`, score `score` — the self/held-out entry point.
    *
    * Deliberately LAZY (no persist, no staging): the five scoring tables
    * are six consumers of the same streams, but their independent
    * subtrees overlap on the cluster, each is scan+map only, and the
    * per-type digest discipline above halves their map cost. Measured
    * alternatives (r17, isolated sf0.1): persisting tok+t3f+b2t
    * sequentialized the build into cache barriers AND billed the
    * clearCache drain to the next bench repeat (3.75 → 5.4 s); staging
    * the type frames to scratch parquet re-tokenized per write job
    * (5.6 s). The train-once/store regime (buildKnTypes + loadKnTypes,
    * x_txt22d/e) remains the scale path — a 100 TB corpus builds its
    * type store once and scores shards from it, never through this
    * self-contained form.
    */
  def knScore(train: DataFrame, score: DataFrame): DataFrame =
    knScoreWithTok(PipelineOps10.docTokens(score), knTables(train))

  /** Score a pre-tokenized (doc_id, ws) frame against prebuilt tables —
    * the JOIN regime. Shape: the trigram stream carries four 16-hex
    * digests + the raw continuation token; the three trigram-bounded
    * tables join on their digests (shuffle, fixed-width keys), the two
    * vocabulary-bounded tables and the scalar broadcast. Every
    * arithmetic step mirrors [[graft.functions.KnNll]].compute operation
    * for operation (same IEEE754 sequence), so native ≡ declarative.
    */
  def knScoreWithTok(tokScore: DataFrame, t: KnTables): DataFrame =
    trigramsTok(tokScore)
      // aggregate BEFORE the joins (guide §2.3): every occurrence of the
      // same trigram within a doc has the same p3 (a function of the
      // trigram alone), so the five-table join runs over per-doc TYPES,
      // not occurrences — map-side combined, every downstream exchange
      // carries the smaller frame, and the four md5 digests are computed
      // once per type instead of once per occurrence. The per-doc NLL
      // reassembles as Σ cnt·ln p3 (oracle-verified: the 6-decimal round
      // absorbs the cnt-grouped summation).
      .groupBy(col("doc_id"), col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"),
        h16(concat_ws(" ", col("a"), col("b"), col("c"))).as("h3"),
        h16(concat_ws(" ", col("a"), col("b"))).as("hab"),
        h16(concat_ws(" ", col("b"), col("c"))).as("hbc"),
        h16(col("b")).as("hb"),
        col("c"), col("cnt"))
      .join(t.t3, Seq("h3"), "left")
      .join(t.ctx, Seq("hab"), "left")
      .join(t.bc, Seq("hbc"), "left")
      .join(broadcast(t.mid), Seq("hb"), "left")
      .join(broadcast(t.u2), Seq("c"), "left")
      .join(broadcast(t.sc))
      .withColumn("p1",
        (coalesce(col("cont2"), lit(0L)) + 1).cast("double") /
          (col("bt") + col("v")).cast("double"))
      .withColumn("p2", when(col("mid").isNotNull,
        (greatest(coalesce(col("cont3"), lit(0L)) - lit(0.75), lit(0.0)) +
          lit(0.75) * col("n2f") * col("p1")) / col("mid"))
        .otherwise(col("p1")))
      .withColumn("p3", when(col("ctx2").isNotNull,
        (greatest(coalesce(col("c3"), lit(0L)) - lit(0.75), lit(0.0)) +
          lit(0.75) * col("n3f") * col("p2")) / col("ctx2"))
        .otherwise(col("p2")))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).cast("long").as("n_trigrams"),
        round(-sum(col("cnt") * log(col("p3"))) / sum(col("cnt")), 6).as("kn_avg"))

  // ------------------------------------------------------ native regime

  /** Hard ceiling on collected KN table entries (all five tables) — the
    * [[PipelineOps10.lmIndexMaxEntries]] loud-gate discipline: a
    * web-scale corpus has billions of trigram types; collecting them is
    * a driver OOM. Fail at build time naming the route that scales.
    */
  val knIndexMaxEntries: Long = 2000000L

  def knIndex(train: DataFrame,
      maxEntries: Long = knIndexMaxEntries): graft.functions.KnIndex =
    withCachedTables(train)(collectIndex(_, maxEntries))

  private def collectIndex(t: KnTables,
      maxEntries: Long): graft.functions.KnIndex = {
    // EVERYTHING in one tagged union over the cached type frames: count
    // gate (action 1), collect (action 2), split + sort driver-side in
    // UTF8String binary order — the engine's own string order, so the
    // native binary search sees exactly the frame an orderBy would have
    // produced. The per-table route (5 sorted collects + a scalar) was
    // 11+ actions; at toy SF each action's fixed AQE/scheduling cost
    // dwarfed the kilobytes moved (measured: knIndex 6.2 s warm for
    // 28k total rows), and at real SF fewer jobs is simply fewer jobs.
    val tagged = t.t3.select(lit(0).as("tg"), col("h3").as("k"), col("c3").as("v1"), lit(0L).as("v2"))
      .unionAll(t.ctx.select(lit(1), col("hab"), col("ctx2"), col("n3f")))
      .unionAll(t.bc.select(lit(2), col("hbc"), col("cont3"), lit(0L)))
      .unionAll(t.mid.select(lit(3), col("hb"), col("mid"), col("n2f")))
      .unionAll(t.u2.select(lit(4), col("c"), col("cont2"), lit(0L)))
    require(tagged.count() <= maxEntries,
      s"KN count tables exceed $maxEntries entries: too large for the " +
        "broadcast/native regime — score with the join form instead " +
        "(KnLm.knScore / knScoreWithTok over KnLm stored tables)")
    val rows = tagged.unionAll(t.sc.select(lit(5), lit(""), col("bt"), col("v"))).collect()
    val byTag = rows.groupBy(_.getInt(0))
    def sorted(tag: Int): Array[org.apache.spark.sql.Row] = {
      val part = byTag.getOrElse(tag, Array.empty[org.apache.spark.sql.Row])
      val keyed = part.map(r => (org.apache.spark.unsafe.types.UTF8String
        .fromString(r.getString(1)), r))
      java.util.Arrays.sort(keyed,
        Ordering.by[(org.apache.spark.unsafe.types.UTF8String,
          org.apache.spark.sql.Row), org.apache.spark.unsafe.types.UTF8String](_._1)(
          (a, b) => a.compareTo(b)))
      keyed.map(_._2)
    }
    val t3 = sorted(0); val cx = sorted(1); val bc = sorted(2)
    val md = sorted(3); val u2 = sorted(4)
    val sc = byTag(5)(0)
    graft.functions.KnIndex(
      t3.map(_.getString(1)).toSeq, t3.map(_.getLong(2)).toSeq,
      cx.map(_.getString(1)).toSeq, cx.map(_.getLong(2)).toSeq, cx.map(_.getLong(3)).toSeq,
      bc.map(_.getString(1)).toSeq, bc.map(_.getLong(2)).toSeq,
      md.map(_.getString(1)).toSeq, md.map(_.getLong(2)).toSeq, md.map(_.getLong(3)).toSeq,
      u2.map(_.getString(1)).toSeq, u2.map(_.getLong(2)).toSeq,
      sc.getLong(2), sc.getLong(3))
  }

  /** Per-row KN scoring against a prebuilt index — the narrow,
    * stateless, stream-capable twin of [[knScoreWith]] (identical
    * output, zero exchanges).
    */
  def knScoreNative(score: DataFrame, idx: graft.functions.KnIndex): DataFrame = {
    score
      .withColumn("__kn", graft.functions.KnNll.kn_nll(col("text"), idx))
      .filter(col("__kn").isNotNull)
      .select(col("doc_id"), col("__kn.n_trigrams").as("n_trigrams"),
        col("__kn.kn_avg").as("kn_avg"))
  }

  // --------------------------------------------------- persisted regime

  /** Write the KN count tables of `train` under `path` — the released
    * artifact of the train-once / score-many regime.
    */
  def buildKn(train: DataFrame, path: String): Unit =
    withCachedTables(train) { t =>
      t.t3.write.mode("overwrite").parquet(s"$path/t3")
      t.ctx.write.mode("overwrite").parquet(s"$path/ctx")
      t.bc.write.mode("overwrite").parquet(s"$path/bc")
      t.mid.write.mode("overwrite").parquet(s"$path/mid")
      t.u2.write.mode("overwrite").parquet(s"$path/u2")
      t.sc.write.mode("overwrite").parquet(s"$path/sc")
    }

  /** The stored tables, for the join-regime scorer. */
  def loadKnTables(spark: SparkSession, path: String): KnTables = KnTables(
    spark.read.parquet(s"$path/t3"),
    spark.read.parquet(s"$path/ctx"),
    spark.read.parquet(s"$path/bc"),
    spark.read.parquet(s"$path/mid"),
    spark.read.parquet(s"$path/u2"),
    spark.read.parquet(s"$path/sc"))

  /** The stored tables collected into the native scorer's broadcast
    * index (same loud gate as [[knIndex]]).
    */
  def loadKnIndex(spark: SparkSession, path: String,
      maxEntries: Long = knIndexMaxEntries): graft.functions.KnIndex =
    collectIndex(loadKnTables(spark, path), maxEntries)

  // -------------------------------------------------- incremental regime

  /** Write the INCREMENTAL KN store of `train` under `path`: the trigram
    * TYPE frame, the bigram TYPE frame, and the distinct-vocabulary
    * table — the sufficient statistics from which every scoring table
    * derives ([[knTablesFromTypes]]). Unlike [[buildKn]]'s derived
    * tables, these merge with a new shard WITHOUT a full retrain
    * (x_txt22e): occurrence counts add; the distinct-count tables
    * (n3f/cont3/mid/n2f/cont2/B) are recomputed from the merged type
    * frames — work bounded by TYPE cardinality, never corpus size (the
    * BandIndex/SegIndex daily-increment shape applied to the LM tier).
    */
  def buildKnTypes(train: DataFrame, path: String): Unit = {
    val tok = PipelineOps10.docTokens(train)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      trigramTypes(tok).write.mode("overwrite").parquet(s"$path/t3f")
      bigramTypes(tok).write.mode("overwrite").parquet(s"$path/b2t")
      tok.select(explode(col("ws")).as("w")).distinct()
        .write.mode("overwrite").parquet(s"$path/vocab")
    } finally tok.unpersist(): Unit
  }

  /** Merge a NEW SHARD's statistics into the type store at `basePath`,
    * writing the merged store to `outPath` — no rescan of the base
    * corpus. c3 sums across sides; the carried per-type fields and the
    * bigram continuation token merge by MIN (associative, so
    * merge(base, shard) ≡ a full retrain's single-pass MIN, digest
    * collisions included); vocabulary unions distinct.
    */
  def mergeKnTypes(spark: SparkSession, basePath: String, shard: DataFrame,
      outPath: String): Unit = {
    val tokS = PipelineOps10.docTokens(shard)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      spark.read.parquet(s"$basePath/t3f").unionAll(trigramTypes(tokS))
        .groupBy("h3")
        .agg(sum(col("c3")).as("c3"),
          min(col("hab")).as("hab"), min(col("hbc")).as("hbc"),
          min(col("hb")).as("hb"), min(col("c")).as("c"))
        .write.mode("overwrite").parquet(s"$outPath/t3f")
      spark.read.parquet(s"$basePath/b2t").unionAll(bigramTypes(tokS))
        .groupBy("h2").agg(min(col("c")).as("c"))
        .write.mode("overwrite").parquet(s"$outPath/b2t")
      spark.read.parquet(s"$basePath/vocab")
        .unionAll(tokS.select(explode(col("ws")).as("w")).distinct())
        .distinct()
        .write.mode("overwrite").parquet(s"$outPath/vocab")
    } finally tokS.unpersist(): Unit
  }

  /** Scoring tables from a type store ([[buildKnTypes]]/[[mergeKnTypes]]). */
  def loadKnTypes(spark: SparkSession, path: String): KnTables =
    knTablesFromTypes(
      spark.read.parquet(s"$path/t3f"),
      spark.read.parquet(s"$path/b2t"),
      spark.read.parquet(s"$path/vocab").agg(count(lit(1)).as("v")))

  // -------------------------------------------------------------- oracle

  /** First-principles DuckDB twin of train-on-`trainWhere` /
    * score-on-`scoreWhere` KN scoring — the whole count-table algebra
    * and the three-level interpolation rebuilt relationally. D appears
    * only as CAST(0.75 AS DOUBLE) so DuckDB's DECIMAL literals never
    * enter the arithmetic.
    */
  private[ext] def knOracle(trainWhere: String, scoreWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |tr AS (${trigramsDuck(s"(SELECT * FROM t $trainWhere)")}),
       |t3f AS (
       |  SELECT h3, COUNT(*) AS c3, MIN(hab) AS hab, MIN(hbc) AS hbc,
       |         MIN(hb) AS hb, MIN(c) AS c
       |  FROM (SELECT substr(md5(a || ' ' || b || ' ' || c), 1, 16) AS h3,
       |               substr(md5(a || ' ' || b), 1, 16) AS hab,
       |               substr(md5(b || ' ' || c), 1, 16) AS hbc,
       |               substr(md5(b), 1, 16) AS hb, c
       |        FROM tr)
       |  GROUP BY h3),
       |t3 AS (SELECT h3, c3 FROM t3f),
       |cx AS (
       |  SELECT hab, SUM(c3) AS ctx2, COUNT(DISTINCT c) AS n3f
       |  FROM t3f GROUP BY hab),
       |bc AS (SELECT hbc, COUNT(*) AS cont3 FROM t3f GROUP BY hbc),
       |md AS (
       |  SELECT hb, COUNT(*) AS mid, COUNT(DISTINCT c) AS n2f
       |  FROM t3f GROUP BY hb),
       |bg AS (${PipelineOps10.bigramsDuck(s"(SELECT * FROM t $trainWhere)")}),
       |b2t AS (
       |  SELECT substr(md5(b), 1, 16) AS h2, MIN(w2) AS c
       |  FROM bg GROUP BY 1),
       |u2 AS (SELECT c, COUNT(*) AS cont2 FROM b2t GROUP BY 1),
       |sc0 AS (
       |  SELECT (SELECT COUNT(*) FROM b2t) AS bt,
       |         (SELECT COUNT(DISTINCT w)
       |          FROM (SELECT UNNEST(ws) AS w FROM t $trainWhere)) AS v),
       |trs AS (${trigramsDuck(s"(SELECT * FROM t $scoreWhere)")}),
       |j1 AS (
       |  SELECT trs.doc_id,
       |    t3.c3, cx.ctx2, cx.n3f, bc.cont3, md.mid, md.n2f,
       |    (COALESCE(u2.cont2, 0) + 1) / CAST(sc0.bt + sc0.v AS DOUBLE) AS p1
       |  FROM trs
       |  LEFT JOIN t3 ON t3.h3 = substr(md5(trs.a || ' ' || trs.b || ' ' || trs.c), 1, 16)
       |  LEFT JOIN cx ON cx.hab = substr(md5(trs.a || ' ' || trs.b), 1, 16)
       |  LEFT JOIN bc ON bc.hbc = substr(md5(trs.b || ' ' || trs.c), 1, 16)
       |  LEFT JOIN md ON md.hb = substr(md5(trs.b), 1, 16)
       |  LEFT JOIN u2 ON u2.c = trs.c, sc0),
       |j2 AS (
       |  SELECT doc_id, c3, ctx2, n3f,
       |    CASE WHEN mid IS NOT NULL
       |         THEN (greatest(COALESCE(cont3, 0) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) +
       |               CAST(0.75 AS DOUBLE) * n2f * p1) / mid
       |         ELSE p1 END AS p2
       |  FROM j1),
       |j3 AS (
       |  SELECT doc_id,
       |    CASE WHEN ctx2 IS NOT NULL
       |         THEN (greatest(COALESCE(c3, 0) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) +
       |               CAST(0.75 AS DOUBLE) * n3f * p2) / ctx2
       |         ELSE p2 END AS p3
       |  FROM j2)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       |  round(-SUM(ln(p3)) / COUNT(*), 6) AS kn_avg
       |FROM j3 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- probes

  /** X-TXT22 — corpus self-scored trigram Kneser-Ney: every document's
    * NLL under the KN model of its own corpus (join regime). One order
    * above x_txt18's bigram LM: repetitive template text that fools a
    * bigram model (locally fluent pairs) scores high here when its
    * trigram continuations are unseen.
    */
  private val txt22 = Probe(
    "x_txt22_kn_score",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    knScore(docs, docs).orderBy("doc_id")
  }

  /** X-TXT22B — held-out KN scoring: model on 90%, scoring the unseen
    * 10% — exercises ALL THREE backoff branches (unseen trigram with
    * seen context, unseen context with seen middle, fully-unseen words
    * hitting the continuation-unigram floor).
    */
  private val txt22b = Probe(
    "x_txt22b_kn_heldout",
    knOracle("WHERE doc_id % 10 <> 0", "WHERE doc_id % 10 = 0")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    knScore(docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  /** X-TXT22C — the native per-row KN scorer ([[graft.functions.KnNll]])
    * against the same first-principles oracle as x_txt22: the one-pass
    * JVM tokenize/digest/binary-search/interpolate is hash-pinned to
    * the declarative five-table join algebra (KnLmSpec pins
    * interpreted ≡ codegen ≡ declarative on top). The index is a
    * train-once artifact ([[graft.util.TrainOnce]]): built on first use
    * per corpus dir, so benched steady-state times SCORING — the
    * per-shard production cost — while the first repeat carries the
    * one-time build (round-9 verdict #1).
    */
  private val txt22c = Probe(
    "x_txt22c_kn_native",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val idx = graft.util.TrainOnce(s"kn_index:$dir")(knIndex(docs))
    knScoreNative(docs, idx).orderBy("doc_id")
  }

  /** X-TXT22D — the KN probe through the PERSISTED store: tables built
    * once, written as parquet, read back, and joined — x_txt22's
    * identical table (shared oracle), pinning the full round trip. The
    * store is train-once per corpus dir (like the index above); the
    * probe's steady cost is the load + five-table join scoring pass.
    */
  private val txt22d = Probe(
    "x_txt22d_kn_stored",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val path = graft.util.TrainOnce(s"kn_store:$dir") {
      val p = graft.util.TempDirs.scratch("graft_kn_store")
      buildKn(docs, p)
      p
    }
    knScoreWithTok(PipelineOps10.docTokens(docs), loadKnTables(s, path))
      .orderBy("doc_id")
  }

  /** X-TXT22E — INCREMENTAL store ≡ full retrain: the type store is
    * built on 90% of the corpus, the remaining 10% merges in WITHOUT
    * rescanning the base ([[mergeKnTypes]]), and scoring through the
    * merged store must hash-match the same first-principles full-corpus
    * oracle as x_txt22 — pinning that additive occurrence counts +
    * type-bounded recomputation of the distinct-count tables reproduce
    * the retrained model exactly.
    */
  private val txt22e = Probe(
    "x_txt22e_kn_incremental",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables.spread(s, dir, "documents")
    val path = graft.util.TrainOnce(s"kn_types:$dir") {
      val p = graft.util.TempDirs.scratch("graft_kn_inc")
      buildKnTypes(docs.filter(col("doc_id") % 10 =!= 0), s"$p/base")
      mergeKnTypes(s, s"$p/base", docs.filter(col("doc_id") % 10 === 0), s"$p/merged")
      s"$p/merged"
    }
    knScoreWithTok(PipelineOps10.docTokens(docs), loadKnTypes(s, path))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(txt22, txt22b, txt22c, txt22d, txt22e)
}
