package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-size mergeable sketches: the corpus-statistics questions
  * (how often, how many distinct, which quantile, how big a join)
  * answered from kilobytes of state that merges by addition or MAX, so
  * shards sketch independently. Every hash is a hex window of one md5, so
  * each estimate — collisions included — is recomputed by its DuckDB
  * oracle. Holds the count-min cell build (x_skt1, the persisted store
  * x_skt1b and the streaming build), the join-size inner product (x_skt4
  * and the join advisor x_skt6), KMV (x_skt2), the equi-width histogram
  * (x_skt3) and HyperLogLog (x_skt5).
  */
object Sketches {

  // ------------------------------------------------------- md5 windows

  /** Hex digits [from, from + chars) of the md5 hex digest `m`, as the
    * decimal string `conv` yields; callers cast it to their width.
    */
  private def hexWindow(m: Column, from: Int, chars: Int): Column =
    conv(substr(m, lit(1 + from), lit(chars)), 16, 10)

  /** DuckDB twin of [[hexWindow]] over md5(`key`) for sketch row `r`: the
    * raw hex window (grouping and membership do not depend on the
    * representation; Spark groups on the integer form).
    */
  private def windowDuck(key: String, r: Int, hexChars: Int): String =
    s"substr(md5($key), ${1 + hexChars * r}, $hexChars)"

  private val cmsRows = 3 // k hash rows: disjoint hex windows of one md5

  /** The k (r, slot) pairs of digest `m`, exploded: slot r is hex window r
    * of `hexChars` digits as an int. `m` must be a projected column — the
    * generator input gets no subexpression elimination, so an inline
    * md5 would be computed k times per key.
    */
  private def rowSlots(m: Column, hexChars: Int): Column =
    explode(array((0 until cmsRows).map(r =>
      struct(lit(r).as("r"), hexWindow(m, hexChars * r, hexChars).cast("int").as("slot"))): _*))

  // ------------------------------------------------------ count-min cells

  private val tokenHex = 2 // x_skt1: 256 slots per row, sized for heavy hitters
  private val joinHex = 4 // x_skt4/x_skt6: 65,536 slots per row, sized for joins

  /** Count-min cells (r, slot, c) of the first column of `keys` (cast to
    * string): md5 once per key, then ONE map-side-combined aggregation into
    * at most 3 × 16^hexChars cells.
    */
  def cells(keys: DataFrame, hexChars: Int): DataFrame = keys
    .select(md5(col(keys.columns.head).cast("string")).as("m"))
    .select(rowSlots(col("m"), hexChars).as("rs"))
    .groupBy(col("rs.r").as("r"), col("rs.slot").as("slot"))
    .agg(count(lit(1)).as("c"))

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(explode(CleanFns.tokens(col("text"))).as("tkn"))

  /** The token count-min sketch (3 × 256 cells) of a documents frame —
    * x_skt1's build, the persisted store's and the streaming one's.
    */
  def countMinCells(docs: DataFrame): DataFrame = cells(tokens(docs), tokenHex)

  /** The exact top-10 tokens with their per-row sketch slots — the query
    * side of the count-min probes.
    */
  private def topTokensWithSlots(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("tkn").agg(count(lit(1)).as("n_exact"))
      // top-k via orderBy+limit -> TakeOrderedAndProject, not a
      // global-window SinglePartition shuffle
      .orderBy(col("n_exact").desc, col("tkn"))
      .limit(10)
      .select(col("tkn"), col("n_exact"), md5(col("tkn")).as("m"))
      .select(col("tkn"), col("n_exact"), rowSlots(col("m"), tokenHex).as("q"))

  /** Estimate the exact top-10 tokens' counts from a cells frame — the
    * query stage shared by x_skt1 (inline build) and x_skt1b (persisted
    * sketch).
    */
  def estimateTopTokens(docs: DataFrame, cms: DataFrame): DataFrame =
    topTokensWithSlots(docs)
      .join(broadcast(cms),
        col("q.r") === col("r") && col("q.slot") === col("slot"))
      .groupBy(col("tkn"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))
      .select(col("tkn"), col("n_exact"), col("n_est"))
      .orderBy(col("n_exact").desc, col("tkn"))

  /** x_skt1's oracle SQL — shared verbatim with x_skt1b (the persisted-
    * sketch route must produce the identical table).
    */
  private val countMinOracleSql: String = {
    def slot(r: Int) = windowDuck("tkn", r, tokenHex)
    def slotT(r: Int) = windowDuck("t.tkn", r, tokenHex)
    s"""WITH tok AS (
       |  SELECT tkn FROM (SELECT ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |       UNNEST(ws) AS u(tkn)),
       |cms AS (
       |  SELECT r, slot, COUNT(*) AS c FROM (
       |    SELECT 0 AS r, ${slot(0)} AS slot, tkn FROM tok
       |    UNION ALL SELECT 1, ${slot(1)}, tkn FROM tok
       |    UNION ALL SELECT 2, ${slot(2)}, tkn FROM tok)
       |  GROUP BY r, slot),
       |exact AS (
       |  SELECT tkn, COUNT(*) AS n_exact FROM tok GROUP BY tkn),
       |top AS (
       |  SELECT tkn, n_exact FROM (
       |    SELECT tkn, n_exact, row_number() OVER (ORDER BY n_exact DESC, tkn) AS rn FROM exact)
       |  WHERE rn <= 10),
       |est AS (
       |  SELECT t.tkn, t.n_exact, MIN(m.c) AS n_est
       |  FROM top t
       |  JOIN cms m ON (m.r = 0 AND m.slot = ${slotT(0)})
       |             OR (m.r = 1 AND m.slot = ${slotT(1)})
       |             OR (m.r = 2 AND m.slot = ${slotT(2)})
       |  GROUP BY t.tkn, t.n_exact)
       |SELECT tkn, CAST(n_exact AS BIGINT) AS n_exact, CAST(n_est AS BIGINT) AS n_est
       |FROM est ORDER BY n_exact DESC, tkn""".stripMargin
  }

  /** X-SKT1 — count-min sketch heavy hitters: token frequencies estimated
    * from a FIXED-SIZE sketch (3 rows x 256 slots), surfaced next to the
    * exact counts for the exact top-10 tokens so the one-sided sketch error
    * (estimate >= exact, never under) is visible in the checked output.
    *
    * Scale story: the sketch build is ONE map-side-combined aggregation of
    * the token stream into <= 768 cells — the shuffle moves at most 768
    * rows per mapper no matter the corpus size, and sketches merge by cell
    * addition (associative), so a 1000-executor build is the same plan.
    * The exact top-10 here is the oracle-side ground truth; at 100 TB the
    * sketch IS the product (exact per-token counts need a corpus-wide
    * groupBy on a potentially huge vocabulary; the sketch answers point
    * queries from kilobytes).
    */
  private val skt1 = Probe(
    "x_skt1_countmin_heavy", countMinOracleSql) { (s, dir) =>
    estimateTopTokens(Tables(s, dir, "documents"),
      countMinCells(Tables(s, dir, "documents")))
  }

  // ------------------------------------------------ persisted sketch store
  // The train-once / query-many regime, the [[BandIndex]] / IVF index
  // pattern applied to count-min cells: a corpus is scanned ONCE into at
  // most 768 cells; later frequency questions read the store, not the
  // text. Cells merge by addition, so shards build independently and
  // the store combines them (SketchStoreSpec pins merged == whole).

  /** Write the count-min cells of `docs` as the persisted sketch. */
  def buildCms(docs: DataFrame, path: String): Unit =
    countMinCells(docs)
      .coalesce(1) // <= 768 rows: one file IS the right layout
      .write.mode("overwrite").parquet(path)

  def loadCms(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Merge two persisted sketches: cell-wise addition. */
  def mergeCms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("r"), col("slot")).agg(sum(col("c")).as("c"))

  /** X-SKT1B — the count-min probe through the PERSISTED store: the sketch
    * is built once, written as parquet, read back, and queried — and must
    * produce x_skt1's identical table (shared oracle SQL). This pins the
    * full round trip (schema, types, cell values) rather than just the
    * in-memory algebra.
    */
  private val skt1b = Probe(
    "x_skt1b_countmin_stored", countMinOracleSql) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // store built train-once per corpus dir; steady times the scoring read
    val path = graft.util.TrainOnce(s"cms_store:$dir") {
      val p = graft.util.TempDirs.scratch("graft_cms_store")
      buildCms(docs, p)
      p
    }
    estimateTopTokens(docs, loadCms(s, path))
  }

  // ------------------------------------------------------- join size

  /** The join-size algebra over two cells frames, as ONE row:
    * (n_a, mx_a, n_b, mx_b, est). n is a side's row count, mx the min over
    * sketch rows of its heaviest cell (an upper bound on its heaviest
    * key), est the min over sketch rows of the cell-wise inner product
    * Σ_slot a[r][slot]·b[r][slot] — one-sided, est >= the exact join
    * size. As in the oracles' inner join on (r, slot), a row with no
    * matched slot takes no part in the min; est is NULL when no row has
    * one. An EMPTY side gives n = mx = 0.
    *
    * Both sides meet in one tagged union: per (r, slot) the cell counts
    * meet, per r the row stats and the dot product reduce, and the min
    * over rows collapses to the single row — each side is scanned once.
    */
  def joinSketch(ca: DataFrame, cb: DataFrame): DataFrame =
    ca.select(col("r"), col("slot"), col("c").as("a_c"), lit(0L).as("b_c"))
      .unionAll(cb.select(col("r"), col("slot"), lit(0L).as("a_c"), col("c").as("b_c")))
      .groupBy(col("r"), col("slot"))
      .agg(sum(col("a_c")).as("a_c"), sum(col("b_c")).as("b_c"))
      .groupBy(col("r"))
      .agg(sum(col("a_c")).as("n_a"), max(col("a_c")).as("mx_a"),
        sum(col("b_c")).as("n_b"), max(col("b_c")).as("mx_b"),
        sum(col("a_c") * col("b_c")).as("dot"))
      .agg(coalesce(min(col("n_a")), lit(0L)).as("n_a"),
        coalesce(min(col("mx_a")), lit(0L)).as("mx_a"),
        coalesce(min(col("n_b")), lit(0L)).as("n_b"),
        coalesce(min(col("mx_b")), lit(0L)).as("mx_b"),
        min(when(col("dot") > 0, col("dot"))).as("est"))

  /** The join-size cells of `df[key]` (3 × 65,536). */
  private def joinCells(df: DataFrame, key: String): DataFrame =
    cells(df.select(col(key)), joinHex)

  /** DuckDB twin of [[joinCells]] over a relation `src` with a VARCHAR
    * column k — the ca/cb block both join-size oracles share.
    */
  private def cellsDuck(src: String): String = {
    def slot(r: Int) = windowDuck("k", r, joinHex)
    s"""  SELECT r, slot, COUNT(*) AS c FROM (
       |    SELECT 0 AS r, ${slot(0)} AS slot FROM $src
       |    UNION ALL SELECT 1, ${slot(1)} FROM $src
       |    UNION ALL SELECT 2, ${slot(2)} FROM $src)
       |  GROUP BY r, slot""".stripMargin
  }

  /** The oracles' per-row inner product of cells `ca` and `cb`. */
  private val dotDuck =
    """SELECT ca.r, SUM(ca.c * cb.c) AS dot
      |  FROM ca JOIN cb ON ca.r = cb.r AND ca.slot = cb.slot""".stripMargin

  /** X-SKT4 — join-cardinality estimation from count-min sketches:
    * |lineitem ⋈ orders on orderkey| estimated as the minimum over sketch
    * rows of the cell-wise inner product ([[joinSketch]]), surfaced next
    * to the exact join size. The estimate is ONE-SIDED (collisions only
    * add), so est >= exact always — exactly what a planner needs for the
    * broadcast-vs-shuffle decision at 100 TB: two fixed-size mergeable
    * sketches answer "how big is this join" without running it.
    *
    * Width matters: the collision noise is ~N_a·N_b/w, so resolving a
    * join of size J needs w >> N_a·N_b/J. Here 3 rows x 65,536 slots
    * puts the noise an order of magnitude below the signal at bench SF;
    * a 256-slot sketch (x_skt1's width, sized for heavy-hitter queries)
    * would be pure noise here. Both the cells and the inner product are
    * exact integer arithmetic, so the estimate itself hash-matches the
    * oracle. With no matched slot the oracle's `FROM exact, ip` is empty,
    * and so is this.
    */
  private val skt4 = Probe(
    "x_skt4_join_size",
    s"""WITH la AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
       |ob AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
       |ca AS (
       |${cellsDuck("la")}),
       |cb AS (
       |${cellsDuck("ob")}),
       |ip AS (
       |  $dotDuck
       |  GROUP BY ca.r),
       |exact AS (
       |  SELECT COUNT(*) AS n FROM la JOIN ob ON la.k = ob.k)
       |SELECT CAST(exact.n AS BIGINT) AS n_exact, CAST(MIN(ip.dot) AS BIGINT) AS n_est
       |FROM exact, ip GROUP BY exact.n ORDER BY n_exact""".stripMargin) { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    // exact join on the raw LONG keys (cast-to-string is injective, so the
    // count is identical; long hash/compare beats string)
    val exact = li.select(col("l_orderkey").as("xk"))
      .join(o.select(col("o_orderkey").as("yk")), col("xk") === col("yk"))
      .agg(count(lit(1)).as("n_exact"))
    val est = joinSketch(joinCells(li, "l_orderkey"), joinCells(o, "o_orderkey"))
      .filter(col("est").isNotNull)
    exact.crossJoin(est).select(col("n_exact"), col("est").as("n_est"))
  }

  /** [[adviseJoin]]'s verdict: side row counts, the count-min join-size
    * estimate (one-sided: est >= exact), per-side heaviest-key UPPER
    * bounds (min over sketch rows of the max cell — count(h) <= cell in
    * every row, so the bound is sound), and the chosen strategy.
    */
  final case class JoinAdvice(nA: Long, nB: Long, estJoin: Long,
      maxKeyA: Long, maxKeyB: Long, strategy: String)

  /** Broadcast / shuffle / salt advice for an equi-join, decided from two
    * count-min sketches (x_skt4's 3×65,536 construction) WITHOUT running
    * the join — the planner question at 100 TB, answered from two
    * fixed-size mergeable summaries plus row counts:
    *
    *   - min(nA, nB) <= broadcastMaxRows             -> broadcast_a / _b
    *   - heaviest key >= skewRatio × a reducer's fair
    *     share (mx · partitions >= skewRatio · n)    -> salt
    *   - otherwise                                    -> shuffle
    *
    * The skew signal is REDUCER-RELATIVE, not mean-cell-relative: all of
    * one key's rows land on one reducer, so the straggler condition is
    * the heaviest key versus n/partitions — a fair reducer's share —
    * scaled by skewRatio. (A mean-cell rule mx >= ratio·n/w trips
    * spuriously whenever n << w, where every occupied cell beats the
    * sub-1 mean.) mx is the count-min UPPER bound on the heaviest key
    * (collision noise only adds ~n/w per cell, a vanishing fraction of
    * the n·skewRatio/partitions threshold), so the advice errs toward
    * salting — whose output is row-identical anyway (ScaleSpec).
    * Everything is exact integer arithmetic, so the whole advice —
    * including the strategy string — is oracle-checkable (x_skt6).
    * Cost: ONE action — the [[joinSketch]] row, each side scanned once;
    * never the data join itself. No matched slot gives estJoin = 0.
    */
  def adviseJoin(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
      broadcastMaxRows: Long = 1000000L, skewRatio: Long = 8L,
      partitions: Int = 32): JoinAdvice = {
    val r = joinSketch(joinCells(a, keyA), joinCells(b, keyB)).collect()(0)
    val (na, mka, nb, mkb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val est = if (r.isNullAt(4)) 0L else r.getLong(4)
    JoinAdvice(na, nb, est, mka, mkb,
      strategyFor(na, nb, mka, mkb, broadcastMaxRows, skewRatio, partitions))
  }

  /** The decision rule, shared with the x_skt6 oracle: integer-exact
    * (the reducer-share comparison cross-multiplied, no division).
    */
  def strategyFor(na: Long, nb: Long, mka: Long, mkb: Long,
      broadcastMaxRows: Long, skewRatio: Long, partitions: Int): String =
    if (math.min(na, nb) <= broadcastMaxRows) {
      if (na <= nb) "broadcast_a" else "broadcast_b"
    } else if (mka * partitions >= skewRatio * na || mkb * partitions >= skewRatio * nb)
      "salt"
    else "shuffle"

  /** X-SKT6 — the join ADVISOR wired to the x_skt4 primitive
    * ([[adviseJoin]]): side counts, count-min join-size estimate,
    * per-side heaviest-key upper bounds, and the broadcast/salt/shuffle
    * verdict for lineitem ⋈ orders — every number AND the strategy string
    * recomputed relationally by the oracle (thresholds here force the
    * non-broadcast path so the skew rule is exercised; ScaleSpec drives
    * all three branches on planted shapes against actual join plans).
    */
  private val skt6 = Probe(
    "x_skt6_join_advice",
    s"""WITH la AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
       |ob AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
       |ca AS (
       |${cellsDuck("la")}),
       |cb AS (
       |${cellsDuck("ob")}),
       |sa AS (SELECT MIN(n) AS n, MIN(mx) AS mx
       |       FROM (SELECT r, SUM(c) AS n, MAX(c) AS mx FROM ca GROUP BY r)),
       |sb AS (SELECT MIN(n) AS n, MIN(mx) AS mx
       |       FROM (SELECT r, SUM(c) AS n, MAX(c) AS mx FROM cb GROUP BY r)),
       |ip AS (SELECT MIN(dot) AS est FROM (
       |  $dotDuck GROUP BY ca.r))
       |SELECT CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       |  CAST(COALESCE(ip.est, 0) AS BIGINT) AS est_join,
       |  CAST(sa.mx AS BIGINT) AS max_key_a, CAST(sb.mx AS BIGINT) AS max_key_b,
       |  CASE WHEN LEAST(sa.n, sb.n) <= 1000
       |         THEN CASE WHEN sa.n <= sb.n THEN 'broadcast_a' ELSE 'broadcast_b' END
       |       WHEN sa.mx * 32 >= 8 * sa.n OR sb.mx * 32 >= 8 * sb.n THEN 'salt'
       |       ELSE 'shuffle' END AS strategy
       |FROM sa, sb, ip ORDER BY n_a""".stripMargin) { (s, dir) =>
    import s.implicits._
    val adv = adviseJoin(
      Tables(s, dir, "lineitem"), "l_orderkey",
      Tables(s, dir, "orders"), "o_orderkey",
      broadcastMaxRows = 1000L, skewRatio = 8L)
    Seq(adv).toDS().select(
      col("nA").as("n_a"), col("nB").as("n_b"), col("estJoin").as("est_join"),
      col("maxKeyA").as("max_key_a"), col("maxKeyB").as("max_key_b"),
      col("strategy"))
      .orderBy("n_a")
  }

  // ----------------------------------------------------------------- KMV

  private val kmvK = 64

  /** X-SKT2 — KMV (k-minimum-values) distinct-count sketch: per language,
    * the number of DISTINCT token bigrams estimated from only the k = 64
    * smallest md5 fractions, surfaced next to the exact count so the
    * estimation error is visible in the checked output.
    *
    * The estimator is the classic (k-1)/h_(k) with h the hash mapped to
    * (0,1); when a group has <= k distinct values the sketch IS the exact
    * set. The hash fraction is the first 12 md5 hex digits over 2^48 —
    * integer-exact on both engines, and the division by a power of two is
    * exact in doubles, so even the ESTIMATE hash-matches cross-engine.
    *
    * Scale story: KMV state is k values per group, merge = k-smallest of
    * the union (associative/commutative), so shards sketch independently
    * and combine without re-reading text — the spec pins merge == direct.
    * The declarative form here ranks the distinct stream with a window (its
    * exact-oracle twin); a production aggregate holds a bounded k-heap, but
    * the algebra and the result are identical by the merge property.
    */
  private val skt2 = Probe(
    "x_skt2_kmv_distinct",
    s"""WITH bg AS (
       |  SELECT DISTINCT lang, ws[i] || ' ' || ws[i+1] AS b
       |  FROM (SELECT lang, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |        WHERE len(${CleanFns.tokensDuck("text")}) >= 2),
       |       UNNEST(generate_series(1, len(ws) - 1)) AS t(i)),
       |h AS (
       |  SELECT lang, b,
       |         CAST(CAST('0x' || substr(md5(b), 1, 12) AS BIGINT) AS DOUBLE) / 281474976710656 AS f
       |  FROM bg),
       |r AS (
       |  SELECT lang, f, row_number() OVER (PARTITION BY lang ORDER BY f, b) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n_exact
       |  FROM h)
       |SELECT lang, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
       |       CAST(CASE WHEN MAX(n_exact) <= $kmvK THEN MAX(n_exact)
       |                 ELSE CAST(round(($kmvK - 1) / MAX(CASE WHEN rn = $kmvK THEN f END), 0) AS BIGINT)
       |            END AS BIGINT) AS n_est
       |FROM r WHERE rn <= $kmvK
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    kmvDistinctBigrams(Tables(s, dir, "documents")).orderBy("lang")
  }

  /** Distinct bigrams per language with KMV hash fractions — shared by the
    * probe and the spec's merge-property pin.
    */
  def bigramFractions(docs: DataFrame): DataFrame = docs
    .select(col("lang"), CleanFns.tokens(col("text")).as("ws"))
    .filter(size(col("ws")) >= 2)
    .select(col("lang"), explode(expr(
      "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"))
      .as("b"))
    .distinct()
    .withColumn("f",
      expr("CAST(conv(substr(md5(b), 1, 12), 16, 10) AS DOUBLE) / 281474976710656"))

  /** (lang, n_exact, n_est): exact distinct-bigram count next to the KMV
    * k=64 estimate.
    */
  def kmvDistinctBigrams(docs: DataFrame, k: Int = kmvK): DataFrame = {
    val h = bigramFractions(docs)
    val w = Window.partitionBy(col("lang")).orderBy(col("f"), col("b"))
    val wAll = Window.partitionBy(col("lang"))
    h.withColumn("rn", row_number().over(w))
      .withColumn("n_exact", count(lit(1)).over(wAll))
      .filter(col("rn") <= k)
      .groupBy(col("lang"))
      .agg(max(col("n_exact")).cast("long").as("n_exact"),
        max(when(col("rn") === k, col("f"))).as("__fk"))
      .withColumn("n_est",
        when(col("n_exact") <= k, col("n_exact"))
          .otherwise(round(lit(k - 1) / col("__fk"), 0).cast("long")))
      .select(col("lang"), col("n_exact"), col("n_est"))
  }

  // ----------------------------------------------------- histogram sketch

  private val histBins = 32
  private val histWidth = 20 // n_chars domain [0, 640); overflow clamps

  /** X-SKT3 — histogram quantile sketch: per-language p50/p90 of document
    * length estimated from a FIXED 32-bin equi-width histogram (bin
    * addition = merge, like the count-min cells), surfaced next to the
    * exact percentiles so the binning error is visible in the checked
    * output.
    *
    * The estimator is standard linear interpolation inside the bin that
    * crosses the target rank: est = lo + width * (q*n - cum_below) / c.
    * The histogram state is 32 longs per group at ANY corpus size, and the
    * bin domain is FIXED (not data-dependent) so the sketch needs no
    * pre-pass and merges across shards/epochs — the property t-digest
    * buys with far more machinery. Exact percentiles need a per-group
    * sort; the sketch answers from kilobytes.
    */
  private val skt3 = Probe(
    "x_skt3_histogram_quantiles",
    s"""WITH h AS (
       |  SELECT lang, LEAST(CAST(n_chars // $histWidth AS INT), ${histBins - 1}) AS bin, COUNT(*) AS c
       |  FROM documents GROUP BY lang, LEAST(CAST(n_chars // $histWidth AS INT), ${histBins - 1})),
       |cum AS (
       |  SELECT lang, bin, c, SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cs,
       |         SUM(c) OVER (PARTITION BY lang) AS n
       |  FROM h),
       |est AS (
       |  SELECT q.q, cum.lang,
       |         bin * $histWidth + $histWidth * (q.q * n - (cs - c)) / c AS e,
       |         row_number() OVER (PARTITION BY q.q, lang ORDER BY bin) AS rn
       |  FROM cum, (SELECT UNNEST([0.5, 0.9]) AS q) q
       |  WHERE cs >= q.q * n),
       |ex AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50x,
       |         percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars) AS p90x
       |  FROM documents GROUP BY lang)
       |SELECT ex.lang, ex.n_docs,
       |       round(ex.p50x, 4) AS p50_exact, round(MAX(CASE WHEN e50.rn = 1 THEN e50.e END), 4) AS p50_est,
       |       round(ex.p90x, 4) AS p90_exact, round(MAX(CASE WHEN e90.rn = 1 THEN e90.e END), 4) AS p90_est
       |FROM ex
       |JOIN est e50 ON e50.lang = ex.lang AND e50.q = 0.5
       |JOIN est e90 ON e90.lang = ex.lang AND e90.q = 0.9
       |GROUP BY ex.lang, ex.n_docs, ex.p50x, ex.p90x
       |ORDER BY ex.lang""".stripMargin) { (s, dir) =>
    histogramQuantiles(Tables(s, dir, "documents")).orderBy("lang")
  }

  /** The 32-cell per-group histogram (lang, bin, c) — the mergeable sketch
    * state (bin addition), shared by the probe and the spec's merge pin.
    */
  def histCells(docs: DataFrame): DataFrame = docs
    .groupBy(col("lang"),
      least((col("n_chars") / histWidth).cast("int"), lit(histBins - 1)).as("bin"))
    .agg(count(lit(1)).as("c"))

  /** (lang, n_docs, p50_exact, p50_est, p90_exact, p90_est). */
  def histogramQuantiles(docs: DataFrame): DataFrame = {
    val cum = histCells(docs)
      .withColumn("cs", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val qs = docs.sparkSession.range(1)
      .select(explode(array(lit(0.5), lit(0.9))).as("q"))
    val est = cum.join(broadcast(qs))
      .filter(col("cs") >= col("q") * col("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q"), col("lang")).orderBy(col("bin"))))
      .filter(col("rn") === 1)
      .withColumn("e",
        col("bin") * histWidth + lit(histWidth) * (col("q") * col("n") - (col("cs") - col("c"))) / col("c"))
      .select(col("q"), col("lang"), col("e"))
    val ex = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("p50x"),
        expr("percentile(n_chars, 0.9)").as("p90x"))
    ex
      .join(est.filter(col("q") === 0.5).select(col("lang"), col("e").as("e50")), "lang")
      .join(est.filter(col("q") === 0.9).select(col("lang"), col("e").as("e90")), "lang")
      .select(col("lang"), col("n_docs"),
        round(col("p50x"), 4).as("p50_exact"), round(col("e50"), 4).as("p50_est"),
        round(col("p90x"), 4).as("p90_exact"), round(col("e90"), 4).as("p90_est"))
  }

  // --------------------------------------------------------- HyperLogLog

  private val hllM = 64 // registers (p = 6)

  /** The per-(lang, register) HLL state: max over hashed values of
    * (leading zeros in the 48-bit suffix + 1). Integer-exact on both
    * engines via length(bin(w)) = floor(log2 w) + 1; merge = MAX per
    * register (idempotent, commutative — shards sketch independently,
    * the spec pins sharded == whole).
    */
  def hllRegisters(docs: DataFrame): DataFrame = docs
    .select(col("lang"), explode(CleanFns.tokens(col("text"))).as("tok"))
    .select(col("lang"),
      (hexWindow(md5(col("tok")), 0, 2).cast("long") % hllM).as("idx"),
      hexWindow(md5(col("tok")), 2, 12).cast("long").as("wv"))
    .withColumn("rank", when(col("wv") === 0, lit(49L))
      .otherwise(lit(49L) - length(expr("bin(wv)"))))
    .groupBy("lang", "idx").agg(max(col("rank")).as("m"))

  /** (lang, n_exact, n_est) from the 64-register state. Σ 2^−M is a sum of
    * exact dyadics (multiples of 2⁻⁴⁹ totalling < 64) so it is EXACT and
    * order-independent in doubles; the only inexact steps are the final
    * α·m²/denom and the ln of the small-range correction, identical
    * single IEEE ops in both engines.
    */
  def hllDistinct(docs: DataFrame): DataFrame = {
    val alpha = 0.7213 / (1 + 1.079 / hllM)
    val reg = hllRegisters(docs)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_present"),
        sum(pow(lit(2.0), -col("m"))).as("s2"))
      .withColumn("zeros", lit(hllM) - col("n_present"))
      .withColumn("raw", lit(alpha * hllM * hllM) / (col("zeros") + col("s2")))
      .withColumn("n_est",
        when(col("raw") <= 2.5 * hllM && col("zeros") > 0,
          round(lit(hllM.toDouble) * log(lit(hllM.toDouble) / col("zeros")), 0))
          .otherwise(round(col("raw"), 0)).cast("long"))
    val exact = docs
      .select(col("lang"), explode(CleanFns.tokens(col("text"))).as("tok"))
      .groupBy("lang").agg(count_distinct(col("tok")).as("n_exact"))
    exact.join(reg.select(col("lang"), col("n_est")), "lang")
      .select(col("lang"), col("n_exact"), col("n_est"))
  }

  /** X-SKT5 — HyperLogLog distinct-token counts per language, exact count
    * beside the estimate so the sketch error is itself checked. The
    * complement of x_skt2's KMV: HLL state is 64 six-bit registers that
    * merge by MAX (KMV merges by k-smallest-of-union); at 100 TB both
    * sketch in one map-side-combined pass, but HLL's state is constant
    * bytes per group at ANY k. The oracle rebuilds registers, the dyadic
    * sum, and both estimator branches relationally.
    */
  private val skt5 = Probe(
    "x_skt5_hll_distinct",
    s"""WITH tok AS (
       |  SELECT lang, UNNEST(${CleanFns.tokensDuck("text")}) AS tok FROM documents),
       |h AS (
       |  SELECT lang,
       |    CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) % $hllM AS idx,
       |    CAST('0x' || substr(md5(tok), 3, 12) AS BIGINT) AS wv
       |  FROM tok),
       |reg AS (
       |  SELECT lang, idx,
       |    MAX(CASE WHEN wv = 0 THEN 49 ELSE 49 - length(bin(wv)) END) AS m
       |  FROM h GROUP BY lang, idx),
       |agg AS (
       |  SELECT lang, COUNT(*) AS n_present, SUM(power(2.0, -m)) AS s2
       |  FROM reg GROUP BY lang),
       |est AS (
       |  SELECT lang, ($hllM - n_present) AS zeros,
       |    CAST(${0.7213 / (1 + 1.079 / hllM) * hllM * hllM} AS DOUBLE) / (($hllM - n_present) + s2) AS raw
       |  FROM agg),
       |ex AS (SELECT lang, COUNT(DISTINCT tok) AS n_exact FROM tok GROUP BY lang)
       |SELECT ex.lang, CAST(ex.n_exact AS BIGINT) AS n_exact,
       |  CAST(CASE WHEN est.raw <= ${2.5 * 64} AND est.zeros > 0
       |            THEN round($hllM.0 * ln($hllM.0 / est.zeros), 0)
       |            ELSE round(est.raw, 0) END AS BIGINT) AS n_est
       |FROM ex JOIN est ON est.lang = ex.lang
       |ORDER BY ex.lang""".stripMargin) { (s, dir) =>
    hllDistinct(Tables(s, dir, "documents")).orderBy("lang")
  }

  val all: Seq[Probe] = Seq(skt1, skt1b, skt2, skt3, skt4, skt5, skt6)
}
