package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: the patterns that keep plans healthy at 100 TB.
  * Correctness of saltedJoin is pinned by ScaleSpec against a plain join.
  */
object Scale {

  /** Salted inner equi-join for skewed keys.
    *
    * The skewed (large) side gets a per-row uniform salt; the small side is
    * exploded ×`salts`. The join key becomes (key, salt), splitting a hot
    * key's rows across `salts` reducers instead of one straggler task.
    * The salt is rand-based ON PURPOSE: a row-content hash would send
    * identical duplicate rows of the hot key to one bucket (no mitigation
    * for duplicate-heavy skew) and cannot hash map-typed columns. Which
    * salt a row draws is irrelevant to the RESULT of an inner equi-join —
    * every salt value has a matching small-side replica — so the output is
    * row-identical to `big.join(small, key)` (pinned by ScaleSpec) even
    * though the routing is nondeterministic. (With AQE's skewedJoin
    * enabled Spark can split skew at runtime; explicit salting is for
    * paths AQE can't see.)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      floor(rand(42) * salts).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Deterministic bucket id for co-located joins / bucketed sinks: rows
    * with equal keys land in equal buckets on every engine and every run.
    */
  def bucketOf(key: Column, buckets: Int): Column = pmod(hash(key), lit(buckets))

  /** Z-order (Morton) interleave of two non-negative keys, `bits` bits
    * each: bit i of x lands at position 2i, bit i of y at 2i+1. Sorting by
    * this value clusters BOTH dimensions simultaneously — every contiguous
    * 1/4^k slice of the curve is a quadrant — so range predicates on
    * either column skip most files via parquet min/max stats. This is the
    * layout step behind Delta/Iceberg Z-ORDER compaction; pure bit
    * arithmetic, identical in any engine. Callers mask inputs into
    * [0, 2^bits) first (e.g. `pmod(k, lit(1L << bits))`).
    */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

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
    * Cost: one aggregation pass per side + one 65,536-slot join; never
    * the data join itself.
    */
  def adviseJoin(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
      broadcastMaxRows: Long = 1000000L, skewRatio: Long = 8L,
      partitions: Int = 32): JoinAdvice =
    adviseFrom(cmCells(a, keyA), cmCells(b, keyB),
      broadcastMaxRows, skewRatio, partitions)

  /** ONE action over both sketches (was: 2 persist materializations + 3
    * collects — 5 driver round-trips whose fixed job cost dwarfed the
    * kilobytes of cells moved; guide §1.2 "don't compute things you
    * throw away" applied to jobs). The per-side stats and the cell-wise
    * inner product all aggregate from one tagged union: per (r, slot)
    * the a/b cell counts meet, per r the row stats and the dot product
    * reduce, and the final min-over-rows collapses to a single collected
    * row. Each side's data is scanned exactly once, no persist needed —
    * every cmCells subtree appears once in the one plan.
    */
  private def adviseFrom(ca: DataFrame, cb: DataFrame,
      broadcastMaxRows: Long, skewRatio: Long, partitions: Int): JoinAdvice = {
    val cells = ca.select(col("r"), col("slot"), col("c").as("a_c"), lit(0L).as("b_c"))
      .unionAll(cb.select(col("r"), col("slot"), lit(0L).as("a_c"), col("c").as("b_c")))
    // coalesce: an EMPTY side aggregates to NULLs (zero rows, zero
    // heaviest key) — advice must degrade to broadcast, not NPE
    val r = cells
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
        // the x_skt6 oracle's inner join: a row with no matched slot
        // (dot = 0) takes no part in the min; no match in any row -> 0
        coalesce(min(when(col("dot") > 0, col("dot"))), lit(0L)).as("est"))
      .collect()(0)
    val (na, mka, nb, mkb, est) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    JoinAdvice(na, nb, est, mka, mkb,
      strategyFor(na, nb, mka, mkb, broadcastMaxRows, skewRatio, partitions))
  }

  /** x_skt4's count-min cells for `df[key]`: (r 0..2, slot = disjoint
    * 4-hex md5 window, c) — the k-from-one-hash construction.
    */
  def cmCells(df: DataFrame, key: String): DataFrame = df
    .select(col(key).cast("string").as("k"))
    // md5 once per row in a projection: the generator input below gets no
    // subexpression elimination, so inlining the digest into the three
    // struct fields evaluated it three times per row (r17 plan audit)
    .select(md5(col("k")).as("m"))
    .select(explode(array((0 until 3).map(r =>
      struct(lit(r).as("r"), substring(col("m"), 1 + 4 * r, 4).as("slot"))): _*))
      .as("rs"))
    .groupBy(col("rs.r").as("r"), col("rs.slot").as("slot"))
    .agg(count(lit(1)).as("c"))

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

  /** Output-size guardrail: bound rows per output file WITHOUT executing
    * the plan an extra time (a count-then-coalesce approach runs the whole
    * upstream twice — unacceptable when the upstream is a 100 TB join).
    * `maxRecordsPerFile` splits at write time with zero additional jobs.
    */
  def sizedWriter(df: DataFrame, targetRowsPerFile: Long)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.option("maxRecordsPerFile", targetRowsPerFile)
}
