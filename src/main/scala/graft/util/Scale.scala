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

  /** Output-size guardrail: bound rows per output file WITHOUT executing
    * the plan an extra time (a count-then-coalesce approach runs the whole
    * upstream twice — unacceptable when the upstream is a 100 TB join).
    * `maxRecordsPerFile` splits at write time with zero additional jobs.
    */
  def sizedWriter(df: DataFrame, targetRowsPerFile: Long)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.option("maxRecordsPerFile", targetRowsPerFile)
}
