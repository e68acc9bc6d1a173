package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-text surface for graft's native functions: `spark.sql`, `expr`
  * and `selectExpr` strings that name them.
  *
  * Operators and the `graft.functions` Column APIs do not need this: they
  * build their expressions directly and run on any session. Only SQL text
  * resolves names through the session's function registry, which gets the
  * functions from either
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) or
  * `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, build) =>
      // the same info the registry records for `register`'s temp functions
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(build.getClass.getName, name), build))
    }
}

object GraftExtensions {
  /** Every native function by SQL name, with its builder from argument
    * expressions. Both `apply` and `register` read this table.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> (e => RollingHash(e.head)),
    "dot_d" -> (e => DotProduct(e.head, e(1))),
    "simhash32" -> (e => SimHash32(e.head)),
    "minhash_bands" -> (e => MinHashBands(e.head)),
    "sorted_count_in" -> (e => SortedCountIn(e.head, e(1))),
    "ngram_md5" -> (e => NgramMd5(e.head, e(1))),
    "quality_signals" -> (e => QualitySignals(e.head)),
    "bloom_hits" -> (e => BloomHits(e.head, e(1),
      e(2).eval().asInstanceOf[Int], e(3).eval().asInstanceOf[Int])),
    "bpe_count" -> (e => BpeCount(e.head)),
    "min_seg_count" -> (e => MinSeg(e.head, e(1))),
    "lev_bytes" -> (e => LevBytes(e.head, e(1))),
    "lm_nll" -> LmNll.build,
    "kn_nll" -> KnNll.build,
    "nfkc_casefold" -> (e => NfkcCasefold(e.head)),
    "repetition_signals" -> (e => RepetitionSignals(e.head)),
    "min_seg_cost" -> (e => MinSegCost(e.head, e(1), e(2), e(3))),
    "min_seg_pieces" -> (e => MinSegPieces(e.head, e(1), e(2), e(3))),
    "canonical_url" -> (e => CanonicalUrl(e.head)),
    "resolve_href" -> (e => ResolveHref(e.head, e(1))))

  /** Registers the functions as temp functions on an already-built
    * session, for SQL text only.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}
