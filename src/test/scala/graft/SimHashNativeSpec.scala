package graft

import graft.functions.SimHash32
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native simhash32 expression must reproduce the declarative
  * simhashSig fingerprints bit for bit, and its interpreted and codegen
  * paths must agree.
  */
class SimHashNativeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("expression == declarative simhashSig on the whole corpus") {
    val docs = Tables(spark, dir, "documents")
    val native = docs
      .select(col("doc_id"), SimHash32.simhash32(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = ext.Dedup.simhashSig(docs)
      .select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty && native == declarative)
  }

  test("interpreted eval == codegen result; hand cases") {
    val s = spark
    import s.implicits._
    val cases = Seq("", " ", "a", "a a", "a b c", "the the the quick",
      ("word " * 50).trim, "ünïcode wörds here")
    // codegen path (through a projection)
    val viaCodegen = cases.toDF("text")
      .select(SimHash32.simhash32(col("text"))).collect().map(_.getLong(0)).toSeq
    // interpreted path (direct eval)
    val viaEval = cases.map(t =>
      SimHash32(org.apache.spark.sql.catalyst.expressions.Literal(t))
        .eval(null).asInstanceOf[Long])
    assert(viaCodegen == viaEval)
    // duplicate words do not double-vote: "a" and "a a" hash identically
    assert(SimHash32.compute(UTF8String.fromString("a")) ==
      SimHash32.compute(UTF8String.fromString("a a")))
    // but a genuinely different word set does not
    assert(SimHash32.compute(UTF8String.fromString("a")) !=
      SimHash32.compute(UTF8String.fromString("b")))
    // fits in 32 bits
    viaEval.foreach(v => assert(v >= 0L && v <= 0xffffffffL))
  }

  test("x_ded3c probe plans ZERO exchanges before the pair join") {
    val df = SparkEntry.queries("x_ded3c_simhash_native")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // signature generation is narrow: the only exchanges are the pair
    // join's bucket exchanges and the final rollup/sort — no exchange may
    // feed a DISTINCT/aggregate of words (simhashSig's two wide stages)
    assert(!plan.contains("HashAggregate(keys=[doc_id"), plan)
    assert(plan.contains("simhash32"), plan)
  }
}
