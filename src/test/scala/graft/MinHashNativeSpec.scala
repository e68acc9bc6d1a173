package graft

import graft.functions.MinHashBands
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native minhash_bands expression must reproduce the declarative
  * minhashBands signatures exactly, and its interpreted and codegen paths
  * must agree.
  */
class MinHashNativeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("expression == declarative minhashBands on the whole corpus") {
    val docs = Tables(spark, dir, "documents")
    val native = docs
      .select(col("doc_id"),
        posexplode(MinHashBands.minhash_bands(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("band"), col("col").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val declarative = ext.Dedup.minhashBands(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(native.nonEmpty && native == declarative)
  }

  test("interpreted == codegen; short docs yield an empty array") {
    val s = spark
    import s.implicits._
    val cases = Seq("", "one", "one two", "one two three",
      "a b c d e f g", ("tok " * 40).trim)
    val viaCodegen = cases.toDF("text")
      .select(MinHashBands.minhash_bands(col("text")))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val viaEval = cases.map { t =>
      val arr = MinHashBands(org.apache.spark.sql.catalyst.expressions.Literal(t))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString).toSeq
    }
    assert(viaCodegen == viaEval)
    // < 3 words -> no bands (matches the declarative size >= 3 filter)
    assert(viaEval.take(3).forall(_.isEmpty))
    assert(viaEval.drop(3).forall(a => a.length == 2 && a.forall(_.length == 32)))
    // determinism
    assert(MinHashBands.compute(UTF8String.fromString("x y z")).toString ==
      MinHashBands.compute(UTF8String.fromString("x y z")).toString)
  }

  test("x_ded2b result set == x_ded2 result set") {
    val a = SparkEntry.queries("x_ded2_minhash_lsh")(spark, dir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache() // ded2 persists its band frame
    val b = SparkEntry.queries("x_ded2b_minhash_native")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }
}
