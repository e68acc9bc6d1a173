package graft

import graft.functions.RollingHash.rolling_hash
import org.apache.spark.sql.functions._

/** Native rolling_hash and dot_d expressions: known values, SQL
  * registration, and interpreted ≡ codegen agreement (SQL text ≡ Column
  * API for every registered function is NativeFunctionsSpec's table).
  */
class RollingHashSpec extends SparkSuite {
  import spark.implicits._

  test("known values via the Column API") {
    val out = Seq("ab", "", "the fast key").toDF("t")
      .select(rolling_hash(col("t"))).collect().map(_.getLong(0)).toSeq
    // 'ab' = 97*31 + 98; '' folds to 0
    assert(out == Seq(3105L, 0L, 708149544L))
  }

  test("SQL registration via GraftExtensions") {
    GraftExtensions.register(spark)
    Seq("hello world").toDF("t").createOrReplaceTempView("rh_in")
    val viaSql = spark.sql("SELECT rolling_hash(t) FROM rh_in").collect()(0).getLong(0)
    val viaCol = Seq("hello world").toDF("t")
      .select(rolling_hash(col("t"))).collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }

  test("dot_d: known values and codegen ≡ interpreted") {
    GraftExtensions.register(spark)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val viaCodegen = df.select(expr("dot_d(a, b)")).collect()(0).getDouble(0)
    assert(viaCodegen == 32.0) // 4 + 10 + 18
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(expr("dot_d(a, b)")).collect()(0).getDouble(0)
      assert(interp == viaCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // equals the HOF formulation bit-for-bit
    val hof = df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
      .collect()(0).getDouble(0)
    assert(hof == viaCodegen)
  }

  test("dot_d: mismatched lengths yield NULL (matches HOF zip_with padding)") {
    GraftExtensions.register(spark)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
    assert(df.select(expr("dot_d(a, b)")).collect()(0).isNullAt(0))
    // same as the HOF formulation: zip_with pads with null -> sum is null
    assert(df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
      .collect()(0).isNullAt(0))
    // interpreted path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(df.select(expr("dot_d(a, b)")).collect()(0).isNullAt(0))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("type mismatches fail at analysis, not with silent garbage") {
    GraftExtensions.register(spark)
    // dot_d on ARRAY<FLOAT> (un-cast) must be rejected
    val floats = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val e1 = intercept[Exception] {
      floats.selectExpr("dot_d(embedding, embedding)").collect()
    }
    assert(e1.getMessage.contains("ARRAY<DOUBLE>") || e1.getMessage.contains("DATATYPE"), e1.getMessage)
    // rolling_hash on BIGINT must be rejected
    val e2 = intercept[Exception] {
      floats.selectExpr("rolling_hash(vec_id)").collect()
    }
    assert(e2.getMessage.contains("STRING") || e2.getMessage.contains("DATATYPE"), e2.getMessage)
  }

  test("interpreted path equals codegen path") {
    val data = Seq("a", "abcdefghij", "the batch value merge line", "ズ unicode ズ")
    val codegen = data.toDF("t").select(rolling_hash(col("t"))).collect().map(_.getLong(0)).toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = data.toDF("t").select(rolling_hash(col("t"))).collect().map(_.getLong(0)).toSeq
      assert(interp == codegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
