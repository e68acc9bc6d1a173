package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.PipelineOps5

/** Round-5 curation operators: skew-safe per-group caps and corpus
  * boilerplate scoring.
  */
class PipelineOps5Spec extends SparkSuite {

  test("cappedPerGroup == naive single window on a skewed fixture") {
    import spark.implicits._
    // one mega-group (4000 rows) + two small ones, scores with ties so the
    // deterministic tiebreak matters
    val rows = (0L until 4000L).map(id => (id, "big", id % 7)) ++
      (4000L until 4010L).map(id => (id, "small_a", id % 3)) ++
      (4010L until 4012L).map(id => (id, "small_b", 0L))
    val df = rows.toDF("id", "grp", "score")
    val got = PipelineOps5.cappedPerGroup(df, group = col("grp"),
        order = Seq(col("score").desc, col("id")), key = col("id"), n = lit(15))
      .select(col("id"), col("grp"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id"))
    val want = df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 15)
      .select(col("id"), col("grp"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got == want)
    // groups smaller than the cap survive whole
    assert(got.count(_._2 == "small_b") == 2)
    assert(got.count(_._2 == "big") == 15)
    // a per-row n (constant within each group): the same containment
    val budget = df.withColumn("n_take",
      when(col("grp") === "big", lit(40L)).when(col("grp") === "small_a", lit(4L))
        .otherwise(lit(5L)))
    val gotN = PipelineOps5.cappedPerGroup(budget, group = col("grp"),
        order = Seq(col("score").desc, col("id")), key = col("id"), n = col("n_take"),
        salts = 16)
      .select(col("id"), col("grp"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val wantN = budget.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= col("n_take"))
      .select(col("id"), col("grp"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(gotN == wantN)
    assert(gotN.count(_._2 == "big") == 40 && gotN.count(_._2 == "small_a") == 4 &&
      gotN.count(_._2 == "small_b") == 2)
  }

  test("boilerplateScore separates template docs from unique docs") {
    import spark.implicits._
    // 6 docs share the template trigram run "terms of service apply";
    // 2 docs are fully unique; one doc is whitespace-dirty (tabs/newlines)
    val template = (0L until 6L).map(id =>
      (id, s"terms of service apply page$id body$id"))
    val unique = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "epsilon zeta eta theta"))
    val dirty = Seq((12L, "terms  of\tservice\napply   extra words here"))
    val docs = (template ++ unique ++ dirty).toDF("doc_id", "text")
    val got = PipelineOps5.boilerplateScore(docs, minDf = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // common grams at df>=5: the template trigrams "terms of service",
    // "of service apply" appear in 6 template docs + the dirty doc (the
    // shared tokenizer collapses its whitespace runs) = df 7
    assert(got(0L)._2 == 2, s"template doc common positions: ${got(0L)}")
    assert(got(0L)._1 == 4) // 6 tokens -> 4 trigram positions
    assert(got(0L)._3 == 2L * 1000000L / 4L)
    assert(got(10L)._2 == 0 && got(10L)._3 == 0)
    assert(got(11L)._2 == 0)
    // dirty doc: tokenizer yields 7 tokens -> 5 positions, first 2 common
    assert(got(12L)._1 == 5 && got(12L)._2 == 2, s"dirty doc: ${got(12L)}")
  }

  test("sorted_count_in: known values, duplicates counted, codegen == interpreted == array_contains") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq(
      (Seq("b", "a", "b", "z", "q"), Seq("a", "b", "c")),
      (Seq("x", "y"), Seq("a", "b", "c")),
      (Seq[String](), Seq("a")),
      (Seq("a"), Seq[String]())).toDF("arr", "st")
    def run() = df.select(expr("sorted_count_in(arr, st)"))
      .collect().map(_.getLong(0)).toSeq
    val viaCodegen = run()
    assert(viaCodegen == Seq(3L, 0L, 0L, 0L)) // b,a,b all members; dups counted
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == viaCodegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // agrees with the linear-scan HOF it replaces
    val hof = df.select(
      expr("CAST(size(filter(arr, x -> array_contains(st, x))) AS BIGINT)"))
      .collect().map(_.getLong(0)).toSeq
    assert(hof == viaCodegen)
  }

  test("x_cur2 cap: every source capped at 15, priority respected") {
    val out = SparkEntry.queries("x_cur2_domain_cap")(spark, "/root/testdata/sf0.001")
      .collect()
    val bySource = out.groupBy(_.getString(1))
    assert(bySource.values.forall(_.length <= 15))
    // rnk is 1..k within each source and ordered by n_chars desc
    bySource.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      val chars = sorted.map(_.getLong(2)).toSeq
      assert(chars == chars.sorted.reverse, "within a source, rank follows n_chars desc")
    }
  }
}
