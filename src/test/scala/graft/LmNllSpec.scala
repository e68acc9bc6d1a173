package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ext.LanguageModels
import graft.functions.LmNll

/** Native per-row LM scorer: ≡ the declarative explode-join-aggregate
  * form on the real corpus; interpreted ≡ codegen; smoothing-floor and
  * short-document semantics pinned.
  */
class LmNllSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables(spark, dir, "documents")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("native scorer == declarative lmScore on the real corpus") {
    val idx = LanguageModels.lmIndex(docs)
    assert(rows(LanguageModels.lmScoreNative(docs, idx)) ==
      rows(LanguageModels.lmScore(docs, docs)))
  }

  test("held-out regime: native == declarative including unseen fallbacks") {
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val heldOut = docs.filter(col("doc_id") % 10 === 0)
    assert(rows(LanguageModels.lmScoreNative(heldOut, LanguageModels.lmIndex(train))) ==
      rows(LanguageModels.lmScore(train, heldOut)))
  }

  test("interpreted eval == codegen-backed DataFrame result") {
    val train = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"))
      .toDF("doc_id", "text")
    val idx = LanguageModels.lmIndex(train)
    val texts = Seq("alpha beta gamma", "unseen words entirely", "single", "")
    val viaDf = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = LanguageModels.lmScoreNative(viaDf, idx)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val e = LmNll(
      org.apache.spark.sql.catalyst.expressions.Literal.create("x", org.apache.spark.sql.types.StringType),
      idx.hbs.map(UTF8String.fromString).toArray, idx.c2s.toArray,
      idx.ws.map(UTF8String.fromString).toArray, idx.c1s.toArray, idx.v)
    texts.zipWithIndex.foreach { case (t, i) =>
      val interp = e.compute(UTF8String.fromString(t))
      if (interp == null) assert(!native.contains(i.toLong), s"'$t' should be filtered")
      else assert(native(i.toLong) == ((interp.getLong(0), interp.getDouble(1))),
        s"'$t': interpreted ${interp} != codegen ${native(i.toLong)}")
    }
    // the two short rows really were dropped (scorer emits no row for < 2 tokens)
    assert(native.size == 2)
  }

  test("persisted LM store round-trips to the identical native index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_rt").toString
    try {
      LanguageModels.buildLm(docs, tmp)
      val loaded = LanguageModels.loadLmIndex(spark, tmp)
      val direct = LanguageModels.lmIndex(docs)
      assert(loaded == direct)
      // and the join-regime scorer over the stored tables == direct lmScore
      val (uni, bgc) = LanguageModels.loadLmTables(spark, tmp)
      assert(rows(LanguageModels.lmScoreWith(docs, uni, bgc)) ==
        rows(LanguageModels.lmScore(docs, docs)))
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("index build refuses tables beyond the broadcast-regime ceiling, loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_gate").toString
    try {
      LanguageModels.buildLm(docs, tmp)
      // the build path and the store-load path share one gate
      for ((path, build) <- Seq[(String, Long => Any)](
          "build" -> (m => LanguageModels.lmIndex(docs, maxEntries = m)),
          "store load" -> (m => LanguageModels.loadLmIndex(spark, tmp, maxEntries = m)))) {
        val e = intercept[IllegalArgumentException](build(10L))
        assert(e.getMessage.contains("join form"),
          s"$path gate must name the scale route: ${e.getMessage}")
      }
      val want = LanguageModels.lmIndex(docs)
      assert(want.v > 0) // real corpus is under the default gate
      assert(LanguageModels.loadLmIndex(spark, tmp) == want)
      // a ceiling of Int.MaxValue or more collects everything: no Int overflow
      assert(LanguageModels.lmIndex(docs, maxEntries = Int.MaxValue.toLong) == want)
      assert(LanguageModels.lmIndex(docs, maxEntries = Long.MaxValue) == want)
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }

  test("index build and store load submit no more Spark jobs than the per-table collects") {
    // measured before the shared collect (sf0.001, local[4]): 4 jobs each
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_jobs").toString
    try {
      LanguageModels.buildLm(docs, tmp)
      val (_, build) = JobCounter(spark)(LanguageModels.lmIndex(docs))
      val (_, load) = JobCounter(spark)(LanguageModels.loadLmIndex(spark, tmp))
      assert(build <= 4, s"lmIndex submitted $build jobs")
      assert(load <= 4, s"loadLmIndex submitted $load jobs")
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }

  test("fully-unseen text hits the exact smoothing floor ln(V)") {
    val train = (1L to 5L).map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
    val idx = LanguageModels.lmIndex(train)
    assert(idx.v == 4L)
    val out = LanguageModels.lmScoreNative(
      Seq((9L, "nu xi omicron")).toDF("doc_id", "text"), idx).collect()
    assert(out.length == 1)
    assert(math.abs(out(0).getDouble(2) - math.log(4.0)) < 1e-6)
  }
}
