package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ext.LanguageModels
import graft.functions.KnNll

/** Trigram interpolated Kneser-Ney: native ≡ declarative on the real
  * corpus (both regimes), interpreted ≡ codegen, store round-trip,
  * loud gate, and a hand-computed exact value pinning the D = 0.75
  * interpolation arithmetic end to end.
  */
class KnLmSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables(spark, dir, "documents")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("native scorer == declarative knScore on the real corpus") {
    val idx = LanguageModels.knIndex(docs)
    assert(rows(LanguageModels.knScoreNative(docs, idx)) ==
      rows(LanguageModels.knScore(docs, docs)))
  }

  test("held-out regime: native == declarative through all three backoffs") {
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val heldOut = docs.filter(col("doc_id") % 10 === 0)
    assert(rows(LanguageModels.knScoreNative(heldOut, LanguageModels.knIndex(train))) ==
      rows(LanguageModels.knScore(train, heldOut)))
  }

  test("interpreted eval == codegen-backed DataFrame result") {
    val train = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"))
      .toDF("doc_id", "text")
    val idx = LanguageModels.knIndex(train)
    val texts = Seq("alpha beta gamma delta", "unseen words entirely here",
      "beta gamma epsilon", "two tokens", "one", "")
    val viaDf = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = LanguageModels.knScoreNative(viaDf, idx)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val e = KnNll(
      org.apache.spark.sql.catalyst.expressions.Literal.create("x",
        org.apache.spark.sql.types.StringType),
      idx.h3s.map(UTF8String.fromString).toArray, idx.c3s.toArray,
      idx.habs.map(UTF8String.fromString).toArray, idx.ctx2s.toArray, idx.n3fs.toArray,
      idx.hbcs.map(UTF8String.fromString).toArray, idx.cont3s.toArray,
      idx.hbs.map(UTF8String.fromString).toArray, idx.mids.toArray, idx.n2fs.toArray,
      idx.cs.map(UTF8String.fromString).toArray, idx.cont2s.toArray,
      idx.bt, idx.v)
    texts.zipWithIndex.foreach { case (t, i) =>
      val interp = e.compute(UTF8String.fromString(t))
      if (interp == null) assert(!native.contains(i.toLong), s"'$t' should be filtered")
      else assert(native(i.toLong) == ((interp.getLong(0), interp.getDouble(1))),
        s"'$t': interpreted ${interp} != codegen ${native(i.toLong)}")
    }
    // the three sub-trigram rows really were dropped
    assert(native.size == 3)
  }

  test("hand-computed exact value: single trigram, D = 0.75 interpolation") {
    // train = score = "x y z": one trigram type; B = 2 bigram types
    // {(x,y),(y,z)}; V = 3; cont2(z) = 1.
    //   p1 = (1+1)/(2+3)                     = 0.4
    //   p2 = (max(1-0.75,0) + 0.75·1·0.4)/1  = 0.55
    //   p3 = (max(1-0.75,0) + 0.75·1·0.55)/1 = 0.6625
    val one = Seq((1L, "x y z")).toDF("doc_id", "text")
    val expected = BigDecimal(-math.log(0.6625))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(LanguageModels.knScore(one, one)) == Seq((1L, 1L, expected)))
    assert(rows(LanguageModels.knScoreNative(one, LanguageModels.knIndex(one))) ==
      Seq((1L, 1L, expected)))
  }

  test("fully-unseen text hits the continuation-unigram floor ln(B + V)") {
    // every trigram backs off to p1 with cont2 = 0: p = 1/(B+V)
    val train = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text") // B=3, V=4
    val out = LanguageModels.knScoreNative(
      Seq((9L, "nu xi omicron pi")).toDF("doc_id", "text"), LanguageModels.knIndex(train)).collect()
    assert(out.length == 1 && out(0).getLong(1) == 2L)
    assert(math.abs(out(0).getDouble(2) - math.log(7.0)) < 1e-6)
  }

  test("persisted KN store round-trips to the identical native index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kn_rt").toString
    try {
      LanguageModels.buildKn(docs, tmp)
      val loaded = LanguageModels.loadKnIndex(spark, tmp)
      val direct = LanguageModels.knIndex(docs)
      assert(loaded == direct)
      val stored = LanguageModels.knScoreWithTok(
        docs.select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("ws")),
        LanguageModels.loadKnTables(spark, tmp))
      assert(rows(stored) == rows(LanguageModels.knScore(docs, docs)))
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }

  test("Corpus.withKnScore routes match the probe algebra (self, reference, store)") {
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] = df
      .select("doc_id", "kn_avg").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // reference regime: native scorer == declarative join
    val got = scores(graft.api.Corpus(shard).withKnScore(ref).df)
    val want = LanguageModels.knScore(ref, shard).collect()
      .map(r => r.getLong(0) -> Some(r.getDouble(2))).toMap
    assert(got.size == shard.count())
    want.foreach { case (id, v) => assert(got(id) == v) }
    // self-scored regime carries every doc, scored or NULL (< 3 tokens)
    val self = scores(graft.api.Corpus(docs).withKnScore().df)
    assert(self.size == docs.count())
    // store regime == reference regime on the same model corpus
    val tmp = java.nio.file.Files.createTempDirectory("graft_kn_api").toString
    try {
      LanguageModels.buildKn(ref, tmp)
      assert(scores(graft.api.Corpus(shard).withKnScoreFromStore(tmp).df) == got)
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }

  test("incremental type-store merge == full retrain, table for table") {
    val s = spark
    import s.implicits._
    // overlap is the hard case: "the quick fox" trigram types live in
    // BOTH halves, shared contexts/middles/continuations across sides
    val base = Seq(
      (1L, "the quick fox jumps over the lazy dog"),
      (2L, "the quick fox runs far")).toDF("doc_id", "text")
    val shard = Seq(
      (3L, "the quick fox jumps again and again"),
      (4L, "a new shard with new words")).toDF("doc_id", "text")
    val full = base.unionAll(shard)
    val p = graft.util.TempDirs.scratch("kn_inc_spec")
    LanguageModels.buildKnTypes(base, s"$p/base")
    LanguageModels.mergeKnTypes(s, s"$p/base", shard, s"$p/merged")
    val inc = LanguageModels.loadKnTypes(s, s"$p/merged")
    val retrain = LanguageModels.knTables(full)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    assert(rows(inc.t3) == rows(retrain.t3))
    assert(rows(inc.ctx) == rows(retrain.ctx))
    assert(rows(inc.bc) == rows(retrain.bc))
    assert(rows(inc.mid) == rows(retrain.mid))
    assert(rows(inc.u2) == rows(retrain.u2))
    assert(rows(inc.sc) == rows(retrain.sc))
    // and the scored output is identical too
    val a = LanguageModels.knScoreWithTok(
      full.select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("ws")),
      inc).orderBy("doc_id").collect().toSeq
    val b = LanguageModels.knScore(full, full).orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("index build refuses tables beyond the broadcast-regime ceiling, loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kn_gate").toString
    try {
      LanguageModels.buildKn(docs, tmp)
      // the build path and the store-load path share one gate
      for ((path, build) <- Seq[(String, Long => Any)](
          "build" -> (m => LanguageModels.knIndex(docs, maxEntries = m)),
          "store load" -> (m => LanguageModels.loadKnIndex(spark, tmp, maxEntries = m)))) {
        val e = intercept[IllegalArgumentException](build(10L))
        assert(e.getMessage.contains("join form"),
          s"$path gate must name the scale route: ${e.getMessage}")
      }
      assert(LanguageModels.knIndex(docs).v > 0) // real corpus is under the default gate
      assert(LanguageModels.loadKnIndex(spark, tmp).v > 0)
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }

  test("index build and store load submit no more Spark jobs than the count-then-collect") {
    // measured before the shared collect (sf0.001, local[4]): knIndex 26
    // jobs (persist, count, collect), loadKnIndex 9 (count, collect)
    val tmp = java.nio.file.Files.createTempDirectory("graft_kn_jobs").toString
    try {
      LanguageModels.buildKn(docs, tmp)
      val (_, build) = JobCounter(spark)(LanguageModels.knIndex(docs))
      val (_, load) = JobCounter(spark)(LanguageModels.loadKnIndex(spark, tmp))
      assert(build <= 26, s"knIndex submitted $build jobs")
      assert(load <= 9, s"loadKnIndex submitted $load jobs")
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }
}
