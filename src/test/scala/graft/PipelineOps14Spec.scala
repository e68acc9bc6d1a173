package graft

import org.apache.spark.sql.functions._
import graft.ext.{Sampling, TokenLayout}

/** Mixture planning: identity and skew algebra, plan → mix composition;
  * sequential packing: hand-computed placements and per-shard
  * contiguity invariants.
  */
class PipelineOps14Spec extends SparkSuite {
  import spark.implicits._

  private def corpus(masses: (String, Int)*): org.apache.spark.sql.DataFrame =
    masses.zipWithIndex.flatMap { case ((src, words), i) =>
      Seq((100L + i, (1 to words).map(w => s"t$w").mkString(" "), src))
    }.toDF("doc_id", "text", "source")

  test("mixturePlan identity: uniform corpus + uniform target -> weight 1, achieved == target") {
    val d = corpus("a" -> 100, "b" -> 100, "c" -> 100, "d" -> 100)
    val t = Seq(("a", 250000L), ("b", 250000L), ("c", 250000L), ("d", 250000L))
      .toDF("source", "target_ppm")
    val out = Sampling.mixturePlan(d, t).collect()
      .map(r => r.getString(0) -> r).toMap
    out.values.foreach { r =>
      assert(r.getAs[Long]("weight_ppm") == 1000000L)
      assert(r.getAs[Long]("achieved_ppm") == 250000L)
      assert(r.getAs[Long]("share_ppm") == 250000L)
    }
  }

  test("mixturePlan skew: weights follow the exact integer algebra") {
    val d = corpus("a" -> 100, "b" -> 200, "c" -> 700) // T = 1000
    val t = Seq(("a", 333333L), ("b", 333333L), ("c", 333334L))
      .toDF("source", "target_ppm")
    val out = Sampling.mixturePlan(d, t).collect()
      .map(r => r.getString(0) -> r).toMap
    // weight_ppm = target * T DIV tokens
    assert(out("a").getAs[Long]("weight_ppm") == 333333L * 1000 / 100)
    assert(out("b").getAs[Long]("weight_ppm") == 333333L * 1000 / 200)
    assert(out("c").getAs[Long]("weight_ppm") == 333334L * 1000 / 700)
    // achieved recomputed independently with BigInt algebra
    val nw = Map("a" -> BigInt(100) * 3333330, "b" -> BigInt(200) * 1666665,
      "c" -> BigInt(700) * 476191)
    val denom = nw.values.sum
    out.foreach { case (s, r) =>
      assert(BigInt(r.getAs[Long]("achieved_ppm")) == nw(s) * 1000000 / denom, s)
      // and the plan lands within 0.1% of the asked-for composition
      assert(math.abs(r.getAs[Long]("achieved_ppm") - r.getAs[Long]("target_ppm")) <= 1000L, s)
    }
  }

  test("mixturePlan at 10^13-token sources: DECIMAL intermediates stay exact where Long wraps") {
    // target_ppm * T = 6e5 * 2.5e13 = 1.5e19 > Long.MAX — the round-9
    // overflow hazard; the oracle-side (DuckDB) math is 128-bit, so the
    // Spark side must match BigInt exactly, not wrap.
    val counts = Seq(("a", 20000000000000L), ("b", 5000000000000L))
      .toDF("source", "n_tokens")
    val t = Seq(("a", 600000L), ("b", 400000L)).toDF("source", "target_ppm")
    val out = Sampling.mixturePlanFromCounts(counts, t).collect()
      .map(r => r.getString(0) -> r).toMap
    // independent BigInt recomputation
    val T = BigInt(25000000000000L)
    val wA = BigInt(600000) * T / BigInt(20000000000000L)
    val wB = BigInt(400000) * T / BigInt(5000000000000L)
    val denom = BigInt(20000000000000L) * wA + BigInt(5000000000000L) * wB
    assert(out("a").getAs[Long]("weight_ppm") == wA.toLong)
    assert(out("b").getAs[Long]("weight_ppm") == wB.toLong)
    assert(out("a").getAs[Long]("share_ppm") == 800000L)
    assert(out("a").getAs[Long]("achieved_ppm") ==
      (BigInt(20000000000000L) * wA * 1000000 / denom).toLong)
    assert(out("b").getAs[Long]("achieved_ppm") ==
      (BigInt(5000000000000L) * wB * 1000000 / denom).toLong)
  }

  test("mixturePlan degenerate source: weight beyond BIGINT raises loudly, never wraps") {
    // a 1-token source asked to carry half a 2e13-token corpus:
    // weight = 5e5 * 2e13 = 1e19 > Long.MAX -> raise_error, not wraparound
    val counts = Seq(("tiny", 1L), ("big", 20000000000000L))
      .toDF("source", "n_tokens")
    val t = Seq(("tiny", 500000L), ("big", 500000L)).toDF("source", "target_ppm")
    val e = intercept[Exception] {
      Sampling.mixturePlanFromCounts(counts, t).collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("overflows BIGINT")), e.getMessage)
  }

  test("plan -> mixBySourceWeights composition moves shares toward the target") {
    // MANY docs per source: fractional replication is a per-doc
    // deterministic coin, which only averages out across documents
    val d = Seq("a" -> 100, "b" -> 200, "c" -> 700).zipWithIndex.flatMap {
      case ((src, nDocs), si) => (1 to nDocs).map { i =>
        (si * 1000L + i, (1 to 10).map(w => s"t$w").mkString(" "), src)
      }
    }.toDF("doc_id", "text", "source")
    val c = graft.api.Corpus(d)
    val mixed = c.mixBySourceWeights(c.planMixture(
      Map("a" -> 333333L, "b" -> 333333L, "c" -> 333334L))).df
    val shares = mixed
      .select(col("source"), size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = shares.values.sum.toDouble
    shares.values.foreach { n =>
      assert(math.abs(n / tot - 1.0 / 3) < 0.05,
        s"post-mix share ${n / tot} should be ~1/3 (shares=$shares)")
    }
  }

  test("packPlacements: hand-computed bins and split flags in one shard") {
    // ids 0/16/32 share shard 0 (mod 16); ctx 256; masses 100/200/100
    val d = Seq(
      (0L, (1 to 100).map(i => s"a$i").mkString(" ")),
      (16L, (1 to 200).map(i => s"b$i").mkString(" ")),
      (32L, (1 to 100).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val out = TokenLayout.packPlacements(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    def row(id: Long) = {
      val r = out(id)
      (r.getAs[Long]("start_off"), r.getAs[Long]("start_bin"),
        r.getAs[Long]("end_bin"), r.getAs[Int]("is_split"))
    }
    assert(row(0L) == ((0L, 0L, 0L, 0)))      // tokens [0, 100)
    assert(row(16L) == ((100L, 0L, 1L, 1)))   // [100, 300) straddles 256
    assert(row(32L) == ((300L, 1L, 1L, 0)))   // [300, 400)
  }

  test("packPlacements: per-shard offsets are contiguous on the real corpus") {
    val out = TokenLayout.packPlacements(
      Tables(spark, "/root/testdata/sf0.001", "documents"))
    val rows = out.collect().groupBy(_.getAs[Long]("shard"))
    assert(rows.nonEmpty)
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(0))
      sorted.foldLeft(0L) { (expectOff, r) =>
        assert(r.getAs[Long]("start_off") == expectOff,
          s"gap at doc ${r.getLong(0)}")
        expectOff + r.getAs[Long]("n_tok")
      }
      rs.foreach { r =>
        assert((r.getAs[Int]("is_split") == 1) ==
          (r.getAs[Long]("end_bin") > r.getAs[Long]("start_bin")))
      }
    }
  }
}
