package graft

import graft.api.Corpus
import org.apache.spark.sql.functions._

/** Round-4 batch 4: context-window chunking and the corpus composition
  * report.
  */
class PipelineOps4Spec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("x_chunk1: window arithmetic on a hand-built doc") {
    val s = spark
    import s.implicits._
    // 30 tokens, window 16 stride 12 -> starts 1, 13, 25:
    //   chunk 0 = t1..t16, chunk 1 = t13..t28, chunk 2 = t25..t30 (6 toks)
    val docs = Seq((1L, (1 to 30).map(i => s"t$i").mkString(" ")),
      (2L, "solo")).toDF("doc_id", "text")
    val out = ext.TokenLayout.chunkTokenWindows(docs, 16, 12)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 16L), (1L, 16L), (2L, 6L)))
    // overlap: chunk 0 and 1 share t13..t16 but hash differently
    assert(d1.map(_.getString(3)).distinct.length == 3)
    // a 1-token doc is exactly one 1-token chunk
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 1L)))
  }

  test("x_chunk1 probe: every token covered, chunk plan is shuffle-free") {
    val docs = Tables(spark, dir, "documents")
    val out = SparkEntry.queries("x_chunk1_token_windows")(spark, dir)
    val rows = out.collect()
    // every doc present; per-doc chunk count = ceil-ish starts formula
    val perDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val expect = docs.select(col("doc_id"), size(graft.clean.CleanFns.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1) - 1) / 12 + 1)).toMap
    assert(perDoc == expect, "chunk count must equal the number of window starts")
    // chunk_idx dense from 0; token coverage: sum of non-overlap = n
    rows.groupBy(_.getLong(0)).foreach { case (_, cs) =>
      val idx = cs.map(_.getLong(1)).sorted
      assert(idx.toSeq == (0L until idx.length))
    }
    // the chunk expansion itself is narrow: no exchange before the sort
    val plan = ext.TokenLayout
      .chunkTokenWindows(docs, 16, 12).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("x_rep1: shares sum to ~1e6 and volumes reconcile with the corpus") {
    val rows = SparkEntry.queries("x_rep1_composition")(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables(spark, dir, "documents")
    val nDocs = docs.count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    val shares = rows.map(_.getLong(6)).sum
    // floor division: sum is within one ppm-unit-per-group of 1e6
    assert(shares <= 1000000L && shares >= 1000000L - rows.length)
    val chars = docs.agg(sum("n_chars")).head.getLong(0)
    assert(rows.map(_.getLong(4)).sum == chars)
    rows.foreach(r => assert(r.getLong(5) == r.getLong(3) / r.getLong(2)))
  }

  test("x_txt12: median math on a hand-built bilingual corpus") {
    val s = spark
    import s.implicits._
    // en word counts {2, 4, 6} -> median 4; fr {10, 20} -> median 15.0
    val docs = Seq(
      (1L, "a b", "en"), (2L, "a b c d", "en"), (3L, "a b c d e f", "en"),
      (4L, (1 to 10).map(_ => "w").mkString(" "), "fr"),
      (5L, (1 to 20).map(_ => "w").mkString(" "), "fr")
    ).toDF("doc_id", "text", "lang")
    val out = ext.PipelineOps4.filterByLangMedian(docs)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L, 5L),
      "keep >= own-language median: en docs 2,3 (4,6 >= 4); fr doc 5 (20 >= 15)")
    assert(out.find(_.getLong(0) == 5L).get.getDouble(3) == 15.0,
      "even-count median must interpolate")
  }

  test("x_txt12 probe: at least half of each language survives; Corpus API agrees") {
    val rows = SparkEntry.queries("x_txt12_adaptive_quality")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = Tables(spark, dir, "documents")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(1)).foreach { case (lang, kept) =>
      assert(kept.length * 2 >= total(lang), s"$lang kept ${kept.length}/${total(lang)}")
    }
    val viaApi = Corpus(spark, dir).filterByLangMedian().df
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaApi == rows.map(_.getLong(0)).sorted.toSeq)
  }

  test("x_dec4: scores reconcile with x_dec1's detection set") {
    val scores = SparkEntry.queries("x_dec4_contamination_score")(spark, dir).collect()
    assert(scores.nonEmpty)
    // every x_dec1-contaminated doc must score > 0; every other doc 0
    val dec1Ids = SparkEntry.queries("x_dec1_contamination")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    scores.foreach { r =>
      val (id, ppm) = (r.getLong(0), r.getLong(3))
      assert((ppm > 0L) == dec1Ids.contains(id),
        s"doc $id: contam_ppm=$ppm but dec1 says ${dec1Ids.contains(id)}")
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(r.getLong(2) <= r.getLong(1), "hits cannot exceed shingles")
    }
    // eval docs themselves are excluded from scoring
    assert(scores.forall(_.getLong(0) % 25 != 0))
  }

  test("x_smp5: exactly N rows, stable under repartitioning, planned as top-k") {
    val out = SparkEntry.queries("x_smp5_exact_n")(spark, dir)
    val rows = out.collect()
    assert(rows.length == 100)
    // deterministic: smallest 100 by md5 recomputed independently
    val want = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .collect().sortBy(r => (r.getString(1), r.getLong(0))).take(100)
      .map(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == want)
    // scale shape: per-partition top-k merge, not a global sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), s"global sort planned:\n$plan")
  }

  test("x_mix2: weights are upsampling-only, monotone in rarity, anchored at the majority source") {
    val rows = SparkEntry.queries("x_mix2_temperature_weights")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byN = rows.map(r => (r.getLong(1), r.getLong(2)))
    // the most common source gets exactly 1.0 (1e6 ppm); everything else >= 1e6
    val maxN = byN.map(_._1).max
    assert(byN.filter(_._1 == maxN).forall(_._2 == 1000000L))
    assert(byN.forall(_._2 >= 1000000L))
    // rarer source -> weight at least as large (sqrt is monotone)
    byN.sortBy(_._1).sliding(2).foreach {
      case Array((n1, w1), (n2, w2)) => assert(n1 > n2 || w1 >= w2, s"($n1,$w1) vs ($n2,$w2)")
      case _ =>
    }
    // spot-check the T=2 rule on one row
    val (n0, w0) = byN.minBy(_._1)
    assert(w0 == math.floor(math.sqrt(maxN.toDouble / n0.toDouble) * 1000000).toLong)
  }

  test("x_pipe2: equals the pack rule applied by hand to x_chunk1's output") {
    val chunks = SparkEntry.queries("x_chunk1_token_windows")(spark, dir).collect()
    val want = chunks
      .map(r => (r.getLong(0) / 1000, r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
        var cum = 0L
        rows.sortBy(r => (r._2, r._3)).map { case (_, _, _, n) =>
          val bin = cum / 64; cum += n; (shard, bin, n)
        }
      }
      .groupBy(t => (t._1, t._2)).map { case ((shard, bin), ts) =>
        (shard, bin, ts.size.toLong, ts.map(_._3).sum)
      }.toSeq.sorted
    val got = SparkEntry.queries("x_pipe2_chunk_pack")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // conservation: every chunk token lands in exactly one bin
    assert(got.map(_._4).sum == chunks.map(_.getLong(2)).sum)
  }

  test("x_cur1: deciles are 1..10, ordered with n_chars, roughly balanced") {
    val rows = SparkEntry.queries("x_cur1_quality_deciles")(spark, dir).collect()
    val n = rows.length
    assert(n > 0)
    assert(rows.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 10L))
    // monotone: higher n_chars never gets a lower decile
    val sorted = rows.sortBy(_.getLong(1))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(2))
      case _ =>
    }
    // each decile holds about n/10 docs (ties can skew a bucket)
    val sizes = rows.groupBy(_.getLong(2)).view.mapValues(_.length)
    assert(sizes.values.forall(c => c >= n / 20 && c <= n / 5), sizes.toMap.toString)
    // API parity
    val viaApi = api.Corpus(Tables(spark, dir, "documents")).withQualityDeciles().df
      .select("doc_id", "decile").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => viaApi(r.getLong(0)) == r.getLong(2)))
  }

  test("Corpus.chunkTokens / compositionReport delegate to the probe logic") {
    val viaApi = Corpus(spark, dir).chunkTokens(16, 12).df
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    val viaProbe = SparkEntry.queries("x_chunk1_token_windows")(spark, dir)
      .collect().toSeq
    assert(viaApi == viaProbe)
    val rep = Corpus(spark, dir).compositionReport().df
      .orderBy("source", "lang").collect().toSeq
    val repProbe = SparkEntry.queries("x_rep1_composition")(spark, dir)
      .collect().toSeq
    assert(rep == repProbe)
  }
}
