package graft

import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}

/** Plan-shape regression guard: NO registered query may plan an
  * unconstrained CartesianProduct — the join shapes are broadcast-NLJ
  * (small side broadcast) or keyed joins by construction, and a silent
  * regression to a cartesian is exactly the class of change that survives
  * a correctness gate but dies at 100 TB.
  */
class PlanAuditSpec extends SparkSuite {

  /** Every node of an executed plan, through adaptive and query-stage
    * wrappers and subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
  }

  /** The operator under codegen, shuffle-read and query-stage wrappers. */
  private def beneath(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => beneath(w.child)
    case i: InputAdapter => beneath(i.child)
    case r: AQEShuffleReadExec => beneath(r.child)
    case q: QueryStageExec => beneath(q.plan)
    case n => n
  }

  test("no probe plans a CartesianProduct") {
    import scala.jdk.CollectionConverters._
    import scala.util.{Failure, Success, Try}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = "/root/testdata/sf0.001"
    // a fresh session carries no temp functions, so a probe that still
    // depends on GraftExtensions.register fails here, by name
    val fresh = spark.newSession()
    // the plans a probe RUNS while it builds (staged writes, train-once
    // builds, collects inside operators) are audited with the plan it
    // returns: the listener records every executed plan of the session
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // listener events arrive in order, after the action returns: once a
    // sentinel action's plan is seen, every earlier plan has been too
    def drained(): Seq[QueryExecution] = {
      val sentinel = fresh.range(1).toDF()
      sentinel.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq sentinel.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.asScala.exists(_ eq sentinel.queryExecution), "listener events stopped")
      val got = seen.asScala.toSeq.filterNot(_ eq sentinel.queryExecution)
      seen.clear()
      got
    }
    def cartesian(qe: QueryExecution): Boolean =
      Try(qe.executedPlan.toString).getOrElse("").contains("CartesianProduct")
    fresh.listenerManager.register(listener)
    val audited = try SparkEntry.probes.map { p =>
      val built = Try { val df = p.run(fresh, dir); df.queryExecution.assertAnalyzed(); df }
      val ran = drained()
      built match {
        case Failure(e) => (Some(s"${p.name}: $e"), None, ran.size)
        case Success(df) =>
          // planning errors past analysis are the oracle's job
          (None, if (cartesian(df.queryExecution) || ran.exists(cartesian)) Some(p.name)
            else None, ran.size)
      }
    } finally fresh.listenerManager.unregister(listener)
    // x_url11 stages its redirect edges on every run: the listener saw it
    val url11 = SparkEntry.probes.map(_.name).indexOf("x_url11_redirect_frontier")
    assert(audited(url11)._3 >= 1, "no internal plan recorded for x_url11")
    val broken = audited.flatMap(_._1)
    assert(broken.isEmpty, s"probes failing to build or analyse:\n${broken.mkString("\n")}")
    val offenders = audited.flatMap(_._2)
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("the crawl-door chains stay WITHIN whole-stage codegen's 64 KB method limit") {
    // round-13 regression class: x_url11's staged redirect-edge projection
    // fused status/Location extraction + resolution + canonicalization into
    // one generated processNext() past janino's limit — five failed
    // compiles per run, then the stage ran INTERPRETED. The chains are now
    // native expressions; this pins that every codegen subtree of the door
    // chains COMPILES (ByteCodeStats.UNAVAILABLE = -1 marks a failed
    // compile) with its largest method under the JVM's 64 KB ceiling.
    // Both the batch form and the streaming twin share redirectEdges, so
    // one audit covers both (DocStreams.redirectEdges delegates).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    // range-backed inputs: a LocalTableScan of an in-memory Seq plans with
    // NO WholeStageCodegen subtree at all — the audit needs a real scan
    val responses = spark.range(4).select(
      concat(lit("https://a.com/p/"), col("id").cast("string")).as("url"),
      concat(lit("HTTP/1.1 301 Moved Permanently\r\nLocation: ../m/x?utm_source=t&b="),
        col("id").cast("string"), lit("\r\n\r\nb")).as("payload"))
    val pages = spark.range(4).select(
      concat(lit("https://a.com/p/"), col("id").cast("string")).as("url"),
      concat(lit("<a href='/x"), col("id").cast("string"), lit("'>t</a>")).as("html"))
    val sigPages = spark.range(4).select(
      concat(lit("https://a.com/p/"), col("id").cast("string")).as("url"),
      concat(lit("<base href=\"/b/\"><link rel=canonical href='/c"),
        col("id").cast("string"),
        lit("'><meta http-equiv=refresh content=\"0; url=/m\">"),
        lit("<a rel=nofollow href='/x"), col("id").cast("string"),
        lit("'>t</a>")).as("html"))
    // the PageSignals chains aggregate (first-wins min-struct), so under
    // AQE their unexecuted plan carries no materialized WSCG subtree —
    // audit them with AQE off so the static plan exposes the generated
    // code (the per-stage codegen itself is identical either way)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((name, df) <- Seq(
          "redirectEdges" -> graft.ext.Frontier.redirectEdges(responses),
          "extractLinks" -> graft.ext.LinkGraph.extractLinks(sigPages),
          "anchorTexts" -> graft.ext.LinkGraph.anchorTexts(pages),
          "canonicalTargets" -> graft.ext.PageSignals.canonicalTargets(sigPages),
          "metaRefreshEdges" -> graft.ext.PageSignals.metaRefreshEdges(sigPages))) {
        val subtrees = codegenStringSeq(df.queryExecution.executedPlan)
        assert(subtrees.nonEmpty, s"$name: no codegen subtrees — door fell out of WSCG")
        subtrees.foreach { case (subtree, _, stats) =>
          assert(stats.maxMethodCodeSize > 0,
            s"$name: codegen COMPILE FAILED for subtree:\n$subtree")
          assert(stats.maxMethodCodeSize < 65535,
            s"$name: generated method ${stats.maxMethodCodeSize} bytes breaches the 64 KB limit")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("x_dec1: eval side broadcasts; the corpus side is never hash-shuffled") {
    val df = SparkEntry.queries("x_dec1_contamination")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save() // resolve AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchange is the post-join per-doc rollup (matched rows),
    // never the corpus scan side: a corpus-side exchange would shuffle the
    // full shingle stream and defeat the operator's 100 TB design
    val corpusSideShuffles = "Exchange hashpartitioning\\(s#".r.findAllIn(plan).length
    assert(corpusSideShuffles == 0, s"corpus shingles shuffled:\n$plan")
  }

  test("x_txt8: small df auto-broadcasts under AQE (no forced hint)") {
    // The probe carries NO broadcast() hint — a vocabulary-sized df table
    // must not be force-broadcast (10⁹+ types on a web corpus would OOM the
    // driver). This pins that AQE still CHOOSES a broadcast join when df is
    // genuinely small, i.e. dropping the hint cost nothing at this scale.
    val df = SparkEntry.queries("x_txt8_tfidf")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save() // resolve AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    spark.catalog.clearCache() // txt8 persists its tf subtree
  }

  test("x_dec2: forced-shuffle regime plans a SortMergeJoin, not a broadcast") {
    val df = SparkEntry.queries("x_dec2_contamination_shuffle")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("x_dec3: constant-size sketch broadcasts; corpus shingles never hash-shuffled") {
    val df = SparkEntry.queries("x_dec3_bloom_contamination")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the single bloom row joins as a broadcast nested-loop (1-row build
    // side); the corpus side stays narrow through slot arithmetic + filter
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    val corpusSideShuffles = "Exchange hashpartitioning\\(s#".r.findAllIn(plan).length
    assert(corpusSideShuffles == 0, s"corpus shingles shuffled:\n$plan")
  }

  test("x_pack2: both prefix-sum windows are keyed; no whole-language window partition") {
    val df = SparkEntry.queries("x_pack2_token_sharding")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // level-1 window partitions by (lang, grp) — bounded at <= 1000 rows
    assert("hashpartitioning\\(lang#\\d+, grp#\\d+".r.findFirstIn(plan).isDefined, plan)
    // exactly two Window operators: within-group cumsum + group-offset
    // cumsum (over the 1000x-smaller totals), never a third full-corpus one
    assert("\\bWindow\\b".r.findAllIn(plan).length == 2, plan)
  }

  test("x_smp2 and x_txt7 are narrow: no hash exchange at all") {
    for (name <- Seq("x_smp2_stratified", "x_txt7_repetition")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      // rangepartitioning for the presentation ORDER BY is expected;
      // hashpartitioning would mean an accidental wide stage
      assert(!plan.contains("Exchange hashpartitioning"), s"$name went wide:\n$plan")
    }
  }

  test("x_smp3 and x_chunk1 are narrow: the expansion never shuffles") {
    for (name <- Seq("x_smp3_weighted_mix", "x_chunk1_token_windows")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"$name went wide:\n$plan")
    }
  }

  test("x_smp4: exactly one keyed exchange (the 256-way shard window)") {
    val df = SparkEntry.queries("x_smp4_shuffle")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // one hashpartitioning(shard) for the window; NO SinglePartition
    // exchange — a global-order window here would be the 100 TB killer
    assert("Exchange hashpartitioning\\(shard#".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), s"global window:\n$plan")
  }

  test("x_rep1: corpus reduces via one keyed agg; the global window sees only the aggregate") {
    val df = SparkEntry.queries("x_rep1_composition")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // exactly one hash exchange: the (source, lang) groupBy. The
    // SinglePartition exchange feeding the share window sits ABOVE the
    // final HashAggregate, i.e. it moves source×lang rows, not documents.
    assert("Exchange hashpartitioning\\(source#\\d+, lang#".r.findAllIn(plan).length == 1, plan)
    assert(plan.indexOf("Exchange SinglePartition") <
      plan.indexOf("Exchange hashpartitioning"),
      s"global window must consume the aggregate, not the corpus:\n$plan")
  }

  test("x_txt12: the lang-median table broadcasts; the corpus is never hash-shuffled") {
    val df = SparkEntry.queries("x_txt12_adaptive_quality")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchange feeds the lang aggregate (lang-count-sized);
    // the probe side of the join must reach it scan-direct
    assert("Exchange hashpartitioning\\(lang#".r.findAllIn(plan).length <= 1, plan)
    assert(!plan.contains("SortMergeJoin"), s"median join went shuffle:\n$plan")
  }

  test("x_dec4: eval side broadcasts; corpus denominator computed narrow") {
    val df = SparkEntry.queries("x_dec4_contamination_score")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // two broadcast joins: eval shingles into the hit scan, and the
    // (contamination-sized) hit table back onto per-doc stats
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan)
    // corpus shingles never hash-shuffle; the only keyed exchange is the
    // hit rollup (matched rows only)
    val corpusShuffles = "Exchange hashpartitioning\\(s#".r.findAllIn(plan).length
    assert(corpusShuffles == 0, s"corpus shingles shuffled:\n$plan")
  }

  test("native minhash band path: zero exchanges before the bucket join") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    // the signature generator itself must be completely narrow — a future
    // regression (e.g. re-adding a shingle-level distinct or aggregate)
    // would reintroduce the corpus-keyed shuffle the native expression
    // exists to remove
    val bands = ext.Dedup.minhashBandsNative(docs)
    bands.write.format("noop").mode("overwrite").save()
    val bandPlan = bands.queryExecution.executedPlan.toString
    assert(!bandPlan.contains("Exchange"), s"band generation went wide:\n$bandPlan")

    // full dedupNearMinHash: the ONLY data exchanges are the (band, sig)
    // bucket self-join (reused across both sides — same scan subtree) and
    // the loser-id distinct; the anti join broadcasts. No exchange may
    // carry shingles or any other pre-signature stream.
    val df = api.Corpus(docs).dedupNearMinHash().df
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    val keyed = "Exchange hashpartitioning\\(([a-zA-Z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(keyed.toSet.subsetOf(Set("band", "doc_id", "b_id")),
      s"unexpected exchange keys $keyed:\n$plan")
    assert(keyed.count(_ == "band") <= 2, s"bucket join shuffled more than its two sides:\n$plan")
  }

  test("mixBySourceWeights: the weights table joins as a broadcast") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val df = api.Corpus(docs)
      .mixBySourceWeights(Map("src0" -> 2500000L, "src1" -> 250000L)).df
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"weights join went shuffle:\n$plan")
  }

  test("x_txt13: commons broadcast as BNLJ; the corpus is never doc-shuffled") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val df = ext.PipelineOps5.withBoilerplate(docs, minDf = 5)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the 1-row commons array joins as a broadcast nested loop
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the only keyed exchange is the gram-df aggregation (key g); scoring
    // must never shuffle the corpus by doc_id
    val keyed = "Exchange hashpartitioning\\(([a-zA-Z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(keyed.forall(_ == "g"), s"unexpected exchange keys $keyed:\n$plan")
    // membership runs through the native binary search, not array_contains
    assert(plan.contains("sorted_count_in"), plan)
  }

  test("x_cur2: both rank phases pre-limit with WindowGroupLimit before their exchange") {
    val df = SparkEntry.queries("x_cur2_domain_cap")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // two-phase rank: phase 1 on (source, salt), phase 2 on source — each
    // with Spark's rank-limit pushdown so no partition materializes whole
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 4,
      s"missing partial/final WindowGroupLimit pairs:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"cap should be pure window work, no joins:\n$plan")
  }

  test("x_smp6: split assignment is narrow — no hash exchange at all") {
    val df = SparkEntry.queries("x_smp6_group_split")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"split went wide:\n$plan")
  }

  test("x_mix3: exactly one keyed exchange (the per-lang budget window)") {
    val df = SparkEntry.queries("x_mix3_token_budget")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(lang#".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), s"global window:\n$plan")
  }

  test("x_txt15: pure two-level hash aggregation — no global funnel, no join") {
    val df = SparkEntry.queries("x_txt15_token_entropy")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"global funnel:\n$plan")
    assert(!plan.contains("Join"), s"entropy needs no join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4, // partial+final x 2 levels
      s"missing map-side combine:\n$plan")
  }

  test("x_pack3: ONE keyed exchange (bucket window), no global row_number") {
    val df = SparkEntry.queries("x_pack3_length_batching")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // hashpartitioning(bucket) serves both the window and the (bucket,
    // batch) aggregation — a second exchange would mean the agg re-shuffled
    assert("Exchange hashpartitioning\\(bucket#".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), s"global window funnel:\n$plan")
  }

  test("x_smp7: ordering parallelizes across epoch x shard — no global sort") {
    val df = SparkEntry.queries("x_smp7_epoch_order")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(epoch#\\d+L?, shard#".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), s"global window funnel:\n$plan")
  }

  test("x_txt14: digests only in the wide stages, no funnel, keyed window") {
    val df = SparkEntry.queries("x_txt14_novelty")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"global funnel:\n$plan")
    // three keyed exchanges: (doc,gram) distinct, gram-keyed first-doc
    // window, doc-keyed rollup — anything more means a redundant shuffle
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 3, plan)
  }

  test("x_ded13: keyed band join, no cartesian; verification joins are keyed too") {
    val df = SparkEntry.queries("x_ded13_embed_lsh")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"unkeyed join:\n$plan")
  }

  test("x_dec5: the verify stage keeps its explicit parallelism floor") {
    // The expensive-scalar verify must fan out through the user-numbered
    // repartition — losing it (e.g. by re-keying it to the distinct's
    // grouping keys, which the optimizer removes as a no-op) re-serializes
    // the levenshtein stage into one AQE-coalesced task (PERF.md round 7:
    // 13.4 s vs 1.5 s at sf0.1).
    val df = SparkEntry.queries("x_dec5_fuzzy_decontamination")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"), s"parallelism floor lost:\n$plan")
    // and the verify itself runs on the native expression, not the builtin
    assert(plan.contains("lev_bytes"), plan)
  }

  test("x_ded18: fixed-width digest window key; two keyed exchanges + presentation sort") {
    val df = SparkEntry.queries("x_ded18_segment_dedup")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"global funnel:\n$plan")
    // first-occurrence window keyed on md5(seg), doc-keyed reassembly —
    // anything beyond those two hash exchanges is a redundant shuffle
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    assert(plan.contains("md5"), s"window must key on the digest:\n$plan")
  }

  test("x_skt1: sketch build is map-side combined (partial aggregate below the exchange)") {
    val df = SparkEntry.queries("x_skt1_countmin_heavy")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // partial_count under the (r, slot) exchange = each mapper ships at
    // most 768 cells, the property that makes the sketch build O(1) network
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x_skt1, x_skt4, x_skt6: every sketch explode reads a projected md5, never computes one") {
    // A generator's input gets no subexpression elimination: an md5 inside
    // the (r, slot) explode is computed k times per key. Each cell
    // build and each query-side slot lookup must digest once per key in
    // the projection that feeds its explode (a Project, or the top-10's
    // TakeOrderedAndProject). x_skt6 builds its sketches inside
    // adviseJoin's own action, so the executed plans are collected from
    // every action.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.Md5
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def digests(p: SparkPlan): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[Md5]))
    spark.listenerManager.register(listener)
    try for (name <- Seq("x_skt1_countmin_heavy", "x_skt4_join_size", "x_skt6_join_advice")) {
      seen.clear()
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      // listener events arrive in order, after the action returns
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq df.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_ eq df.queryExecution), s"$name: no plan reached the listener")
      val gens = seen.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan))
        .collect { case g: GenerateExec => g }
      val inline = gens.filter(digests)
      assert(inline.isEmpty,
        s"$name: md5 computed inside a generator: ${inline.map(_.simpleString(400))}")
      // two explodes read a projected digest: both sides' cell builds, or
      // x_skt1's build and its top-10 slot lookup
      val projected = gens.filter(g => digests(beneath(g.child)))
      assert(projected.size == 2,
        s"$name: ${projected.size} explodes over a projected md5:\n${gens.map(_.simpleString(400))}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("x_sim2: bucket signatures are one narrow projection — no generator") {
    // the 8 sign planes are dot products against literal rows, not an
    // 8 × 64-row explode per vector
    val df = SparkEntry.queries("x_sim2_lsh_buckets")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val gens = nodes(df.queryExecution.executedPlan)
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.isEmpty, gens.map(_.simpleString(400)).mkString("\n"))
  }

  test("x_ded19: cell assignment broadcasts centroids; within-cell join is keyed by cell") {
    val df = SparkEntry.queries("x_ded19_semdedup")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the 8-row centroid table must ride a broadcast (assignment is narrow)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("native LM scoring is a pure narrow projection — zero exchanges") {
    import graft.ext.LanguageModels
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val idx = LanguageModels.lmIndex(docs.limit(50))
    val df = LanguageModels.lmScoreNative(docs, idx)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring stage went wide:\n$plan")
  }

  test("x_cur4: merged bucket table broadcast to scoring; one doc-keyed rollup exchange") {
    val df = SparkEntry.queries("x_cur4_dsir_weights")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-scale feature stream joins the merged <=2*4096-row
    // bucket table by BROADCAST; the tb/rb full-outer MERGE may sort-merge
    // on bkt (both sides bucket-bounded — never corpus-scale), but no
    // doc-keyed join may leave broadcast
    assert("BroadcastHashJoin \\[bkt#".r.findFirstIn(plan).isDefined,
      s"the scoring join left its broadcast:\n$plan")
    assert("SortMergeJoin \\[doc_id#".r.findFirstIn(plan).isEmpty,
      s"a corpus-scale join left its broadcast:\n$plan")
    // the raw side is scored narrow then rolled up ONCE per doc
    assert("Exchange hashpartitioning\\(doc_id#".r.findAllIn(plan).length == 1, plan)
  }

  test("x_html1: extraction is one narrow codegen projection — zero pre-sort exchanges") {
    val df = SparkEntry.queries("x_html1_extract")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the only exchange allowed is the final ORDER BY's rangepartitioning:
    // a hash exchange anywhere means the regex chain stopped being a
    // per-row projection (the property that makes it stream-capable)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("x_txt22: KN trigram tables join on digests; vocab-bounded tables broadcast") {
    val df = SparkEntry.queries("x_txt22_kn_score")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the middle-token and unigram tables are vocabulary-bounded and must
    // broadcast; a raw-token-keyed exchange is allowed ONLY as a type
    // aggregation — immediately above a map-side partial aggregation, so
    // the exchange carries per-partition-distinct trigram rows (~word
    // bytes ≈ digest bytes for word trigrams, and the digests are then
    // computed once per TYPE — r17). An UNAGGREGATED raw-token stream
    // exchange means the type-dedup regressed to shuffling the full
    // occurrence stream as token payloads.
    assert(plan.contains("BroadcastHashJoin"), plan)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val rawKeyed = nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(r => r.name == "a" || r.name == "b"))
        case _ => false
      }) => e
    }
    assert(rawKeyed.nonEmpty, s"no exchange keyed on a#/b# found: nothing was checked\n$plan")
    // the partial (map-side) aggregate is the one that needs no child
    // distribution; a string min plans it as a SortAggregate, not a hash one
    val unaggregated = rawKeyed.filterNot(e => beneath(e.child) match {
      case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isEmpty
      case _ => false
    })
    assert(unaggregated.isEmpty,
      s"raw-token-keyed exchange WITHOUT map-side combine: ${unaggregated.map(_.simpleString(200))}\n$plan")
  }

  test("x_txt23: gram payloads shuffle as digests, never gram strings") {
    val df = SparkEntry.queries("x_txt23_gopher_repetition")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the gram-type aggregation must key on the 16-hex digest hg (the
    // map side digests before the exchange); an exchange carrying the
    // raw gram string g means the fixed-width-key discipline regressed
    assert("hashpartitioning\\([^)]*\\bg#".r.findFirstIn(plan).isEmpty,
      s"gram-string-keyed exchange:\n$plan")
    assert(plan.contains("hg#"), plan)
  }

  test("x_pack6: packing windows partition by shard — no global funnel") {
    val df = SparkEntry.queries("x_pack6_seq_packing")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(shard#"), plan)
    // a partition-less window would move the whole corpus through one task
    assert(!plan.contains("Exchange SinglePartition"),
      s"global window funnel:\n$plan")
  }

  test("x_html4: structure signals are narrow — no hash exchange at all") {
    val df = SparkEntry.queries("x_html4_structure_signals")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"signal stage shuffled:\n$plan")
  }

  test("x_html3: one tagged digest-keyed exchange serves both granularities") {
    val df = SparkEntry.queries("x_html3_dup_lines")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the fused form keys its aggregation on (doc_id, t, g-digest); a raw
    // 'seg' string in any exchange key means the fusion regressed to the
    // two-branch raw-payload shape
    assert("hashpartitioning\\([^)]*\\bseg#".r.findFirstIn(plan).isEmpty,
      s"raw-segment-keyed exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"two-branch join came back:\n$plan")
  }

  test("x_qc1: training is ONE aggregation pass; scoring joins a 1-row broadcast") {
    val df = SparkEntry.queries("x_qc1_learned_quality")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"coefficient row should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-sized join in the scorer:\n$plan")
  }

  test("x_ded24: bloom artifact broadcasts; the shard is never content-shuffled") {
    val df = SparkEntry.queries("x_ded24_bloom_prefilter")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // shard text never shuffles — only doc_id-keyed rollups and digests
    assert("hashpartitioning\\([^)]*\\btext#".r.findFirstIn(plan).isEmpty,
      s"text-keyed exchange:\n$plan")
  }

  test("x_ret1: ranking pre-limits with WindowGroupLimit; term/query tables broadcast") {
    val df = SparkEntry.queries("x_ret1_bm25")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k rank should pre-limit before its exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"a bounded table left its broadcast:\n$plan")
  }

  test("x_url6: the rules join is host-KEYED, never a nested loop over the frontier") {
    val df = SparkEntry.queries("x_url6_robots_parse")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // per-row regex matching must ride an equi-join on host (broadcast or
    // shuffled) — a BNLJ here would evaluate every rule against every URL
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rules joined as a nested loop:\n$plan")
  }

  test("x_enc2: charset decode is one narrow projection — zero hash exchanges") {
    val df = SparkEntry.queries("x_enc2_charset_decode")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // byte decode + resolution are per-row (the stream-door property);
    // the only exchange allowed is the final ORDER BY's range partition
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("x_warc7 + x_enc3: the coding/charset doors are narrow — zero hash exchanges") {
    for (name <- Seq("x_warc7_http_codings", "x_enc3_charset_honesty")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      // dechunk/decompress (mapPartitions) and the charset status/decode
      // are per-row; the only exchange is the final ORDER BY's range
      // partition — the stream-door property the round-12 tiers inherit
      assert(!plan.contains("Exchange hashpartitioning"), s"$name:\n$plan")
    }
  }

  test("x_pipe11: the door funnel pays exactly ONE hash exchange — the rollup") {
    val df = SparkEntry.queries("x_pipe11_door_funnel")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    // scan → HTTP split → decode → charset → quality are all narrow;
    // the (host, stage) aggregation is the funnel's single shuffle
    assert(n == 1, s"expected 1 hash exchange, got $n:\n$plan")
  }

  test("x_txt24: one corpus exchange (repartition by doc_id) serves the whole classify chain") {
    val df = SparkEntry.queries("x_txt24_langid_learned")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the explicit repartition(doc_id) must be the ONLY exchange of
    // corpus-sized data: it satisfies the gram aggregation, both doc_id
    // windows, and the distance aggregation; the profile/lang sides ride
    // broadcasts (their own tiny lang-keyed exchange is allowed), and
    // the lang join back must broadcast, never shuffle the corpus side
    val docExchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length
    assert(docExchanges == 1, s"expected 1 doc_id exchange, got $docExchanges:\n$plan")
    assert(plan.contains("REPARTITION_BY_COL"), plan)
  }
}
