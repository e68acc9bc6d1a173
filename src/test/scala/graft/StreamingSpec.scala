package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Streaming ≡ batch parity: the same tumblingAgg definition must produce
  * identical results through readStream + memory sink and through a plain
  * batch read; sessionize must agree with the oracle-checked batch
  * formulation (p_evt2_sessionize).
  */
class StreamingSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("tumbling window agg: streaming result == batch result") {
    val streaming = EventStreams.tumblingAgg(EventStreams.readStream(spark, dir))
    val q = streaming.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .orderBy("win_start_us", "event_type").collect().toSeq
      val want = EventStreams.tumblingAgg(Tables(spark, dir, "events"))
        .orderBy("win_start_us", "event_type").collect().toSeq
      assert(got.nonEmpty)
      assert(got == want)
    } finally q.stop()
  }

  test("sliding window agg: streaming result == batch result") {
    def sliding(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("n"))
    val q = sliding(EventStreams.readStream(spark, dir))
      .writeStream.outputMode("complete").format("memory").queryName("slide_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("slide_out").orderBy("ws", "event_type").collect().toSeq
      val want = sliding(Tables(spark, dir, "events"))
        .orderBy("ws", "event_type").collect().toSeq
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("streaming dropDuplicates with watermark dedups by event_id") {
    import spark.implicits._
    val deduped = EventStreams.readStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy().count()
    val q = deduped.writeStream.outputMode("complete")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()(0).getLong(0)
      val want = Tables(spark, dir, "events").select("event_id").distinct().count()
      assert(got == want)
    } finally q.stop()
  }

  test("streaming hourly idempotent ingest: surviving bucket set == batch p_evt6") {
    val q = EventStreams.dedupHourly(EventStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("idem_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("idem_out")
        .select("user_id", "event_type", "hour_us")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      // exactly one survivor per bucket, and the bucket set matches the
      // oracle-checked batch form (kept-event identity may differ)
      assert(got.distinct.size == got.size)
      val want = SparkEntry.queries("p_evt6_idempotent_ingest")(spark, dir)
        .select("user_id", "event_type", "hour_us")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("stream-static join enriches the stream against a dimension") {
    import spark.implicits._
    // static dim: user_id -> label (derived deterministically)
    val dim = Tables(spark, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("label", concat(lit("u"), col("user_id")))
    val joined = EventStreams.readStream(spark, dir)
      .join(dim, Seq("user_id"))
      .groupBy("label").count()
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName("ss_join_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ss_join_out").agg(sum("count")).collect()(0).getLong(0)
      val want = Tables(spark, dir, "events").count()
      assert(got == want) // every event matched its dim row
    } finally q.stop()
  }

  test("foreachBatch sink: streaming batches land as parquet") {
    val out = java.nio.file.Files.createTempDirectory("stream_sink").toString
    val q = EventStreams.readStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(s"$out/data")
      }
      .start()
    try {
      q.processAllAvailable()
      val back = spark.read.parquet(s"$out/data")
      assert(back.count() == Tables(spark, dir, "events").count())
    } finally q.stop()
  }

  test("stream-stream interval join agrees with the batch range join") {
    // same shape as p_jn5: error events joined to same-user follow events
    // within 5 minutes. Watermarks on both sides bound the join state; the
    // range condition gives Spark the state-eviction window.
    def follow(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.filter(col("event_type") === "error").alias("a")
        .join(b.alias("b"),
          col("a.user_id") === col("b.user_id") &&
          col("b.ts") > col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 5 MINUTES"))
        .select(col("a.event_id").as("a_id"), col("b.event_id").as("b_id"))
    val sa = EventStreams.readStream(spark, dir).withWatermark("ts", "1 hour")
    val sb = EventStreams.readStream(spark, dir).withWatermark("ts", "1 hour")
    val q = follow(sa, sb).writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj_out").orderBy("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val ev = Tables(spark, dir, "events")
      val want = follow(ev, ev).orderBy("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.nonEmpty)
      assert(got == want)
    } finally q.stop()
  }

  test("batch session_window agrees with the stateful sessionize shape") {
    // p_evt3_session_window (oracle-checked) uses the same session_window
    // operator streaming uses; here: its sessions == EventStreams.sessionize.
    import spark.implicits._
    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val got = graft.queries.Breadth.all.find(_.name == "p_evt3_session_window").get
      .run(spark, dir)
      .select(col("user_id"), col("start_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = EventStreams.sessionize(events)
      .orderBy("user_id", "start_us")
      .collect().map(s => (s.user_id, s.start_us, s.n_events.toLong)).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("checkpointed restart: file source resumes exactly-once, no dupes no loss") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ckpt_restart").toString
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))

    def writeBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def startQuery() = spark.readStream
      .schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .start()

    writeBatch(0 until 100)
    writeBatch(100 until 200)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    // new data lands while the query is DOWN; restart from the checkpoint
    writeBatch(200 until 300)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val out = spark.read.parquet(outDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // exactly-once across the restart: every id exactly once — the first
    // run's output is not re-emitted, the downtime data is not skipped
    assert(out == (0L until 300L), s"got ${out.length} rows")
  }

  test("streaming decontamination == batch: stream-static broadcast semi join") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    // static eval side: the x_dec1 held-out set (doc_id % 25 == 0), deduped
    val ev = graft.ext.Decontamination.shingles(batchDocs.filter(col("doc_id") % 25 === 0)).distinct()
    def corpus(df: org.apache.spark.sql.DataFrame) = df.filter(col("doc_id") % 25 =!= 0)
    val q = DocStreams.contaminatedIds(corpus(DocStreams.readStream(spark, dir)), ev)
      .writeStream.outputMode("append").format("memory").queryName("dec_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dec_out").collect().map(_.getLong(0)).sorted.toSeq
      val want = DocStreams.contaminatedIds(corpus(batchDocs), ev)
        .collect().map(_.getLong(0)).sorted.toSeq
      // and both must agree with the oracle-checked batch probe's doc set
      val oracle = Registry.all.find(_.name == "x_dec1_contamination").get
        .run(spark, dir).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == want)
      assert(got == oracle)
    } finally q.stop()
  }

  test("streaming charset decode == batch == the x_enc2 fingerprints") {
    import graft.streaming.DocStreams
    // the x_enc2 fixture construction, computed IN the stream projection
    // (encode/translate are stateless): cp1252 bytes for odd docs, UTF-8
    // for even, four declaration shapes
    def pages(df: org.apache.spark.sql.DataFrame) = {
      val full = concat(lit("<html><head>"),
        when(col("doc_id") % 4 === 1, lit("<meta charset=\"windows-1252\">"))
          .otherwise(lit("")),
        lit("</head><body>"), lit(graft.ext.PipelineOps16.planted2),
        regexp_replace(col("text"), "[^ -~]", ""), lit("</body></html>"))
      df.select(col("doc_id"),
        when(col("doc_id") % 4 === 3, lit("text/html; charset=Windows-1252"))
          .when(col("doc_id") % 4 === 2, lit("text/html; charset=UTF-8"))
          .otherwise(lit("text/html")).as("content_type"),
        when(col("doc_id") % 2 === 1,
          encode(graft.clean.CharsetFns.cp1252Unfix(full), "ISO-8859-1"))
          .otherwise(encode(full, "UTF-8")).as("bin"))
    }
    def decoded(df: org.apache.spark.sql.DataFrame) =
      DocStreams.charsetDecoded(pages(df))
        .select(col("doc_id"), md5(col("text")).as("fp"))
    val q = decoded(DocStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("cs_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cs_out")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val want = decoded(Tables(spark, dir, "documents"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val oracle = graft.ext.PipelineOps16.all.find(_.name == "x_enc2_charset_decode").get
        .run(spark, dir).select("doc_id", "text_fp")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got.nonEmpty && got == want && got == oracle)
    } finally q.stop()
  }

  test("streaming coding decode == batch == the x_warc7 fingerprints") {
    import graft.streaming.DocStreams
    import spark.implicits._
    // the x_warc7 body construction, wire-coded IN the stream projection
    // via the same fixture encoder (typed mapPartitions is streamable)
    def pages(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        encode(concat(lit("<html><body><p>"), col("text"),
          lit("</p></body></html>")), "UTF-8").as("body"),
        (col("doc_id") % 5).cast("int").as("mode"))
        .as[(Long, Array[Byte], Int)]
        .mapPartitions(_.map { case (id, body, mode) =>
          val (enc, te, ce) = graft.sources.Warc.encodeBodyForFixture(body, mode)
          (s"https://ex.com/doc/$id", enc, te, ce, "text/html; charset=utf-8")
        }).toDF("url", "body", "te", "ce", "ct")
    def decoded(df: org.apache.spark.sql.DataFrame) =
      DocStreams.codingDecoded(pages(df))
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          md5(graft.clean.HtmlFns.htmlToText(decode(col("body"), "UTF-8"))).as("fp"),
          col("error"))
    val q = decoded(DocStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("cd_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cd_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(got.nonEmpty && got.forall(_._3 == null), got.take(3).toString)
      val want = decoded(Tables(spark, dir, "documents"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      val oracle = graft.sources.Warc.all.find(_.name == "x_warc7_http_codings").get
        .run(spark, dir).select("doc_id", "text_fp")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == want && got.map(x => (x._1, x._2)) == oracle)
    } finally q.stop()
  }

  test("streaming charset gate == batch == the x_enc3 statuses") {
    import graft.streaming.DocStreams
    // the x_enc3 fixture construction is the probe's own shared builder
    // (enc3Pages), computed IN the stream projection — encode/concat are
    // stateless, and sharing one definition means the bytes the stream
    // door is pinned against cannot drift from the probe's
    def gated(df: org.apache.spark.sql.DataFrame) =
      DocStreams.charsetGated(graft.ext.PipelineOps16.enc3Pages(df))
        .select(col("doc_id"), col("charset_status"), col("charset_kept"))
    val q = gated(DocStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("cg_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cg_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
      val want = gated(Tables(spark, dir, "documents"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
      val oracle = graft.ext.PipelineOps16.all.find(_.name == "x_enc3_charset_honesty").get
        .run(spark, dir).select("doc_id", "status", "kept")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2).toInt)).sorted.toSeq
      assert(got.nonEmpty && got == want && got == oracle)
    } finally q.stop()
  }

  test("streaming robots gate == batch gate == the x_url6 verdicts") {
    import graft.streaming.DocStreams
    import spark.implicits._
    def urls(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(lit("https://www.example"), (col("doc_id") % 7).cast("string"), lit(".com"),
        when(col("doc_id") % 6 === 0, lit("/Path/To/Item"))
          .when(col("doc_id") % 6 === 1, lit("/private/data"))
          .when(col("doc_id") % 6 === 2, lit("/private/ok/page"))
          .when(col("doc_id") % 6 === 3, lit("/pub/x"))
          .when(col("doc_id") % 6 === 4, lit("/pub/ok/y"))
          .otherwise(lit("/private2/x"))).as("url"))
    val robots = (0 until 7).map { h =>
      (s"www.example$h.com",
        if (h % 2 == 0) graft.ext.RobotsTxt.robotsSelf else graft.ext.RobotsTxt.robotsStar)
    }.toDF("host", "robots_txt")
    val rules = graft.ext.RobotsTxt.parseRobots(robots) // static side
    val q = DocStreams.robotsGated(urls(DocStreams.readStream(spark, dir)), rules)
      .writeStream.outputMode("complete").format("memory").queryName("rg_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("rg_out")
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      val want = graft.ext.RobotsTxt
        .robotsGate(urls(Tables(spark, dir, "documents")), rules)
        .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      val oracle = graft.ext.RobotsTxt.all.find(_.name == "x_url6_robots_parse").get
        .run(spark, dir).select("doc_id", "allowed")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got.nonEmpty && got == want && got == oracle)
    } finally q.stop()
  }

  test("streaming stratified sample == batch x_smp2 rows (stateless filter)") {
    import graft.streaming.DocStreams
    val q = DocStreams.stratifiedSample(DocStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("smp_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("smp_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      val want = DocStreams.stratifiedSample(Tables(spark, dir, "documents"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      val oracle = Registry.all.find(_.name == "x_smp2_stratified").get
        .run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == want)
      assert(got == oracle)
    } finally q.stop()
  }

  test("streaming bloom verdicts == batch sparse-join form (zero-state bit tests)") {
    import graft.streaming.DocStreams
    import graft.ext.BloomIndex
    val docs = Tables(spark, dir, "documents")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val idx = graft.util.TempDirs.scratch("bloom_stream_spec")
    BloomIndex.build(base, idx)
    val dense = BloomIndex.denseRow(BloomIndex.load(spark, idx))
    val q = DocStreams.bloomSeen(
        DocStreams.readStream(spark, dir).filter(col("doc_id") % 3 === 0), dense)
      .writeStream.outputMode("append").format("memory").queryName("bloom_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("bloom_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = BloomIndex.mightContain(
          docs.filter(col("doc_id") % 3 === 0), BloomIndex.load(spark, idx))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == want)
    } finally q.stop()
  }

  test("streaming learned-quality scoring == batch against the same trained model") {
    import graft.streaming.DocStreams
    import graft.ext.QualityModel
    val docs = Tables(spark, dir, "documents")
    val coef = QualityModel.trainRidge(
      QualityModel.features(docs.filter(col("doc_id") % 3 =!= 0)))
    // materialize the 1-row coefficient frame so the stream side joins a
    // static local relation, not a live aggregation (stream rules)
    val s = spark
    import s.implicits._
    val cRow = coef.collect()(0)
    val cStatic = Seq((cRow.getDouble(0), cRow.getDouble(1), cRow.getDouble(2)))
      .toDF("b0", "b1", "b2")
    val q = DocStreams.learnedQualityScored(
        DocStreams.readStream(spark, dir).filter(col("doc_id") % 3 === 0), cStatic)
      .writeStream.outputMode("append").format("memory").queryName("lq_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lq_out")
        .collect().map(r => (r.getLong(0), r.getDouble(4), r.getLong(5))).sorted.toSeq
      val want = QualityModel.scoreWith(docs.filter(col("doc_id") % 3 === 0), cStatic)
        .collect().map(r => (r.getLong(0), r.getDouble(4), r.getLong(5))).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == want)
    } finally q.stop()
  }

  test("streaming quality gate == batch x_txt11 keepers (stateless projection)") {
    import graft.streaming.DocStreams
    val q = DocStreams.qualityFilter(DocStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("qual_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("qual_out")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted.toSeq
      val want = DocStreams.qualityFilter(Tables(spark, dir, "documents"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted.toSeq
      // and both must agree with the oracle-checked probe's keep verdicts
      // probe columns: (doc_id, n_words, mean_len_c, alpha_ppm, stop_hits, keep)
      val oracle = graft.ext.PipelineOps3.all.find(_.name == "x_txt11_quality_rules").get
        .run(spark, dir).filter(col("keep") === 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == want)
      assert(got == oracle)
    } finally q.stop()
  }

  test("stateful sessionize agrees with the lag/cumsum batch form") {
    import spark.implicits._
    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val got = EventStreams.sessionize(events)
      .orderBy("user_id", "start_us")
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSeq

    val want = graft.queries.Probes.all.find(_.name == "p_evt2_sessionize").get
      .run(spark, dir)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming exact dedup: planted duplicate files collapse to distinct contents") {
    import graft.streaming.DocStreams
    val docs = Tables(spark, dir, "documents").limit(40)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    try {
      // two files with identical text content under different doc_ids
      docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      docs.withColumn("doc_id", col("doc_id") + 10000L)
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.dedupExactStream(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("dedup_stream_out").start()
      try {
        q.processAllAvailable()
        val out = spark.table("dedup_stream_out")
        val nDistinct = docs.select(md5(col("text"))).distinct().count()
        assert(out.count() == nDistinct)
        assert(out.select("content_fp").distinct().count() == nDistinct)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming SimHash near-dedup == batch against the same static band index") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    // static index: the "released corpus" = docs 0..249; the stream plants
    // exact copies of 50 index docs under new ids — each is Hamming 0 to
    // its original and MUST be flagged
    val released = batchDocs.filter(col("doc_id") < 250)
    val idx = DocStreams.simhashIndex(released)
    val tmp = java.nio.file.Files.createTempDirectory("graft_simhash_stream").toString
    try {
      val planted = batchDocs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000L)
      batchDocs.filter(col("doc_id") >= 250).unionAll(planted)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.nearDupSimHashIds(stream, idx)
        .writeStream.outputMode("append").format("memory")
        .queryName("simdedup_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("simdedup_out")
          .collect().map(_.getLong(0)).sorted.toSeq
        // parity: the SAME transform over a batch read of the same files
        val want = DocStreams.nearDupSimHashIds(
            spark.read.parquet(s"$tmp/in"), idx)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got.nonEmpty && got == want)
        // every planted copy is Hamming 0 to an indexed doc -> flagged
        val plantedIds = (10000L until 10050L).toSet
        assert(plantedIds.subsetOf(got.toSet),
          s"missing planted dups: ${plantedIds -- got.toSet}")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming chunking == batch x_chunk1 rows (stateless explode)") {
    import graft.streaming.DocStreams
    val q = DocStreams.chunkWindows(DocStreams.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("chunk_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val got = spark.table("chunk_out").collect().map(key).sorted.toSeq
      val oracle = Registry.all.find(_.name == "x_chunk1_token_windows").get
        .run(spark, dir).collect().map(key).sorted.toSeq
      assert(got.nonEmpty && got == oracle)
    } finally q.stop()
  }

  test("streaming weighted mix == batch mixBySourceWeights (stream-static broadcast)") {
    import graft.streaming.DocStreams
    val w = Map("src0" -> 2500000L, "src1" -> 250000L, "src2" -> 0L)
    val q = DocStreams.weightedMix(DocStreams.readStream(spark, dir), w)
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"), col("source"))
      .writeStream.outputMode("append").format("memory").queryName("mix_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getString(2))
      val got = spark.table("mix_out").collect().map(key).sorted.toSeq
      val want = DocStreams.weightedMix(Tables(spark, dir, "documents"), w)
        .select(col("doc_id"), col("epoch").cast("long").as("epoch"), col("source"))
        .collect().map(key).sorted.toSeq
      assert(got.nonEmpty && got == want)
      assert(!got.exists(_._3 == "src2"), "weight-0 source must vanish in the stream too")
    } finally q.stop()
  }

  test("streaming boilerplate scoring == batch against the same static commons") {
    import graft.streaming.DocStreams
    import graft.ext.PipelineOps5
    val batchDocs = Tables(spark, dir, "documents")
    // commons from the full corpus (batch side); stream re-scores half
    val commons = PipelineOps5.boilerplateCommons(batchDocs, minDf = 5)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bp_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.boilerplateScored(stream, commons)
        .select(col("doc_id"), col("bp_ppm"))
        .writeStream.outputMode("append").format("memory")
        .queryName("bp_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("bp_out")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val want = PipelineOps5.scoreAgainstCommons(
            spark.read.parquet(s"$tmp/in"), commons)
          .select(col("doc_id"), col("bp_ppm"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got.nonEmpty && got == want)
        assert(got.exists(_._2 > 0L), "expected some nonzero boilerplate scores")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming min-seg token accounting == batch x_tok3 against the same vocab") {
    import graft.streaming.DocStreams
    import graft.ext.UnigramTok
    val batchDocs = Tables(spark, dir, "documents")
    val vocab = UnigramTok.induceVocab(batchDocs)
    val tmp = java.nio.file.Files.createTempDirectory("graft_minseg_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 3 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.minSegTokens(stream, vocab)
        .select(col("doc_id"), col("n_words"), col("n_pieces"))
        .writeStream.outputMode("append").format("memory")
        .queryName("minseg_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("minseg_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        // batch twin: the distinct-word JOIN form the probe uses — the
        // per-row HOF and the join-back must agree exactly
        val want = UnigramTok.minTokenCounts(spark.read.parquet(s"$tmp/in"), vocab)
          .select(col("doc_id"), col("n_words").cast("long"),
            col("n_pieces").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        assert(got.nonEmpty && got == want)
        assert(got.forall(t => t._3 >= t._2), "a word costs at least one piece")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming bit-cost token accounting == batch x_tok4 against the same vocab") {
    import graft.streaming.DocStreams
    import graft.ext.UnigramTok
    val batchDocs = Tables(spark, dir, "documents")
    val vocab = UnigramTok.induceVocab(batchDocs)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bitcost_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 3 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.bitCostTokens(stream, vocab)
        .select(col("doc_id"), col("n_words"), col("bit_cost"))
        .writeStream.outputMode("append").format("memory")
        .queryName("bitcost_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("bitcost_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        // batch twin: the distinct-word JOIN form x_tok4 uses — the
        // per-row HOF and the join-back must agree exactly
        val want = UnigramTok.minCostCounts(spark.read.parquet(s"$tmp/in"), vocab)
          .select(col("doc_id"), col("n_words").cast("long"),
            col("bit_cost").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        assert(got.nonEmpty && got == want)
        // weighted cost dominates the unit count: every piece costs ≥ 1 bit
        val unit = UnigramTok.minTokenCounts(spark.read.parquet(s"$tmp/in"), vocab)
          .select(col("doc_id"), col("n_pieces").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got.forall(t => t._3 >= unit(t._1)),
          "bit cost can never undercut the unit-piece count")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming link extraction == batch x_lnk1 rows") {
    import graft.streaming.DocStreams
    val pages = graft.ext.LinkGraph.linkedPages(Tables(spark, dir, "documents"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_lnk_stream").toString
    try {
      pages.filter(col("doc_id") % 4 === 0).select("url", "html")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("html",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.linkExtracted(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("lnk_out").start()
      try {
        q.processAllAvailable()
        def key(r: org.apache.spark.sql.Row) =
          (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
        val got = spark.table("lnk_out").collect().map(key).sorted.toSeq
        val want = graft.ext.LinkGraph.extractLinks(spark.read.parquet(s"$tmp/in"))
          .collect().map(key).sorted.toSeq
        assert(got.nonEmpty && got == want)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming redirect-edge extraction == batch x_url11 rows") {
    import graft.streaming.DocStreams
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_redir_stream").toString
    try {
      Seq(
        ("https://a.com/p", "HTTP/1.1 301 Moved\r\nLocation: https://b.com/x\r\n\r\nbody"),
        ("https://a.com/q", "HTTP/1.1 200 OK\r\n\r\nLocation: https://decoy.com/"),
        ("https://a.com/r", "HTTP/1.1 302 Found\r\nLocation: /moved\r\n\r\n"))
        .toDF("url", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.redirectEdges(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("redir_out").start()
      try {
        q.processAllAvailable()
        def key(r: org.apache.spark.sql.Row) =
          (r.getString(0), r.getString(1), r.getString(2))
        val got = spark.table("redir_out").collect().map(key).sorted.toSeq
        val want = graft.ext.Frontier.redirectEdges(spark.read.parquet(s"$tmp/in"))
          .collect().map(key).sorted.toSeq
        assert(got.nonEmpty && got == want && got.size == 2)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming split assignment == batch x_smp6 (stateless hash algebra)") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_split_stream").toString
    try {
      batchDocs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.withSplit(stream)
        .select(col("doc_id"), col("split"))
        .writeStream.outputMode("append").format("memory")
        .queryName("split_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("split_out")
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        val want = SparkEntry.queries("x_smp6_group_split")(spark, dir)
          .select("doc_id", "split")
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        assert(got.nonEmpty && got == want)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming rate anomalies == batch against the same released baseline") {
    import graft.ext.PipelineOps10
    val events = Tables(spark, dir, "events")
    // baseline from the first half of history; stream the second half
    val hus = unix_micros(date_trunc("hour", col("ts")))
    val Array(lo, hi) = events.agg(
      min(hus), max(hus)).collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = (lo + hi) / 2
    val baseline = PipelineOps10.rateBaseline(events.filter(hus < mid))
    val q = EventStreams.rateAnomalies(
        EventStreams.readStream(spark, dir).filter(hus >= mid), baseline)
      .writeStream.outputMode("complete").format("memory")
      .queryName("rate_anom_out").start()
    try {
      q.processAllAvailable()
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
        .sorted.toSeq
      val got = norm(spark.table("rate_anom_out"))
      val want = norm(PipelineOps10.rateAnomaliesAgainst(
        events.filter(hus >= mid), baseline))
      assert(got.nonEmpty && got == want)
      assert(got.exists(_._4.isDefined), "expected z-scored buckets")
    } finally q.stop()
  }

  test("streaming LM scoring == batch against the same released-corpus index") {
    import graft.streaming.DocStreams
    import graft.ext.LanguageModels
    val batchDocs = Tables(spark, dir, "documents")
    // LM from the even docs; stream the odd docs (unseen bigrams included)
    val idx = LanguageModels.lmIndex(batchDocs.filter(col("doc_id") % 2 === 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.lmScored(stream, idx)
        .writeStream.outputMode("append").format("memory")
        .queryName("lm_out").start()
      try {
        q.processAllAvailable()
        def norm(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
        val got = norm(spark.table("lm_out"))
        val want = norm(LanguageModels.lmScoreNative(spark.read.parquet(s"$tmp/in"), idx))
        assert(got.nonEmpty && got == want)
        // and the stream result matches the DECLARATIVE batch join too
        val decl = norm(LanguageModels.lmScore(
          batchDocs.filter(col("doc_id") % 2 === 0), spark.read.parquet(s"$tmp/in")))
        assert(got == decl)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming KN scoring == batch against the same released-corpus index") {
    import graft.streaming.DocStreams
    import graft.ext.LanguageModels
    val batchDocs = Tables(spark, dir, "documents")
    // KN model from the even docs; stream the odd docs (all three
    // backoff branches exercised by unseen trigrams/contexts/words)
    val idx = LanguageModels.knIndex(batchDocs.filter(col("doc_id") % 2 === 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_kn_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.knScored(stream, idx)
        .writeStream.outputMode("append").format("memory")
        .queryName("kn_out").start()
      try {
        q.processAllAvailable()
        def norm(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
        val got = norm(spark.table("kn_out"))
        val want = norm(LanguageModels.knScoreNative(spark.read.parquet(s"$tmp/in"), idx))
        assert(got.nonEmpty && got == want)
        // and the stream result matches the DECLARATIVE batch join too
        val decl = norm(LanguageModels.knScore(
          batchDocs.filter(col("doc_id") % 2 === 0), spark.read.parquet(s"$tmp/in")))
        assert(got == decl)
      } finally q.stop()
    } finally graft.util.TempDirs.deleteRecursively(new java.io.File(tmp))
  }

  test("streaming drift counts == batch, and the finished PSI matches psiDrift") {
    import graft.streaming.DocStreams
    import graft.ext.PipelineOps11
    val batchDocs = Tables(spark, dir, "documents")
    val feats = Seq("lang" -> col("lang"), "len_bin" -> expr("n_chars DIV 64"))
    // released counts from the old snapshot; stream the new snapshot
    val base = PipelineOps11.bucketCounts(
      batchDocs.filter(col("doc_id") % 3 =!= 0), feats)
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 5 =!= 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.driftCounts(stream, feats)
        .writeStream.outputMode("complete").format("memory")
        .queryName("drift_out").start()
      try {
        q.processAllAvailable()
        def norm(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
        val got = norm(spark.table("drift_out"))
        val want = norm(PipelineOps11.bucketCounts(spark.read.parquet(s"$tmp/in"), feats))
        assert(got.nonEmpty && got == want)
        // the deployment finisher over the streamed counts == x_rep5's batch form
        def psi(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getDouble(4))).toSeq
        val viaStream = psi(PipelineOps11.psiAgainst(base, spark.table("drift_out")))
        val viaBatch = psi(PipelineOps11.psiDrift(
          batchDocs.filter(col("doc_id") % 3 =!= 0),
          batchDocs.filter(col("doc_id") % 5 =!= 0), feats))
        assert(viaStream == viaBatch)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming novelty scoring == batch against the same static gram set") {
    import graft.streaming.DocStreams
    import graft.ext.PipelineOps7
    val batchDocs = Tables(spark, dir, "documents")
    // released-corpus gram set from the even docs; stream the odd docs
    // (plus nothing guarantees disjoint grams, which is the point)
    val grams = PipelineOps7.gramSet(batchDocs.filter(col("doc_id") % 2 === 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_nov_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.noveltyScored(stream, grams)
        .select(col("doc_id"), col("n_grams"), col("n_seen"), col("novelty_ppm"))
        .writeStream.outputMode("append").format("memory")
        .queryName("nov_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("nov_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sorted.toSeq
        val want = PipelineOps7.scoreNoveltyAgainst(
            spark.read.parquet(s"$tmp/in"), grams)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sorted.toSeq
        assert(got.nonEmpty && got == want)
        // a doc whose grams all occur in the released half would be 0;
        // the synthetic corpus guarantees both seen and novel grams exist
        assert(got.exists(_._3 > 0L), "expected some seen grams")
        assert(got.exists(_._4 > 0L), "expected some novelty")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming Bloom novelty == batch against the same bounded bitmap") {
    import graft.streaming.DocStreams
    import graft.ext.PipelineOps7
    val batchDocs = Tables(spark, dir, "documents")
    // the beyond-broadcast regime: the released half's membership as a
    // 24 KiB bitmap; the streamed half must score identically to batch
    val bloom = PipelineOps7.gramBloom(batchDocs.filter(col("doc_id") % 2 === 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloomnov_stream").toString
    try {
      batchDocs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.noveltyScoredBloom(stream, bloom)
        .writeStream.outputMode("append").format("memory")
        .queryName("bloomnov_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("bloomnov_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sorted.toSeq
        val want = PipelineOps7.scoreNoveltyBloom(
            spark.read.parquet(s"$tmp/in"), bloom)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sorted.toSeq
        assert(got.nonEmpty && got == want)
        assert(got.exists(_._3 > 0L), "expected some bloom-positive grams")
        assert(got.exists(_._4 > 0L), "expected some novelty despite FPs")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming BPE token counts == batch (stateless native expression)") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_stream").toString
    try {
      batchDocs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.bpeCounted(stream)
        .select(col("doc_id"), col("n_tok_bpe"))
        .writeStream.outputMode("append").format("memory")
        .queryName("bpe_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("bpe_out")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
        val want = DocStreams.bpeCounted(spark.read.parquet(s"$tmp/in"))
          .select(col("doc_id"), col("n_tok_bpe"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
        assert(got.nonEmpty && got == want)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming MinHash near-dedup == batch against the same persisted band index") {
    import graft.streaming.DocStreams
    import graft.ext.BandIndex
    val batchDocs = Tables(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_minhash_stream").toString
    try {
      // persisted index: the "released corpus" = docs 0..249, built ONCE;
      // the stream plants exact copies of 50 index docs under new ids —
      // every band signature matches, so each MUST be flagged
      BandIndex.build(batchDocs.filter(col("doc_id") < 250), s"$tmp/idx")
      val index = BandIndex.load(spark, s"$tmp/idx")
      val planted = batchDocs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000L)
      batchDocs.filter(col("doc_id") >= 250).unionAll(planted)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.nearDupMinHashIds(stream, index)
        .writeStream.outputMode("append").format("memory")
        .queryName("mhdedup_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("mhdedup_out")
          .collect().map(_.getLong(0)).sorted.toSeq
        val want = DocStreams.nearDupMinHashIds(
            spark.read.parquet(s"$tmp/in"), index)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got.nonEmpty && got == want)
        val plantedIds = (10000L until 10050L).toSet
        assert(plantedIds.subsetOf(got.toSet),
          s"missing planted dups: ${plantedIds -- got.toSet}")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming segment dedup: surviving segment SET == batch x_ded18 survivors") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_seg_stream").toString
    try {
      batchDocs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.segmentsFirstSeen(stream)
        .select(col("seg_fp"))
        .writeStream.outputMode("append").format("memory")
        .queryName("seg_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("seg_out").collect().map(_.getString(0)).toSeq
        // exactly-once per distinct segment
        assert(got.nonEmpty && got.distinct.size == got.size)
        // same surviving segment COUNT as the batch first-occurrence form
        // (the batch survivor is min (doc_id, seg_idx); the stream's is
        // arrival order — identities may differ, the distinct segment
        // population cannot, and both emit exactly one row per segment)
        val gotSegs = spark.table("seg_out").count()
        val batchSegs = graft.ext.PipelineOps8.segmentDedup(spark.read.parquet(s"$tmp/in"))
          .agg(sum(col("n_kept"))).collect().head.getLong(0)
        assert(gotSegs == batchSegs,
          s"stream survivors $gotSegs != batch survivors $batchSegs")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming count-min sketch cells == batch build (state IS the sketch)") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cms_stream").toString
    try {
      // two files -> two micro-batches: the sketch must accumulate across
      // batches, not reset (cells merge by addition)
      batchDocs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      batchDocs.filter(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.countMinCells(stream)
        .writeStream.outputMode("complete").format("memory")
        .queryName("cms_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("cms_out")
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        val want = DocStreams.countMinCells(spark.read.parquet(s"$tmp/in"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        assert(got.nonEmpty && got == want)
        // bounded state: never more than 3 rows x 256 slots
        assert(got.size <= 3 * 256)
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("streaming fuzzy decontamination == batch hit set (stream-static verify)") {
    import graft.streaming.DocStreams
    val batchDocs = Tables(spark, dir, "documents")
    val evalDocs = batchDocs.filter(col("doc_id") % 25 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fuzzy_stream").toString
    try {
      // stream the non-eval docs plus one planted near-copy of an eval doc
      val evText = evalDocs.orderBy("doc_id").select("text")
        .collect().head.getString(0)
      val near = evText.replaceFirst("\\w+", "zz")
      import spark.implicits._
      batchDocs.filter(col("doc_id") % 25 =!= 0)
        .unionByName(Seq((9001L, near, "en", "srcX", near.length.toLong))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = spark.readStream.schema(DocStreams.schema)
        .format("parquet").load(s"$tmp/in")
      val q = DocStreams.fuzzyContaminatedIds(stream, evalDocs, minSim = 0.30)
        .writeStream.outputMode("append").format("memory")
        .queryName("fuzzy_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("fuzzy_out").collect().map(_.getLong(0)).sorted.toSeq
        val want = DocStreams.fuzzyContaminatedIds(
            spark.read.parquet(s"$tmp/in"), evalDocs, minSim = 0.30)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got.nonEmpty && got == want)
        assert(got.contains(9001L), "planted near-copy must be flagged")
      } finally q.stop()
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }
}
