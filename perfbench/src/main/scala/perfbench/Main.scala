package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side. It runs one workload in a closed loop (one
  * client: the next operation starts only after the previous one returned),
  * records latencies and, with `--trace 1`, spans and Spark counters, and
  * writes everything to `<out>/run.json`. Percentiles, self times, output
  * checks and the final metric line are computed by `run.py`.
  *
  *   perfbench.Main names
  *   perfbench.Main --workload W --input DIR --out DIR --seconds S --trace 0|1
  *                  --cores N --seed N [--probes FILE --probe-input DIR]
  *
  * With `--trace 1` and `--probes`, the traced run also makes one pass over
  * the listed Registry probes on the tables in `--probe-input`.
  */
object Main {
  private val mainEntryMs = System.currentTimeMillis()

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("names")) {
      graft.Registry.all.foreach(p => println(p.name + "\t" + p.oracle.isDefined))
      return
    }
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("input"), a("out"), a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, a("seed").toLong,
      a.get("probes").map(f => (f, a("probe-input"))))
    run.execute()
  }

  def jvmToMainMs: Long =
    mainEntryMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

final class Run(workload: String, input: String, out: String, seconds: Double,
    trace: Boolean, cores: Int, seed: Long, probes: Option[(String, String)]) {

  private val json = new Json.Obj
  private val failures = ArrayBuffer.empty[String]
  private var spark: SparkSession = _
  private var tracer: Tracer = Tracer.off

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1).count() // session ready = it has run a job
    s
  }

  private def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; nowMs(t0) }

  /** One closed-loop operation: its latency in ms, or None when it threw. */
  private def op(name: String)(f: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { f; Some(nowMs(t0)) }
    catch {
      case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def answer(name: String, df: DataFrame): Unit =
    try df.coalesce(1).write.mode("overwrite").parquet(s"$out/answers/$name")
    catch { case e: Throwable => failures += s"answer $name: ${String.valueOf(e.getMessage).take(300)}" }

  def execute(): Unit = {
    Files.createDirectories(Paths.get(out, "answers"))
    // set-up: three session builds (the last one is kept), then warm-up
    val builds = (1 to 3).map { i =>
      val ms = timed { spark = session() }
      if (i < 3) spark.stop()
      ms
    }
    json("jvm_to_main_ms") = Main.jvmToMainMs.toDouble
    json("session_ms") = Json.arr(builds)
    if (trace) tracer = new Tracer(Some(spark))
    val w: Workload = workload match {
      case "osm_etl" => new OsmEtl
      case "corpus_pipeline" => new CorpusPipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val mix = probes.filter(_ => trace).map { case (f, dir) => new Probes(f, dir) }
    json("warm_ms") = timed { w.warm(); mix.foreach(_.warm()) }
    json("cores") = cores.toDouble
    if (!trace) w.measure()
    else {
      // the same fixed amount of work twice: untraced, then traced
      val plain = timed(w.fixedPass(traced = false))
      tracer.on = true
      val traced = tracer.span("pass")(timed(w.fixedPass(traced = true)))
      mix.foreach(m => tracer.span("probes")(m.fixedPass()))
      tracer.on = false
      json("pass_ms_untraced") = plain
      json("pass_ms_traced") = traced
      json("trace") = tracer.toJson
    }
    w.answers()
    mix.foreach(_.answers())
    json("failures") = Json.arr(failures.toSeq)
    json("peak_rss_kb") = peakRssKb.toDouble
    Files.writeString(Paths.get(out, "run.json"), json.render)
    spark.stop()
  }

  private def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  private trait Workload {
    def warm(): Unit
    def measure(): Unit
    def fixedPass(traced: Boolean): Unit
    def answers(): Unit
  }

  /** Share of the measured seconds given to pipeline passes (at least one)
    * before the query loop of osm_etl and corpus_pipeline. */
  private val pipelineShare = 0.3

  /** Round-robin closed loop over `ops` in a seeded order until at least
    * `minN` samples are taken and `budgetS` seconds have passed. */
  private def queryLoop(ops: Seq[(String, () => Unit)], minN: Int, budgetS: Double): Unit = {
    val rnd = new scala.util.Random(seed)
    val lat = ArrayBuffer.empty[Json.Value]
    System.gc() // the pipeline pass's garbage is not billed to the first queries
    val t0 = System.nanoTime()
    var n = 0
    while (n < minN || nowMs(t0) < budgetS * 1000) {
      rnd.shuffle(ops).foreach { case (name, f) =>
        val r = op(name)(f())
        lat += Json.arr(Seq(Json.Str(name), Json.Num(r.getOrElse(-1.0))))
        n += 1
      }
    }
    json("queries") = Json.Arr(lat.toSeq)
  }

  // ------------------------------------------------------------------ osm_etl
  private final class OsmEtl extends Workload {
    import graft.osm.{OsmPipeline, OsmQueries}
    private val xml = s"$input/map.osm"
    private val tables = s"$out/osm_tables"

    private def etl(path: String, dir: String): Unit = {
      val t = OsmPipeline.process(spark, path, splittable = true, cache = true)
      OsmPipeline.writeParquet(OsmPipeline.validated(t), dir)
      spark.catalog.clearCache() // process(cache = true) persisted the raw scans
    }

    private def stored(dir: String): OsmPipeline.OsmTables = OsmPipeline.OsmTables(
      spark.read.parquet(s"$dir/nodes"), spark.read.parquet(s"$dir/nodes_tags"),
      spark.read.parquet(s"$dir/ways"), spark.read.parquet(s"$dir/ways_nodes"),
      spark.read.parquet(s"$dir/ways_tags"))

    private val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
      "q1" -> OsmQueries.q1, "q1Literal" -> OsmQueries.q1Literal, "q2" -> OsmQueries.q2,
      "q3" -> OsmQueries.q3, "q4" -> OsmQueries.q4, "q4Literal" -> OsmQueries.q4Literal,
      "q5Oldest" -> OsmQueries.q5Oldest, "q5Newest" -> OsmQueries.q5Newest)

    private def runQueries(dir: String): Unit = {
      OsmPipeline.registerViews(stored(dir))
      queries.foreach { case (_, q) => noop(q(spark)) }
    }

    def warm(): Unit = {
      etl(s"$input/warm.osm", s"$out/osm_warm")
      runQueries(s"$out/osm_warm")
    }

    def measure(): Unit = {
      val etlMs = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (etlMs.isEmpty || nowMs(t0) < seconds * pipelineShare * 1000) {
        val r = op("etl")(etl(xml, tables))
        etlMs += r.getOrElse(-1.0)
      }
      json("etl_ms") = Json.arr(etlMs.toSeq)
      OsmPipeline.registerViews(stored(tables))
      // q3, the notebook's one join, runs twice a round: with an even number
      // of equally weighted queries the median falls in the gap between two
      // queries' latencies and swings with either of them
      val ops = (queries :+ queries(3)).map { case (n, q) => n -> (() => noop(q(spark))) }
      queryLoop(ops, 100, seconds - nowMs(t0) / 1000)
    }

    def fixedPass(traced: Boolean): Unit = {
      if (!traced) { etl(xml, tables); runQueries(tables); return }
      // materialise each public call's output, so that each span is one layer
      val t = OsmPipeline.process(spark, xml, splittable = true, cache = true)
      def persisted(v: OsmPipeline.OsmTables): OsmPipeline.OsmTables = {
        val all = Seq(v.nodes, v.nodeTags, v.ways, v.wayNodes, v.wayTags).map(_.persist())
        all.foreach(_.count())
        OsmPipeline.OsmTables(all(0), all(1), all(2), all(3), all(4))
      }
      tracer.span("osm.scan") { // builds process()'s cached raw scans
        tracer.attr("elements", (t.nodes.count() + t.ways.count()).toDouble)
      }
      val shaped = tracer.span("osm.shape")(persisted(t))
      tracer.span("clean") {
        // the cached raw scans are the children of the pipeline's projections
        def raw(df: DataFrame) = org.apache.spark.sql.GraftPlanBridge.ofRows(
          spark, df.queryExecution.analyzed.children.head)
        val r = OsmQueries.rawTags(raw(t.nodes), raw(t.ways))
          .select(graft.clean.CleanFns.tagKey(col("k")).as("key"), col("v"))
          .filter(col("key").isin("street", "phone", "postcode", "state", "city"))
          .select(col("v"), OsmPipeline.cleanValue(col("key"), col("v")).as("c"))
          .agg(count(lit(1)), sum(when(col("c") =!= col("v"), 1L).otherwise(0L)))
          .collect()(0)
        tracer.attr("values", r.getLong(0).toDouble)
        tracer.attr("changed", r.getLong(1).toDouble)
      }
      val valid = tracer.span("osm.validate")(persisted(OsmPipeline.validated(shaped)))
      tracer.span("osm.sink") {
        OsmPipeline.writeParquet(valid, tables)
        tracer.attr("bytes_in", new java.io.File(xml).length.toDouble)
        tracer.attr("bytes_out", dirBytes(new java.io.File(tables)).toDouble)
      }
      spark.catalog.clearCache()
      OsmPipeline.registerViews(stored(tables))
      for (_ <- 1 to 3; (name, q) <- queries)
        tracer.span(s"osm.query.$name")(noop(q(spark)))
    }

    def answers(): Unit = {
      OsmPipeline.registerViews(stored(tables))
      queries.foreach { case (n, q) => answer(n, q(spark)) }
      json("tables_dir") = tables
      json("xml_bytes") = new java.io.File(xml).length.toDouble
    }
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  // ---------------------------------------------------------- corpus_pipeline
  private final class CorpusPipeline extends Workload {
    import graft.api.Corpus
    private val outDir = s"$out/corpus"

    private def evalDocs(dir: String) = spark.read.parquet(s"$dir/eval.parquet")

    private def chain(dir: String): Corpus =
      Corpus(spark, dir)
        .withQualitySignals().filterQuality(minWords = 20, maxWords = 100000)
        .dedupExact().dedupNearMinHash().filterByRepetition()
        .withKnScore().decontaminate(evalDocs(dir))

    private def write(c: Corpus, dest: String): Unit =
      c.df.write.mode("overwrite").parquet(dest)

    /** The corpus engineer's look at the result: the same SQL runs in DuckDB
      * as the oracle. Three aggregations of similar cost, so that the median
      * and p90 of their latencies fall inside one cluster, not in the gap
      * between a fast and a slow query. */
    val queries: Seq[(String, String)] = Seq(
      "langs" -> "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars FROM corpus GROUP BY lang ORDER BY lang",
      "sources" -> "SELECT source, COUNT(*) AS n, MAX(n_words) AS max_words FROM corpus GROUP BY source ORDER BY source",
      "length_hist" -> "SELECT CAST(floor(n_words / 50) AS BIGINT) AS bucket, COUNT(*) AS n FROM corpus GROUP BY 1 ORDER BY 1")

    private def view(dir: String): Unit = spark.read.parquet(dir).createOrReplaceTempView("corpus")

    def warm(): Unit = {
      write(chain(s"$input/warm"), s"$out/corpus_warm")
      view(s"$out/corpus_warm")
      queries.foreach { case (_, q) => noop(spark.sql(q)) }
    }

    def measure(): Unit = {
      val runs = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (runs.isEmpty || nowMs(t0) < seconds * pipelineShare * 1000) {
        runs += op("chain") { write(chain(input), outDir); spark.catalog.clearCache() }.getOrElse(-1.0)
      }
      json("chain_ms") = Json.arr(runs.toSeq)
      view(outDir)
      queryLoop(queries.map { case (n, q) => n -> (() => noop(spark.sql(q))) }, 100,
        seconds - nowMs(t0) / 1000)
    }

    def fixedPass(traced: Boolean): Unit = {
      if (!traced) {
        write(chain(input), outDir); spark.catalog.clearCache()
        view(outDir); queries.foreach { case (_, q) => noop(spark.sql(q)) }
        return
      }
      val in0 = Corpus(spark, input).materialize()
      var rows = in0.df.count()
      def stage(name: String)(f: Corpus => Corpus)(c: Corpus): Corpus =
        tracer.span(s"corpus.$name") {
          val next = f(c).materialize()
          val n = next.df.count()
          tracer.attr("rows_in", rows.toDouble); tracer.attr("rows_out", n.toDouble)
          rows = n
          next
        }
      val ev = evalDocs(input)
      val q = stage("quality")(_.withQualitySignals().filterQuality(20, 100000))(in0)
      val e = stage("dedup_exact")(_.dedupExact())(q)
      val m = stage("dedup_minhash")(_.dedupNearMinHash())(e)
      tracer.span("dedup.candidates") {
        val bands = graft.ext.Dedup.minhashBandsNative(e.df)
        val a = bands.select(col("doc_id").as("a"), col("band"), col("sig"))
        val b = bands.select(col("doc_id").as("b"), col("band").as("band_b"), col("sig").as("sig_b"))
        tracer.attr("pairs", a.join(b, col("band") === col("band_b") && col("sig") === col("sig_b") &&
          col("a") < col("b")).select("a", "b").distinct().count().toDouble)
      }
      val r = stage("repetition")(_.filterByRepetition())(m)
      val k = stage("kn_score")(_.withKnScore())(r)
      val d = stage("decontaminate")(_.decontaminate(ev))(k)
      tracer.span("corpus.sink") {
        write(d, outDir)
        tracer.attr("rows_in", rows.toDouble); tracer.attr("rows_out", rows.toDouble)
      }
      spark.catalog.clearCache()
      view(outDir)
      for (_ <- 1 to 3; (name, sql) <- queries) tracer.span(s"corpus.query.$name")(noop(spark.sql(sql)))
    }

    def answers(): Unit = {
      view(outDir)
      queries.foreach { case (n, q) => answer(n, spark.sql(q)) }
      json("corpus_dir") = outDir
      json("oracle") = Json.Obj(queries.map { case (n, q) => n -> Json.Str(q) })
    }
  }

  // ----------------------------------------------------------- Registry probes
  /** One traced pass over a sample of Registry probes, each timed through a
    * noop write after an untimed warm-up pass that also writes the answers
    * the DuckDB oracles check. */
  private final class Probes(listFile: String, dir: String) {
    private val byName = graft.Registry.all.map(p => p.name -> p).toMap
    private val sample: Seq[graft.Probe] = {
      val src = scala.io.Source.fromFile(listFile)
      try src.getLines().filter(_.nonEmpty).map(byName).toList finally src.close()
    }

    def warm(): Unit = sample.foreach { p =>
      spark.catalog.clearCache()
      val df = p.run(spark, dir)
      if (p.oracle.isDefined) answer(p.name, df) else op(p.name)(noop(df))
    }

    def fixedPass(): Unit = sample.foreach { p =>
      spark.catalog.clearCache()
      tracer.span(s"mix.${p.name}")(op(p.name)(noop(p.run(spark, dir))))
    }

    def answers(): Unit = {
      json("probe_dir") = dir
      json("probe_names") = Json.arr(sample.map(_.name))
      json("probe_oracle") = Json.Obj(sample.flatMap(p => p.oracle.map(p.name -> Json.Str(_))))
    }
  }
}
