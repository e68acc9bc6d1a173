package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds.
  *
  * Results are materialized through a noop-format write, which executes the
  * complete plan (a count() would let Catalyst prune projections and skip
  * the actual expression work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 50+ distinct queries x several codegen stages each blow through the
      // default 100-entry generated-class cache -> recompiles mid-suite.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // session-build-time, not read-time (ADVICE r5): a NANOS-encoded
      // events file must be readable from the first scan; Tables still
      // sets it defensively for sessions built elsewhere.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // ERROR, not WARN: Spark's WARN lines across the whole query suite
    // would crowd a bounded capture of stdout's tail, which must end with
    // our bare JSON result line.
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warm-up on the smallest SF so first-query JIT cost does
    // not land on an arbitrary query.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // best-of-N wall time per query (default N=3): separates steady-state cost from
    // one-time whole-stage-codegen compilation.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3").toInt.max(1)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.contains) }
      .map { case (name, fn) =>
      // benchmark hygiene: let ContextCleaner drop the previous query's
      // broadcast/shuffle state so its GC debt doesn't bill this query.
      // The cleaner acts on reference-queue drain ASYNCHRONOUSLY — without
      // a settle window the unpersist work lands inside the next query's
      // timed section (observed: x_ded4 3.3 s in-suite vs 1.9 s isolated).
      // Harness control (round-13 verdict #2): clearCache() below drops
      // CacheManager-tracked DataFrame caches, but an RDD-level persist
      // (or a frame cached through a path CacheManager lost track of)
      // would accumulate across 265 queries — sweep the block manager's
      // persistent-RDD registry explicitly so no probe's leftovers can
      // bill a later query. (The instrumented r14 sweep measured rdds=0
      // and flat storage/metaspace at every query — this is the guard
      // that KEEPS it true, not a fix for a live leak.)
      // blocking: async removal could still be draining when the next
      // timed section starts; this runs once per query OUTSIDE the timed
      // section, so blocking is free (ADVICE r14)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(200)
      val times = (1 to repeat).flatMap { rep =>
        // drop cached plan fragments (the dedup probes persist() their
        // signature subtrees) so every repeat pays the full pipeline —
        // otherwise repeats 2..N would time a cache read, not the query.
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val r = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None // a fast failure must not be reported as a fast query
        }
        // suite-state forensics (round-13 verdict #2: in-suite repeats
        // of untouched queries exploded 30× within one JVM while the
        // isolated runs stayed flat): SPARK_GRAFT_BENCH_DIAG=1 logs,
        // per repeat, everything a 265-query JVM could be accumulating
        // — persisted RDDs, block-manager storage, heap, metaspace,
        // loaded classes, broadcast count — so a drift correlates to
        // ONE counter instead of vibes
        if (sys.env.contains("SPARK_GRAFT_BENCH_DIAG")) {
          val sc = spark.sparkContext
          val rdds = sc.getPersistentRDDs.size
          val sm = java.lang.management.ManagementFactory.getMemoryMXBean
          val heapMb = sm.getHeapMemoryUsage.getUsed / 1048576
          val meta = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
            .asScala.find(_.getName.contains("Metaspace"))
            .map(_.getUsage.getUsed / 1048576).getOrElse(-1L)
          val classes =
            java.lang.management.ManagementFactory.getClassLoadingMXBean.getLoadedClassCount
          val storage = sc.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum / 1048576
          System.err.println(f"[diag] $name rep=$rep t=${r.getOrElse(-1.0)}%.2f " +
            f"rdds=$rdds storageMb=$storage heapMb=$heapMb metaMb=$meta classes=$classes")
        }
        r
      }
      // (min, first, all): min is steady-state; first additionally carries
      // JIT / codegen-compile / cache-build cost. Reporting both stops
      // min-of-N from systematically penalizing persist-based probes (which
      // pay their cache build EVERY repeat under clearCache) relative to
      // stateless probes (whose variance min forgives). The full repeats
      // array makes contention-vs-regression forensics one-glance: uniform
      // inflation across repeats = environment; a fast min with slow
      // outliers = scheduling noise; a slow min = the code.
      (name, if (times.nonEmpty) times.min else -1.0,
             if (times.nonEmpty) times.head else -1.0,
             times)
    }
    def f3(v: Double): String = // Locale.ROOT: a comma decimal separator would break JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Full per-query maps go to a repo FILE; the printed line stays short.
    // Rounds 1 & 2 both printed the whole 95-entry map on the stdout line
    // and the driver's bounded tail capture truncated it -> parsed:null.
    def mapJson(f: ((String, Double, Double, Seq[Double])) => Double): String =
      results.map { case t @ (k, _, _, _) => "\"" + k + "\":" + f3(f(t)) }
        .mkString("{", ",", "}")
    val repeatsJson = results
      .map { case (k, _, _, ts) =>
        "\"" + k + "\":" + ts.map(f3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detailJson =
      s"""{"steady_sec":${mapJson(_._2)},"first_sec":${mapJson(_._3)},"repeats_sec":$repeatsJson,"failed":$failedJson}"""
    // overridable so parallel isolated-bench workers (one JVM per query,
    // two workers) don't race on one detail file
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH", "/root/repo/BENCH_DETAIL.json"))
    try java.nio.file.Files.writeString(detailPath, detailJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // round-stamped archive (VERDICT r6 item 8): cross-round per-query
    // comparison should not require git archaeology. SPARK_GRAFT_ROUND is
    // set by the repo's own sweeps; absent (e.g. the driver's bench run),
    // the plain BENCH_DETAIL.json above still updates.
    sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"/root/repo/BENCH_DETAIL_r$r.json"), detailJson + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] detail archive failed: $e") }
    }
    val total = results.map(_._2).filter(_ >= 0).sum // failed queries excluded
    val ok = results.count(_._2 >= 0)
    // worst-3 inline under the driver's expected "queries" key: a dict that
    // stays ~150 bytes at any query count, so the line can never be truncated.
    val worst = results.filter(_._2 >= 0).sortBy(-_._2).take(3)
      .map { case (k, v, _, _) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // n_failed is in the line (not just the detail file) so any tooling that
    // only reads the one-line summary can see partial runs; a nonzero exit
    // below makes rc-checking tooling see them too. A total over a shrunken
    // query set must never pass for a speedup.
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$worst,"n_queries":$ok,"n_failed":${failed.size},"detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    // Print once before stop (in case stop() throws) and once AFTER, so the
    // bare JSON object is the LAST stdout line even if Spark's shutdown
    // path logs anything. Combined with build.sbt's StdoutOutput fork
    // strategy (no "[info] " prefix) + showSuccess:=false (no trailing
    // "[success]" line), the driver's last-line parse finally succeeds.
    println(line)
    spark.stop()
    println(line)
    System.out.flush()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
      sys.exit(1) // a run with errored queries must not report rc=0
    }
  }
}
