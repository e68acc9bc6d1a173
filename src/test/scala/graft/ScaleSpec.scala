package graft

import graft.ext.Sketches
import graft.util.Scale
import org.apache.spark.sql.functions._

/** Scale-pattern tests: salted join semantics, partitioned-sink pruning,
  * and broadcast/pushdown plan shape assertions.
  */
class ScaleSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** x_skt4's slots: the three disjoint 4-hex windows of md5(key). */
  private def slots(k: Long): Seq[String] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until 3).map(r => hex.substring(4 * r, 4 * r + 4))
  }

  test("saltedJoin == plain inner join (orders x customer)") {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    val plain = o.join(c, Seq("o_custkey"))
      .select("o_orderkey", "c_name").orderBy("o_orderkey").collect().toSeq
    val salted = Scale.saltedJoin(o, c, "o_custkey", 8)
      .select("o_orderkey", "c_name").orderBy("o_orderkey").collect().toSeq
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val out = java.nio.file.Files.createTempDirectory("part_sink").toString
    Tables(spark, dir, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("event_type") === "error")
    val expl = pruned.queryExecution.executedPlan.toString
    assert(expl.contains("PartitionFilters") &&
      expl.contains("event_type"), s"no partition pruning in:\n$expl")
    val nError = Tables(spark, dir, "events")
      .filter(col("event_type") === "error").count()
    assert(pruned.count() == nError)
  }

  test("broadcast hint produces a BroadcastHashJoin") {
    val li = Tables(spark, dir, "lineitem")
    val p = broadcast(Tables(spark, dir, "part"))
    val plan = li.join(p, col("l_partkey") === col("p_partkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("filter + projection reach the parquet scan") {
    val q = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("sizedWriter bounds rows per output file without extra jobs") {
    val out = java.nio.file.Files.createTempDirectory("sized").toString
    Scale.sizedWriter(Tables(spark, "/root/testdata/sf0.01", "lineitem"), 10000L)
      .mode("overwrite").parquet(s"$out/li")
    val files = new java.io.File(s"$out/li").listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // 60k rows at <=10k rows/file -> at least 6 files
    assert(files.length >= 6, s"expected >=6 files, got ${files.length}")
    val back = spark.read.parquet(s"$out/li")
    assert(back.count() == 60000L)
  }

  test("saltedJoin correct on a heavily skewed, duplicate-heavy key") {
    import spark.implicits._
    val big = (1 to 50000).map(_ => (7L, "dup_payload")).toDF("k", "p")
      .unionAll((1 to 100).map(i => (i.toLong % 20 + 100L, s"p$i")).toDF("k", "p"))
    val small = (0L to 200L).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedJoin(big, small, "k", 16).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted(7L) == 50000L)
  }

  test("bucketOf is stable and within range") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("k")
      .select(col("k"), Scale.bucketOf(col("k"), 32).as("b"))
    val range = df.agg(min("b"), max("b")).collect()(0)
    assert(range.getInt(0) >= 0 && range.getInt(1) < 32)
    // deterministic across evaluations
    val a = df.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b = df.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a == b)
  }

  test("observe(): pipeline health metrics ride the job, no second scan") {
    // at 100 TB you cannot afford a separate count() pass for data-quality
    // counters; observe() accumulates them inside the main job
    import org.apache.spark.sql.Observation
    val obs = Observation("etl_metrics")
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val out = li.observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(when(col("l_quantity") > 45, 1).otherwise(0)).as("high_qty"))
      .filter(col("l_quantity") > 45)
    val kept = out.count()
    val m = obs.get
    assert(m("rows_seen") == li.count())
    assert(m("high_qty") == kept)
  }

  test("adviseJoin: small dim side -> broadcast, and the plan agrees") {
    import spark.implicits._
    val big = (1L to 50000L).map(k => (k, "p")).toDF("k", "p")
    val dim = (1L to 100L).map(k => (k, s"d$k")).toDF("k", "name")
    val adv = Sketches.adviseJoin(big, "k", dim, "k")
    assert(adv.strategy == "broadcast_b", adv.toString)
    assert(adv.nA == 50000L && adv.nB == 100L)
    // est is one-sided and tight here (distinct keys, 100 matches)
    assert(adv.estJoin >= 100L && adv.estJoin <= 300L, adv.toString)
    // following the advice produces the advised operator
    val plan = big.join(org.apache.spark.sql.functions.broadcast(dim), Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("adviseJoin: two large uniform sides -> shuffle, and the plan agrees") {
    import spark.implicits._
    val a = (1L to 20000L).map(k => (k, "a")).toDF("k", "p")
    val b = (1L to 20000L).map(k => (k, "b")).toDF("k", "q")
    val adv = Sketches.adviseJoin(a, "k", b, "k", broadcastMaxRows = 1000L)
    assert(adv.strategy == "shuffle", adv.toString)
    // uniform distinct keys: heaviest-key upper bound stays far below a
    // reducer's fair share (collision noise only)
    assert(adv.maxKeyA * 32 < 8 * adv.nA, adv.toString)
    // with broadcast off the table, the actual plan shuffles both sides
    val plan = spark.sessionState.executePlan(
      a.hint("shuffle_merge").join(b, Seq("k")).queryExecution.logical)
      .executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("Exchange"), plan)
  }

  test("adviseJoin: hot key -> salt, and saltedJoin keeps results identical") {
    import spark.implicits._
    val big = (1 to 50000).map(_ => (7L, "dup")).toDF("k", "p")
      .unionAll((1L to 5000L).map(k => (k + 100L, "u")).toDF("k", "p"))
    val other = (1L to 6000L).map(k => (k, s"d$k")).toDF("k", "name")
    val adv = Sketches.adviseJoin(big, "k", other, "k", broadcastMaxRows = 1000L)
    assert(adv.strategy == "salt", adv.toString)
    assert(adv.maxKeyA >= 50000L, "hot key must dominate the sketch bound")
    // following the advice: salted result == plain join result
    val plain = big.join(other, Seq("k")).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedJoin(big, other, "k", 16).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain && salted(7L) == 50000L)
  }

  test("adviseJoin estimate is one-sided: est >= exact join size") {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val adv = Sketches.adviseJoin(li, "l_orderkey", o, "o_orderkey")
    val exact = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    assert(adv.estJoin >= exact, s"est ${adv.estJoin} < exact $exact")
    assert(adv.nA == li.count() && adv.nB == o.count())
  }

  test("adviseJoin est follows the x_skt6 oracle when keys collide in some sketch rows only") {
    import spark.implicits._
    // two disjoint one-key sets whose slots meet in one sketch row but not
    // in every row: the first window-0 collision among small integers
    val (a, b) = (0L until 5000L).groupBy(k => slots(k).head).values
      .filter(_.size >= 2).map(ks => (ks(0), ks(1)))
      .filter { case (x, y) => slots(x) != slots(y) }
      .minBy(_._1)
    val (as, bs) = (Seq(a), Seq(b))
    // the oracle's algebra by hand: count-min cells per side, the INNER
    // join on (r, slot), SUM(ca.c * cb.c) per r, MIN over the joined rows
    def cells(ks: Seq[Long]): Map[(Int, String), Long] =
      ks.flatMap(k => slots(k).zipWithIndex.map { case (s, r) => (r, s) })
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    val cb = cells(bs)
    val dots = cells(as).toSeq
      .flatMap { case (rs, c) => cb.get(rs).map(d => rs._1 -> c * d) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val oracleEst = if (dots.isEmpty) 0L else dots.values.min
    assert(dots.size < 3 && oracleEst > 0, s"keys $a, $b: matched rows $dots")
    val adv = Sketches.adviseJoin(as.toDF("k"), "k", bs.toDF("k"), "k")
    assert(adv.estJoin == oracleEst, s"keys $a, $b: $adv vs oracle est $oracleEst")
  }

  test("x_skt4's n_est equals adviseJoin's estJoin: one join-size algebra") {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val rows = SparkEntry.queries("x_skt4_join_size")(spark, dir).collect()
    assert(rows.length == 1)
    val adv = Sketches.adviseJoin(li, "l_orderkey", o, "o_orderkey")
    assert(rows(0).getLong(1) == adv.estJoin, s"x_skt4 ${rows(0)} vs $adv")
  }

  test("disjoint join keys: x_skt4 returns no row, x_skt6 advises with est_join = 0") {
    import spark.implicits._
    // 20 lineitem keys x 3 rows against 10 order keys whose slots meet the
    // lineitem slots in NO sketch row, so every oracle inner join is empty
    val liKeys = (1L to 20L)
    val taken = (0 until 3).map(r => liKeys.map(k => slots(k)(r)).toSet)
    val oKeys = Iterator.from(1001).map(_.toLong)
      .filter(k => slots(k).zipWithIndex.forall { case (s, r) => !taken(r)(s) })
      .take(10).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_disjoint").toString
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
      f.delete()
    }
    try {
      liKeys.flatMap(Seq.fill(3)(_)).toDF("l_orderkey")
        .write.parquet(s"$tmp/lineitem.parquet")
      oKeys.toDF("o_orderkey").write.parquet(s"$tmp/orders.parquet")
      // the oracle's `FROM exact, ip` with an empty ip is empty
      assert(SparkEntry.queries("x_skt4_join_size")(spark, tmp).collect().isEmpty)
      val adv = SparkEntry.queries("x_skt6_join_advice")(spark, tmp).collect()
      assert(adv.length == 1)
      val r = adv(0)
      val (na, nb, est, mxa, mxb) =
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("est_join"),
          r.getAs[Long]("max_key_a"), r.getAs[Long]("max_key_b"))
      // the x_skt6 oracle on these tables: (60, 10, 0, 3, 1, broadcast_b)
      assert(na == 60L && nb == 10L && est == 0L, r.toString)
      assert(mxa == 3L && mxb == 1L, r.toString)
      assert(r.getAs[String]("strategy") ==
        Sketches.strategyFor(na, nb, mxa, mxb, 1000L, 8L, 32), r.toString)
      assert(r.getAs[String]("strategy") == "broadcast_b", r.toString)
    } finally rmr(new java.io.File(tmp))
  }
}
