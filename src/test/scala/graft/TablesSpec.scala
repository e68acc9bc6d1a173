package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The events loader must normalize ts to a session-tz TIMESTAMP no matter
  * which physical encoding the testdata generation shipped — int64 nanos
  * (older generations, surfaced as LongType under nanosAsLong) or
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) (current generation, surfaced as
  * TIMESTAMP_NTZ). Round-5 regression: the loader assumed nanos and 17
  * queries died with DATATYPE_MISMATCH when the data switched to micros.
  */
class TablesSpec extends SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sfDir/events.parquet").exists

  test("events.ts loads as TimestampType from the driver testdata") {
    assume(haveData)
    val ev = Tables(spark, sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    // and is usable: the exact expression class that failed in round 5
    val r = ev.select(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    assert(!r.isNullAt(0) && !r.isNullAt(1))
  }

  test("int64-nanos encoding dispatches through the DIV 1000 conversion") {
    // Write a tiny events-shaped parquet whose ts is a raw int64 of
    // µs-aligned nanoseconds, as nanosAsLong surfaces TIMESTAMP(NANOS).
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    import spark.implicits._
    val micros = Seq(1700000000000000L, 1700000001500000L) // 2023-11-14T22:13:2x UTC
    micros.map(us => (1L, us * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == LongType) // precondition of the branch
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(got.toSeq == micros)
  }

  test("spreadDf's metadata probe matches the RDD partition count (gate parity)") {
    // VERDICT r16 item 7: the spread gate must read the file index, not
    // df.rdd (which re-runs physical planning + RDD construction per
    // call). Parity: for real parquet scans — single-file and multi-file —
    // the metadata estimate must equal getNumPartitions, so the gate
    // decision is unchanged everywhere.
    assume(haveData)
    for (name <- Seq("documents", "lineitem", "orders", "embeddings")) {
      val df = Tables(spark, sfDir, name)
      val est = Tables.scanPartitionsForTest(df)
      assert(est.contains(df.rdd.getNumPartitions),
        s"$name: estimated $est != actual ${df.rdd.getNumPartitions}")
    }
    // multi-file layout: split packing must agree with Spark's own
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    import spark.implicits._
    (1L to 1000L).toDF("x").repartition(7).write.mode("overwrite").parquet(dir)
    val multi = spark.read.parquet(dir)
    assert(Tables.scanPartitionsForTest(multi).contains(multi.rdd.getNumPartitions))
    // local fixture is below the floor -> the gate must still spread
    val out = Tables.spreadDf(Tables(spark, sfDir, "documents"))
    assert(out.queryExecution.logical.toString.contains("Repartition"))
    // a non-scan frame falls back to unconditional spread, never throws
    val local = Seq(1L, 2L).toDF("x")
    assert(Tables.spreadDf(local).rdd.getNumPartitions >= 2)
  }

  test("spreadDf keeps a non-file frame that is already wider than the floor") {
    val target = spark.conf.getOption("spark.graft.scan.minPartitions")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    val width = 4 * target
    val out = Tables.spreadDf(spark.range(0, 64, 1, width).toDF())
    assert(!out.queryExecution.logical.toString.contains("Repartition"))
    assert(out.rdd.getNumPartitions == width)
  }

  test("both encodings yield identical wall-clock instants") {
    assume(haveData)
    // Round-trip the real data through the nanos encoding and compare: the
    // loader's two branches must be value-equivalent, not just type-equal.
    val dir = java.nio.file.Files.createTempDirectory("graft-tables2").toString
    val real = Tables(spark, sfDir, "events").orderBy("event_id").limit(100)
      .select(col("event_id"), col("ts")).cache()
    real.select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val viaNanos = Tables(spark, dir, "events")
    assert(viaNanos.schema("ts").dataType == TimestampType)
    val a = real.orderBy("event_id").collect().map(_.toSeq).toSeq
    val b = viaNanos.orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(a == b)
    real.unpersist()
  }
}
