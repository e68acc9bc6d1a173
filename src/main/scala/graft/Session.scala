package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration shared by the mains and the
  * test suites, so that tests plan and read what Bench and Verify do.
  */
object Session {

  /** A `local[cpus]` session (or the running one) with one shuffle
    * partition per core, AQE on, a UTC session time zone and no UI.
    */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
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
}
