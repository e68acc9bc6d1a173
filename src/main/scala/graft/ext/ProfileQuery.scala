package graft.ext

/** Dev-only same-JVM A/B harness for any registered query: times the
  * query through the noop sink with the spread gate at its default
  * (spark.graft.scan.minPartitions unset → defaultParallelism) vs forced
  * OFF (=1). One JVM, interleaved repeats, so the comparison carries no
  * session-to-session drift (guide §1).
  * Usage: runMain graft.ext.ProfileQuery <query> [sfDir] [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileQuery <query> [sfDir] [reps]"))
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)

    def once(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up (also pays any train-once build)
    // interleave ON/OFF repeats so slow machine drift hits both arms
    val on = collection.mutable.ArrayBuffer[Double]()
    val off = collection.mutable.ArrayBuffer[Double]()
    (1 to reps).foreach { _ =>
      spark.conf.unset("spark.graft.scan.minPartitions")
      on += once()
      spark.conf.set("spark.graft.scan.minPartitions", "1")
      off += once()
    }
    spark.conf.unset("spark.graft.scan.minPartitions")
    def fmt(ts: Seq[Double]) =
      f"min=${ts.min}%6.3f all=${ts.map(t => f"$t%.3f").mkString(",")}"
    println(s"[profile] $name spread ON  ${fmt(on.toSeq)}")
    println(s"[profile] $name spread OFF ${fmt(off.toSeq)}")
    spark.stop()
  }
}
