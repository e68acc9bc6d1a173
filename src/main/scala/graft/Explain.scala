package graft

/** Dev tool: print the formatted physical plan for registered queries.
  * Usage: runMain graft.Explain <sfDir> [nameSubstring...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val filters = args.drop(1)
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filters.isEmpty || filters.exists(n.contains) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
