package graft

import org.apache.spark.sql.functions._

/** Learns the checked-in BPE vocabulary (`src/main/resources/graft/
  * bpe_merges.txt`). Run once:
  *
  *   sbt "runMain graft.BpeTrain /root/testdata/sf0.01 500 src/main/resources/graft/bpe_merges.txt"
  *
  * The corpus pass is ONE Spark aggregation (word frequencies — a
  * vocabulary-sized table, ≪ corpus, with deterministic top-K selection);
  * greedy merge learning then runs driver-side over that bounded table,
  * which is the standard scalable BPE training shape. Re-running on the
  * same corpus reproduces the identical file (BpeSpec pins trainer
  * determinism).
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(500)
    val out = args.lift(2).getOrElse("src/main/resources/graft/bpe_merges.txt")
    val maxWords = 100000
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val freqs = Tables(spark, dir, "documents")
        .select(explode(graft.clean.CleanFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("w")).limit(maxWords)
        .collect()
        .map(r => (new String(r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.charset.StandardCharsets.ISO_8859_1), r.getLong(1)))
        .toSeq
      val merges = graft.functions.Bpe.train(freqs, nMerges)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        graft.functions.Bpe.render(merges).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      println(s"[bpe-train] learned ${merges.size} merges from ${freqs.size} words -> $out")
    } finally spark.stop()
  }
}
