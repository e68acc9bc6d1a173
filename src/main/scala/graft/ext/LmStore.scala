package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LM count-table store — the train-once / score-many regime
  * for statistical quality scoring, the [[Sketches]] store / [[BandIndex]]
  * pattern applied to the x_txt18 bigram LM: the released corpus is
  * scanned ONCE to produce its vocabulary-bounded count tables; every
  * later shard/stream is scored against the store without re-reading
  * released text. Two consumption regimes from the same artifact:
  * [[PipelineOps10.lmScoreWith]] joins the stored tables (the
  * beyond-broadcast scale path), and [[loadLmIndex]] collects them into
  * the native `lm_nll` expression (the narrow broadcast path
  * `DocStreams.lmScored` runs at the stream door).
  */
object LmStore {

  /** Write the LM count tables of `train` under `path` (uni/ + bg/). */
  def buildLm(train: DataFrame, path: String): Unit = {
    val (uni, bgc) = PipelineOps10.lmTables(train)
    uni.write.mode("overwrite").parquet(s"$path/uni")
    bgc.write.mode("overwrite").parquet(s"$path/bg")
  }

  /** The stored tables, for the join-regime scorer. */
  def loadLmTables(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/uni"), spark.read.parquet(s"$path/bg"))

  /** The stored tables collected into the native scorer's broadcast index
    * (Spark's own binary string order, as [[graft.functions.LmNll]]'s
    * binary search requires).
    */
  def loadLmIndex(spark: SparkSession, path: String): graft.functions.LmIndex = {
    val (uniDf, bgDf) = loadLmTables(spark, path)
    val cap = PipelineOps10.lmIndexMaxEntries.toInt
    val uni = uniDf.orderBy("w").limit(cap + 1).collect()
    val bg = bgDf.orderBy("hb").limit(cap + 1).collect()
    require(uni.length + bg.length <= cap,
      s"stored LM tables exceed $cap entries: too large for the " +
        "broadcast/native regime — join the stored tables instead " +
        "(PipelineOps10.lmScoreWith(loadLmTables(...)))")
    graft.functions.LmIndex(
      bg.map(_.getString(0)).toSeq, bg.map(_.getLong(1)).toSeq,
      uni.map(_.getString(0)).toSeq, uni.map(_.getLong(1)).toSeq,
      uni.length.toLong)
  }

  /** X-TXT18D — the LM probe through the PERSISTED store: count tables
    * built once, written as parquet, read back, and joined — and must
    * produce x_txt18's identical table (shared oracle SQL), pinning the
    * full round trip (schema, types, counts) rather than just the
    * in-memory algebra. This is the daily-increment deployment shape:
    * the store amortizes the train scan that x_txt18c rebuilds per run.
    */
  private val txt18d = Probe(
    "x_txt18d_lm_stored", PipelineOps10.lmSelfOracleSql) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // train-once per corpus dir (round-9 verdict #1): steady bench cost
    // is the load + join scoring pass, the amortized production shape
    val path = graft.util.TrainOnce(s"lm_store:$dir") {
      val p = graft.util.TempDirs.scratch("graft_lm_store")
      buildLm(docs, p)
      p
    }
    val (uni, bgc) = loadLmTables(s, path)
    PipelineOps10.lmScoreWith(docs, uni, bgc).orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(txt18d)
}
