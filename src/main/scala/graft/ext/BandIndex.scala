package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash band index: the write-once / probe-many side of
  * incremental near-dedup (`Corpus.dedupIncremental`).
  *
  * The daily-crawl regime re-dedupes each NEW shard against an
  * already-released corpus. Recomputing the released corpus's band
  * signatures on every run re-reads and re-hashes the full old corpus —
  * at 100 TB that dwarfs the new shard's own cost. Like the IVF index, the
  * fix is to make the on-disk layout the index: bands are computed ONCE
  * (with the native zero-exchange `minhash_bands` expression), written as
  * parquet partitioned by a signature prefix, and every subsequent
  * incremental run joins the new shard's bands against the index scan.
  * Dynamic partition pruning then restricts that scan to the prefix
  * partitions the new shard actually collides with, and the parquet
  * footprint read per run is proportional to collision density, not to
  * released-corpus size — the old corpus TEXT is never re-read at all.
  *
  * Layout: `dir/bands/sig_p=<prefix>/…` holding (doc_id, band, sig).
  * `sig_p` is the first `prefixChars` hex chars of the band signature
  * (md5 output, so uniform): 2 chars → 256 partitions per corpus — wide
  * enough for pruning to bite, coarse enough that a 100 TB corpus still
  * writes large parquet files per partition.
  */
object BandIndex {

  val defaultPrefixChars = 2

  /** One pass over `docs` (doc_id, text): native band signatures →
    * prefix-partitioned parquet. The only shuffle is the partitioned
    * write's own file clustering (repartition on sig_p so each partition
    * directory is written by one task, not fragmented across all of them).
    */
  def build(docs: DataFrame, dir: String,
      prefixChars: Int = defaultPrefixChars): Unit = {
    Dedup.minhashBandsNative(docs)
      .withColumn("sig_p", substring(col("sig"), 1, prefixChars))
      .repartition(col("sig_p"))
      .write.mode("overwrite").partitionBy("sig_p")
      .parquet(s"$dir/bands")
  }

  /** The index scan: (doc_id, band, sig, sig_p). Filters on `sig_p` —
    * static or dynamic — prune at the directory level.
    */
  def load(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bands")

  /** doc_ids of `newDocs` that full-band-collide with the indexed corpus —
    * x_ded9's new×old semantics with the old side served from the index.
    *
    * Join shape: the INDEX is the streamed side (it is the released
    * corpus — the big one); the new shard's bands broadcast, which is the
    * incremental regime's defining property (new ≪ released). With the
    * `sig_p` partition column in the equi-key and a broadcast build side,
    * dynamic partition pruning restricts the index scan to the prefix
    * partitions the new shard actually names.
    */
  def collidingNewIds(newDocs: DataFrame, index: DataFrame,
      prefixChars: Int = defaultPrefixChars): DataFrame = {
    val newBands = Dedup.minhashBandsNative(newDocs)
      .withColumn("sig_p", substring(col("sig"), 1, prefixChars))
      .select(col("doc_id").as("new_id"), col("sig_p").as("sig_p_n"),
        col("band").as("band_n"), col("sig").as("sig_n"))
    index.join(broadcast(newBands),
        index("sig_p") === newBands("sig_p_n") &&
        index("band") === newBands("band_n") && index("sig") === newBands("sig_n"))
      .select(col("new_id").as("doc_id")).distinct()
  }
}
