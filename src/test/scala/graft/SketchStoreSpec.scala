package graft

import org.apache.spark.sql.functions._
import graft.ext.Sketches

/** Persisted count-min store: round-trip identity, shard-merge == whole,
  * and estimates stay one-sided through the store.
  */
class SketchStoreSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables(spark, dir, "documents")

  private def cells(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Long)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq

  test("store round-trip: loaded cells == built cells") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_skt_rt").toString
    try {
      Sketches.buildCms(docs, tmp)
      assert(cells(Sketches.loadCms(spark, tmp)) ==
        cells(Sketches.countMinCells(docs)))
    } finally {
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmr))
        f.delete()
      }
      rmr(new java.io.File(tmp))
    }
  }

  test("shard sketches merge to the whole-corpus sketch (cell addition)") {
    val a = Sketches.countMinCells(docs.filter(col("doc_id") % 2 === 0))
    val b = Sketches.countMinCells(docs.filter(col("doc_id") % 2 === 1))
    assert(cells(Sketches.mergeCms(a, b)) == cells(Sketches.countMinCells(docs)))
  }

  test("estimates from the merged store are one-sided over exact counts") {
    val merged = Sketches.mergeCms(
      Sketches.countMinCells(docs.filter(col("doc_id") % 2 === 0)),
      Sketches.countMinCells(docs.filter(col("doc_id") % 2 === 1)))
    val out = Sketches.estimateTopTokens(docs, merged).collect()
    assert(out.length == 10)
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
  }
}
