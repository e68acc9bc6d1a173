package graft.util

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame

/** Scratch directories for probes that materialize a parquet stage or a
  * persisted-store round trip. Every directory is registered for
  * recursive deletion at JVM exit, so bench/verify sweeps (3 repeats ×
  * 3 SFs × N probes) leave /tmp clean — pre-round-9 each invocation
  * leaked a corpus-sized parquet copy. Deletion is deferred to exit
  * rather than inline because a probe's RESULT DataFrame may still read
  * lazily from the stage after the probe function returns.
  */
object TempDirs {

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = created.iterator()
      while (it.hasNext) deleteRecursively(it.next())
    }, "graft-tempdirs-cleanup"))
  }

  /** A fresh scratch directory, deleted recursively at JVM exit. */
  def scratch(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p.toString
  }

  /** Stage `df` at `path`: write it as parquet (overwrite) and return
    * the read-back. A plan with several consumers of one expensive
    * subtree reads the staged columns instead of re-running the subtree
    * once per consumer (the staged-write discipline of the composed
    * pipelines). The returned frame reads `path` lazily: rewriting the
    * path invalidates it.
    */
  def staged(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  def deleteRecursively(p: Path): Unit = deleteRecursively(p.toFile)

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
