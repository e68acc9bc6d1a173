package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Spans around public layer calls: name, start, end, parent, the Spark
  * counters spent inside, the time with no task running, and free-form
  * attributes (row counts, bytes). Everything stays in memory until
  * [[toJson]]; self times are derived from the spans afterwards. */
final class Tracer(spark: Option[SparkSession]) {
  var on = false

  private val rec = spark.map { s =>
    val r = new Recorder
    s.sparkContext.addSparkListener(r)
    s.listenerManager.register(r)
    r
  }

  private final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long, val c0: Counters) {
    var durMs = 0.0
    var endMs = 0L
    var c: Counters = Counters()
    var busyMs = 0L
    val attrs = new Json.Obj
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private def drained(): Counters = {
    spark.foreach(s => org.apache.spark.perfbench.BusDrain(s.sparkContext))
    rec.map(_.snapshot).getOrElse(Counters())
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val c0 = drained()
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime(), c0)
      spans += s
      stack = s :: stack
      try f
      finally {
        s.durMs = (System.nanoTime() - s.startNs) / 1e6
        s.endMs = System.currentTimeMillis()
        s.c = drained() - c0
        s.busyMs = rec.map(_.busyMs(s.startMs, s.endMs)).getOrElse(0L)
        stack = stack.tail
      }
    }

  /** An attribute of the innermost open span. */
  def attr(k: String, v: Double): Unit = stack.headOption.foreach(_.attrs(k) = v)

  def toJson: Json.Arr = Json.Arr(spans.toSeq.map { s =>
    val c = s.c
    Json.Obj(Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs,
      "busy_ms" -> s.busyMs, "attrs" -> s.attrs,
      "counters" -> Json.Obj(Seq(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "executor_run_ms" -> c.executorRunMs,
        "executor_cpu_ms" -> c.executorCpuMs, "gc_ms" -> c.gcMs,
        "task_result_bytes" -> c.resultBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
        "planning_ms" -> c.planningMs))))
  })
}

object Tracer {
  val off: Tracer = new Tracer(None)
}
