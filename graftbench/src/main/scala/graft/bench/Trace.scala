package graft.bench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Cumulative scheduler counts for every SparkContext it is registered
  * with. A span reads them at open and at close; the difference is what
  * the cluster did in the span's time window, whichever call site (often a
  * `CompletableFuture` in the program's own thread pools) submitted it.
  */
final class Meter extends SparkListener {
  import Meter._
  private val counts = new Array[Long](Fields.length)
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start ms, end ms) of every finished job, in completion order. */
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(Jobs) += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobWindows += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(Stages) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      counts(Tasks) += 1
      counts(TaskMs) += m.executorRunTime
      counts(ShuffleBytes) += m.shuffleWriteMetrics.bytesWritten
      counts(SpillBytes) += m.diskBytesSpilled
      counts(RecordsRead) += m.inputMetrics.recordsRead
      counts(RecordsWritten) += m.outputMetrics.recordsWritten
    }
  }

  def snapshot(): Array[Long] = synchronized(counts.clone())
}

object Meter {
  val Fields = Array("jobs", "stages", "tasks", "task_ms", "shuffle_bytes",
    "spill_bytes", "records_read", "records_written")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskMs = 3
  val ShuffleBytes = 4; val SpillBytes = 5; val RecordsRead = 6; val RecordsWritten = 7
}

/** One recorded span: what ran, when (wall-clock ms, as Spark stamps its
  * events), which span caused it, which benchmark op it served, and the
  * scheduler counts of its window.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
                      startMs: Long, endMs: Long, seconds: Double,
                      counts: Array[Long], attrs: Map[String, Double])

/** Span recorder. Off, a span is just its body. On, each boundary first
  * waits for the listener bus to drain, so the counts are complete; that
  * wait is the tracing overhead the traced run reports.
  */
final class Tracer(var on: Boolean) {
  val meter = new Meter
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  /** Id of the benchmark op the next spans belong to. */
  var op = 0L

  def apply[T](name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      org.apache.spark.BenchBus.drain()
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val c0 = meter.snapshot()
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        org.apache.spark.BenchBus.drain()
        val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        val c1 = meter.snapshot()
        open.pop()
        spans += Span(id, parent, op, name, w0, w1, (t1 - t0) / 1e9,
          c1.zip(c0).map { case (a, b) => a - b }, attrs)
      }
    }
}
