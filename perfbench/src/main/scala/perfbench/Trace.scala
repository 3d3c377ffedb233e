package perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._

/** One timed call into a layer. `name` refines the layer (for example
  * `txnlog.merge`); `op` is the benchmark op the span belongs to. */
final case class Span(
    id: Int, parent: Int, op: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are opened around each call the
  * benchmark makes into a layer's public function; nothing inside the
  * program is instrumented. When disabled, `span` only runs its body.
  *
  * The stack is shared by all threads on purpose: a streaming
  * `foreachBatch` body runs on the stream's thread while the thread that
  * started the query blocks in `awaitTermination`, so at most one thread
  * records at a time and the body's spans nest under the trigger span. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  @volatile var op: Int = -1
  /** Wall clock and monotonic clock read together, so span times can be
    * compared with the epoch-millisecond times of listener events. */
  private val epochMs0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()

  def epochMs(ns: Long): Double = epochMs0 + (ns - ns0) / 1e6

  private val counters = mutable.Map.empty[String, Double]

  /** True while an op is being traced. */
  def tracing: Boolean = enabled && op >= 0

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Add to a per-layer counter of the traced ops (`bronze.bytes_written`). */
  def add(key: String, v: Double): Unit =
    if (tracing) synchronized { counters(key) = counters.getOrElse(key, 0.0) + v }

  def counts: Map[String, Double] = synchronized(counters.toMap)

  def current: Int = synchronized(stack.headOption.getOrElse(-1))

  def span[A](layer: String, name: String = "")(body: => A): A =
    if (!tracing) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val p = stack.headOption.getOrElse(-1)
        stack = id :: stack
        (id, p)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.filterNot(_ == id)
          spans += Span(id, parent, op, layer,
            if (name.isEmpty) layer else name, t0, t1)
        }
      }
    }

  /** Add a span whose interval the benchmark derives from what a layer
    * reports about itself (Pipeline.run's per-layer durations). */
  def derived(layer: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (tracing && endNs > startNs) synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, op, layer, layer, startNs, endNs)
    }
}

object Tracer {
  /** Self time of every span: its duration minus the union of the
    * intervals its children cover (clipped to the span itself). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** The innermost span (latest start, so the deepest nesting level)
    * whose interval holds `tMs`, on the epoch-millisecond clock. */
  def innermost(tr: Tracer, spans: Seq[Span], tMs: Double): Option[Span] =
    spans.filter(s => tr.epochMs(s.startNs) <= tMs && tMs <= tr.epochMs(s.endNs))
      .sortBy(s => (s.startNs, -s.endNs)).lastOption
}

/** Task metrics of one finished task, as the listener saw them. */
final case class TaskRec(
    stageId: Int, runMs: Long, shuffleBytes: Long, spillBytes: Long,
    failed: Boolean)

/** Spark listener that records job start times, the stages of each job
  * and every task's metrics. The benchmark registers it only in a traced
  * run; attribution to spans happens after the run. */
final class TaskListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != TaskSuccess
    tasks += (if (m == null) TaskRec(e.stageId, 0, 0, 0, failed)
      else TaskRec(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, failed))
  }
}
