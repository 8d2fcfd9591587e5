package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the traced run.
  *
  * Spans are recorded by the benchmark around its own calls into graft's
  * public functions; the tracer never hooks program internals. Spark
  * events (job start/end, task end, query-planning phases) are buffered
  * as they arrive and attributed to spans only when the run ends, by the
  * events' OWN timestamps: a task belongs to the innermost span that was
  * open when the task launched, a job to the span open at submission,
  * and a planning phase to the span open when the phase started. The
  * listener bus is drained before the buffers are read, so late
  * task-end events are neither lost nor charged to a later span.
  */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var opId = 0

  private val jobs = ArrayBuffer.empty[(Long, Long)] // (submit ms, end ms)
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val phases = ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.taskInfo.launchTime, 0L, 0L, 0L, 0L)
        else TaskRec(e.taskInfo.launchTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      Tracer.this.synchronized { tasks += rec }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs))
      Tracer.this.synchronized { phases ++= ps }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Drain, then stop listening (used around untraced comparison calls). */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  /** Start a new operation: spans opened until the next call share its id. */
  def nextOp(): Unit = opId += 1

  def span[A](layer: String)(body: => A): A = {
    val id = spans.length
    spans += Span(id, open.headOption.getOrElse(-1), layer, opId,
      System.currentTimeMillis(), -1L, System.nanoTime(), -1L)
    open = id :: open
    try body
    finally {
      open = open.tail
      val s = spans(id)
      spans(id) = s.copy(endMs = System.currentTimeMillis(), endNs = System.nanoTime())
    }
  }

  /** Wall seconds of the current operation: the sum of its top-level spans. */
  def opWallSeconds: Double =
    spans.iterator.filter(s => s.op == opId && s.parent < 0).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Per-layer totals: self time, calls, jobs, tasks, task CPU, GC,
    * shuffle and spill volume, planning time and no-job gap time.
    */
  def layerTotals(): Map[String, LayerTotals] = {
    drain()
    val (js, ts, ps) = synchronized((jobs.toVector, tasks.toVector, phases.toVector))
    val all = spans.toVector
    val children = all.filter(_.parent >= 0).groupBy(_.parent)
    // innermost span open at `t` (the deepest, i.e. latest-started, one)
    val byStart = all.sortBy(s => (s.startMs, s.id))
    def owner(t: Long): Option[Span] =
      byStart.reverseIterator.find(s => s.startMs <= t && t <= s.endMs)
    val jobUnion = mergeIntervals(js)
    val acc = scala.collection.mutable.Map.empty[String, LayerTotals]
    def upd(layer: String)(f: LayerTotals => LayerTotals): Unit =
      acc(layer) = f(acc.getOrElse(layer, LayerTotals()))
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Vector.empty)
      val selfNs = (s.endNs - s.startNs) - kids.map(k => k.endNs - k.startNs).sum
      val selfIv = subtract(Vector((s.startMs, s.endMs)), kids.map(k => (k.startMs, k.endMs)))
      val gapMs = subtract(selfIv, jobUnion).map { case (a, b) => b - a }.sum
      upd(s.layer)(l => l.copy(selfS = l.selfS + selfNs / 1e9, calls = l.calls + 1,
        gapS = l.gapS + gapMs / 1e3))
    }
    js.foreach { case (start, _) => owner(start).foreach(s => upd(s.layer)(l => l.copy(jobs = l.jobs + 1))) }
    ts.foreach { t =>
      owner(t.launchMs).foreach(s => upd(s.layer)(l => l.copy(
        tasks = l.tasks + 1, taskCpuS = l.taskCpuS + t.cpuNs / 1e9, gcS = l.gcS + t.gcMs / 1e3,
        shuffleMb = l.shuffleMb + t.shuffleBytes / 1e6, spillMb = l.spillMb + t.spillBytes / 1e6)))
    }
    ps.foreach { case (start, end) =>
      owner(start).foreach(s => upd(s.layer)(l => l.copy(planS = l.planS + (end - start) / 1e3)))
    }
    acc.toMap
  }

  def spanRecords: Vector[Span] = spans.toVector
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, op: Int,
      startMs: Long, endMs: Long, startNs: Long, endNs: Long)
  final case class TaskRec(launchMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long)
  final case class LayerTotals(selfS: Double = 0, calls: Long = 0, jobs: Long = 0,
      tasks: Long = 0, taskCpuS: Double = 0, gcS: Double = 0, shuffleMb: Double = 0,
      spillMb: Double = 0, planS: Double = 0, gapS: Double = 0)

  def mergeIntervals(iv: Seq[(Long, Long)]): Vector[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
      case (acc, x) => acc :+ x
    }

  /** `base` minus every interval of `cut`. */
  def subtract(base: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Vector[(Long, Long)] = {
    val cuts = mergeIntervals(cut)
    base.toVector.flatMap { case (a0, b0) =>
      var pieces = Vector((a0, b0))
      cuts.foreach { case (c, d) =>
        pieces = pieces.flatMap { case (a, b) =>
          if (d <= a || c >= b) Vector((a, b))
          else Vector((a, c), (d, b)).filter { case (x, y) => y > x }
        }
      }
      pieces
    }
  }
}
