package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A span around one call into a layer, in the client thread. */
final case class Span(id: Int, op: Int, layer: String, name: String,
    parent: Int, startNs: Long, endNs: Long)

/** Spark work attributed to one benchmark operation through the
  * [[Tracer.OpProperty]] local property the client sets around it, or by
  * start time when a job's tag is missing or names an operation that had
  * already ended (only one client runs, so operations never overlap).
  */
final class OpWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskDeserMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var filesScanned = 0L
}

/** Spans and Spark-side counters of a traced run, kept in memory and
  * written out when the run ends. With tracing off every call is a no-op
  * except the operation bookkeeping the client needs anyway.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._
  val spans = mutable.ArrayBuffer.empty[Span]
  val work = mutable.HashMap.empty[Int, OpWork]
  private val stack = mutable.Stack.empty[Int]
  // read by Spark's listener thread as well as the client thread
  @volatile private var currentOp = -1
  @volatile private var opStartMs = 0L
  private val opWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val unattributed = mutable.ArrayBuffer.empty[(Long, Long)]

  def beginOp(id: Int, cls: String, kind: String): Unit = {
    opStartMs = System.currentTimeMillis()
    currentOp = id
    if (enabled) stack.push(open(id, "op", s"$cls.$kind"))
  }
  def endOp(): Unit = {
    if (enabled) close(stack.pop())
    opWindows.synchronized { opWindows += ((currentOp, opStartMs, System.currentTimeMillis())) }
    currentOp = -1
  }

  /** Set when the timed loop starts: set-up and warm-up leave no spans. */
  var live = false

  /** Time `body` as a span of `layer` under the innermost open span. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || !live) body
    else {
      val s = open(currentOp, layer, name)
      stack.push(s)
      try body finally { stack.pop(); close(s) }
    }

  private def open(op: Int, layer: String, name: String): Int = {
    val id = spans.size
    spans += Span(id, op, layer, name, if (stack.isEmpty) -1 else stack.top,
      System.nanoTime(), -1L)
    id
  }
  private def close(id: Int): Unit =
    spans(id) = spans(id).copy(endNs = System.nanoTime())

  def spanMs(layer: String, name: String): Seq[Double] =
    spans.filter(s => s.layer == layer && s.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  private def workOf(op: Int): OpWork = work.synchronized(work.getOrElseUpdate(op, new OpWork))
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageOp = mutable.HashMap.empty[Int, Int]

  /** Listener bus callbacks run on Spark's listener thread. */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt)
      val op = tag.filter(o => isOpenAt(o, e.time)).orElse(opAt(e.time))
      if (op.isDefined && op != tag) byWindow.incrementAndGet()
      op match {
        case Some(o) =>
          jobOp.synchronized {
            jobOp(e.jobId) = (o, e.time)
            e.stageIds.foreach(s => stageOp(s) = o)
          }
          workOf(o).synchronized { workOf(o).jobs += 1 }
        case None =>
          jobOp.synchronized { jobOp(e.jobId) = (-1, e.time) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOp.synchronized(jobOp.remove(e.jobId)).foreach { case (o, start) =>
        if (o >= 0) { val w = workOf(o); w.synchronized { w.jobIntervals += ((start, e.time)) } }
        else unattributed.synchronized { unattributed += ((start, e.time)); () }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobOp.synchronized(stageOp.remove(e.stageInfo.stageId)).foreach { o =>
        val w = workOf(o); w.synchronized { w.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val o = jobOp.synchronized(stageOp.get(e.stageId))
      val m = e.taskMetrics
      if (o.isDefined && m != null) {
        val w = workOf(o.get)
        w.synchronized {
          w.tasks += 1
          w.taskRunMs += m.executorRunTime
          w.taskCpuNs += m.executorCpuTime
          w.taskDeserMs += m.executorDeserializeTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Catalyst phases and scanned files per query. Query-execution events
    * carry no local properties, so each is matched to the operation whose
    * window holds its analysis start (operations never overlap).
    */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val t = phases.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      opAt(t).foreach { o =>
        val w = workOf(o)
        w.synchronized {
          w.analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
          w.optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
          w.planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
          w.filesScanned += scans(qe.executedPlan).map(s =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Jobs attributed by their start time rather than their tag: jobs
    * submitted from a thread that carries no tag or a stale one. graft runs
    * some commit writes on its own pool threads, which keep the local
    * properties of the thread that created them.
    */
  val byWindow = new java.util.concurrent.atomic.AtomicInteger()

  /** Whether operation `op` was running at `tMs`. */
  private def isOpenAt(op: Int, tMs: Long): Boolean =
    opWindows.synchronized(opWindows.find(_._1 == op)) match {
      case Some((_, s, e)) => tMs >= s - SlackMs && tMs <= e + SlackMs
      case None => op == currentOp && tMs >= opStartMs - SlackMs
    }

  private def opAt(tMs: Long): Option[Int] = opWindows.synchronized {
    opWindows.reverseIterator.find { case (_, s, e) => tMs >= s && tMs <= e }.map(_._1)
  }.orElse(if (currentOp >= 0 && tMs >= opStartMs) Some(currentOp) else None)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Operations whose Spark jobs do not reconcile with their wall time:
    * an attributed job outside the operation's window, or an unattributed
    * job inside it (work the local property failed to tag).
    */
  def unreconciled(ops: Seq[OpRecord]): Seq[Int] = ops.filter { o =>
    val w = work.get(o.id)
    val outside = w.exists(_.jobIntervals.exists { case (s, e) =>
      s < o.startMs - SlackMs || e > o.endMs + SlackMs })
    val stray = unattributed.synchronized(unattributed.exists { case (s, e) =>
      s >= o.startMs && s <= o.endMs })
    outside || stray
  }.map(_.id)

  /** Jobs without an operation tag that started inside [loMs, hiMs]. */
  def unattributedBetween(loMs: Long, hiMs: Long): Int =
    unattributed.synchronized(unattributed.count { case (s, _) => s >= loMs && s <= hiMs })
}

object Tracer {
  val OpProperty = "perfbench.op"
  /** Listener timestamps are wall-clock milliseconds. */
  val SlackMs = 2L

  /** Length of the union of intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
