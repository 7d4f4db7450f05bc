package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is 0 for an op's
  * root span; spans of one op share `op`. Times are System.nanoTime.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** Spans kept in memory and written out when the run ends. A disabled
  * tracer runs every block bare: no span, no Spark local property.
  *
  * The innermost open span's name and its op id ride on the calling
  * thread as Spark local properties, so [[ExecListener]] attributes
  * every job to the op and layer that started it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long, String)]] {
    override def initialValue(): List[(Long, Long, String)] = Nil
  }

  def spans: Seq[Span] = done.asScala.toSeq

  /** A root span for one op; `op` ids are unique per run. */
  def op[T](opId: Long, name: String)(f: => T): T =
    if (!enabled) f else within(opId, name, f)

  def span[T](name: String)(f: => T): T =
    open.get() match {
      case (_, op, _) :: _ if enabled => within(op, name, f)
      case _ => f
    }

  private def within[T](op: Long, name: String, f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    open.set((id, op, name) :: stack)
    sc.setLocalProperty(ExecListener.OpKey, op.toString)
    sc.setLocalProperty(ExecListener.SpanKey, name)
    val start = System.nanoTime()
    try f
    finally {
      done.add(Span(id, parent, op, name, start, System.nanoTime()))
      open.set(stack)
      sc.setLocalProperty(ExecListener.OpKey,
        stack.headOption.map(_._2.toString).orNull)
      sc.setLocalProperty(ExecListener.SpanKey, stack.headOption.map(_._3).orNull)
    }
  }
}

/** Per-stage execution totals, from task-end events. */
final class StageTotals {
  var op: String = null
  var submitted: Long = 0L
  var completed: Long = 0L
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var scanTasks = 0
  var waitMs = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Attributes jobs, stages and tasks to the op (and layer span) whose
  * thread started them, via the local properties [[Tracer]] sets.
  * Registered only for the traced window.
  */
final class ExecListener extends SparkListener {
  import ExecListener._
  /** (job id, op id, span name) */
  val jobs = new ConcurrentLinkedQueue[(Int, String, String)]()
  val stages = mutable.Map.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.map(_.getProperty(OpKey)).orNull
    if (op != null) {
      jobs.add((e.jobId, op, props.map(_.getProperty(SpanKey)).orNull))
      stages.synchronized {
        e.stageIds.foreach { s =>
          val t = stages.getOrElseUpdate(s, new StageTotals)
          if (t.op == null) t.op = op
        }
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.synchronized {
      stages.get(e.stageInfo.stageId).foreach(t =>
        t.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.synchronized {
      stages.get(e.stageInfo.stageId).foreach(t =>
        t.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
    stages.get(e.stageId).foreach { t =>
      val info = e.taskInfo
      t.tasks += 1
      if (info.failed || info.killed) t.failedTasks += 1
      if (t.submitted > 0) t.waitMs += math.max(0L, info.launchTime - t.submitted)
      t.durations += info.duration
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) t.scanTasks += 1
      }
    }
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Minimal JSON rendering for the run's result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case v @ (_: Boolean | _: Number) => v.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
