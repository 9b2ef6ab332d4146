package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. Spans are opened and
  * closed on the main thread around calls into the engine's layers;
  * the open span's id rides on a SparkContext local property, so every
  * Spark job submitted inside it (including the eager jobs a query runs
  * while it is being constructed) is attributed to it by [[JobListener]].
  * When disabled every call is a plain pass-through, so the untraced
  * run measures the engine with nothing added. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Op id of a span, for attributing jobs to ops. */
  def opOf(spanId: Int): Int = spans(spanId).op
}

object Tracer {
  val SpanProperty = "graftbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, var end: Long)
}

/** Job, stage and task metrics from Spark's public listener bus, keyed
  * by the benchmark span each job was submitted under. Events arrive
  * asynchronously; [[awaitQuiet]] waits until every started job has
  * ended and its stages have reported. */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  private val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private var submitted = 0
  private var completed = 0

  // Listener-bus thread writes, main thread reads after awaitQuiet:
  // every access goes through this object's monitor.
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(e.jobId, span, e.time * 1000000L, 0L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { submitted += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      completed += 1
      val i = e.stageInfo
      val m = i.taskMetrics
      val durations = taskMs.remove(i.stageId).map(_.sorted)
        .getOrElse(mutable.ArrayBuffer())
      val skew =
        if (durations.size < 2) 1.0
        else durations.last.toDouble /
          math.max(1L, durations(durations.size / 2)).toDouble
      if (m != null)
        stages(i.stageId) = Stage(i.stageId, i.numTasks, m.executorRunTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, skew)
    }

  /** Spark figures per op: jobs, stages and tasks, task run time, bytes
    * read, written, shuffled and spilled, and the worst stage skew, over
    * the jobs submitted under the op's spans. */
  def perOp(t: Tracer): Map[Int, Map[String, Any]] = synchronized {
    jobs.values.toSeq.filter(_.span >= 0).groupBy(j => t.opOf(j.span))
      .map { case (op, js) =>
        val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
        def mb(f: Stage => Long) = ss.map(f).sum / 1048576.0
        op -> Map[String, Any](
          "jobs" -> js.size,
          "stages" -> ss.size,
          "tasks" -> ss.map(_.tasks).sum,
          "task_run_s" -> ss.map(_.runMs).sum / 1e3,
          "input_mb" -> mb(_.inputB),
          "output_mb" -> mb(_.outputB),
          "shuffle_read_mb" -> mb(_.shuffleReadB),
          "shuffle_write_mb" -> mb(_.shuffleWriteB),
          "spill_mb" -> mb(_.spillB),
          "skew_max" -> (ss.map(_.skew) :+ 1.0).max,
          "jobs_in" -> js.groupBy(j => t.spans(j.span).name)
            .map { case (k, v) => k -> v.size })
      }
  }

  /** Block until the bus has delivered every job end and stage
    * completion (or `timeoutMs` passes); true when quiet. */
  def awaitQuiet(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def quiet = synchronized {
      jobs.values.forall(_.end > 0) && completed >= submitted
    }
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
    // one more beat for stage events that trail their job's end
    Thread.sleep(100)
    quiet
  }
}

object JobListener {
  final case class Job(id: Int, span: Int, start: Long, var end: Long,
      stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, inputB: Long,
      outputB: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
      skew: Double)
}
