package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Spans the benchmark records around its own calls into each layer.
  * Disabled spans cost one branch, so the untraced run executes the same
  * calls. Each span also remembers the operation (query or FA stage) that
  * was current when it opened. */
final class Tracer {
  final case class Span(name: String, op: String, parent: Int,
                        t0: Long, w0: Long, var t1: Long = 0L,
                        var w1: Long = 0L, var childNs: Long = 0L) {
    def ns: Long = t1 - t0
    def selfNs: Long = ns - childNs
    def layer: String = name.takeWhile(_ != '.')
  }

  var enabled = false
  var op = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(name, op, open.headOption.getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      open = id :: open
      try body
      finally {
        val s = spans(id)
        s.t1 = System.nanoTime(); s.w1 = System.currentTimeMillis()
        open = open.tail
        if (s.parent >= 0) spans(s.parent).childNs += s.ns
      }
    }

  def reset(): Unit = { spans.clear(); open = Nil }
  def names: Seq[String] = spans.map(_.name).distinct.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def ms(name: String): Double = named(name).map(_.ns).sum / 1e6
  def selfMs(name: String): Double = named(name).map(_.selfNs).sum / 1e6
  def layerSelfMs(layer: String): Double =
    spans.filter(_.layer == layer).map(_.selfNs).sum / 1e6
  /** Wall time of the top-level spans opened for `op`. */
  def opMs(op: String): Double =
    spans.filter(s => s.op == op && s.parent < 0).map(_.ns).sum / 1e6
  def topLevelMs: Double = spans.filter(_.parent < 0).map(_.ns).sum / 1e6
}

/** Counts of one slice of Spark execution, summed from task-end events. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var recordsRead, recordsWritten, bytesWritten = 0L
}

/** The benchmark's own SparkListener. Jobs carry the `perfbench.op` and
  * `perfbench.layer` local properties of the driver thread that submitted
  * them; stages and tasks are attributed through their job. */
final class Collector extends SparkListener {
  final case class Job(op: String, layer: String, start: Long, var end: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val byOp = mutable.Map.empty[String, Counts]
  private val byLayer = mutable.Map.empty[String, Counts]
  private var sum = new Counts
  def total: Counts = synchronized(sum)

  private def slices(stageId: Int): Seq[Counts] =
    stageJob.get(stageId).flatMap(jobs.get) match {
      case Some(j) => Seq(sum, byOp.getOrElseUpdate(j.op, new Counts),
        byLayer.getOrElseUpdate(j.layer, new Counts))
      case None => Seq(sum)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val j = Job(prop("perfbench.op"), prop("perfbench.layer"), e.time, -1L)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    (Seq(sum) ++ Seq(byOp.getOrElseUpdate(j.op, new Counts),
      byLayer.getOrElseUpdate(j.layer, new Counts))).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { slices(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    slices(e.stageId).foreach { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      m.foreach { t =>
        c.taskMs += t.executorRunTime
        c.gcMs += t.jvmGCTime
        c.shuffleRead += t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead
        c.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        c.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        c.recordsRead += t.inputMetrics.recordsRead
        c.recordsWritten += t.outputMetrics.recordsWritten
        c.bytesWritten += t.outputMetrics.bytesWritten
      }
    }
  }

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); byOp.clear(); byLayer.clear()
    sum = new Counts
  }

  def op(name: String): Counts = synchronized(byOp.getOrElse(name, new Counts))
  def layer(name: String): Counts =
    synchronized(byLayer.getOrElse(name, new Counts))

  /** Milliseconds of [w0, w1] during which no job of `layer` ran. */
  def uncoveredMs(layer: String, w0: Long, w1: Long): Long = synchronized {
    val iv = jobs.values.filter(_.layer == layer)
      .map(j => (math.max(j.start, w0), math.min(if (j.end < 0) w1 else j.end, w1)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var until = w0
    iv.foreach { case (a, b) =>
      val s = math.max(a, until)
      if (b > s) { covered += b - s; until = b }
    }
    (w1 - w0) - covered
  }
}

/** The benchmark's own log4j appender: counts the log lines that mark
  * repeated work, so a pass reports how many it emitted. */
object LogCounter {
  val fnReregister = new AtomicLong
  val dupBlock = new AtomicLong
  val missingAccum = new AtomicLong

  private def count(text: String): Unit =
    if (text != null) {
      if (text.contains("replaced a previously registered function"))
        fnReregister.incrementAndGet()
      if (text.contains("already exists on this machine"))
        dupBlock.incrementAndGet()
      if (text.contains("non-existent accumulator"))
        missingAccum.incrementAndGet()
    }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-counter", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        count(e.getMessage.getFormattedMessage +
          Option(e.getThrown).map(" " + _.getMessage).getOrElse(""))
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  def snapshot(): (Long, Long, Long) =
    (fnReregister.get, dupBlock.get, missingAccum.get)
}
