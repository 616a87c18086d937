package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call into one layer. `group` is shared by every span of one
  * query (or one micro-batch); `parent` is 0 at the top level.
  */
final case class Span(id: Int, name: String, parent: Int, group: String,
    startNs: Long, endNs: Long)

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var gcS = 0.0
  var schedDelayS = 0.0
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var scanB = 0L
  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_s" -> taskS,
    "gc_s" -> gcS, "sched_delay_s" -> schedDelayS,
    "shuffle_read_b" -> shuffleReadB, "shuffle_write_b" -> shuffleWriteB,
    "spill_b" -> spillB, "scan_b" -> scanB)
}

/** Records spans in memory. With tracing on, every Spark job started on
  * the calling thread inside a span carries the job tag `pb<span id>`, and
  * [[WorkListener]] charges the job's stages and tasks to that span.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Int = ids.incrementAndGet()

  def span[T](sc: SparkContext, name: String, parent: Int, group: String,
      id: Int = newId())(body: => T): (T, Double) = {
    val tag = s"pb$id"
    if (on) sc.addJobTag(tag)
    val start = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - start) / 1e9)
    } finally {
      val end = System.nanoTime()
      if (on) {
        sc.removeJobTag(tag)
        spans.add(Span(id, name, parent, group, start, end))
      }
    }
  }

  /** Record a span measured elsewhere (a micro-batch phase). */
  def record(name: String, parent: Int, group: String, startNs: Long, endNs: Long): Int = {
    val id = newId()
    if (on) spans.add(Span(id, name, parent, group, startNs, endNs))
    id
  }
}

/** Counts Spark work per span, keyed by the job tags the [[Tracer]] sets. */
final class WorkListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val work = mutable.Map[Int, Work]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith("pb"))
      .flatMap(t => t.drop(2).toIntOption).maxOption

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      e.stageIds.foreach(stageSpan(_) = s)
      work.getOrElseUpdate(s, new Work).jobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s =>
      work.getOrElseUpdate(s, new Work).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = work.getOrElseUpdate(s, new Work)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskS += m.executorRunTime / 1e3
        w.gcS += m.jvmGCTime / 1e3
        w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        w.scanB += m.inputMetrics.bytesRead
      }
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        w.schedDelayS += math.max(0L, e.taskInfo.launchTime - sub) / 1e3
      }
    }
  }

  def snapshot(): Map[Int, Work] = synchronized(work.toMap)
}

/** Counts WARN and worse log events from every logger. */
final class WarnCounter extends AbstractAppender("perfbench-warn", null, null,
    true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong(0)
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.WARN)) count.incrementAndGet()
}

object WarnCounter {
  def install(): WarnCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new WarnCounter
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.WARN, null)
    ctx.updateLoggers()
    a
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
  final case class Raw(json: String)
}
