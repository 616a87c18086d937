package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ContextBridge

/** The engine's one probe of Spark work. `span` sets a fresh job tag on
  * the calling thread (the threads Spark starts for it inherit the tag),
  * and a listener added for the span alone charges to it every job and
  * stage whose properties carry the tag, and every task of those stages.
  * The listener bus is drained before the span returns, so the counts
  * are complete. Jobs of other threads are not charged, but log4j events
  * and Spark's code generator carry no tag: `warns` holds every WARN
  * logged in the JVM while the span ran and `compiles` every class
  * compiled in it, so a span whose warns or compiles are read must run
  * alone.
  */
object Profile {
  /** One stage a span ran: its shuffle-map tasks, the largest and the
    * total task shuffle read, and the bytes spilled from memory and disk.
    */
  final case class Stage(shuffleMapTasks: Int, maxTaskShuffleRead: Long,
      shuffleRead: Long, memorySpill: Long, diskSpill: Long)

  /** A span's jobs, the stages they ran in stage-id order (a skipped
    * stage runs nothing and is not listed), the WARN messages, and the
    * classes Spark's code generator compiled (the count of
    * `CodegenMetrics.METRIC_COMPILATION_TIME`: misses of its class
    * cache). Warns and compiles are JVM-wide: read them from a span
    * that ran alone.
    */
  final case class Work(jobs: Int, stages: Seq[Stage], warns: Seq[String],
      compiles: Long)

  private val spans = new AtomicLong(0L)
  private val DrainTimeoutMs = 60000L

  /** Run `body` and return its result with the Spark work it ran. */
  def span[T](spark: SparkSession)(body: => T): (T, Work) = {
    val sc = spark.sparkContext
    val id = spans.incrementAndGet()
    val tag = s"graft-profile-$id"
    val charge = new Charge(tag)
    val warns = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"graft-profile-warn-$id", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage): Unit
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    sc.addSparkListener(charge)
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    sc.addJobTag(tag)
    val compiles0 = compiled
    try {
      val r = body
      drain(spark)
      (r, charge.synchronized(Work(charge.jobs, charge.stages.values.toSeq,
        warns.asScala.toSeq, compiled - compiles0)))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(charge)
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  private def compiled: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Block until every posted listener event has been delivered; throws
    * a TimeoutException rather than let a caller read partial counts.
    */
  def drain(spark: SparkSession): Unit =
    ContextBridge.drainListenerBus(spark.sparkContext, DrainTimeoutMs)

  private final class Charge(tag: String) extends SparkListener {
    var jobs = 0
    val stages = mutable.TreeMap[Int, Stage]()

    private def tagged(props: java.util.Properties): Boolean =
      Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").contains(tag))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (tagged(e.properties)) jobs += 1
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (tagged(e.properties)) stages.getOrElseUpdate(e.stageInfo.stageId, Stage(0, 0, 0, 0, 0))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        val r = m.shuffleReadMetrics.totalBytesRead
        stages(e.stageId) = Stage(
          s.shuffleMapTasks + (if (e.taskType == "ShuffleMapTask") 1 else 0),
          math.max(s.maxTaskShuffleRead, r), s.shuffleRead + r,
          s.memorySpill + m.memoryBytesSpilled, s.diskSpill + m.diskBytesSpilled)
      }
    }
  }
}
