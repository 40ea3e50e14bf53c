package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span (a call into a module's public function) cost, summed
  * over every time the span ran. */
final class Counters {
  var calls = 0L
  var wallNs = 0L
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var warn = 0L
  var error = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val batchMs = mutable.ArrayBuffer[Long]()
  val batchParts = mutable.Map[String, Long]().withDefaultValue(0L)
}

/** Per-span counters fed by listeners the benchmark registers on the
  * session: a SparkListener (jobs, tasks, task time, shuffle and spill),
  * a QueryExecutionListener (analysis, optimization and planning times
  * from QueryExecution.tracker), a StreamingQueryListener (micro-batch
  * durations) and a log4j appender (WARN and ERROR events). Everything
  * stays in memory until [[detach]].
  *
  * The harness is a single closed-loop client, so an event belongs to
  * the span open when it reaches the listener; [[span]] drains the
  * listener bus before it closes, so no event crosses into the next
  * span. Events outside any span go to "other".
  */
final class Trace(spark: SparkSession) {
  val spans: mutable.LinkedHashMap[String, Counters] = mutable.LinkedHashMap()
  @volatile private var current: Counters = counters("other")

  private def counters(name: String): Counters = synchronized(spans.getOrElseUpdate(name, new Counters))

  private def cur: Counters = current

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = cur
      c.synchronized { c.jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = cur
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            c.emptyTasks += 1
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val c = cur
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      val c = cur
      c.synchronized {
        d.get("triggerExecution").foreach(v => c.batchMs += v.longValue)
        d.foreach { case (k, v) => c.batchParts(k) += v.longValue }
      }
    }
  }

  private val appender = new AbstractAppender("perfbench-log-count", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val c = cur
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) c.synchronized { c.error += 1 }
      else if (e.getLevel == Level.WARN) c.synchronized { c.warn += 1 }
    }
  }

  private def logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    appender.start()
    // on the root config: events of loggers with their own configs
    // (GraftSession.quietNoisyLoggers) still reach it by additivity
    logContext.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logContext.updateLoggers()
  }

  def detach(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    logContext.getConfiguration.getRootLogger.removeAppender(appender.getName)
    logContext.updateLoggers()
    appender.stop()
  }

  /** Adds the analysis time of a DataFrame built in the open span: it is
    * analyzed as it is built, before any action reaches the listener. */
  def analyzed(df: org.apache.spark.sql.DataFrame): Unit = {
    val c = cur
    val ms = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    c.synchronized { c.analysisMs += ms }
  }

  /** Run `body` as span `name`; returns its result. */
  def span[T](name: String)(body: => T): T = {
    val c = counters(name)
    val outer = current
    BusDrain(spark.sparkContext)
    current = c
    val t0 = System.nanoTime()
    try body
    finally {
      c.wallNs += System.nanoTime() - t0
      c.calls += 1
      BusDrain(spark.sparkContext)
      current = outer
    }
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def compileSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  @volatile var watching = false
  @volatile var livePeakBytes = 0L

  /** Track the heap left in use after each GC while [[watching]] is set:
    * the live-set high-water mark of the timed part. */
  def watchHeap(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (watching && n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > livePeakBytes) livePeakBytes = used
          }
        }, null, null)
      case _ => ()
    }
}
