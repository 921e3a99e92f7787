package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** One timed interval at a layer boundary. `traceId` groups the spans of
  * one chunk, batch or query; `parent` names the enclosing span. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, traceId: String) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]

  def nowMs: Double = System.nanoTime() / 1e6 - Spans.originNs / 1e6 +
    Spans.originEpochMs

  def span[T](name: String, traceId: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    val t0 = nowMs
    try body
    finally {
      stack.pop()
      buf.synchronized { buf += Span(name, t0, nowMs, parent, traceId) }
    }
  }

  def all: Seq[Span] = buf.synchronized(buf.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def writeJson(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      w.println(all.map { s =>
        s"""{"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
          s""""end_ms":${Json.num(s.endMs)},"parent":${Json.str(s.parent)},""" +
          s""""trace_id":${Json.str(s.traceId)}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}

object Spans {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
}

/** Per-trigger progress of every streaming query, by query name. */
final class ProgressLog extends StreamingQueryListener {
  private val byName = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      byName.getOrElseUpdate(e.progress.name, mutable.ArrayBuffer.empty) +=
        e.progress
    }

  def of(name: String): Seq[StreamingQueryProgress] =
    synchronized(byName.get(name).map(_.toList).getOrElse(Nil))

  def clear(): Unit = synchronized(byName.clear())

  /** Progress events arrive after the trigger commits; wait (up to 10 s)
    * until `name` has reported a trigger that read up to `offset`. */
  def await(name: String, offset: Long): Unit = {
    val until = System.nanoTime() + 10000000000L
    while (!of(name).exists(p => ProgressLog.endOffset(p) >= offset) &&
        System.nanoTime() < until) Thread.sleep(5)
  }
}

object ProgressLog {
  /** Epoch milliseconds at which the trigger committed. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  def dur(p: StreamingQueryProgress, key: String): Double =
    p.durationMs.getOrDefault(key, 0L).toDouble

  /** End offset of the first source as a number (MemoryStream offsets
    * count `addData` calls); -1 when the trigger read nothing. */
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
}

/** Job, task and resource counters from the Spark scheduler. Jobs and
  * tasks count only streaming work: a job belongs to a query when it
  * carries the `sql.streaming.queryId` property the engine sets. */
final class JobStats extends SparkListener {
  private val stageJob = mutable.Map.empty[Int, Int]
  private val streamingJobs = mutable.Set.empty[Int]
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  /** Start counting afresh, at the start of the measured phase. */
  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleBytes = 0; spillBytes = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties)
        .exists(_.getProperty("sql.streaming.queryId") != null)) {
      jobs += 1
      streamingJobs += e.jobId
    }
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.get(e.stageId).exists(streamingJobs)) tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object JobStats {
  def attach(spark: SparkSession): JobStats = {
    val s = new JobStats
    spark.sparkContext.addSparkListener(s)
    s
  }
}

/** Peak live heap: the heap in use right after a full collection forced
  * at each phase boundary (end of set-up, end of each measured phase).
  * The first collection lets Spark's context cleaner drop the blocks of
  * datasets nothing references any more; the second one measures. */
object Heap {
  import java.lang.management.ManagementFactory

  @volatile private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
