package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span tracing from outside the engine: each layer call runs under its
  * own Spark job group, one listener rolls Spark's task, stage and job
  * events up per group, and a log appender counts ERROR lines per span.
  */
final class Trace(sc: SparkContext, cores: Int) extends SparkListener {

  /** Raw counters of one span call. */
  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakExec = 0L
    var errorLogs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val rddBlockBytes = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var peakCached = 0L
  @volatile private var currentGroup: String = null
  private var seq = 0

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && accs.contains(g)) {
      jobGroup(e.jobId) = g
      jobStartMs(e.jobId) = e.time
      acc(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      acc(g).jobSpans += ((jobStartMs.remove(e.jobId).get, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    if (id.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${id.name}"
      val bytes = info.memSize + info.diskSize
      cachedBytes += bytes - rddBlockBytes.getOrElse(key, 0L)
      if (bytes == 0L) rddBlockBytes.remove(key) else rddBlockBytes(key) = bytes
      peakCached = math.max(peakCached, cachedBytes)
    }
  }

  private[perfbench] def errorLogged(): Unit = synchronized {
    val g = currentGroup
    if (g != null) acc(g).errorLogs += 1
  }

  /** Rollups of one finished span call, keyed by rollup name. */
  def span[T](name: String)(body: => T): (T, Map[String, Double]) = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val g = synchronized { seq += 1; val id = s"$name#$seq"; acc(id); id }
    val cachedAtStart = synchronized { peakCached = cachedBytes; cachedBytes }
    currentGroup = g
    sc.setJobGroup(g, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out =
      try body
      finally {
        sc.clearJobGroup()
        currentGroup = null
      }
    val wallS = (System.nanoTime() - n0) / 1e9
    val t1 = t0 + math.round(wallS * 1000)
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val a = accs.remove(g).get
      val busyMs = unionMs(a.jobSpans.toSeq, t0, t1)
      val mb = 1024.0 * 1024.0
      (out, Map(
        "wall_s" -> wallS,
        "idle_s" -> math.max(0.0, wallS - busyMs / 1000.0),
        "jobs" -> a.jobs.toDouble,
        "stages" -> a.stages.toDouble,
        "tasks" -> a.tasks.toDouble,
        "executor_cpu_s" -> a.cpuNs / 1e9,
        "core_util" -> a.runMs / 1000.0 / (wallS * cores),
        "gc_s" -> a.gcMs / 1000.0,
        "shuffle_write_mb" -> a.shuffleWrite / mb,
        "shuffle_read_mb" -> a.shuffleRead / mb,
        "spill_mb" -> a.spill / mb,
        "peak_exec_mem_mb" -> a.peakExec / mb,
        "error_logs" -> a.errorLogs.toDouble,
        "peak_cached_mb" -> (peakCached - cachedAtStart) / mb))
    }
  }

  /** Milliseconds of [t0, t1] covered by at least one of `spans`. */
  private def unionMs(spans: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    spans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}

object Trace {

  /** Rollups reported for every engine span. */
  val AcesRollups: Set[String] = Set(
    "wall_s", "idle_s", "jobs", "stages", "tasks", "executor_cpu_s", "core_util", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb", "error_logs")

  /** Rollups that combine across calls by maximum rather than sum. */
  val MaxRollups: Set[String] = Set("peak_exec_mem_mb", "peak_cached_mb")

  /** Counts ERROR (and FATAL) events of every logger into `onError`. */
  def countErrorLogs(onError: () => Unit): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-error-count", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) onError()
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }
}
