package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.ExplainMode

import graft.Sessions
import graft.harness.QueryCatalog

/** Dev probe for catalog entries: warm wall time through the `noop` sink
  * (full column materialization, Bench's contract) — the measure-first
  * step before an optimization or a change to Bench's headline set.
  *
  * Usage: runMain graft.tools.Probe [query...] [--runs N] [--conf k=v]...
  *          [--stages] [--plan DIR SUFFIX]
  *   query...      catalog entries (default: the Bench set)
  *   --runs N      timed runs per query (default 2); prints each run and
  *                 the min, so warm-up decay stays visible
  *   --conf k=v    session conf set at build time (repeatable) — A/B one
  *                 setting across two invocations, e.g.
  *                 `--conf spark.graft.checkpoint=off` on dedup_minhash
  *   --stages      per-stage wall, task time, GC and shuffle bytes of the
  *                 last run (`--runs 3 --stages` = two warm runs, then the
  *                 instrumented one)
  *   --plan D S    write `.explain("formatted")` to `D/<query>_S.txt`
  *                 instead of timing — the before/after plan evidence
  *                 committed under `plans/rNN/`
  *   SPARK_GRAFT_SF_DIR (required; Bench's default is sf0.1) picks the
  *   testdata scale, SPARK_GRAFT_CPUS (default 32) the core count.
  */
object Probe {

  private final case class Opts(
      queries: Seq[String] = Nil,
      runs: Int = 2,
      confs: Seq[(String, String)] = Nil,
      stages: Boolean = false,
      plan: Option[(String, String)] = None)

  private val usage =
    "usage: Probe [query...] [--runs N] [--conf k=v]... [--stages] [--plan DIR SUFFIX]"

  @scala.annotation.tailrec
  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--runs" :: n :: rest => parse(rest, o.copy(runs = n.toInt))
    case "--conf" :: kv :: rest =>
      val Array(k, v) = kv.split("=", 2)
      parse(rest, o.copy(confs = o.confs :+ (k -> v)))
    case "--stages" :: rest => parse(rest, o.copy(stages = true))
    case "--plan" :: dir :: suffix :: rest => parse(rest, o.copy(plan = Some(dir -> suffix)))
    case flag :: _ if flag.startsWith("--") => sys.error(usage)
    case q :: rest => parse(rest, o.copy(queries = o.queries :+ q))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.runs >= 1, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("set SPARK_GRAFT_SF_DIR"))
    val spark = Sessions.local(Sessions.envCpus(32), o.confs: _*)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (o.queries.isEmpty) QueryCatalog.benchNames else o.queries
    val catalog = QueryCatalog.queries
    val fns = names.map(n => n -> catalog.getOrElse(n, sys.error(s"unknown catalog query '$n'")))
    val confTag = o.confs.map { case (k, v) => s" $k=$v" }.mkString
    val stageLog = new StageLog
    if (o.stages) spark.sparkContext.addSparkListener(stageLog)

    fns.foreach { case (name, fn) =>
      o.plan match {
        case Some((dir, suffix)) =>
          Files.createDirectories(Paths.get(dir))
          val txt =
            try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
            catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
          Files.writeString(Paths.get(s"$dir/${name}_$suffix.txt"), txt)
          println(s"[plan] $name -> $dir/${name}_$suffix.txt")
        case None =>
          val times = (1 to o.runs).map { i =>
            stageLog.recording = o.stages && i == o.runs
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[probe] $name%-28s$confTag runs=${times.map(t => f"$t%.2f").mkString(",")} " +
            f"min=${times.min}%.2f s")
          if (o.stages) stageLog.report(s"[stage] $name")
      }
    }
    spark.stop()
  }

  /** The per-stage breakdown of whatever runs while `recording` is set:
    * wall span, summed executor run time, GC and shuffle bytes, plus the
    * operators in the stage — the evidence for which stage is slow, and
    * whether compute or shuffle, without the (disabled) UI.
    */
  final class StageLog extends SparkListener {
    @volatile var recording = false
    private val stages = new ConcurrentLinkedQueue[StageInfo]()

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (recording) stages.add(sc.stageInfo)

    /** Prints the recorded stages, slowest first, then forgets them. */
    def report(prefix: String): Unit = {
      Thread.sleep(1000) // let the listener bus deliver the last stages
      recording = false
      def wallMs(si: StageInfo): Long =
        (for { s <- si.submissionTime; e <- si.completionTime } yield e - s).getOrElse(-1L)
      val done = stages.asScala.toSeq.sortBy(si => -wallMs(si))
      stages.clear()
      println(f"$prefix stages=${done.size} sum-of-stage-wall=${done.map(wallMs).sum / 1e3}%.2f s")
      done.foreach { si =>
        val m = si.taskMetrics
        val ops = si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(">")
        println(
          f"$prefix stage ${si.stageId}%4d tasks=${si.numTasks}%4d wall=${wallMs(si) / 1e3}%6.2fs " +
            f"task=${m.executorRunTime / 1e3}%7.2fs gc=${m.jvmGCTime / 1e3}%5.2fs " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  $ops")
      }
    }
  }
}
