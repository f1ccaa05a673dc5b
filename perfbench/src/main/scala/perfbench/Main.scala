package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query
import graft.config.TaskConfig
import graft.sources.{PredicateFrames, Tables}

/** One benchmark run of one task over a generated MEDS shard, driving the
  * engine only through its public calls.
  *
  * Operations:
  *   - extraction, along the graft.Run path: MEDS parquet -> fromMeds ->
  *     finalize -> Query -> toMedsLabels -> labels parquet written;
  *   - ingest (traced runs only): fromMeds over the task's plain
  *     predicates, then writeBucketed (the ingest-once table).
  *
  * Set-up (new session, cache clearing, one untimed extraction over one
  * file of the shard) is repeated three times; `setup_s` is the median.
  * Then extractions are timed until `--seconds` have passed. Every
  * extraction's labels are checked (untimed) against `--expect` or, when
  * none is given, against the first timed extraction's.
  *
  * With `--trace 1` every layer call runs inside a span, the sources
  * boundary is forced with a persist and a count, so Query is timed
  * alone, and one ingest is timed before the extractions.
  *
  * Prints one JSON line of raw samples; perfbench/run.py reduces it.
  *
  * Args: --data DIR --task FILE --work DIR --seconds S --trace 0|1
  *       [--expect ROWS:HASH]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    println(Json.obj(new Bench(kv).run()))
  }
}

final class Bench(args: Map[String, String]) {
  private val data = args("data")
  private val taskYaml = Files.readString(Paths.get(args("task")))
  private val work = Paths.get(args("work")).toAbsolutePath
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val setups = 3
  private val cores = Runtime.getRuntime.availableProcessors()
  private val labelsOut = work.resolve("out").resolve("labels.parquet")
  private val table = "perfbench_ingest"
  private val heap = new HeapPeak
  private var spark: SparkSession = _
  private var trace: Trace = _

  // Span rollups of the current op (traced runs): "<span>.<rollup>" -> value.
  private val opLayers = mutable.Map.empty[String, Double]
  private var frameRows = 0L

  // The shard the ops read: one of its files during warm-up, else all.
  private var dataPath = data
  private def medsInput: DataFrame = spark.read.parquet(dataPath)

  private def newSession(): SparkSession = {
    Option(spark).foreach(_.stop())
    val s = Tables
      .configure(
        SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
          .config("spark.local.dir", work.resolve("local").toString)
          .config("spark.checkpoint.dir", work.resolve("checkpoint").toString)
          .config("spark.graft.checkpoint.dir", work.resolve("checkpoint").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (traced) {
      trace = new Trace(s.sparkContext, cores)
      s.sparkContext.addSparkListener(trace)
    }
    s
  }

  /** Runs `body` as the span `name` when tracing, adding its rollups to
    * the current op's totals; plain call otherwise.
    */
  private def layer[T](name: String, rollups: Set[String] = Trace.AcesRollups)(body: => T): T =
    if (!traced) body
    else {
      val (out, r) = trace.span(name)(body)
      r.foreach { case (k, v) =>
        if (rollups(k)) {
          val key = s"$name.$k"
          opLayers(key) =
            if (Trace.MaxRollups(k)) math.max(opLayers.getOrElse(key, 0.0), v)
            else opLayers.getOrElse(key, 0.0) + v
        }
      }
      out
    }

  /** Forces a lazy frame at the sources boundary in traced runs. */
  private def boundary(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      frameRows = p.count()
      p
    }

  private def config(): TaskConfig =
    layer("config.fromYaml", Set("wall_s"))(TaskConfig.fromYaml(taskYaml))

  private def sources(cfg: TaskConfig): DataFrame =
    layer("sources.fromMeds")(boundary(PredicateFrames.fromMeds(medsInput, cfg.plainPredicates.toSeq)))

  private def ingest(): Unit = {
    val frame = sources(config())
    layer("sources.writeBucketed")(PredicateFrames.writeBucketed(frame, table))
    frame.unpersist()
  }

  /** One extraction; returns the predicates frame and the trigger name
    * for the traced anchor count.
    */
  private def extract(): (DataFrame, String) = {
    val cfg = config()
    val plain = sources(cfg)
    val preds = layer("sources.finalize")(boundary(PredicateFrames.finalize(cfg, plain)))
    plain.unpersist()
    val result = layer("Query.apply", Trace.AcesRollups + "peak_cached_mb")(Query(cfg, preds))
    layer("output.labels") {
      Query.toMedsLabels(result).write.mode("overwrite").parquet(labelsOut.toString)
      spark.read.parquet(labelsOut.toString).count()
    }
    (preds, cfg.trigger.predicate)
  }

  /** Row count and an order-independent hash of the labels, as
    * "rows:hash"; "invalid" if they are empty or a (subject_id,
    * prediction_time) key repeats.
    */
  private def fingerprint(): String = {
    val r = spark.read.parquet(labelsOut.toString)
      .agg(
        count(lit(1)),
        count_distinct(col("subject_id"), col("prediction_time")),
        sum(xxhash64(col("subject_id"), col("prediction_time"), col("boolean_value"))
          .bitwiseAND(lit(0xffffffffL))))
      .head()
    val (rows, keys) = (r.getLong(0), r.getLong(1))
    if (rows == 0 || keys != rows) "invalid" else s"$rows:${r.getLong(2)}"
  }

  /** Runs one operation, returning its wall time and whether it threw. */
  private def timed(body: => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Exception => System.err.println(s"[perfbench] operation failed: $e"); false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  def run(): Map[String, Any] = {
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    heap.install()
    if (traced) Trace.countErrorLogs(() => Option(trace).foreach(_.errorLogged()))
    var expected = args.get("expect")
    var failed = 0
    var setupFailed = 0

    /** Checks the labels of a timed extraction (untimed); the first
      * fingerprint seen stands when none was given.
      */
    def labelsOk(): Boolean = {
      val fp = fingerprint()
      if (expected.isEmpty) expected = Some(fp)
      val ok = expected.contains(fp) && fp != "invalid"
      if (!ok) System.err.println(s"[perfbench] labels fingerprint $fp, expected ${expected.get}")
      ok
    }

    // Set-up, repeated: a new session, the work directories cleared and
    // one untimed warm-up extraction over one file of the shard (the same
    // plans over an eighth of the data). The warm-up's output check is
    // not timed.
    dataPath = new java.io.File(data).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).min
    var sliceFingerprint = Option.empty[String]
    val setupS = (1 to setups).map { _ =>
      val t0 = System.nanoTime()
      spark = newSession()
      Seq("warehouse", "checkpoint", "out").foreach { d =>
        Bench.deleteTree(work.resolve(d))
        Files.createDirectories(work.resolve(d))
      }
      extract()._1.unpersist()
      val s = (System.nanoTime() - t0) / 1e9
      val fp = fingerprint()
      if (sliceFingerprint.isEmpty) sliceFingerprint = Some(fp)
      if (fp == "invalid" || !sliceFingerprint.contains(fp)) setupFailed += 1
      s
    }
    dataPath = data

    val rows = medsInput.count()
    opLayers.clear()
    heap.reset()
    heap.recording = true
    val extractS = mutable.ArrayBuffer.empty[Double]
    val opS = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    def record(s: Double, ok: Boolean): Unit = {
      opS += s
      if (!ok) failed += 1
      layers += opLayers.toMap
      opLayers.clear()
    }

    // Timed: in traced runs one ingest first, then extractions until the
    // time is up.
    val t0 = System.nanoTime()
    if (traced) {
      val (s, ok) = timed(ingest())
      record(s, ok)
    }
    while (extractS.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      var preds: (DataFrame, String) = null
      val (s, ok) = timed { preds = extract() }
      extractS += s
      if (ok && traced) {
        val (df, trigger) = preds
        opLayers("sources.frame_rows") = frameRows.toDouble
        opLayers("Query.anchors") =
          df.filter(col(trigger) > 0 && col("timestamp").isNotNull).count().toDouble
        opLayers("Query.cohort_rows") = spark.read.parquet(labelsOut.toString).count().toDouble
      }
      if (ok) preds._1.unpersist()
      record(s, ok && labelsOk())
    }
    heap.recording = false
    spark.stop()

    Map(
      "rows" -> rows,
      "setup_s" -> setupS,
      "extract_s" -> extractS.toSeq,
      "op_s" -> opS.toSeq,
      "peak_heap_mb" -> heap.peakMb,
      "attempted" -> opS.size,
      "failed" -> failed,
      "setup_failed" -> setupFailed,
      "fingerprint" -> expected.getOrElse("invalid"),
      "layers" -> layers.toSeq,
      "loadavg" -> Seq(loadStart, ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage),
      "cores" -> cores)
  }
}

object Bench {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}

/** Largest heap in use just after a GC, from GC notifications. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile var recording = false
  @volatile private var peak = 0L

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)

  def install(): Unit = {
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double  => d.toString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case b: Boolean => b.toString
    case s: String  => str(s)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other      => str(other.toString)
  }
}
