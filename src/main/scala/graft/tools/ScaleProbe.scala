package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.config.TaskConfig
import graft.harness.QueryCatalog
import graft.sources.{PredicateFrames, Tables}

/** Throughput scaling probe: replicates the sf0.1 events table N× (users
  * shifted per replica so subject cardinality scales too), runs the
  * flagship cohort task, and reports event-rows/second — the number to
  * compare against the reference baseline (~0.22-0.45 M rows/s per task on
  * 36 cores, BASELINE.md). At small SF the engine is stage-overhead-bound;
  * this shows what amortizes at scale. Temporary inputs go to /tmp.
  *
  * Args: [replication] [--stages] [--skew] [--runs N] [--bucketed]
  *   --stages         per-stage breakdown of the timed runs (Probe.StageLog)
  *   --skew           inject a pathological subject owning ~10% of events
  *   --runs N         timed end-to-end runs (default 3); reports median
  *   --bucketed       ingest-once mode: collapse once into a bucketed,
  *                    sorted table (PredicateFrames.writeBucketed), then
  *                    time repeat queries reading it — the amortized
  *                    repeated-querying path at corpus scale
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val replication = args.find(!_.startsWith("--")).map(_.toInt).getOrElse(32)
    val printStages = args.contains("--stages")
    val skew = args.contains("--skew")
    val nRuns = args.sliding(2).collectFirst {
      case Array("--runs", n) => n.toInt
    }.getOrElse(3)
    val bucketed = args.contains("--bucketed")
    val spark = Sessions.local(32,
      "spark.sql.shuffle.partitions" -> "64",
      // The ~130 MB single-file probe input would scan as 4 tasks at
      // the 128 MB default — probe-local parallelism knob only (a real
      // cluster's many files parallelize naturally and a lower global
      // value would explode task counts at 100 TB).
      "spark.sql.files.maxPartitionBytes" -> "16m")

    // v2: written as 64 files — a 100 TB corpus arrives as many files; a
    // 4-file input caps the initial scan at 4 tasks and measures the
    // writer's layout, not the engine.
    val scaled = s"/tmp/graft_scale_v2_${replication}x" + (if (skew) "_skew" else "")
    if (!new java.io.File(scaled, "_SUCCESS").exists()) {
      val base = Tables.events(spark, "/root/testdata/sf0.1")
      val rep = base
        .crossJoin(spark.range(replication).select(col("id").as("rep")))
        .select(
          (col("user_id") + col("rep") * 1000000L).as("subject_id"),
          col("ts").as("timestamp"),
          col("event_type").as("code"),
          col("value").cast("float").as("numeric_value"))
      // --skew: remap ~10% of all events onto one subject id (still at
      // distinct timestamps, so the collapse keeps them as distinct rows —
      // the straggler hits the per-subject window sort, the worst case).
      val out =
        if (!skew) rep
        else rep.withColumn(
          "subject_id",
          when(pmod(hash(col("subject_id"), col("timestamp")), lit(10)) === 0, lit(42L))
            .otherwise(col("subject_id")))
      out.repartition(64).write.mode("overwrite").parquet(scaled)
    }

    val cfg = TaskConfig.fromYaml(QueryCatalog.flagshipYaml)

    val stageLog = new Probe.StageLog
    if (printStages) spark.sparkContext.addSparkListener(stageLog)

    // --bucketed: pay the collapse ONCE into a bucketed, sorted table;
    // timed runs then read it with zero ingest shuffle — the repeated-
    // querying pattern at corpus scale (BucketedSpec proves the plan).
    val bucketTable = s"graft_scale_${replication}x" + (if (skew) "_skew" else "")
    if (bucketed && !spark.catalog.tableExists(bucketTable)) {
      val ev = spark.read.parquet(scaled)
      val plain = PredicateFrames.fromMeds(
        ev.withColumnRenamed("timestamp", "time"), cfg.plainPredicates.toSeq)
      PredicateFrames.writeBucketed(plain, bucketTable, buckets = 64)
    }

    def run(): (Long, Double) = {
      val ev = spark.read.parquet(scaled)
      val nRows = ev.count()
      val t0 = System.nanoTime()
      val plain =
        if (bucketed) PredicateFrames.readBucketed(spark, bucketTable)
        else PredicateFrames.fromMeds(ev.withColumnRenamed("timestamp", "time"), cfg.plainPredicates.toSeq)
      val preds = PredicateFrames.finalize(cfg, plain)
      val out = graft.Query(cfg, preds)
      out.write.format("noop").mode("overwrite").save()
      (nRows, (System.nanoTime() - t0) / 1e9)
    }

    // Report which collapse strategy the adaptive default picks for this
    // corpus (the probe input is > the small-input shortcut, so this is
    // the sampled decision the engine will take inside the timed runs).
    val decision = PredicateFrames.chooseCollapseMode(
      spark.read.parquet(scaled).select(
        col("subject_id"), col("timestamp").cast("timestamp").as("timestamp")))
    println(s"[scale-probe] adaptive collapse decision: $decision")

    run() // warm-up (JIT + file listing)
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    stageLog.recording = printStages
    // Median of N: this box is shared and same-config runs vary ±50%; every
    // run is a full end-to-end execution (Query caches nothing).
    val timed = (1 to nRuns).map(_ => run())
    val rows = timed.head._1
    val sorted = timed.map(_._2).sorted
    val secs = sorted(sorted.length / 2)
    val peakHeapMb = heapPools.map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum >> 20
    println(f"[scale-probe] replication=${replication}x skew=$skew bucketed=$bucketed " +
      f"rows=$rows wall=${secs}%.1f s (median of $nRuns: ${sorted.map(s => f"$s%.1f").mkString("/")}) " +
      f"throughput=${rows / secs / 1e6}%.3f M rows/s peakHeap=${peakHeapMb} MB")
    if (printStages) stageLog.report("[scale-probe]")
    spark.stop()
  }
}
