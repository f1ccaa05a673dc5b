package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver testdata tables, normalizing physical quirks.
  *
  * The `events` table has shipped with two physical `ts` forms across
  * testdata generations: parquet `TIMESTAMP(NANOS)` (not read natively —
  * [PARQUET_TYPE_ILLEGAL]; with `spark.sql.legacy.parquet.nanosAsLong=true`
  * it surfaces as Long nanoseconds, floor-divided to µs here — the same
  * truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP) and
  * `TIMESTAMP(MICROS, isAdjustedToUTC=false)` (surfaces as TIMESTAMP_NTZ,
  * reinterpreted as UTC under the pinned session timezone). [[events]]
  * normalizes both to the same µs TimestampType column, keeping oracle
  * comparisons exact whichever form the driver generated.
  */
object Tables {

  /** Session settings every graft entry point applies.
    *
    * `requireAllClusterKeysForCoPartition=false`: the whole engine runs off
    * ONE hash partitioning on `subject_id`; its joins key on
    * (subject_id, timestamp). With the default (true), EnsureRequirements
    * refuses subset-key co-partitioning and re-shuffles BOTH sides of every
    * such join to hash(subject_id, timestamp) — at 100 TB that is the
    * difference between one ingest shuffle and 2 extra full-data shuffles
    * per such join. Subset co-partitioning is semantically exact
    * here: both sides always descend from the same hash(subject_id)
    * exchange, so equal keys are co-located by construction.
    *
    * `adaptive.coalescePartitions.minPartitionSize=16k` (Spark default
    * 1m): AQE coalesces post-shuffle partitions by SHUFFLE BYTES, but this
    * engine's exchanges feed row-multiplying, CPU-heavy consumers —
    * explode-based n-gram/shingle expansion (~15–50 output rows per input
    * row), per-row interpreted lambdas on vector fits — where bytes
    * under-represent downstream cost by that expansion factor. With the
    * 1 MB floor, any query stage whose total shuffle output is under
    * ~1 MB × cores collapses to a handful of partitions and SERIALIZES
    * the expensive stage above it (measured on the sf0.1 bench:
    * text_langid_trigram's whole explode+count+rank pipeline ran as ONE
    * task, 4.3 s → 1.0 s with the floor lowered; dedup_minhash −46%,
    * dedup_substring −52%). This is not a local-mode constant: a stage
    * that is small relative to the cluster arises at every corpus scale
    * (post-filter residues, hash-sampled Lloyd fit frames, per-shard
    * increments), and the floor only ever binds on such small stages —
    * large exchanges still coalesce toward the advisory size exactly as
    * before. 16k is the measured saturation point (4k ≈ 16k ≪ 64k on the
    * langid probe); scheduling overhead per extra task (~5–10 ms) is two
    * orders below the serialized-stage cost it prevents.
    *
    * `legacy.bucketedTableScan.outputOrdering=true`: a scan of a bucketed
    * table sorted on (subject_id, timestamp) — `PredicateFrames.writeBucketed`
    * — reports that ordering when every bucket is one file (Spark checks),
    * so the window-tree kernel's per-subject sort is skipped at scan time.
    */
  private val sessionConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  /** The settings above on a session builder (see [[graft.Sessions]]). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Same settings for an externally-created session (driver harness):
    * every conf here is runtime-settable SQLConf.
    */
  def tune(spark: SparkSession): SparkSession = {
    sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Nanosecond-long → µs timestamp, matching DuckDB's ns→µs cast.
    * Integer (decimal) division — `c / 1000` on longs would go through
    * double, which is inexact above 2^53 (epoch-ns ≈ 1.7e18).
    */
  def nanosToTs(c: Column): Column =
    timestamp_micros(floor(c.cast("decimal(20,0)") / 1000).cast("long"))

  /** events with `ts` normalized to a proper µs TimestampType column,
    * whatever the file's physical form: `TIMESTAMP(NANOS)` surfaces as
    * Long ns (floor-divided to µs), `TIMESTAMP(MICROS,
    * isAdjustedToUTC=false)` surfaces as TIMESTAMP_NTZ (reinterpreted as
    * UTC — exact under the pinned UTC session timezone, and the same
    * reading DuckDB's `CAST(ts AS TIMESTAMP)` gives the oracle).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType.typeName match {
      case "long"          => df.withColumn("ts", nanosToTs(col("ts")))
      case "timestamp_ntz" => df.withColumn("ts", col("ts").cast("timestamp"))
      case _               => df
    }
  }

  /** The events table shaped as the engine's canonical predicates frame:
    * one Int64 count column per event_type predicate, collapsed to unique
    * (subject_id, timestamp) keys via [[PredicateFrames.collapse]] (ends
    * hash(subject_id)-partitioned for the per-subject window pipeline).
    */
  def eventsAsPredicates(spark: SparkSession, sfDir: String, types: Seq[String]): DataFrame = {
    val ev = events(spark, sfDir)
    PredicateFrames.collapse(
      ev.select(
        Seq(col("user_id").as("subject_id"), col("ts").as("timestamp")) ++
          types.map(t => (col("event_type") === t).cast("long").as(s"is_$t")): _*
      ),
      types.map(t => s"is_$t"))
  }
}
