package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.config.{PlainPredicateDef, TaskConfig}
import graft.model.EventBounds

/** Builders for the engine's canonical predicates frame —
  * `(subject_id, timestamp, <Int64 count per predicate>)`, unique and
  * per-subject ordered keys — from the three supported input standards.
  * (reference: src/aces/predicates.py)
  *
  * All loaders repartition by `subject_id` before the same-instant
  * collapse: HashPartitioning(subject_id) satisfies the group-by's
  * clustered distribution on (subject_id, timestamp) AND every downstream
  * per-subject window op, so the whole engine pipeline runs off one
  * shuffle of the raw events.
  */
object PredicateFrames {

  private val stagingSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** "direct" standard: pre-computed predicate columns in CSV/Parquet.
    * (reference: predicates.py:21-226 `direct_load_plain_predicates`)
    *
    * @param tsFormat Spark datetime pattern (e.g. `"M/d/yyyy H:mm"`) —
    *                 required when `timestamp` is a string column.
    */
  def directLoad(
      spark: SparkSession,
      path: String,
      predicateNames: Seq[String],
      tsFormat: Option[String] = None
  ): DataFrame = {
    val raw =
      if (path.endsWith(".csv"))
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      else if (path.endsWith(".parquet")) spark.read.parquet(path)
      else throw new IllegalArgumentException(s"Unsupported file format: $path")
    directFrom(raw, predicateNames, tsFormat)
  }

  def directFrom(
      raw: DataFrame,
      predicateNames: Seq[String],
      tsFormat: Option[String] = None
  ): DataFrame = {
    val columns = Seq("subject_id", "timestamp") ++ predicateNames
    val missing = columns.filterNot(raw.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"Missing columns: ${missing.mkString(", ")}")

    val tsTyped = raw.schema("timestamp").dataType match {
      case _: TimestampType => raw
      case t if t.typeName == "string" =>
        val fmt = tsFormat.getOrElse(throw new IllegalArgumentException(
          "Must provide a timestamp format for direct predicates with str timestamps."))
        raw.withColumn("timestamp", to_timestamp(col("timestamp"), normalizeTsFormat(fmt)))
      case t if t.typeName.startsWith("date") || t.typeName.startsWith("timestamp") =>
        raw.withColumn("timestamp", col("timestamp").cast(TimestampType))
      case t =>
        throw new IllegalArgumentException(s"Passed predicates have timestamps of invalid type $t.")
    }

    collapse(tsTyped.select(columns.map(col): _*), predicateNames)
  }

  /** Accept Python strptime patterns (what the reference's data configs
    * use, e.g. `"%m/%d/%Y %H:%M"`) alongside Spark datetime patterns —
    * a reference user's config keeps working unchanged. Unpadded Spark
    * letters (`M/d/H`) parse both padded and unpadded digits, matching
    * strptime's leniency.
    */
  def normalizeTsFormat(fmt: String): String =
    if (!fmt.contains("%")) fmt
    else
      fmt
        .replace("%Y", "yyyy").replace("%y", "yy")
        .replace("%m", "M").replace("%d", "d")
        .replace("%H", "H").replace("%M", "mm").replace("%S", "ss")
        .replace("%f", "SSSSSS")

  /** MEDS standard: long/tidy rows `(subject_id, time, code, numeric_value)`.
    * (reference: predicates.py:229-288 `generate_plain_predicates_from_meds`)
    */
  def fromMeds(raw: DataFrame, plain: Seq[(String, PlainPredicateDef)]): DataFrame = {
    val base = (if (raw.columns.contains("time"))
                  raw.withColumnRenamed("time", "timestamp")
                else raw)
      .withColumn("code", col("code").cast("string"))
    val withPreds = base.select(
      Seq(col("subject_id"), col("timestamp")) ++
        plain.map { case (name, p) => p.medsExpr.cast(LongType).as(name) }: _*
    )
    collapse(withPreds, plain.map(_._1))
  }

  /** ESGPT standard: subjects + events + dynamic measurements, joined on
    * `event_id`; static predicates become null-timestamp rows.
    * (reference: predicates.py:291-418 `process_esgpt_data`)
    *
    * @param valueColumns predicate name → numeric-value column in the
    *                     measurements table (for value-bounded predicates).
    */
  def fromEsgpt(
      subjectsDf: DataFrame,
      eventsDf: DataFrame,
      measurementsDf: DataFrame,
      valueColumns: Map[String, String],
      predicates: Seq[(String, PlainPredicateDef)]
  ): DataFrame = {
    var subjects = subjectsDf
    var events = eventsDf
    var meas = measurementsDf
    predicates.foreach { case (name, p) =>
      if (p.code.text.toLowerCase.startsWith("event_type"))
        events = events.withColumn(name, p.esgptExpr(None).cast(LongType))
      else if (p.static)
        subjects = subjects.withColumn(name, p.esgptExpr(None).cast(LongType))
      else
        meas = meas.withColumn(name, p.esgptExpr(valueColumns.get(name)).cast(LongType))
    }
    val predCols = predicates.map(_._1)
    val measCols = predCols.filter(meas.columns.contains)

    val predMap = predicates.toMap
    val dynamic = predCols.filterNot(c => predMap(c).static)
    val static = predCols.filter(c => predMap(c).static)

    // No measurement-level predicates (event_type/static only) → no
    // aggregation or join against the measurements table at all.
    val eventsJoined =
      if (measCols.isEmpty) events
      else {
        val measAgg = meas
          .groupBy("event_id")
          .agg(measCols.map(c => sum(col(c)).cast(LongType).as(c)).head,
            measCols.map(c => sum(col(c)).cast(LongType).as(c)).tail: _*)
        events.join(measAgg, Seq("event_id"), "left")
      }

    val data = eventsJoined
      .select(
        Seq(col("subject_id"), col("timestamp").cast(TimestampType)) ++
          dynamic.map(c => coalesce(col(c), lit(0L)).as(c)) ++
          static.map(c => lit(0L).as(c)): _*
      )
    val staticRows = subjects.select(
      Seq(col("subject_id"), lit(null).cast(TimestampType).as("timestamp")) ++
        dynamic.map(c => lit(0L).as(c)) ++
        static.map(c => coalesce(col(c), lit(0L)).as(c)): _*
    )
    staticRows.unionByName(data)
  }

  /** Load an ESGPT dataset DIRECTORY (the layout EventStreamGPT's
    * `Dataset.save` writes and the reference loads through the external
    * `EventStream` package — reference: predicates.py:420-474):
    * `subjects_df.parquet`, `events_df.parquet`,
    * `dynamic_measurements_df.parquet`, plus `config.json` whose
    * `measurement_configs.<name>.values_column` names the value column of
    * multivariate measurements (predicates.py:465-471). No external
    * package needed — the three frames are plain parquet.
    */
  def fromEsgptDir(
      spark: SparkSession,
      path: String,
      predicates: Seq[(String, PlainPredicateDef)]
  ): DataFrame = {
    // ESGPT datasets are written by polars' arrow2 writer, whose
    // dictionary-encoded string pages trip parquet-mr's VECTORIZED reader
    // (EOFException); the row-based reader handles them. The conf is
    // consulted at execution time, so a lazily-recomputed frame (partition
    // loss, caller unpersist) would re-scan with the vectorized reader
    // after the conf is restored. Instead, STAGE the (column-pruned)
    // predicate frame through Spark-written parquet while the row-based
    // reader is active: the returned frame scans Spark's own files, which
    // every reader handles, so recomputation is always safe and no cache
    // is leaked. The toggle is session-global only for the duration of the
    // EAGER staging write below (parquet has no per-read vectorized-reader
    // option — FileSourceScanExec consults the session conf); a concurrent
    // unrelated read during that window merely runs row-based. The eager
    // write also mirrors the reference (EventStream Dataset.load is
    // eager). On a cluster, point `spark.graft.esgpt.staging` at shared
    // storage.
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    val staged =
      try {
        val subjects = spark.read.parquet(s"$path/subjects_df.parquet")
        val events = spark.read.parquet(s"$path/events_df.parquet")
        val meas = spark.read.parquet(s"$path/dynamic_measurements_df.parquet")
        val out = fromEsgpt(
          subjects, events, meas, esgptValueColumns(spark, path, predicates), predicates)
        val staging = spark.conf.getOption("spark.graft.esgpt.staging").getOrElse {
          val d = java.nio.file.Files.createTempDirectory("graft_esgpt_")
          d.toFile.deleteOnExit()
          d.toString
        }
        // Unique dir per CALL: a shared dir keyed on inputs alone would be
        // rewritten by a later load (other predicates, refreshed dataset)
        // underneath an earlier call's still-live lazy frame.
        val dir = s"$staging/esgpt_${math.abs(path.hashCode).toHexString}_${stagingSeq.incrementAndGet()}"
        out.write.mode("overwrite").parquet(dir)
        dir
      } finally spark.conf.set(key, prev)
    spark.read.parquet(staged)
  }

  /** predicate name → measurement values-column, resolved from the ESGPT
    * dataset's `config.json` (reference: predicates.py:465-471: event_type
    * predicates have none; otherwise
    * `measurement_configs[code.split("//")[0]].values_column`).
    */
  def esgptValueColumns(
      spark: SparkSession,
      path: String,
      predicates: Seq[(String, PlainPredicateDef)]
  ): Map[String, String] = {
    val cfg = spark.read.option("multiLine", "true").json(s"$path/config.json")
    val mcField = cfg.schema.fields.find(_.name == "measurement_configs")
    val measConfigs: Map[String, Option[String]] = mcField match {
      case Some(f) =>
        val mcType = f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        val row = cfg.select("measurement_configs.*").head()
        mcType.fieldNames.zipWithIndex.map { case (m, i) =>
          val sub = row.getStruct(i)
          val vc =
            if (sub == null) None
            else sub.schema.fieldNames.zipWithIndex.collectFirst {
              case ("values_column", j) if !sub.isNullAt(j) => sub.getString(j)
            }
          m -> vc
        }.toMap
      case None => Map.empty
    }
    predicates.flatMap { case (name, p) =>
      val codeStr = p.code.text
      if (codeStr.toLowerCase.startsWith("event_type")) None
      else measConfigs.get(codeStr.split("//", 2)(0)).flatten.map(name -> _)
    }.toMap
  }

  /** Collapse same-instant rows into unique (subject_id, timestamp) keys.
    * (reference: predicates.py:221-226, :284-288)
    *
    * Two physical strategies, identical results (algebraic sums — proven
    * by the `salted_groupby` oracle and PredicateFramesSpec):
    *
    *   - `direct`: ONE exchange — repartition raw rows to the
    *     hash(subject_id) layout every downstream window op reuses, then
    *     group in place. Cheapest when the corpus is skew-free, but a
    *     heavy-hitter subject funnels all its raw rows through one task.
    *   - `skew-safe`: TWO exchanges — aggregate on the FULL key
    *     (subject_id, timestamp) first (map-side partial sums combine
    *     same-instant duplicates before the shuffle; a heavy subject's
    *     rows spread across partitions by timestamp), then repartition
    *     only the already-collapsed rows to hash(subject_id).
    *
    * `spark.graft.collapse` picks: `adaptive` (default) measures the
    * input and chooses ([[chooseCollapseMode]]); `direct` / `skew-safe`
    * force a strategy. At 100 TB the difference is a full-data exchange —
    * the single largest avoidable cost in the pipeline — so the default
    * spends a column-pruned sample scan to earn the right to skip it.
    */
  def collapse(df: DataFrame, predCols: Seq[String]): DataFrame = {
    val sums = predCols.map(c => sum(col(c)).cast(LongType).as(c))
    val typed = df
      .withColumn("subject_id", col("subject_id").cast(LongType))
      // TIMESTAMP_NTZ (e.g. non-UTC-adjusted parquet) → TIMESTAMP; exact
      // under the pinned UTC session timezone.
      .withColumn("timestamp", col("timestamp").cast(TimestampType))
    val mode = df.sparkSession.conf.get("spark.graft.collapse", "adaptive") match {
      case "adaptive" => chooseCollapseMode(typed)
      case m          => m
    }
    if (mode == "direct")
      typed
        .repartition(col("subject_id"))
        .groupBy("subject_id", "timestamp")
        .agg(sums.head, sums.tail: _*)
    else
      typed
        .groupBy("subject_id", "timestamp")
        .agg(sums.head, sums.tail: _*)
        .repartition(col("subject_id"))
  }

  private val SkewFactor = 0.5
  private val DupFactor = 0.6

  /** Pick the collapse strategy from cheap input statistics.
    *
    * 1. Catalyst size estimate at or below `smallInputBytes` (default
    *    32 MB): `direct` — at that size a straggler task cannot matter
    *    and a sampling job would cost more than it saves.
    * 2. Otherwise, one scalar-aggregate job over a column-pruned sample
    *    of just (subject_id, timestamp) — `sampleFraction`, default
    *    0.002; 1.0 with `smallInputBytes = 0` decides a tiny frame
    *    deterministically — measures:
    *      - subject skew: the largest subject's estimated row share ×
    *        shuffle partitions — if it exceeds `SkewFactor` (0.5: one
    *        subject owning >50% of an average partition), the direct
    *        path's hash(subject) exchange would straggle → `skew-safe`.
    *      - duplication: sampled distinct-(subject,ts) share below
    *        `DupFactor` (0.6) means the full-key first phase's map-side
    *        combine shrinks the shuffle below what direct moves →
    *        `skew-safe`. (Fraction sampling only surfaces heavy
    *        duplication — exactly the case where the combine pays.)
    *
    * This is a planning-time statistics job (one scalar row to the
    * driver), not per-row driver processing — the same class of
    * decision AQE makes from runtime shuffle stats, taken one stage
    * earlier than AQE can (the choice changes the plan's first exchange).
    */
  def chooseCollapseMode(
      typed: DataFrame,
      smallInputBytes: Long = 32L << 20,
      sampleFraction: Double = 0.002): String = {
    if (typed.queryExecution.optimizedPlan.stats.sizeInBytes <= smallInputBytes) return "direct"
    val parts = typed.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val stats = typed
      .select("subject_id", "timestamp")
      .sample(withReplacement = false, sampleFraction, seed = 41)
      .groupBy("subject_id")
      .agg(count(lit(1)).as("n"), count_distinct(col("timestamp")).as("d"))
      .agg(sum("n"), max("n"), sum("d"))
      .head()
    if (stats.isNullAt(0) || stats.getLong(0) == 0L) return "direct"
    val (total, maxN, dist) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val skewed = maxN.toDouble * parts / total > SkewFactor
    val dupHeavy = dist.toDouble / total < DupFactor
    if (skewed || dupHeavy) "skew-safe" else "direct"
  }

  /** Materialize a canonical predicates frame as a bucketed, sorted table —
    * the ingest-once pattern for repeated querying at corpus scale: every
    * subsequent per-subject pipeline (windows, joins, collapse) reads the
    * bucketed table with NO shuffle and NO sort at all, because the bucket
    * spec (`subject_id` buckets, sorted by `subject_id, timestamp`)
    * satisfies the operators' distribution and ordering requirements at
    * scan time.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int = 32): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, "subject_id")
      .sortBy("subject_id", "timestamp")
      .format("parquet")
      .saveAsTable(table)

  def readBucketed(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Add derived predicates (in dependency order, with static-value
    * propagation) and the special `_ANY_EVENT` / `_RECORD_START` /
    * `_RECORD_END` columns the config references.
    * (reference: predicates.py:477-791 `get_predicates_df`, from :718)
    */
  def finalize(cfg: TaskConfig, plainDf: DataFrame): DataFrame = {
    var data = plainDf
    val staticVars = cfg.plainPredicates.collect { case (n, p) if p.static => n }.toSeq

    // Derived predicates, computing dependencies before dependents; if a
    // derived predicate references a static demographic, propagate the
    // static row's value across the subject first (reference: :722-736).
    val wSubjAll = Window
      .partitionBy("subject_id")
      .orderBy(col("timestamp").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cfg.derivedPredicatesInOrder.foreach { case (name, d) =>
      if (d.inputPredicates.exists(staticVars.contains)) {
        data = data.select(
          data.columns.map {
            case c if staticVars.contains(c) => first(col(c)).over(wSubjAll).as(c)
            case c                           => col(c)
          }.toSeq: _*
        )
      }
      data = data.withColumn(name, d.evalExpr.cast(LongType))
    }

    // Special predicates referenced by windows or the trigger (reference: :738-789).
    val needed = (cfg.windows.flatMap { case (_, w) =>
      w.referencedPredicates.intersect(Set(EventBounds.AnyEvent)) ++
        w.constraintPredicates.intersect(Set(EventBounds.StartOfRecord, EventBounds.EndOfRecord)) ++
        (if (w.constraintPredicates.contains("*")) Seq(EventBounds.AnyEvent) else Nil)
    } ++ Seq(cfg.trigger.predicate).filter(p =>
      Set(EventBounds.AnyEvent, EventBounds.StartOfRecord, EventBounds.EndOfRecord).contains(p))).distinct

    val wSubj = Window.partitionBy("subject_id")
    if (needed.contains(EventBounds.AnyEvent))
      data = data.withColumn(
        EventBounds.AnyEvent,
        when(col("timestamp").isNotNull, lit(1L)).otherwise(lit(null).cast(LongType)))
    if (needed.contains(EventBounds.StartOfRecord))
      data = data.withColumn(
        EventBounds.StartOfRecord,
        (col("timestamp") === min("timestamp").over(wSubj)).cast(LongType))
    if (needed.contains(EventBounds.EndOfRecord))
      data = data.withColumn(
        EventBounds.EndOfRecord,
        (col("timestamp") === max("timestamp").over(wSubj)).cast(LongType))
    data
  }
}
