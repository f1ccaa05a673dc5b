package graft

import java.sql.Timestamp

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.apache.spark.sql.types.LongType
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.config.TaskConfig
import graft.model.{EndpointBounds, EventBounds}
import graft.plans.{Realized, SubjectKernel, WindowNode, WindowTree}
import graft.streaming.StreamingPredicates
import graft.streaming.StreamingPredicates.TriggerState

/** Structured Streaming extension tests via MemoryStream micro-batches. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts aggregates tumbling windows and drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("subject_id", "timestamp", "code")

    val out = StreamingPredicates.windowedCounts(
      events,
      preds = Seq("is_a" -> (col("code") === "a"), "is_b" -> (col("code") === "b")),
      window = "1 hour",
      watermark = "1 hour")

    val query = out.writeStream
      .format("memory").queryName("win_counts").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:05:00"), "a"),
        (1L, ts("2024-01-01 10:35:00"), "b"),
        (1L, ts("2024-01-01 11:10:00"), "a"))
      query.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 11:00 windows
      input.addData((1L, ts("2024-01-01 14:00:00"), "a"))
      query.processAllAvailable()
      // this event is now far behind the watermark -> dropped
      input.addData((1L, ts("2024-01-01 10:45:00"), "a"))
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 16:00:00"), "b"))
      query.processAllAvailable()

      val rows = spark.table("win_counts")
        .select(col("subject_id"), col("window_start").cast("string"), col("is_a"), col("is_b"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((1L, "2024-01-01 10:00:00", 1L, 1L)),
        s"10:00 window must have a=1 b=1 (late 10:45 'a' dropped); got $rows")
      assert(rows.contains((1L, "2024-01-01 11:00:00", 1L, 0L)))
    } finally query.stop()
  }

  test("triggerWindowCounts emits closed windows exactly once at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, Long, Long)]
    val events = input.toDF().toDF("subject_id", "timestamp", "is_click", "is_buy")
      .withWatermark("timestamp", "0 seconds")
      .select(col("subject_id"), col("timestamp"),
        array(col("is_click"), col("is_buy")).as("counts"))
      .as[StreamingPredicates.TimedEvent]

    // trigger = click; horizon = 1h lookahead
    val out = StreamingPredicates.triggerWindowCounts(
      events, nPreds = 2, triggerIdx = 0, horizonMicros = 3600L * 1000000L)

    val query = out.writeStream
      .format("memory").queryName("trig_win").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, 0L), // trigger
        (1L, ts("2024-01-01 10:20:00"), 0L, 1L), // in window
        (1L, ts("2024-01-01 10:50:00"), 0L, 1L), // in window
        (2L, ts("2024-01-01 10:00:00"), 0L, 1L)) // no trigger for subject 2
      query.processAllAvailable()
      assert(spark.table("trig_win").count() == 0, "window not closed yet — nothing emitted")

      // advance the watermark past 11:00 -> subject 1's window closes
      input.addData((1L, ts("2024-01-01 12:00:00"), 0L, 0L))
      query.processAllAvailable()
      // one more batch so the event-time timeout fires with the new watermark
      input.addData((2L, ts("2024-01-01 12:30:00"), 0L, 0L))
      query.processAllAvailable()

      val rows = spark.table("trig_win").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](3).toList))
      assert(rows.toSeq == Seq((1L, ts("2024-01-01 10:00:00").getTime * 1000L,
        List(0L, 2L))), s"got ${rows.toSeq}")
    } finally query.stop()
  }

  test("triggerWindowCounts tolerates out-of-order arrival within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, Long, Long)]
    val events = input.toDF().toDF("subject_id", "timestamp", "is_click", "is_buy")
      .withWatermark("timestamp", "2 hours")
      .select(col("subject_id"), col("timestamp"),
        array(col("is_click"), col("is_buy")).as("counts"))
      .as[StreamingPredicates.TimedEvent]

    val out = StreamingPredicates.triggerWindowCounts(
      events, nPreds = 2, triggerIdx = 0, horizonMicros = 3600L * 1000000L)
    val query = out.writeStream
      .format("memory").queryName("trig_win_ooo").outputMode("append").start()
    try {
      // Window contents arrive BEFORE the trigger, in a later batch order.
      input.addData((1L, ts("2024-01-01 10:40:00"), 0L, 1L))
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:10:00"), 0L, 1L)) // late but within watermark
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:00:00"), 1L, 0L)) // the trigger, latest arrival
      query.processAllAvailable()
      // advance watermark past 11:00 + 2h lateness, plus a batch for the timeout
      input.addData((1L, ts("2024-01-01 13:30:00"), 0L, 0L))
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 14:00:00"), 0L, 0L))
      query.processAllAvailable()

      val rows = spark.table("trig_win_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](3).toList))
      assert(rows.toSeq == Seq((1L, ts("2024-01-01 10:00:00").getTime * 1000L,
        List(0L, 2L))), s"got ${rows.toSeq}")
    } finally query.stop()
  }

  // A two-window cohort task: temporal gap with an error-free constraint,
  // then an event-bound target — the flagship tree's shape.
  private val cohortYaml =
    """predicates:
      |  click: { code: click }
      |  buy: { code: buy }
      |  error: { code: error }
      |trigger: click
      |windows:
      |  gap:
      |    start: trigger
      |    end: start + 2h
      |    start_inclusive: False
      |    end_inclusive: True
      |    has: { error: "(None, 0)" }
      |  target:
      |    start: gap.end
      |    end: start -> buy
      |    start_inclusive: False
      |    end_inclusive: True
      |    label: buy
      |    index_timestamp: end
      |""".stripMargin

  /** One cohort row in both parity shapes: the per-window count tuples
    * and the batch label surface (subject, index_timestamp µs, label,
    * trigger µs).
    */
  private case class ParityRun(
      batchCounts: Set[(Long, Long, List[Long], List[Long])],
      streamedCounts: Set[(Long, Long, List[Long], List[Long])],
      batchLabels: Set[(Long, Long, Long, Long)],
      streamedLabels: Set[(Long, Long, Long, Long)])

  /** (subject, trigger µs, gap counts, target counts) of cohort rows. */
  private def cohortCounts(rows: DataFrame): Set[(Long, Long, List[Long], List[Long])] =
    rows
      .select(
        col("subject_id"), unix_micros(col("trigger")).as("t"),
        col("`gap.end_summary`.click"), col("`gap.end_summary`.buy"),
        col("`gap.end_summary`.error"),
        col("`target.end_summary`.click"), col("`target.end_summary`.buy"),
        col("`target.end_summary`.error"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        List(r.getLong(2), r.getLong(3), r.getLong(4)),
        List(r.getLong(5), r.getLong(6), r.getLong(7))))
      .toSet

  /** (subject, index_timestamp µs, label, trigger µs) of label rows. */
  private def labelSurface(rows: DataFrame): Set[(Long, Long, Long, Long)] =
    rows
      .select(col("subject_id"), unix_micros(col("index_timestamp")),
        col("label"), unix_micros(col("trigger")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private val day = 24 * 3600L * 1000000L

  /** The cohort task's events as a watermarked [[TimedEvent]] stream. */
  private def cohortEvents(input: MemoryStream[(Long, Timestamp, String)]) = {
    import spark.implicits._
    input.toDF().toDF("subject_id", "timestamp", "code")
      .withWatermark("timestamp", "0 seconds")
      .select(col("subject_id"), col("timestamp"),
        array(
          (col("code") === "click").cast("long"),
          (col("code") === "buy").cast("long"),
          (col("code") === "error").cast("long")).as("counts"))
      .as[StreamingPredicates.TimedEvent]
  }

  /** Run `data` through the batch Query AND cohortWindows; return both
    * result sets as (subject, trigger µs, gap counts, target counts) plus
    * the full label-row surfaces from each side.
    */
  private def cohortBothWays(
      data: Seq[(Long, String, String)],
      sinkName: String,
      stateTtlMicros: Long = 30 * day,
      flushTimes: Seq[String] = Seq("2024-01-05 00:00:00", "2024-01-05 01:00:00")): ParityRun = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = TaskConfig.fromYaml(cohortYaml)

    val medsDf = data.toDF("subject_id", "time", "code")
      .withColumn("time", to_timestamp(col("time")))
    val preds = graft.sources.PredicateFrames.finalize(
      cfg, graft.sources.PredicateFrames.fromMeds(medsDf, cfg.plainPredicates.toSeq))
    val batchOut = Query(cfg, preds)
    val (batchRows, batchLabels) = (cohortCounts(batchOut), labelSurface(batchOut))

    // Streaming side: same data through cohortWindows over the task's own
    // tree, flush events to push the watermark past every deadline + a
    // batch for the timeout.
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingPredicates.cohortWindows(
      cohortEvents(input), cfg.windowTree, cfg.trigger.predicate, Seq("click", "buy", "error"),
      stateTtlMicros = stateTtlMicros)

    val query = out.writeStream
      .format("memory").queryName(sinkName).outputMode("append").start()
    val streamed =
      try {
        input.addData(data.map { case (s, t, c) => (s, ts(t), c) }: _*)
        query.processAllAvailable()
        flushTimes.foreach { t =>
          input.addData((99L, ts(t), "noop"))
          query.processAllAvailable()
        }
        cohortCounts(spark.table(sinkName))
      } finally query.stop()
    // Label surface from the SAME sink rows, through the batch projection.
    val streamedLabels = labelSurface(StreamingPredicates.labelRows(spark.table(sinkName), cfg))
    ParityRun(batchRows, streamed, batchLabels, streamedLabels)
  }

  test("cohortWindows matches batch Query on a gap + event-bound target task") {
    val data = Seq(
      (1L, "2024-01-01 10:00:00", "click"), // trigger 1
      (1L, "2024-01-01 10:30:00", "buy"),
      (1L, "2024-01-01 11:00:00", "click"), // trigger 2
      (1L, "2024-01-01 12:30:00", "buy"),   // target 1's bound event
      (1L, "2024-01-01 14:00:00", "buy"),   // target 2's bound event
      (2L, "2024-01-01 09:00:00", "click"), // trigger; gap has an error -> dropped
      (2L, "2024-01-01 09:30:00", "error"),
      (3L, "2024-01-01 11:00:00", "buy"))   // no trigger
    val run = cohortBothWays(data, "cohort_win")
    assert(run.batchCounts.size == 2,
      s"batch fixture should yield 2 cohort rows: ${run.batchCounts}")
    assert(run.streamedCounts == run.batchCounts,
      s"streamed ${run.streamedCounts} != batch ${run.batchCounts}")
    // Full label-row parity: the streaming projection emits exactly the
    // batch engine's (subject_id, index_timestamp, label, trigger) rows.
    assert(run.batchLabels.nonEmpty)
    assert(run.streamedLabels == run.batchLabels,
      s"streamed labels ${run.streamedLabels} != batch ${run.batchLabels}")
  }

  test("cohortWindows matches batch Query on randomized event streams") {
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      // Unique (subject, minute) slots so raw streamed events equal the
      // batch engine's collapsed same-instant rows one-to-one.
      val data = (1L to 4L).flatMap { subj =>
        val minutes = rnd.shuffle((0 until 1440).toList).take(30).sorted
        minutes.map { m =>
          val code = rnd.nextInt(10) match {
            case 0 | 1 | 2 => "click"
            case 3 | 4 | 5 | 6 => "buy"
            case 7 => "error"
            case _ => "noop"
          }
          (subj, f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00", code)
        }
      }
      // The target's bound is searched without limit (TTL-bounded state):
      // triggers whose bound never arrives stay pending, matching the
      // batch null-bound drop.
      val run = cohortBothWays(data, s"cohort_rand_$seed")
      val (batch, streamed) = (run.batchCounts, run.streamedCounts)
      assert(streamed == batch,
        s"seed $seed: streamed ${streamed.size} rows != batch ${batch.size}: " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
      assert(run.streamedLabels == run.batchLabels,
        s"seed $seed: label rows diverge: missing=${(run.batchLabels -- run.streamedLabels).take(3)} " +
          s"extra=${(run.streamedLabels -- run.batchLabels).take(3)}")
    }
  }

  test("uncapped event-bound window matches batch when the bound arrives days later") {
    val data = Seq(
      // Subject 1's buy lands 5 days after the trigger; the bound search
      // (the batch engine's unbounded `start -> buy`) still finds it.
      (1L, "2024-01-01 10:00:00", "click"),
      (1L, "2024-01-06 10:00:00", "buy"),
      // Subject 2's buy never arrives: batch drops the row (null bound);
      // streaming evicts the trigger at trigger + TTL with no emission.
      (2L, "2024-01-01 09:00:00", "click"))
    val run = cohortBothWays(
      data, "cohort_uncapped",
      stateTtlMicros = 30 * day,
      // Push the watermark past subject 1's bound, then past every TTL.
      flushTimes = Seq("2024-01-07 00:00:00", "2024-02-15 00:00:00", "2024-02-15 01:00:00"))
    assert(run.batchCounts.size == 1,
      s"batch fixture should keep exactly subject 1's row: ${run.batchCounts}")
    assert(run.streamedCounts == run.batchCounts,
      s"streamed ${run.streamedCounts} != batch ${run.batchCounts}")
    assert(run.streamedLabels == run.batchLabels,
      s"streamed labels ${run.streamedLabels} != batch ${run.batchLabels}")
  }

  private def oneEdgeTree(name: String, bound: EndpointBounds) =
    WindowNode("trigger", None, children = Seq(WindowNode(name, Some(bound))))

  test("uncapped event-bound window without a TTL is rejected with the bound formula") {
    import spark.implicits._
    val err = intercept[IllegalArgumentException] {
      StreamingPredicates.cohortWindows(
        spark.emptyDataset[StreamingPredicates.TimedEvent],
        oneEdgeTree("discharge", EventBounds(false, "p0", true)), "p0", Seq("p0"))
    }
    assert(err.getMessage.contains("discharge"))
    assert(err.getMessage.contains("stateTtlMicros"))
    assert(err.getMessage.contains("(T + watermark allowed lateness) x event rate"),
      s"message must give the state-bound formula; got: ${err.getMessage}")
  }

  test("cohortWindows rejects trees that read back to the record start") {
    import spark.implicits._
    Seq(EventBounds(false, "-p0", true), EventBounds(true, EventBounds.EndOfRecord, true),
        TaskConfig.fromYaml(
          """predicates:
            |  p0: { code: A }
            |trigger: p0
            |windows:
            |  input:
            |    start: null
            |    end: trigger
            |    start_inclusive: True
            |    end_inclusive: True
            |""".stripMargin).windowTree.children.head.endpointExpr.get).foreach { bound =>
      val err = intercept[IllegalArgumentException] {
        StreamingPredicates.cohortWindows(
          spark.emptyDataset[StreamingPredicates.TimedEvent],
          oneEdgeTree("history", bound), "p0", Seq("p0"), stateTtlMicros = day)
      }
      assert(err.getMessage.contains("[history]") && err.getMessage.contains("bounded state"),
        s"$bound: ${err.getMessage}")
    }
  }

  test("cohortWindows state drops to 0 rows once the watermark passes every read and TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = TaskConfig.fromYaml(cohortYaml)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingPredicates.cohortWindows(
      cohortEvents(input), cfg.windowTree, cfg.trigger.predicate, Seq("click", "buy", "error"),
      stateTtlMicros = 30 * day)
    val query = out.writeStream
      .format("memory").queryName("cohort_state_bound").outputMode("append").start()
    def stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "click"), // realizes at its 12:30 buy
        (1L, ts("2024-01-01 12:30:00"), "buy"),
        (2L, ts("2024-01-01 09:00:00"), "click")) // its buy never arrives
      query.processAllAvailable()
      assert(stateRows == 2, s"both subjects hold a pending trigger: $stateRows")
      // Past subject 2's TTL (Jan 31 09:00); the row itself is retained
      // until a later watermark passes it.
      input.addData((99L, ts("2024-02-15 00:00:00"), "noop"))
      query.processAllAvailable()
      // A late row: dropped, but its batch runs at the Feb 15 watermark.
      input.addData((99L, ts("2024-01-01 00:00:00"), "noop"))
      query.processAllAvailable()
      assert(stateRows == 0, s"state must be empty: ${query.lastProgress.stateOperators.mkString}")
      assert(spark.table("cohort_state_bound").select(col("subject_id")).as[Long].collect().toSeq == Seq(1L))
    } finally query.stop()
  }

  test("cohort state matches batch WindowTree on generated trees, splits, arrival orders and watermarks") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100).withWorkers(4),
      Prop.forAllNoShrink(WindowTreeGen.treeGen(streamable = true), WindowTreeGen.framesGen,
        Gen.long)(streamAgrees))
    assert(res.passed, res.status.toString)
    assert(streamRealized.get >= 25, s"only ${streamRealized.get} of 100 cases realized a row")
  }

  private val streamRealized = new java.util.concurrent.atomic.AtomicInteger

  /** Batch [[WindowTree]] over the collapsed frame `rows` against the
    * cohort state function over a stream of the same rows: each instant
    * split into 1–3 raw rows, arrivals shuffled within a random delay,
    * random micro-batches, and each batch at a random watermark no row of
    * it or later is behind. A final watermark past every TTL must resolve
    * every trigger and leave no state.
    */
  private def streamAgrees(tree: WindowNode, rows: Seq[WindowTreeGen.Ev], seed: Long): Prop = {
    import WindowTreeGen.{Hour, T0}
    val rnd = new scala.util.Random(seed)
    val ttl = 60 * day
    val frame = WindowTreeGen.toDf(spark, rows).filter(col("timestamp").isNotNull)
      .withColumn(EventBounds.AnyEvent, lit(1L))
    val preds = frame.columns.drop(2).toSeq
    val want = snap(WindowTree(tree, "pA", frame))

    val raw = rows.collect { case WindowTreeGen.Ev(s, Some(h), c) =>
      val parts = 1 + rnd.nextInt(3)
      val split = Array.fill(parts, preds.size)(0L)
      c.indices.foreach(i => (0L until c(i)).foreach(_ => split(rnd.nextInt(parts))(i) += 1))
      split(0)(preds.size - 1) = 1L
      split.toSeq.map(counts => (s, T0 + h * Hour, counts))
    }.flatten
    val delay = rnd.nextInt(49) * Hour
    val arrivals = raw.map(r => (r, r._2 + (rnd.nextDouble() * delay).toLong)).sortBy(_._2).map(_._1)
    val batches = {
      val cuts = arrivals.indices.filter(_ => rnd.nextInt(4) == 0)
      (0 +: cuts :+ arrivals.size).distinct.sliding(2).collect { case Seq(a, b) => arrivals.slice(a, b) }.toSeq
    }

    val fn = StreamingPredicates.cohortState(tree, "pA", preds, ttl)
    val states = collection.mutable.Map.empty[Long, (TriggerState, Long)]
    val emitted = collection.mutable.ArrayBuffer.empty[Realized]
    def call(subject: Long, in: Seq[(Long, Long, Array[Long])], wmMs: Long): Unit = {
      val prev = states.get(subject)
      val st = TestGroupState.create[TriggerState](
        Optional.ofNullable(prev.map(_._1).orNull), GroupStateTimeout.EventTimeTimeout(), 0L,
        Optional.of(wmMs), in.isEmpty)
      emitted ++= fn(subject, in.iterator.map { case (s, us, c) =>
        StreamingPredicates.TimedEvent(s, new Timestamp(us / 1000), c)
      }, st)
      if (st.exists) states(subject) = (st.get, st.getTimeoutTimestampMs.get)
      else states -= subject
    }
    def timeouts(wmMs: Long): Unit =
      states.collect { case (s, (_, at)) if at < wmMs => s }.toSeq.foreach(call(_, Nil, wmMs))
    var wmMs = 0L
    batches.zipWithIndex.foreach { case (batch, k) =>
      val latest = batches.drop(k).flatten.map(_._2).min / 1000 - 1
      if (latest > wmMs) wmMs += (rnd.nextDouble() * (latest - wmMs)).toLong
      batch.groupBy(_._1).foreach { case (s, in) => call(s, in, wmMs) }
      timeouts(wmMs)
    }
    timeouts(raw.map(_._2).maxOption.getOrElse(T0) / 1000 + 2 * ttl / 1000)

    val got = spark.createDataset(emitted.toSeq)(WindowTree.outputEncoder)
    val gotSnap = snap(WindowTree.summaries(got, SubjectKernel(tree, "pA", preds), LongType))
    if (want.nonEmpty) streamRealized.incrementAndGet()
    (Prop(gotSnap == want) :| s"streamed:\n${gotSnap.mkString("\n")}\nbatch:\n${want.mkString("\n")}") &&
      (Prop(states.isEmpty) :| s"state left: ${states.keys}") :| s"$tree\ndelay ${delay / Hour}h, ${batches.size} batches"
  }

  test("dedupExactStream keeps first arrival, drops within-watermark duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "timestamp", "text")
      .withWatermark("timestamp", "1 hour")
    val out = StreamingPredicates.dedupExactStream(docs)

    val query = out.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "the same boilerplate"),
        (2L, ts("2024-01-01 10:05:00"), "the same boilerplate"), // dup, same batch
        (3L, ts("2024-01-01 10:10:00"), "a unique document"))
      query.processAllAvailable()
      // Cross-batch duplicate within the watermark window → dropped too.
      input.addData((4L, ts("2024-01-01 10:30:00"), "the same boilerplate"))
      query.processAllAvailable()
      input.addData((5L, ts("2024-01-01 11:00:00"), "another unique one"))
      query.processAllAvailable()

      val kept = spark.table("dedup_stream").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L),
        s"first arrivals only — dups 2 and 4 must be dropped; got $kept")
      // The schema passes through unchanged (no helper columns leak).
      assert(spark.table("dedup_stream").columns.toSeq == Seq("doc_id", "timestamp", "text"))
    } finally query.stop()
  }

  test("decontaminateStream matches batch Decontaminate.matches, emits once at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val sfDocs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val probes = sfDocs.filter(col("doc_id") < 5)
    val corpus = sfDocs.filter(col("doc_id") >= 5).limit(60)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val want = graft.operators.Decontaminate
      .matches(sfDocs.filter(col("doc_id") >= 5)
        .join(corpus.map(_._1).toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"), probes, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must contain contaminated docs")

    val input = MemoryStream[(Long, Timestamp, String)]
    val docsStream = input.toDF().toDF("doc_id", "timestamp", "text")
      .withWatermark("timestamp", "10 minutes")
    val out = StreamingPredicates.decontaminateStream(docsStream, probes, 3)
    val query = out.writeStream
      .format("memory").queryName("decontam_stream").outputMode("append").start()
    try {
      val (half1, half2) = corpus.splitAt(30)
      input.addData(half1.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      input.addData(half2.map { case (id, t) => (id, ts("2024-01-01 10:30:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      // advance the watermark past both batches to flush the counts
      input.addData((999999L, ts("2024-01-01 12:00:00"), "flush probe"))
      query.processAllAvailable()

      val got = spark.table("decontam_stream")
        .select("doc_id", "matched_ngrams").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.filterNot(_._1 == 999999L) == want,
        s"streamed counts must equal batch matches; missing=${want -- got} extra=${got -- want}")
    } finally query.stop()
  }

  test("sessionizeStream matches batch Sessionize.sessions, boundary gap included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Gap 1h. Subject 1: 10:00, 10:30, exactly-1h gap to 11:30 (batch
    // keeps SAME session at gap == gapMicros), then 13:00:00.000001
    // (1h + 1µs after 12:00? no — 13:00 is >1h after 11:30 → new
    // session). Subject 2: single event. Out-of-order arrival within
    // the watermark must land in the right session.
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:30:00")),
      (1L, ts("2024-01-01 11:30:00")), // == gap exactly → same session
      (1L, ts("2024-01-01 13:00:00")), // > gap → new session
      (2L, ts("2024-01-01 10:15:00")))

    val batch = graft.operators.Sessionize
      .sessions(rows.toDF("subject_id", "timestamp"), gapMicros = 3600000000L)
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long, Long)] =
      df.select(col("subject_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("duration_us"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
        .toSet
    val want = key(batch)
    assert(want.contains((1L, "2024-01-01 10:00:00", "2024-01-01 11:30:00", 5400000000L, 3L)),
      s"batch must merge the exact-boundary gap; got $want")

    val input = MemoryStream[(Long, Timestamp)]
    val out = StreamingPredicates.sessionizeStream(
      input.toDF().toDF("subject_id", "timestamp"),
      gapMicros = 3600000000L, watermark = "30 minutes")
    val query = out.writeStream
      .format("memory").queryName("sessionize_stream").outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:15:00")))
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 11:30:00")), (1L, ts("2024-01-01 10:30:00"))) // out of order
      query.processAllAvailable()
      input.addData((1L, ts("2024-01-01 13:00:00")))
      query.processAllAvailable()
      // Push the watermark far past every session end + gap to close all.
      input.addData((1L, ts("2024-01-02 09:00:00")))
      query.processAllAvailable()

      val got = key(spark.table("sessionize_stream"))
      assert(want.subsetOf(got),
        s"streamed sessions must match batch; want $want got $got")
      // Nothing extra beyond the unclosed tail session (the 09:00 probe).
      assert((got -- want).forall(_._2.startsWith("2024-01-02")),
        s"unexpected extra sessions: ${got -- want}")
    } finally query.stop()
  }

  test("urlDedupStream keeps first arrival per canonical url key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "timestamp", "url")
      .withWatermark("timestamp", "1 hour")
    val out = StreamingPredicates.urlDedupStream(docs)

    val query = out.writeStream
      .format("memory").queryName("url_dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "https://a.com/x?b=2&a=1"),
        // Raw-distinct but normalization-equal (www/case/utm/order/frag).
        (2L, ts("2024-01-01 10:05:00"), "HTTPS://WWW.A.COM/x/?a=1&b=2&utm_source=f"),
        (3L, ts("2024-01-01 10:10:00"), "https://b.com/y"))
      query.processAllAvailable()
      // Cross-batch re-crawl within the watermark → dropped too.
      input.addData((4L, ts("2024-01-01 10:30:00"), "https://a.com:443/x?a=1&b=2#frag"))
      query.processAllAvailable()
      input.addData((5L, ts("2024-01-01 11:00:00"), "opaque-key"))
      query.processAllAvailable()

      val kept = spark.table("url_dedup_stream").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L),
        s"first arrivals only — re-crawls 2 and 4 must be dropped; got $kept")
      assert(spark.table("url_dedup_stream").columns.toSeq ==
        Seq("doc_id", "timestamp", "url"))
    } finally query.stop()
  }

  test("minhashNearDupStream matches batch incremental dedup on a shard sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup

    // The production upstream is dedupExactStream, so the banding stage
    // sees distinct texts — mirror that with one representative per text
    // (min doc_id, the batch pre-pass's choice).
    val docsD = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
    val rows = docsD.collect().map(r => (r.getLong(0), r.getString(1)))
    val (shard1, shard2) = rows.partition(_._1 < 250)
    val threshold = 0.5

    // Batch counterpart on the SAME shard sequence: full run on shard 1,
    // then incremental shard 2 vs shard 1's persisted index.
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
    val s1df = spark.createDataFrame(shard1.toSeq).toDF("doc_id", "text")
    val s2df = spark.createDataFrame(shard2.toSeq).toDF("doc_id", "text")
    val batchPairs =
      pairSet(Dedup.minhashLsh(s1df, threshold)) ++
        pairSet(Dedup.minhashLshIncremental(s2df, Dedup.minhashIndex(s1df), threshold))

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "timestamp", "text")
      .withWatermark("timestamp", "1 hour")
    val out = StreamingPredicates.minhashNearDupStream(docs, threshold)
    val query = out.writeStream
      .format("memory").queryName("neardup_stream").outputMode("append").start()
    try {
      input.addData(shard1.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      input.addData(shard2.map { case (id, t) => (id, ts("2024-01-01 10:30:00"), t) }.toSeq: _*)
      query.processAllAvailable()

      val streamed = pairSet(spark.table("neardup_stream"))
      assert(streamed == batchPairs,
        s"stream/batch divergence: stream-only=${streamed.diff(batchPairs).take(5)} " +
          s"batch-only=${batchPairs.diff(streamed).take(5)} " +
          s"(${streamed.size} streamed vs ${batchPairs.size} batch)")
      assert(batchPairs.nonEmpty, "fixture corpus must actually contain near-dups")
    } finally query.stop()
  }

  test("perplexityStream: stateless LM scoring matches batch perplexity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Vocabulary

    val docsD = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val lm = Vocabulary.unigramLm(docsD, vocabSize = 10)
    val batch = Vocabulary.perplexity(docsD, lm, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    val rows = docsD.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "timestamp", "text")
    val out = StreamingPredicates.perplexityStream(stream, lm)
      .select("doc_id", "n_tokens", "avg_nll", "ppl")
    val query = out.writeStream
      .format("memory").queryName("ppl_stream").outputMode("append").start()
    try {
      input.addData(rows.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      val streamed = spark.table("ppl_stream")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (id, (n, nll)) =>
        // Batch rounds to 4 decimals for its oracle; the stream is
        // unrounded — compare at the rounding grain + float-order noise.
        val (bn, bnll) = batch(id)
        assert(n == bn, s"doc $id token count $n != $bn")
        assert(math.abs(nll - bnll) <= 5e-5 + 1e-9, s"doc $id nll $nll != $bnll")
      }
    } finally query.stop()
  }

  test("qualityScoreStream: stateless model scoring matches batch score") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.QualityClassifier

    val docsD = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val model = QualityClassifier.train(
      docsD.withColumn("is_en", (col("lang") === "en").cast("int")),
      "is_en", dim = 256, iters = 8)
    val batch = QualityClassifier.score(docsD, model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val rows = docsD.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "timestamp", "text")
    val query = StreamingPredicates.qualityScoreStream(stream, model)
      .select("doc_id", "quality")
      .writeStream.format("memory").queryName("qc_stream").outputMode("append").start()
    try {
      input.addData(rows.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      val streamed = spark.table("qc_stream")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (id, q) =>
        // Batch rounds to 4 decimals; the stream folds Σw then scales —
        // compare at the rounding grain + float-order noise.
        assert(math.abs(q - batch(id)) <= 5e-5 + 1e-9, s"doc $id quality $q != ${batch(id)}")
      }
    } finally query.stop()
  }

  test("qualityScoreStream rejects a non-model frame with a named error") {
    val bad = spark.range(3).toDF("feat")
    val ex = intercept[IllegalArgumentException] {
      StreamingPredicates.qualityScoreStream(
        spark.range(1).toDF("doc_id").withColumn("text", lit("a")), bad)
    }
    assert(ex.getMessage.contains("QualityClassifier.train"))
  }

  test("stateless text operators run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Texts

    val docsD = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    def enrich(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import graft.operators.UrlCuration
      val metrics = Texts.qualityMetrics(col("text")).map { case (n, c) => c.as(n) }
      // Synthetic url exercises the (equally stateless) URL parse family.
      val url = concat(lit("HTTPS://WWW.s"), col("doc_id") % 7,
        lit(".co.uk/P"), col("doc_id"), lit("?b=2&a=1&utm_x=1"))
      // The round-11 stateless additions ride the same contract: HTML
      // extraction, the Gopher shape gate, and its metric columns.
      val gopher = Texts.gopherMetrics(col("text")).map { case (n, c) => c.as(n) }
      df.select(Seq(col("doc_id"), Texts.langId(col("text")).as("lid"),
        Texts.redactPii(col("text")).as("red"),
        Texts.stripHtml(concat(lit("<p>"), col("text"), lit(" &amp; tail</p>")))
          .as("stripped"),
        Texts.gopherKeep(col("text")).as("gkeep"),
        UrlCuration.normalizeUrl(url).as("unorm"),
        UrlCuration.registeredDomain(UrlCuration.host(url)).as("udom"))
        ++ metrics ++ gopher: _*)
    }
    val want = snap(enrich(docsD.select("doc_id", "text")))

    val rows = docsD.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = enrich(input.toDF().toDF("doc_id", "timestamp", "text"))
      .writeStream.format("memory").queryName("stateless_stream").outputMode("append").start()
    try {
      input.addData(rows.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      assert(snap(spark.table("stateless_stream")) == want)
    } finally query.stop()
  }

  test("chunking and BPE tokenization run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docsD = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // The merge table is batch-learned (fit on the reference corpus) and
    // broadcast into the stream — the CCNet-style topology: fit offline,
    // score/tokenize the ingest stream statelessly.
    val merges = graft.functions.Bpe.learnMerges(docsD, numMerges = 16, vocabLimit = 1000)
    def enrich(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val chunks = graft.operators.Chunking.chunk(df, chunkChars = 120, overlapChars = 24)
        .select((col("doc_id") * 1000 + col("chunk_id")).as("doc_id"),
          col("chunk_text").as("text"))
      graft.functions.Bpe.tokenCounts(chunks, merges)
    }
    val want = snap(enrich(docsD))

    val rows = docsD.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = enrich(input.toDF().toDF("doc_id", "timestamp", "text"))
      .writeStream.format("memory").queryName("chunk_bpe_stream").outputMode("append").start()
    try {
      input.addData(rows.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      assert(snap(spark.table("chunk_bpe_stream")) == want)
    } finally query.stop()
  }

  test("substringDupStream matches batch incremental spans on a shard sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup

    val docsD = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val rows = docsD.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (shard1, shard2) = rows.partition(_._1 < 250)
    val k = 5

    // Batch counterpart on the SAME shard sequence: full span run on
    // shard 1, then incremental shard 2 vs shard 1's persisted index.
    def summarySet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.groupBy("doc_id")
        .agg(sum("n_windows").as("w"), count(lit(1)).as("s"), sum("span_len").as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val s1df = spark.createDataFrame(shard1.toSeq).toDF("doc_id", "text")
    val s2df = spark.createDataFrame(shard2.toSeq).toDF("doc_id", "text")
    val batchSummaries =
      summarySet(Dedup.duplicateSpans(s1df, k = k, hashWindows = true)) ++
        summarySet(Dedup.duplicateSpansIncremental(
          s2df, Dedup.substringIndex(s1df, k = k, hashWindows = true), k = k, hashWindows = true))

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "timestamp", "text")
      .withWatermark("timestamp", "1 hour")
    val out = StreamingPredicates.substringDupStream(docs, k = k)
    val query = out.writeStream
      .format("memory").queryName("substr_stream").outputMode("append").start()
    try {
      input.addData(shard1.map { case (id, t) => (id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      input.addData(shard2.map { case (id, t) => (id, ts("2024-01-01 10:30:00"), t) }.toSeq: _*)
      query.processAllAvailable()

      val streamed = StreamingPredicates.substringHitSummary(spark.table("substr_stream"), k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batchSummaries,
        s"stream/batch divergence: stream-only=${streamed.diff(batchSummaries).take(5)} " +
          s"batch-only=${batchSummaries.diff(streamed).take(5)} " +
          s"(${streamed.size} streamed vs ${batchSummaries.size} batch)")
      assert(batchSummaries.nonEmpty, "fixture corpus must actually contain duplicated spans")
    } finally query.stop()
  }

  test("embeddingNearDupStream matches batch incremental dedup on a shard sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup

    val embAll = graft.sources.Tables.table(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    val rows = embAll.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (shard1, shard2) = rows.partition(_._1 < 250)
    val threshold = 0.4

    // Batch counterpart on the SAME shard sequence: full run on shard 1,
    // then incremental shard 2 vs shard 1 as the standing corpus.
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
    val s1df = spark.createDataFrame(shard1.toSeq).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val s2df = spark.createDataFrame(shard2.toSeq).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val batchPairs =
      pairSet(Dedup.embeddingNearDup(s1df, threshold, bands = 32, bitsPerBand = 2)) ++
        pairSet(Dedup.embeddingNearDupIncremental(s2df, s1df, threshold,
          bands = 32, bitsPerBand = 2))

    val input = MemoryStream[(Long, Timestamp, Array[Float])]
    val vecs = input.toDF().toDF("vec_id", "timestamp", "embedding")
      .withWatermark("timestamp", "1 hour")
    val out = StreamingPredicates.embeddingNearDupStream(
      vecs, threshold, bands = 32, bitsPerBand = 2)
    val query = out.writeStream
      .format("memory").queryName("embdup_stream").outputMode("append").start()
    try {
      input.addData(shard1.map { case (id, v) => (id, ts("2024-01-01 10:00:00"), v) }.toSeq: _*)
      query.processAllAvailable()
      input.addData(shard2.map { case (id, v) => (id, ts("2024-01-01 10:30:00"), v) }.toSeq: _*)
      query.processAllAvailable()

      val streamed = pairSet(spark.table("embdup_stream"))
      assert(streamed == batchPairs,
        s"stream/batch divergence: stream-only=${streamed.diff(batchPairs).take(5)} " +
          s"batch-only=${batchPairs.diff(streamed).take(5)} " +
          s"(${streamed.size} streamed vs ${batchPairs.size} batch)")
      assert(batchPairs.nonEmpty, "fixture corpus must actually contain near-dups")
    } finally query.stop()
  }

  test("embeddingNearDupStream evicts bucket state after the TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Two near-parallel vector families, far apart from each other.
    def vec(base: Array[Float], jitter: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => if (i == 0) x + jitter else x }
    val famA = Array.fill(8)(1.0f)
    val famB = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)

    val input = MemoryStream[(Long, Timestamp, Array[Float])]
    val vecs = input.toDF().toDF("vec_id", "timestamp", "embedding")
      .withWatermark("timestamp", "0 seconds")
    val out = StreamingPredicates.embeddingNearDupStream(
      vecs, threshold = 0.95, bands = 8, bitsPerBand = 2,
      ttlMicros = 3600L * 1000000L)
    val query = out.writeStream
      .format("memory").queryName("embdup_ttl").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), famA),
        (2L, ts("2024-01-01 10:05:00"), vec(famA, 0.05f)))
      query.processAllAvailable()
      // March the watermark past 10:05 + TTL with an unrelated vector.
      input.addData((100L, ts("2024-01-01 20:00:00"), famB))
      query.processAllAvailable()
      // Vectors 1/2 expired: their near-dup finds nothing to pair with...
      input.addData((3L, ts("2024-01-01 20:10:00"), vec(famA, 0.1f)))
      query.processAllAvailable()
      // ...but live state still pairs: vector 4 against vector 3.
      input.addData((4L, ts("2024-01-01 20:15:00"), famA))
      query.processAllAvailable()
      // A ragged-dim arrival (contract violation) must neither crash the
      // query nor corrupt state-stride indexing — it is dropped.
      input.addData((5L, ts("2024-01-01 20:20:00"), Array.fill(4)(1.0f)))
      query.processAllAvailable()
      input.addData((6L, ts("2024-01-01 20:25:00"), vec(famA, 0.02f)))
      query.processAllAvailable()

      val pairs = spark.table("embdup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L), (3L, 4L), (3L, 6L), (4L, 6L)),
        s"expected pre-TTL, post-TTL, and post-ragged pairs only (5 dropped); got $pairs")
    } finally query.stop()
  }

  test("embeddingNearDupStream rejects a non-integral id column with a named error") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Array[Float])]
    val vecs = input.toDF().toDF("vec_id", "timestamp", "embedding")
      .withWatermark("timestamp", "1 hour")
    val err = intercept[IllegalArgumentException] {
      StreamingPredicates.embeddingNearDupStream(vecs, threshold = 0.9)
    }
    assert(err.getMessage.contains("embeddingNearDupStream"))
    assert(err.getMessage.contains("vec_id"))
    assert(err.getMessage.contains("string"))
  }

  test("phashNearDupStream matches batch perceptual-hash dedup on a shard sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.harness.MediaFixtures
    import graft.operators.PerceptualHash

    // The dHash family fixture: all 50 hashes are DISTINCT, so batch
    // star-pair collapsing never kicks in and stream/batch pair sets
    // must be identical.
    val allIds = (0L until 50L)
    val batchPairs = PerceptualHash
      .dedup(MediaFixtures.syntheticBitmaps(
        allIds.toDF("doc_id")), maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val media = input.toDF().toDF("media_id", "timestamp", "payload")
    val out = StreamingPredicates.phashNearDupStream(media, maxHamming = 2)
    val query = out.writeStream
      .format("memory").queryName("phash_stream").outputMode("append").start()
    try {
      val (shard1, shard2) = allIds.partition(_ < 25)
      input.addData(shard1.map(id => (id, ts("2024-01-01 10:00:00"), MediaFixtures.bmpPayload(id))): _*)
      query.processAllAvailable()
      input.addData(shard2.map(id => (id, ts("2024-01-01 10:30:00"), MediaFixtures.bmpPayload(id))): _*)
      query.processAllAvailable()

      val streamed = spark.table("phash_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batchPairs,
        s"stream/batch divergence: stream-only=${streamed.diff(batchPairs).take(5)} " +
          s"batch-only=${batchPairs.diff(streamed).take(5)} " +
          s"(${streamed.size} streamed vs ${batchPairs.size} batch)")
      assert(batchPairs.nonEmpty, "fixture must actually contain near-dup images")
      // Undecodable payloads pass through silently (no signature, no pair).
      input.addData((999L, ts("2024-01-01 10:45:00"), "not an image".getBytes("UTF-8")))
      query.processAllAvailable()
      assert(spark.table("phash_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == streamed)
    } finally query.stop()
  }

  test("videoNearDupStream matches batch clip dedup across arrival splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.harness.MediaFixtures
    import graft.operators.VideoFingerprint

    val allIds = (0L until 50L)
    val batchPairs = VideoFingerprint
      .dedup(MediaFixtures.syntheticVideos(allIds.toDF("doc_id")),
        frameBytes = MediaFixtures.BmpFrameBytes, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs.nonEmpty, "fixture must actually contain near-dup clips")

    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val media = input.toDF().toDF("media_id", "timestamp", "payload")
    val out = StreamingPredicates.videoNearDupStream(
      media, frameBytes = MediaFixtures.BmpFrameBytes, minShared = 3L)
    val query = out.writeStream
      .format("memory").queryName("video_stream").outputMode("append").start()
    try {
      // Split mid-family so corpus↔shard pairs must come from state.
      val (shard1, shard2) = allIds.partition(_ < 23)
      input.addData(shard1.map(id =>
        (id, ts("2024-01-01 10:00:00"), MediaFixtures.videoPayload(id))): _*)
      query.processAllAvailable()
      input.addData(shard2.map(id =>
        (id, ts("2024-01-01 10:30:00"), MediaFixtures.videoPayload(id))): _*)
      query.processAllAvailable()

      val streamed = spark.table("video_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batchPairs,
        s"stream/batch divergence: stream-only=${streamed.diff(batchPairs).take(5)} " +
          s"batch-only=${batchPairs.diff(streamed).take(5)} " +
          s"(${streamed.size} streamed vs ${batchPairs.size} batch)")
      // Exactly-once: no pair may have been emitted from two signature
      // groups (the lowest-shared-signature rule) — set vs bag equality.
      val bag = spark.table("video_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(bag.distinct.size == bag.size,
        s"duplicate pair emissions: ${bag.groupBy(identity).filter(_._2.size > 1).keys.take(5)}")
      // Undecodable payloads pass through silently (no signature, no pair).
      input.addData((999L, ts("2024-01-01 10:45:00"), "not a clip".getBytes("UTF-8")))
      query.processAllAvailable()
      assert(spark.table("video_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == streamed)
    } finally query.stop()
  }

  test("phashNearDupStream evicts bucket state after the TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.harness.MediaFixtures

    // Family 0 variants: ids 0-4 share a base pattern within Hamming 2.
    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val media = input.toDF().toDF("media_id", "timestamp", "payload")
    val out = StreamingPredicates.phashNearDupStream(
      media, maxHamming = 2, ttlMicros = 3600L * 1000000L,
      watermarkDelay = "0 seconds")
    val query = out.writeStream
      .format("memory").queryName("phash_ttl").outputMode("append").start()
    try {
      input.addData(
        (0L, ts("2024-01-01 10:00:00"), MediaFixtures.bmpPayload(0L)),
        (1L, ts("2024-01-01 10:05:00"), MediaFixtures.bmpPayload(1L)))
      query.processAllAvailable()
      // March the watermark past 10:05 + TTL with a far-family image.
      input.addData((100L, ts("2024-01-01 20:00:00"), MediaFixtures.bmpPayload(500L)))
      query.processAllAvailable()
      // 0/1 expired: variant 2 finds nothing...
      input.addData((2L, ts("2024-01-01 20:10:00"), MediaFixtures.bmpPayload(2L)))
      query.processAllAvailable()
      // ...but live state still pairs: variant 3 against variant 2.
      input.addData((3L, ts("2024-01-01 20:15:00"), MediaFixtures.bmpPayload(3L)))
      query.processAllAvailable()

      val pairs = spark.table("phash_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((0L, 1L), (2L, 3L)),
        s"expected the pre-TTL pair and the post-TTL fresh pair only; got $pairs")
    } finally query.stop()
  }

  test("phashNearDupStream saturation latch: a capped bucket is dark until its last arrival's TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.harness.MediaFixtures

    // Every doc carries the SAME image, so all of them share one set of
    // chunk buckets; a cap of 2 saturates them on the third arrival.
    val img = MediaFixtures.bmpPayload(0L)
    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val media = input.toDF().toDF("media_id", "timestamp", "payload")
    val out = StreamingPredicates.phashNearDupStream(
      media, maxHamming = 2, maxBucketSize = 2, ttlMicros = 3600L * 1000000L,
      watermarkDelay = "0 seconds")
    val query = out.writeStream
      .format("memory").queryName("phash_latch").outputMode("append").start()
    def feed(rows: (Long, String, Array[Byte])*): Unit = {
      input.addData(rows.map { case (id, t, p) => (id, ts(t), p) }: _*)
      query.processAllAvailable()
    }
    try {
      feed((0L, "2024-01-01 10:00:00", img), (1L, "2024-01-01 10:05:00", img))
      // 2 passes the cap and darkens the bucket; 3 only moves the latch
      // clock to 10:20.
      feed((2L, "2024-01-01 10:10:00", img), (3L, "2024-01-01 10:20:00", img))
      // Watermark to 11:15: past the saturating arrival + TTL, short of
      // the last arrival + TTL — the bucket stays dark.
      feed((100L, "2024-01-01 11:15:00", MediaFixtures.bmpPayload(500L)))
      feed((4L, "2024-01-01 11:16:00", img), (5L, "2024-01-01 11:17:00", img))
      // Watermark past 11:17 + TTL: the latch clears and the bucket pairs.
      feed((101L, "2024-01-01 20:00:00", MediaFixtures.bmpPayload(1000L)))
      feed((6L, "2024-01-01 20:10:00", img), (7L, "2024-01-01 20:15:00", img))

      val pairs = spark.table("phash_latch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((0L, 1L), (6L, 7L)),
        s"expected only the pre-cap pair and the post-latch pair; got $pairs")
    } finally query.stop()
  }

  test("minhashNearDupStream evicts bucket state after the TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "sleepy pelicans watch from the old wooden pier near the harbor wall"
    val variant1 = base.replace("seventeen", "nineteen")
    val variant2 = base.replace("harbor", "marina")

    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "timestamp", "text")
      .withWatermark("timestamp", "0 seconds")
    val out = StreamingPredicates.minhashNearDupStream(
      docs, threshold = 0.5, ttlMicros = 3600L * 1000000L)
    val query = out.writeStream
      .format("memory").queryName("neardup_ttl").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), base),
        (2L, ts("2024-01-01 10:05:00"), variant1))
      query.processAllAvailable()
      // March the watermark past 10:05 + TTL with an unrelated doc.
      input.addData((100L, ts("2024-01-01 20:00:00"), "something entirely different here"))
      query.processAllAvailable()
      // Docs 1/2 expired: their near-dup finds nothing to pair with...
      input.addData((3L, ts("2024-01-01 20:10:00"), variant2))
      query.processAllAvailable()
      // ...but live state still pairs: doc 4 against doc 3.
      input.addData((4L, ts("2024-01-01 20:15:00"), base))
      query.processAllAvailable()

      val pairs = spark.table("neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L), (3L, 4L)),
        s"expected the pre-TTL pair and the post-TTL fresh pair only; got $pairs")
    } finally query.stop()
  }

  test("profileSink maintains a standing merged profile equal to a one-shot batch profile") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Profiling

    val dir = java.nio.file.Files.createTempDirectory("profsink").toString + "/standing"
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "lang", "n_chars")

    val query = docs.writeStream
      .foreachBatch(Profiling.profileSink(dir))
      .outputMode("append").start()
    try {
      input.addData((1L, "en", 100L), (2L, "fr", 50L), (3L, "en", 200L))
      query.processAllAvailable()
      input.addData((4L, "de", 400L), (5L, "en", 100L))
      query.processAllAvailable()
    } finally query.stop()

    // Per-batch layout: fold at read time (idempotent under foreachBatch
    // retries — each batch owns batch=<id> and overwrites only itself).
    def fold() = Profiling.profileFromShards(
      Profiling.mergeShardProfiles(spark.read.parquet(dir)))
    val standing = fold().collect().map(r => r.getString(0) -> r).toMap
    assert(standing("doc_id").getAs[Long]("n_rows") == 5L)
    assert(standing("n_chars").getAs[String]("min_val") == "50")
    assert(standing("n_chars").getAs[String]("max_val") == "400")
    assert(math.abs(standing("n_chars").getAs[Double]("mean") - 170.0) < 1e-9)
    assert(standing("lang").getAs[Long]("distinct_est") == 3L)
    // Exactly what a one-shot batch profile of the union reports (the
    // HLL estimate may differ by the HIP/composite nuance — compare the
    // scalar stats, which must be identical).
    val oneShot = Profiling.profileFromShards(Profiling.mergeShardProfiles(
      Profiling.shardProfile(Seq(
        (1L, "en", 100L), (2L, "fr", 50L), (3L, "en", 200L),
        (4L, "de", 400L), (5L, "en", 100L)).toDF("doc_id", "lang", "n_chars"))))
    assert(snap(fold().drop("distinct_est")) == snap(oneShot.drop("distinct_est")))
    // Idempotency: re-running a batch's write (the at-least-once retry
    // shape) leaves the folded profile unchanged.
    Profiling.profileSink(dir)(Seq((4L, "de", 400L), (5L, "en", 100L))
      .toDF("doc_id", "lang", "n_chars"), 1L)
    assert(fold().collect().map(_.getAs[Long]("n_rows")).forall(_ == 5L))
  }

  test("compactProfileDir: fold unchanged, one dir remains, resumed stream appends; legacy layout fails loudly") {
    import spark.implicits._
    import graft.operators.Profiling

    val dir = java.nio.file.Files.createTempDirectory("profcompact").toString + "/standing"
    val sink = Profiling.profileSink(dir)
    sink(Seq((1L, "en", 100L), (2L, "fr", 50L)).toDF("doc_id", "lang", "n_chars"), 0L)
    sink(Seq((3L, "en", 200L)).toDF("doc_id", "lang", "n_chars"), 1L)
    sink(Seq((4L, "de", 400L), (5L, "en", 100L)).toDF("doc_id", "lang", "n_chars"), 2L)

    def fold() = Profiling.profileFromShards(
      Profiling.mergeShardProfiles(spark.read.parquet(dir).drop("batch")))
    val before = snap(fold())
    Profiling.compactProfileDir(spark, dir)
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.toSeq == Seq("batch=c2"), s"got ${subdirs.mkString(",")}")
    assert(snap(fold()) == before, "compaction changed the folded profile")
    // Single-dir compaction is a no-op (nothing to fold).
    Profiling.compactProfileDir(spark, dir)
    assert(snap(fold()) == before)
    // A resumed stream keeps writing numeric batch ids beside the
    // compacted dir; the fold keeps absorbing them.
    Profiling.profileSink(dir)(
      Seq((6L, "es", 300L)).toDF("doc_id", "lang", "n_chars"), 3L)
    assert(fold().collect().map(_.getAs[Long]("n_rows")).forall(_ == 6L))
    // Re-compaction folds the mix of compacted + fresh dirs too.
    Profiling.compactProfileDir(spark, dir)
    assert(fold().collect().map(_.getAs[Long]("n_rows")).forall(_ == 6L))

    // Legacy layout: a standing dir with root-level data files (the
    // pre-batch merged-profile layout) must be refused, not blended.
    val legacy = java.nio.file.Files.createTempDirectory("proflegacy").toString + "/standing"
    Profiling.shardProfile(Seq((1L, "en", 100L)).toDF("doc_id", "lang", "n_chars"))
      .coalesce(1).write.parquet(legacy)
    val bad = intercept[IllegalArgumentException] {
      Profiling.profileSink(legacy)(
        Seq((2L, "fr", 50L)).toDF("doc_id", "lang", "n_chars"), 0L)
    }
    assert(bad.getMessage.contains("pre-batch"))
  }
}
