package graft.streaming

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType

import graft.Query
import graft.config.TaskConfig
import graft.model.{EventBounds, TemporalBounds}
import graft.plans.{Realized, SubjectKernel, SubjectRow, WindowNode, WindowTree}

/** Structured Streaming faces of the batch operators — the incremental
  * path the reference lacks (its "streaming" is stream-shaped data, batch
  * execution; SURVEY.md §2.10 marks this as the post-parity extension).
  *
  * Operator families:
  *   - Cohort predicates: [[windowedCounts]] (tumbling windows),
  *     [[sessionizeStream]], [[cumulativeCounts]] (running totals), and
  *     the batch window-tree kernel over a stream, [[cohortWindows]] (+
  *     [[labelRows]]); [[triggerWindowCounts]] is its one-window view.
  *   - Exact and url dedup ([[dedupExactStream]], [[urlDedupStream]]):
  *     Spark's own `dropDuplicatesWithinWatermark` on a 16-byte key.
  *   - Near-dup pairs: minhash / embedding / phash / afp / video. Each
  *     routes arrivals to bucket groups and supplies its pair rule; the
  *     shared [[bandedPairStream]] core owns the bucket state, the TTL
  *     clock and the saturation latch.
  *   - [[substringDupStream]] (duplicated k-token windows) and the
  *     stateless text scorers ([[decontaminateStream]],
  *     [[qualityScoreStream]], [[perplexityStream]]).
  *
  * State-size claims in this file quote the LOGICAL payload per key (the
  * bytes the operator design puts in state). The default HDFS-backed
  * state store carries an additional ~180 B/key of fixed object
  * scaffolding (UnsafeRow headers + map entries + version maps) on top,
  * independent of payload — measured, constant from 1× to 50× corpus
  * growth, by `graft.tools.StreamStateProbe` (numbers in BENCH_NOTES §10,
  * alongside the state-ROWS-equal-key-population check per operator).
  */
object StreamingPredicates {

  /** Saturating micros add — infinite TTLs use Long.MaxValue as
    * +infinity, so `t + ttl` must clamp instead of wrapping. Shared by
    * every TTL-bounded state operator in this file (one definition: the
    * eviction-clock math must never diverge between the stateful streams).
    */
  private def satAdd(a: Long, b: Long): Long =
    if (b >= Long.MaxValue - math.max(a, 0L)) Long.MaxValue else a + b

  /** Arm a TTL state's timeout at `fromMicros + ttlMicros`, never behind
    * the watermark (an infinite TTL arms nothing) — the one eviction
    * clock of [[bandedPairStream]] and [[substringDupStream]].
    */
  private def armEviction(
      state: GroupState[_], fromMicros: Long, ttlMicros: Long, wmMicros: Long): Unit =
    if (ttlMicros < Long.MaxValue)
      state.setTimeoutTimestamp(
        math.max(satAdd(fromMicros, ttlMicros) / 1000L + 1L, wmMicros / 1000L + 1L))

  /** A stream row stamped with its (watermarked) event time. */
  trait Timed {
    def timestamp: java.sql.Timestamp
    final def tsMicros: Long =
      (timestamp.getTime / 1000L) * 1000000L + timestamp.getNanos / 1000L
  }

  /** Tumbling-window per-subject predicate counts.
    *
    * @param events    streaming frame with `subject_id`, `timestamp`, and
    *                  whatever columns the predicate expressions read.
    * @param preds     (name, boolean expression) per predicate.
    * @param window    tumbling window size, e.g. "1 hour".
    * @param watermark allowed lateness, e.g. "2 hours".
    */
  def windowedCounts(
      events: DataFrame,
      preds: Seq[(String, Column)],
      window: String,
      watermark: String
  ): DataFrame = {
    val aggs = preds.map { case (n, c) => sum(c.cast("long")).as(n) }
    events
      .withWatermark("timestamp", watermark)
      .groupBy(
        col("subject_id"),
        org.apache.spark.sql.functions.window(col("timestamp"), window).as("win"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("subject_id") +: col("win.start").as("window_start") +:
          col("win.end").as("window_end") +: preds.map { case (n, _) => col(n) }: _*)
  }

  /** Streaming gap-sessionization — the incremental face of
    * [[graft.operators.Sessionize]]: Spark's native `session_window`
    * merges per-subject events into gap-delimited sessions, and each
    * session row is emitted exactly once when the event-time watermark
    * proves no further event can extend it. State per subject is the
    * open session only (merged by the session-window operator itself —
    * no custom state code), bounded by watermark × event rate.
    *
    * Semantics match the batch operator EXACTLY, boundary included:
    * batch starts a new session when the gap is STRICTLY greater than
    * `gapMicros`, while `session_window`'s half-open `[ts, ts+gap)`
    * interval would split at an exact-`gapMicros` gap — so the window
    * gap is `gapMicros + 1` µs. Output columns are the batch summary's
    * (subject, session_start, session_end, duration_us, n_events);
    * the batch 0-based per-subject `session_id` ordinal is inherently
    * retrospective (it counts ALL earlier sessions) and is not emitted —
    * StreamingSpec asserts parity on the summary key instead.
    */
  def sessionizeStream(
      events: DataFrame,
      gapMicros: Long,
      watermark: String,
      subjectCol: String = "subject_id",
      tsCol: String = "timestamp"
  ): DataFrame = {
    require(gapMicros >= 0, s"gapMicros must be >= 0, got $gapMicros")
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        col(subjectCol),
        session_window(col(tsCol), s"${gapMicros + 1} microseconds").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select(
        col(subjectCol),
        col("session_start"),
        col("session_end"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("duration_us"),
        col("n_events"))
  }

  final case class SubjectEvent(subject_id: Long, tsMicros: Long, counts: Array[Long])
  final case class SubjectTotals(subject_id: Long, lastTsMicros: Long, totals: Array[Long])

  /** Input row for [[cohortWindows]] — keeps the watermarked
    * `timestamp` column (event-time timeout requires it to survive into
    * the stateful operator's input).
    */
  final case class TimedEvent(
      subject_id: Long,
      timestamp: java.sql.Timestamp,
      counts: Array[Long]) extends Timed

  final case class TriggerWindow(
      subject_id: Long,
      triggerTsMicros: Long,
      windowEndMicros: Long,
      counts: Array[Long])

  /** Flat state (primitive arrays only — nested collection encoders break
    * codegen; must be public for the same reason): `bufferedCounts` is
    * row-major with stride nPreds.
    */
  final case class TriggerState(
      pendingTriggers: Array[Long],
      bufferedTs: Array[Long],
      bufferedCounts: Array[Long])

  /** Streaming trigger-window evaluation: every event where
    * `counts(triggerIdx) > 0` opens a window `(trigger, trigger+horizon]`;
    * its predicate sums are emitted exactly once, when the event-time
    * watermark passes the window end (so the window is provably closed).
    *
    * A typed view of [[cohortWindows]] over the one-edge tree
    * `(trigger, trigger + horizon]`, predicates named `p0`, `p1`, ….
    */
  def triggerWindowCounts(
      events: Dataset[TimedEvent],
      nPreds: Int,
      triggerIdx: Int,
      horizonMicros: Long
  ): Dataset[TriggerWindow] = {
    val preds = Seq.tabulate(nPreds)(i => s"p$i")
    val tree = WindowNode("trigger", None,
      children = Seq(WindowNode("window", Some(TemporalBounds(false, horizonMicros, true)))))
    cohortWindows(events, tree, preds(triggerIdx), preds)
      .select(col("subject_id"), unix_micros(col("trigger")).as("triggerTsMicros"),
        unix_micros(col("window_summary.timestamp_at_end")).as("windowEndMicros"),
        array(preds.map(p => col(s"window_summary.$p")): _*).as("counts"))
      .as(Encoders.product[TriggerWindow])
  }

  /** Streaming ACES cohort: the batch window tree ([[WindowTree]]) over a
    * watermarked event stream. Per subject, the state buffers the rows
    * (same-instant rows summed, as the batch collapse does) and the
    * pending triggers, and each call runs the batch kernel over the
    * buffer once per pending trigger. A trigger is final once the latest
    * instant its walk read (anchors, temporal frame ends, found forward
    * bounds) is at or below the watermark: it is then emitted if its
    * windows hold and dropped if not. Until then it waits, at most until
    * the watermark passes `trigger + stateTtlMicros`, when it is dropped
    * without emission (the batch null-bound drop).
    *
    * State per subject is the pending triggers plus the rows some pending
    * or future trigger can read: those from `min(pending) + reach` on,
    * `reach` being the earliest instant before its trigger the tree can
    * read. So a tree must not read back without bound (`<-` bounds), nor
    * to a record end the stream never holds (`_RECORD_START` /
    * `_RECORD_END`, which include `start: null`): such trees are
    * rejected.
    *
    * @param tree           window tree, as [[WindowTree]] takes it.
    * @param trigger        the trigger predicate.
    * @param predicates     the predicate behind each position of
    *                       [[TimedEvent.counts]].
    * @param stateTtlMicros how long past its trigger a trigger may wait.
    *        Mandatory when the tree has a forward (`->`) bound, whose
    *        event may never arrive; per-subject state is then bounded by
    *        (TTL + allowed lateness) × event rate.
    * @return `WindowTree`'s schema: `subject_id`, `trigger`, then a
    *         `<node>_summary` struct per tree node.
    */
  def cohortWindows(
      events: Dataset[TimedEvent],
      tree: WindowNode,
      trigger: String,
      predicates: Seq[String],
      stateTtlMicros: Long = Long.MaxValue
  ): DataFrame = {
    val realized = events
      .groupByKey(_.subject_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        cohortState(tree, trigger, predicates, stateTtlMicros))(
        Encoders.product[TriggerState], WindowTree.outputEncoder)
    WindowTree.summaries(realized, SubjectKernel(tree, trigger, predicates), LongType)
  }

  /** The per-subject state function of [[cohortWindows]]. */
  private[graft] def cohortState(
      tree: WindowNode,
      trigger: String,
      predicates: Seq[String],
      stateTtlMicros: Long): (Long, Iterator[TimedEvent], GroupState[TriggerState]) => Iterator[Realized] = {
    def nodes(n: WindowNode): Seq[WindowNode] = n.children.flatMap(c => c +: nodes(c))
    val bounds = nodes(tree).collect { case WindowNode(name, Some(eb: EventBounds), _, _) => name -> eb }
    val recordEnds = Set(EventBounds.StartOfRecord, EventBounds.EndOfRecord)
    val (unbounded, forward) =
      bounds.partition { case (_, eb) => eb.mode == "bound_to_row" || recordEnds(eb.boundEventName) }
    require(unbounded.isEmpty,
      s"window(s) [${unbounded.map(_._1).mkString(", ")}] are bounded by a '<-', _RECORD_START or " +
        "_RECORD_END event (start: null included): such a window can reach a subject's first or " +
        "last event, which a stream never holds, so the tree cannot be streamed with bounded state.")
    require(forward.isEmpty || stateTtlMicros < Long.MaxValue,
      s"event-bound window(s) [${forward.map(_._1).mkString(", ")}] search forward ('->') for " +
        "their bound but no stateTtlMicros was given: an unbounded lookahead cannot be streamed " +
        "with finite state. Pass a finite stateTtlMicros T; per-subject state is then bounded by " +
        "(T + watermark allowed lateness) x event rate, and a trigger whose bound event " +
        "has not arrived once the watermark passes trigger + T is dropped — the same " +
        "outcome as the batch engine's null-bound row drop.")
    val kernel = SubjectKernel(tree, trigger, predicates)
    val nPreds = predicates.size
    val triggerIdx = predicates.indexOf(trigger)

    (subject: Long, rows: Iterator[TimedEvent], state: GroupState[TriggerState]) => {
      val wmMicros = state.getCurrentWatermarkMs() * 1000L
      val prev = state.getOption.getOrElse(TriggerState(Array.empty, Array.empty, Array.empty))
      val pending = mutable.SortedSet(prev.pendingTriggers: _*)
      val rowsAt = mutable.TreeMap.empty[Long, Array[Long]]
      def add(t: Long, counts: Array[Long], from: Int): Unit = {
        val sum = rowsAt.getOrElseUpdate(t, new Array[Long](nPreds))
        var i = 0
        while (i < nPreds) { sum(i) += counts(from + i); i += 1 }
      }
      prev.bufferedTs.indices.foreach(r => add(prev.bufferedTs(r), prev.bufferedCounts, r * nPreds))
      rows.foreach { e =>
        if (e.tsMicros > wmMicros) {
          add(e.tsMicros, e.counts, 0)
          if (e.counts(triggerIdx) > 0) pending += e.tsMicros
        }
      }
      // The kernel anchors on a trigger's own row. A checkpoint of the
      // scan-loop evaluator lacks it when no window read it: restore it.
      val bare = Array.tabulate(nPreds)(i => if (i == triggerIdx) 1L else 0L)
      pending.foreach(t => if (!rowsAt.contains(t)) add(t, bare, 0))

      val times = rowsAt.keysIterator.toArray
      kernel.load(rowsAt.iterator.map { case (t, c) => SubjectRow(t, c) })
      val emitted = ArrayBuffer.empty[Realized]
      val waiting = ArrayBuffer.empty[Long]
      var wake = Long.MaxValue
      pending.foreach { t =>
        val a = java.util.Arrays.binarySearch(times, t)
        val held = kernel.realize(a)
        val deadline = satAdd(t, stateTtlMicros)
        if (kernel.lastRead <= wmMicros) { if (held) emitted += kernel.realized(subject, a) }
        else if (wmMicros < deadline) {
          waiting += t
          wake = wake min kernel.lastRead min deadline
        }
      }

      // Pending and future triggers (those arrive past the watermark) read
      // nothing before their own time + reach.
      val floor = (if (waiting.isEmpty) wmMicros + 1 else waiting.head min (wmMicros + 1)) + kernel.reach
      val kept = rowsAt.rangeFrom(floor)
      if (waiting.isEmpty && kept.isEmpty) state.remove()
      else {
        state.update(TriggerState(waiting.toArray, kept.keysIterator.toArray, kept.valuesIterator.flatten.toArray))
        // Wake when the first waiting trigger can resolve; with none, on
        // any watermark advance, so the retention floor keeps moving.
        val wakeMs = if (waiting.isEmpty) 0L else wake / 1000L + 1L
        state.setTimeoutTimestamp(math.max(wakeMs, wmMicros / 1000L + 1L))
      }
      emitted.iterator
    }
  }

  /** The batch `Query` label surface over [[cohortWindows]] output (live
    * or from a sink table): `Query`'s own label / index-timestamp
    * projection of the task `cfg` whose tree and trigger the stream ran.
    * A streaming deployment so writes the rows the batch engine writes
    * (StreamingSpec asserts full-row equality).
    */
  def labelRows(cohort: DataFrame, cfg: TaskConfig): DataFrame = Query.project(cfg, cohort)

  /** Streaming exact dedup on the ingest path: keep the FIRST arrival of
    * each distinct text (by 64-bit exact hash + length, the
    * [[graft.operators.Dedup.exactByHash]] key — 16 bytes of state per
    * distinct doc, never the text), drop every duplicate arriving within
    * the watermark of the original. This is the streaming face of the
    * batch exact-dedup operator — the "don't ingest the same boilerplate
    * twice" step of a continuous pipeline.
    *
    * State is bounded by the watermark delay (`dropDuplicatesWithin
    * Watermark` evicts keys once the watermark passes their event time +
    * delay): a duplicate arriving AFTER that horizon is re-admitted, the
    * documented trade for finite state — batch [[graft.operators.Dedup]]
    * over the persisted corpus catches those.
    *
    * @param docs streaming frame with `timestamp` (watermarked by the
    *             caller), a `textCol` and arbitrary other columns.
    * @return the input rows minus within-watermark exact duplicates.
    */
  def dedupExactStream(
      docs: DataFrame,
      textCol: String = "text"
  ): DataFrame =
    docs
      .withColumn("__ehash", xxhash64(col(textCol)))
      .withColumn("__elen", length(col(textCol)).cast("long"))
      .dropDuplicatesWithinWatermark("__ehash", "__elen")
      .drop("__ehash", "__elen")

  /** Streaming URL-level dedup on the ingest path: keep the FIRST arrival
    * per canonical URL key ([[graft.operators.UrlCuration.normalizeUrl]]
    * — tracking params out, params sorted, host/port/fragment
    * canonicalized), drop re-crawls of the same page arriving within the
    * watermark. The streaming face of
    * [[graft.operators.UrlCuration.dedupByUrl]], and the cheapest dedup
    * a continuous crawl pipeline runs — it fires before any text is
    * tokenized. State per distinct url is the 16-byte
    * `(xxhash64(url_norm), length(url_norm))` compound key (the
    * [[dedupExactStream]] pattern), never the url string; a bare 64-bit
    * collision alone cannot conflate two distinct urls. Duplicates
    * arriving after watermark eviction are re-admitted (the documented
    * finite-state trade) — the persisted-index batch path
    * ([[graft.operators.UrlCuration.dedupByUrlIncremental]]) catches
    * those.
    */
  def urlDedupStream(
      docs: DataFrame,
      urlCol: String = "url"
  ): DataFrame =
    docs
      .withColumn("__unorm", graft.operators.UrlCuration.normalizeUrl(col(urlCol)))
      .withColumn("__uhash", xxhash64(col("__unorm")))
      .withColumn("__ulen", length(col("__unorm")).cast("long"))
      .dropDuplicatesWithinWatermark("__uhash", "__ulen")
      .drop("__unorm", "__uhash", "__ulen")

  /** Fail fast on a non-integral id column: the state encoders cast it to
    * long, and a string/decimal id silently becoming null would kill the
    * streaming query mid-run with an opaque non-nullable-field encoder
    * error instead of naming the actual contract violation.
    */
  private def requireIntegralId(docs: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other =>
        throw new IllegalArgumentException(
          s"$op requires an integral '$idCol' column (doc ids must be unique " +
            s"integers — they key the dedup state); got ${other.simpleString}")
    }
  }

  /** A document copy routed to one bucket group of [[bandedPairStream]]. */
  private[streaming] trait BucketArrival extends Timed { def doc_id: Long }

  /** The per-bucket state fields [[bandedPairStream]] owns (parallel flat
    * arrays, one entry per live doc, plus the saturation latch); each
    * operator's state class adds payload columns and reads entry `j`.
    */
  private[streaming] trait BucketState[P] {
    def ids: Array[Long]
    def ts: Array[Long]
    def saturated: Boolean
    def entry(j: Int): P
  }

  /** The banded pair stream: the one bucket-state machine behind every
    * streaming near-dup operator (minhash, embedding, phash, afp, video).
    * An operator routes its arrivals to bucket groups and supplies only
    * what differs; the core owns the rest:
    *   - rows at or behind the watermark are dropped, the rest taken in
    *     `(ts, doc_id)` order;
    *   - an entry is live while its arrival + `ttlMicros` is ahead of the
    *     watermark, and the timeout is armed at the earliest eviction;
    *   - the saturation latch (the streaming face of the batch skew
    *     guard): an arrival that would push the live population past
    *     `maxBucketSize` drops the bucket's entries and darkens it. Later
    *     arrivals emit nothing and only move the latch clock to their own
    *     time; once the watermark passes the last arrival + `ttlMicros`
    *     the bucket starts fresh.
    *
    * `entry` is the payload an arrival stores; `store` writes the live
    * entries back into the operator's own state class (so each keeps its
    * layout). `pair(key, arrival)` verifies the arrival against one live
    * entry — the operator's exactly-once rule (only the group of the
    * lowest shared band, chunk or signature emits) plus its exact check —
    * and a `Some(score)` emits `emit(lowerId, higherId, score)`. `fits`
    * drops an arrival that cannot share the bucket with its first entry.
    */
  private def bandedPairStream[K, D <: BucketArrival, P,
      S <: BucketState[P] with Product: TypeTag, V, O <: Product: TypeTag](
      buckets: KeyValueGroupedDataset[K, D],
      maxBucketSize: Int,
      ttlMicros: Long)(
      entry: D => P)(
      store: (Array[Long], Array[Long], Seq[P], Boolean) => S,
      emit: (Long, Long, V) => O,
      fits: (P, P) => Boolean = (_: P, _: P) => true)(
      pair: (K, P) => P => Option[V]): Dataset[O] = {
    implicit val stateEnc = Encoders.product[S]
    implicit val outEnc = Encoders.product[O]
    buckets.flatMapGroupsWithState[S, O](
      OutputMode.Append(),
      GroupStateTimeout.EventTimeTimeout()) {
      (key: K, rows: Iterator[D], state: GroupState[S]) =>
        val wmMicros = state.getCurrentWatermarkMs() * 1000L
        val ids = ArrayBuffer.empty[Long]
        val ts = ArrayBuffer.empty[Long]
        val live = ArrayBuffer.empty[P]
        var saturated = false
        state.getOption.foreach { s =>
          // A latch holds `ts = [lastArrival]` until its TTL runs out.
          saturated = s.saturated && s.ts.headOption.forall(satAdd(_, ttlMicros) > wmMicros)
          if (saturated) ts ++= s.ts
          else for (j <- s.ids.indices if satAdd(s.ts(j), ttlMicros) > wmMicros) {
            ids += s.ids(j); ts += s.ts(j); live += s.entry(j)
          }
        }

        val out = ArrayBuffer.empty[O]
        rows.filter(_.tsMicros > wmMicros).toSeq.sortBy(d => (d.tsMicros, d.doc_id)).foreach { d =>
          if (saturated) ts(0) = math.max(ts(0), d.tsMicros)
          else if (ids.length + 1 > maxBucketSize) {
            saturated = true
            ids.clear(); live.clear(); ts.clear(); ts += d.tsMicros
          } else {
            val e = entry(d)
            if (live.isEmpty || fits(live(0), e)) {
              val verify = pair(key, e)
              for (j <- ids.indices if ids(j) != d.doc_id; v <- verify(live(j)))
                out += emit(math.min(ids(j), d.doc_id), math.max(ids(j), d.doc_id), v)
              ids += d.doc_id; ts += d.tsMicros; live += e
            }
          }
        }

        if (ids.isEmpty && !saturated) state.remove()
        else {
          state.update(store(ids.toArray, ts.toArray, live.toSeq, saturated))
          if (ts.nonEmpty) armEviction(state, ts.min, ttlMicros, wmMicros)
        }
        out.iterator
    }
  }

  /** Row `j` of a row-major flat array holding `rows` equal-width rows. */
  private def rowOf[T](flat: Array[T], j: Int, rows: Int): Array[T] = {
    val width = flat.length / rows
    flat.slice(j * width, (j + 1) * width)
  }

  /** Encoder of the `(band, bucket)` group key. */
  private def bandKey = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)

  /** The first band at which two full bucket vectors agree (-1: none) —
    * the exactly-once rule of the banded streams: only that band's group
    * emits the pair.
    */
  private def lowestSharedBand(a: Array[Long], b: Array[Long]): Int =
    a.indices.indexWhere(i => a(i) == b(i))

  /** One (band, bucket)-routed copy of an incoming document for
    * [[minhashNearDupStream]]: carries the FULL bucket vector (all bands)
    * so any two colliding docs can agree on the lowest band they share —
    * the exactly-once emission rule — plus the packed distinct-shingle
    * set for exact-Jaccard verification in state.
    */
  final case class BandedDoc(
      band: Int,
      bucket: Long,
      doc_id: Long,
      timestamp: java.sql.Timestamp,
      buckets: Array[Long],
      packed: String) extends BucketArrival

  /** Per-bucket state for [[minhashNearDupStream]]: parallel flat arrays,
    * one entry per live doc (`buckets` row-major with stride = bands —
    * nested collections break state encoders, see [[TriggerState]]).
    * `saturated` is the [[bandedPairStream]] latch.
    */
  final case class BucketDocsState(
      ids: Array[Long],
      ts: Array[Long],
      packed: Array[String],
      buckets: Array[Long],
      saturated: Boolean) extends BucketState[(String, Array[Long])] {
    def entry(j: Int): (String, Array[Long]) = (packed(j), rowOf(buckets, j, ids.length))
  }

  /** One verified near-duplicate pair (doc_a < doc_b, exact Jaccard). */
  final case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  /** Streaming MinHash near-dup detection on the ingest path — the
    * banding-with-TTL analogue of batch
    * [[graft.operators.Dedup.minhashLshIncremental]], for the pipeline
    * stage AFTER [[dedupExactStream]] (exact duplicates never reach
    * banding — the same division of labor as the batch pre-pass, which is
    * a no-op on an exact-dedup'd stream).
    *
    * Shape: each doc computes its signature + band buckets map-side (the
    * SAME xxhash64 values as the batch band rows, so stream and batch
    * agree bucket-for-bucket), then routes one copy per band to a
    * `(band, bucket)` state group holding the bucket's live docs. An
    * arriving doc pairs against the live docs, verifies with EXACT
    * Jaccard over the packed distinct-shingle sets, and is appended.
    *
    * Exactly-once pairs without cross-group state: every doc carries its
    * full bucket vector, so both sides of a collision can compute the
    * LOWEST band they share — only that band's group emits the pair.
    * (Divergence from batch at the cap: if that lowest band's bucket is
    * saturated the pair is lost even when a higher band's bucket is
    * small; the batch cap lets any surviving band report it. Size caps
    * are a skew guard — parity holds whenever buckets stay under the
    * cap.)
    *
    * State: live docs per bucket, evicted once the watermark passes
    * `arrival + ttlMicros` — a duplicate arriving after its original
    * expired is NOT paired (finite-state trade, same as
    * [[dedupExactStream]]; the persisted-corpus batch pass catches it).
    * `ttlMicros = Long.MaxValue` keeps state forever (tests/backfills
    * only). Doc ids must be unique across the stream. The bucket machine
    * is [[bandedPairStream]]; the stored state keeps the
    * [[BucketDocsState]] layout field for field, so a checkpoint written
    * before that core existed resumes.
    *
    * @param docs streaming frame with a `timestamp` column (watermarked
    *             by the caller — required for eviction), `textCol`,
    *             `idCol`. Docs too short to shingle are passed through
    *             unbanded (never paired), as in batch.
    * @return one row per verified pair: (doc_a, doc_b, jaccard).
    */
  def minhashNearDupStream(
      docs: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucketSize: Int = 64,
      ttlMicros: Long = Long.MaxValue,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): Dataset[NearDupPair] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    requireIntegralId(docs, idCol, "minhashNearDupStream")
    val sep = "\u0000"

    // Banding runs as ONE compiled-Scala UDF call per doc (shingles +
    // numHashes minhashes + band buckets in a single pass) instead of
    // the batch path's expression forms: Catalyst evaluates higher-order
    // array lambdas interpreted per element, which a thread-dump showed
    // dominating ingest at ~400× this loop's cost. Bit-parity with the
    // expressions is asserted in ExtensionsSpec (minhashBandRow) and
    // end-to-end vs batch in StreamingSpec; a UDF projection (unlike a
    // typed flatMap) PRESERVES the caller's event-time watermark.
    val bandRow = udf((text: String) =>
      graft.operators.Dedup.minhashBandRow(text, numHashes, bands, shingleN, sep))
    implicit val bandedEnc = Encoders.product[BandedDoc]
    // No isNotNull filter on __b: predicate pushdown would rewrite it to
    // udf(text) IS NOT NULL BELOW the projection and evaluate the whole
    // banding twice per doc. A null struct yields null buckets and the
    // posexplode below drops the row — same outcome, one evaluation.
    val banded = docs
      .withColumn("__b", bandRow(col(textCol)))
      .select(
        col(idCol).cast("long").as("doc_id"),
        col("timestamp"),
        col("__b._1").as("packed"),
        col("__b._2").as("buckets"))
      .select(
        col("doc_id"), col("timestamp"), col("packed"), col("buckets"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
      .as[BandedDoc]

    val buckets = banded.groupByKey(d => (d.band, d.bucket))(bandKey)
    bandedPairStream(buckets, maxBucketSize, ttlMicros)(d => (d.packed, d.buckets))(
      (ids, ts, es, sat) =>
        BucketDocsState(ids, ts, es.map(_._1).toArray, es.flatMap(_._2).toArray, sat),
      NearDupPair) { case ((band, _), (packed, bkts)) =>
      val dSet = packed.split(sep).toSet
      e =>
        if (lowestSharedBand(e._2, bkts) != band) None
        else {
          val eSet = e._1.split(sep).toSet
          val inter = dSet.intersect(eSet).size
          val uni = dSet.size + eSet.size - inter
          Some(if (uni == 0) 0.0 else inter.toDouble / uni).filter(_ >= threshold)
        }
    }
  }

  /** One (band, bucket)-routed copy of an incoming vector for
    * [[embeddingNearDupStream]]: carries the FULL bucket vector (all
    * bands) for the lowest-shared-band exactly-once emission rule, plus
    * the embedding itself for exact-cosine verification in state.
    */
  final case class HplaneDoc(
      band: Int,
      bucket: Long,
      doc_id: Long,
      timestamp: java.sql.Timestamp,
      buckets: Array[Long],
      vec: Array[Float]) extends BucketArrival

  /** Per-bucket state for [[embeddingNearDupStream]]: parallel flat
    * arrays, one entry per live vector (`vecs` row-major with stride =
    * the embedding dim, `buckets` row-major with stride = bands — nested
    * collections break state encoders). `saturated` latches as in
    * [[BucketDocsState]].
    */
  final case class BucketVecsState(
      ids: Array[Long],
      ts: Array[Long],
      vecs: Array[Float],
      buckets: Array[Long],
      saturated: Boolean) extends BucketState[(Array[Float], Array[Long])] {
    def entry(j: Int): (Array[Float], Array[Long]) =
      (rowOf(vecs, j, ids.length), rowOf(buckets, j, ids.length))
  }

  /** One verified embedding near-duplicate pair (doc_a < doc_b). */
  final case class EmbNearDupPair(doc_a: Long, doc_b: Long, cos: Double)

  /** Streaming embedding-cosine near-dup detection on the ingest path —
    * the hyperplane-LSH analogue of [[minhashNearDupStream]] for the
    * embedding modality (batch counterparts:
    * [[graft.operators.Dedup.embeddingNearDup]] /
    * [[graft.operators.Dedup.embeddingNearDupIncremental]]).
    *
    * The hyperplane signatures are DETERMINISTIC functions of the vector
    * (xxhash64-seeded planes, [[graft.operators.Similarity]] — no fitted
    * state), so streaming needs no persisted index at all: each arriving
    * vector computes its per-band bucket keys map-side with the SAME
    * plane bits as the batch path (shared `bandBucketArray` expression,
    * so stream and batch agree bucket-for-bucket), routes one copy per
    * band to a `(band, bucket)` state group, pairs against the group's
    * live vectors, and verifies with EXACT cosine (double accumulation in
    * element order — the same arithmetic as the batch codegen cosine, so
    * emitted `cos` values are bit-identical to batch).
    *
    * Exactly-once pairs (lowest shared band), TTL eviction and the
    * saturation latch work as in [[minhashNearDupStream]]. A bucket's
    * vectors share one dim: an
    * arrival whose length differs from the stored vectors' is dropped
    * (comparing or storing it would read across the flat state's
    * stride). Parity with the batch shard-ingest loop is asserted in
    * StreamingSpec. The stored state keeps the [[BucketVecsState]]
    * layout field for field, so a checkpoint written before the shared
    * [[bandedPairStream]] core existed resumes.
    *
    * State sizing: each live doc is held once per band group (band-local
    * state needs no cross-group lookups — the same trade as
    * [[minhashNearDupStream]]'s per-band shingle copies), so live state ≈
    * `bands · (4·dim + 8·bands + 16)` bytes per doc within the TTL window
    * (~17 KB/doc at dim=64, bands=32 — StreamStateProbe measures 17.2,
    * within 2% of the formula, and shows the `maxBucketSize` latch
    * capping growth once hot buckets saturate). Size `ttlMicros` to the dedup
    * horizon × ingest rate; the persisted-corpus batch pass
    * ([[graft.operators.Dedup.embeddingNearDupIncremental]]) catches
    * pairs beyond the horizon.
    *
    * @param vectors streaming frame with a `timestamp` column
    *                (watermarked by the caller), `idCol`, `vecCol`.
    * @return one row per verified pair: (doc_a, doc_b, cos) with
    *         doc_a < doc_b, cos ≥ threshold.
    */
  def embeddingNearDupStream(
      vectors: DataFrame,
      threshold: Double,
      bands: Int = 32,
      bitsPerBand: Int = 4,
      maxBucketSize: Int = 256,
      ttlMicros: Long = Long.MaxValue,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Dataset[EmbNearDupPair] = {
    requireIntegralId(vectors, idCol, "embeddingNearDupStream")
    implicit val hplaneEnc = Encoders.product[HplaneDoc]
    // Compiled banding (Similarity.hplaneBandRow) for the same reason as
    // minhashNearDupStream's UDF: the expression form's hyperplane dots
    // are interpreted per element; a UDF projection keeps the caller's
    // watermark.
    val bandUdf = udf((v: Seq[java.lang.Double]) =>
      graft.operators.Similarity.hplaneBandRowBoxed(v, bands, bitsPerBand))
    val banded = vectors
      .select(
        col(idCol).cast("long").as("doc_id"),
        col("timestamp"),
        col(vecCol).cast("array<float>").as("vec"),
        // Buckets from the ORIGINAL dtype (double-widened — the
        // expression form's arithmetic); null vectors → null buckets →
        // the posexplode drops the row instead of an NPE killing the
        // stream.
        bandUdf(col(vecCol).cast("array<double>")).as("buckets"))
      .select(
        col("doc_id"), col("timestamp"), col("vec"), col("buckets"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
      .as[HplaneDoc]

    // Exact cosine — double accumulation in element order, matching
    // FloatVectorCosine (VectorExpressions) so streamed `cos` values
    // equal the batch expression's bit for bit.
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val xv = a(i).toDouble; val yv = b(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    val buckets = banded.groupByKey(d => (d.band, d.bucket))(bandKey)
    bandedPairStream(buckets, maxBucketSize, ttlMicros)(d => (d.vec, d.buckets))(
      (ids, ts, es, sat) =>
        BucketVecsState(ids, ts, es.flatMap(_._1).toArray, es.flatMap(_._2).toArray, sat),
      EmbNearDupPair,
      fits = (live, arrival) => live._1.length == arrival._1.length) {
      case ((band, _), (vec, bkts)) => e =>
        if (lowestSharedBand(e._2, bkts) != band) None
        else Some(cosine(e._1, vec)).filter(_ >= threshold)
    }
  }

  /** One (chunk, key)-routed copy of an incoming image signature for
    * [[phashNearDupStream]]. Unlike the minhash/embedding streams, no
    * bucket vector rides along: all four 16-bit chunk keys are pure
    * functions of the 8-byte signature, so both sides of a collision
    * recompute the lowest shared chunk from the two sigs alone.
    */
  final case class PhashDoc(
      chunk: Int,
      key: Long,
      doc_id: Long,
      timestamp: java.sql.Timestamp,
      sig: Long) extends BucketArrival

  /** Per-bucket state for [[phashNearDupStream]]: 24 bytes per live doc
    * (id, arrival, signature) — parallel flat arrays as in
    * [[BucketDocsState]], with the same saturation latch.
    */
  final case class BucketSigsState(
      ids: Array[Long],
      ts: Array[Long],
      sigs: Array[Long],
      saturated: Boolean) extends BucketState[Long] {
    def entry(j: Int): Long = sigs(j)
  }

  /** One verified image near-duplicate pair (doc_a < doc_b). */
  final case class ImageNearDupPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** Streaming image near-dup detection on the ingest path — the
    * perceptual-hash face of [[minhashNearDupStream]] /
    * [[embeddingNearDupStream]], completing the streaming dedup triad
    * (text / embedding / image). Each arriving image dHashes map-side
    * ([[graft.operators.PerceptualHash.dhash]] — the SAME signature as
    * batch, so stream and batch agree bucket-for-bucket), routes one
    * 24-byte copy per 16-bit chunk to a `(chunk, key)` state group, and
    * pairs against the group's live signatures with exact Hamming
    * verification. Payloads never enter state — only (id, ts, sig).
    *
    * Exactly-once pairs: the lowest chunk the two signatures share is
    * recomputable from the sigs alone, and only that chunk's group emits.
    * Banding guarantees full recall for `maxHamming < 4` (pigeonhole over
    * 4 chunks), as in batch. TTL eviction and the `maxBucketSize`
    * saturation latch are [[bandedPairStream]]'s, as in
    * [[minhashNearDupStream]]; the stored state keeps the
    * [[BucketSigsState]] layout field for field, so a checkpoint written
    * before that core existed resumes. Divergence
    * from batch on IDENTICAL-hash clusters: batch collapses them to
    * min-id star pairs, the stream emits all live pairwise pairs — the
    * same transitive closure, more edges; parity is exact whenever
    * hashes are distinct (asserted in StreamingSpec). Undecodable and
    * sub-9×8 payloads produce no signature and are never paired.
    *
    * @param media streaming frame with a `timestamp` column, `idCol`,
    *              binary `payloadCol`. Unlike the expression-only streams,
    *              the decode step is a typed flatMap (object
    *              round-trip), which DROPS any caller watermark — so this
    *              operator applies its own AFTER decoding
    *              (`watermarkDelay`); don't bother watermarking upstream.
    * @return one row per verified pair: (doc_a, doc_b, hamming).
    */
  def phashNearDupStream(
      media: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256,
      ttlMicros: Long = Long.MaxValue,
      watermarkDelay: String = "1 hour",
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): Dataset[ImageNearDupPair] =
    sigNearDupStream("phashNearDupStream", media, graft.operators.PerceptualHash.dhash(_),
      maxHamming, maxBucketSize, ttlMicros, watermarkDelay, idCol, payloadCol)

  /** Streaming AUDIO near-dup — [[phashNearDupStream]] with the decode
    * step swapped for [[graft.operators.AudioFingerprint.fingerprint]]
    * (Haitsma–Kalker spectral fingerprints over PCM-WAV): the banding,
    * bucket state, TTL and saturation semantics are the SAME shared
    * 64-bit signature core, so every contract documented there (state
    * layout and checkpoint resume included) holds here verbatim.
    */
  def afpNearDupStream(
      media: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256,
      ttlMicros: Long = Long.MaxValue,
      watermarkDelay: String = "1 hour",
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): Dataset[ImageNearDupPair] =
    sigNearDupStream("afpNearDupStream", media, graft.operators.AudioFingerprint.fingerprint(_),
      maxHamming, maxBucketSize, ttlMicros, watermarkDelay, idCol, payloadCol)

  /** Route the media stream of operator `op`: `route` turns each (id,
    * timestamp, payload) row into bucket copies. The typed flatMap drops
    * any caller watermark, so the copies are watermarked here with
    * `watermarkDelay`.
    */
  private def routeMedia[R <: Product: TypeTag](
      op: String, media: DataFrame, idCol: String, payloadCol: String, watermarkDelay: String)(
      route: (Long, java.sql.Timestamp, Array[Byte]) => Seq[R]): Dataset[R] = {
    requireIntegralId(media, idCol, op)
    implicit val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP, Encoders.BINARY)
    implicit val outEnc = Encoders.product[R]
    media
      .select(col(idCol).cast("long"), col("timestamp"), col(payloadCol))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .flatMap(route.tupled)
      .withWatermark("timestamp", watermarkDelay)
      .as[R]
  }

  /** The shared 64-bit-signature streaming near-dup core: decode each
    * arriving payload to a signature (`decode` — dHash for images, HK
    * fingerprint for audio; None = never paired), band into 4×16-bit
    * chunk buckets, and pair in [[bandedPairStream]] with the
    * lowest-shared-chunk rule and exact Hamming verification.
    */
  private def sigNearDupStream(
      op: String,
      media: DataFrame,
      decode: Array[Byte] => Option[Long],
      maxHamming: Int,
      maxBucketSize: Int,
      ttlMicros: Long,
      watermarkDelay: String,
      idCol: String,
      payloadCol: String
  ): Dataset[ImageNearDupPair] = {
    val banded = routeMedia(op, media, idCol, payloadCol, watermarkDelay) { (id, ts, payload) =>
      decode(payload).toSeq.flatMap { sig =>
        (0 until 4).map(c => PhashDoc(c, (sig >>> (c * 16)) & 0xffffL, id, ts, sig))
      }
    }

    def lowestSharedChunk(a: Long, b: Long): Int =
      (0 until 4).indexWhere(c => (((a ^ b) >>> (c * 16)) & 0xffffL) == 0L)

    val buckets = banded.groupByKey(d => (d.chunk, d.key))(bandKey)
    bandedPairStream(buckets, maxBucketSize, ttlMicros)(_.sig)(
      (ids, ts, sigs, sat) => BucketSigsState(ids, ts, sigs.toArray, sat),
      ImageNearDupPair) { case ((chunk, _), sig) => e =>
        if (lowestSharedChunk(e, sig) != chunk) None
        else Some(java.lang.Long.bitCount(e ^ sig)).filter(_ <= maxHamming)
    }
  }

  /** One (frame-signature)-routed copy of an arriving clip for
    * [[videoNearDupStream]]: the clip's FULL sorted distinct signature
    * set rides along (one copy per distinct frame signature), so both
    * sides of a bucket collision can compute the exact shared count and
    * the lowest shared signature from the two sets alone — the
    * [[PhashDoc]] recompute-from-payload discipline, set-valued.
    */
  final case class VfpDoc(
      fp: Long,
      doc_id: Long,
      timestamp: java.sql.Timestamp,
      fps: Array[Long]) extends BucketArrival

  /** Per-frame-signature bucket state for [[videoNearDupStream]]: the
    * live clips holding this signature, each with its full sorted
    * signature set (8 bytes × frames-per-clip per entry — bounded by the
    * saturation latch exactly like the scalar-signature buckets).
    */
  final case class VfpBucketState(
      ids: Array[Long],
      ts: Array[Long],
      fps: Array[Array[Long]],
      saturated: Boolean) extends BucketState[Array[Long]] {
    def entry(j: Int): Array[Long] = fps(j)
  }

  /** One clip near-dup pair (doc_a < doc_b) with its exact distinct
    * shared-frame-signature count. */
  final case class ClipNearDupPair(doc_a: Long, doc_b: Long, shared_frames: Long)

  /** Streaming VIDEO near-dup — the clip face of the perceptual family,
    * completing the multimodal streaming triad (image
    * [[phashNearDupStream]] / audio [[afpNearDupStream]] / video). Each
    * arriving clip slices + dHashes map-side via
    * [[graft.operators.VideoFingerprint.clipSignatures]] (the SAME
    * lattice and hash as batch, so stream and batch agree
    * signature-for-signature), routes one copy per DISTINCT frame
    * signature to that signature's state group, and pairs against the
    * group's live clips by exact distinct-shared-signature count — a
    * pair emits iff `shared ≥ minShared`, from the LOWEST shared
    * signature's group only (both full sets are in hand, so the
    * exactly-once rule is recomputable on both sides, the
    * lowest-shared-chunk discipline generalized to sets).
    *
    * Divergence from batch [[graft.operators.VideoFingerprint.dedup]]:
    * batch drops signatures held by more than `maxBucketSize` clips
    * BEFORE counting (the ubiquity cap — mass-shared frames carry no
    * dedup signal), while the stream's saturation latch stops a
    * saturated group from PAIRING but each live pair's `shared_frames`
    * still counts its full set intersection. On a corpus with no
    * capped signatures (the fixture, and any corpus where title cards /
    * black frames stay under the cap) the two agree exactly; parity is
    * asserted in StreamingSpec. TTL eviction, the saturation latch, the
    * decode-drops-watermark caveat, and checkpoint resume (the
    * [[VfpBucketState]] layout is kept field for field) are
    * [[phashNearDupStream]]'s, verbatim.
    *
    * Cost bound to size for: each routed copy carries the clip's FULL
    * set, so per-clip shuffle volume is ~8·F² bytes for F distinct
    * sampled frames (the fixture's F = 6 is trivial; ~8 MB at
    * F = 1000) — use `stride` to bound F at ingest rate. The batch
    * operator stays 8 bytes per frame and is the corpus-scale re-run
    * path.
    *
    * @return one row per near-dup pair: (doc_a, doc_b, shared_frames).
    */
  def videoNearDupStream(
      media: DataFrame,
      frameBytes: Int,
      minShared: Long = 2L,
      stride: Int = 1,
      maxBucketSize: Int = 256,
      ttlMicros: Long = Long.MaxValue,
      watermarkDelay: String = "1 hour",
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): Dataset[ClipNearDupPair] = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val routed = routeMedia("videoNearDupStream", media, idCol, payloadCol, watermarkDelay) {
      (id, ts, payload) =>
        val fps = graft.operators.VideoFingerprint.clipSignatures(payload, frameBytes, stride)
        fps.toSeq.map(f => VfpDoc(f, id, ts, fps))
    }

    // (count, lowest) of the intersection of two sorted distinct sets.
    def shared(a: Array[Long], b: Array[Long]): (Long, Long) = {
      var i = 0; var j = 0; var n = 0L; var lowest = Long.MinValue
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { if (n == 0L) lowest = a(i); n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      (n, lowest)
    }

    val buckets = routed.groupByKey(_.fp)(Encoders.scalaLong)
    bandedPairStream(buckets, maxBucketSize, ttlMicros)(_.fps)(
      (ids, ts, sets, sat) => VfpBucketState(ids, ts, sets.toArray, sat),
      ClipNearDupPair) { (fp, fps) => e =>
        val (n, lowest) = shared(e, fps)
        if (n >= minShared && lowest == fp) Some(n) else None
    }
  }

  /** One occurrence of a k-token window on the stream: routed to its
    * `(wk, wl)` compound-key state group ([[graft.operators.Dedup]]'s
    * hashed-window collision contract), carrying the doc position for hit
    * emission.
    */
  final case class WindowOcc(
      wk: Long,
      wl: Int,
      doc_id: Long,
      timestamp: java.sql.Timestamp,
      pos: Int) extends Timed

  /** Per-window-key state for [[substringDupStream]]: occurrences seen so
    * far and the last arrival (the TTL clock) — 16 bytes per distinct
    * live window, never a position list, so a boilerplate window repeated
    * millions of times costs the same state as one seen twice.
    */
  final case class WinKeyState(count: Long, lastTs: Long)

  /** One duplicated-window hit: token position `pos` of the arriving doc
    * starts a k-token window that has now been seen >= 2 times. */
  final case class SubstringHit(doc_id: Long, pos: Int)

  /** Streaming exact duplicate-SPAN detection — the ingest face of batch
    * [[graft.operators.Dedup.duplicateSpansIncremental]]: every k-token
    * window of an arriving doc checks (and increments) the running
    * occurrence count of its hashed window key; if corpus-so-far +
    * this-batch occurrences reach 2, ALL of the key's occurrences in the
    * batch emit as hits (a key first seen in an EARLIER batch is not
    * retro-reported — exactly the incremental-batch contract, so shard
    * sequences agree with `duplicateSpansIncremental` against the
    * accumulated `substringIndex`; parity asserted in StreamingSpec via
    * [[substringHitSummary]]).
    *
    * State: `(count, lastTs)` per distinct live window key, evicted once
    * the watermark passes `lastArrival + ttlMicros` (an expired key's
    * count restarts — the finite-state trade shared by the other dedup
    * streams; the persisted-index batch pass catches cross-horizon
    * duplication). Windows are assembled with array expressions
    * (interpreted per element — fine at ingest rate; the batch operator
    * keeps the codegen explode path for corpus-scale re-runs).
    *
    * @return one [[SubstringHit]] per duplicated window occurrence; merge
    *         to spans/coverage with [[substringHitSummary]].
    */
  def substringDupStream(
      docs: DataFrame,
      k: Int,
      ttlMicros: Long = Long.MaxValue,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): Dataset[SubstringHit] = {
    require(k >= 1, s"window size must be >= 1, got $k")
    requireIntegralId(docs, idCol, "substringDupStream")
    implicit val occEnc = Encoders.product[WindowOcc]
    val occ = docs
      .select(col(idCol).cast("long").as("doc_id"), col("timestamp"),
        split(lower(col(textCol)), "\\s+").as("__toks"))
      .withColumn("__nt", size(col("__toks")))
      .filter(col("__nt") >= k)
      .select(col("doc_id"), col("timestamp"),
        posexplode(transform(sequence(lit(0), col("__nt") - lit(k)),
          i => concat_ws(" ", slice(col("__toks"), i + lit(1), lit(k)))))
          .as(Seq("pos", "__w")))
      .select(xxhash64(col("__w")).as("wk"), length(col("__w")).as("wl"),
        col("doc_id"), col("timestamp"), col("pos"))
      .as[WindowOcc]

    implicit val hitEnc = Encoders.product[SubstringHit]
    implicit val stateEnc = Encoders.product[WinKeyState]
    occ
      .groupByKey(o => (o.wk, o.wl))(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
      .flatMapGroupsWithState[WinKeyState, SubstringHit](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: (Long, Int), rows: Iterator[WindowOcc], state: GroupState[WinKeyState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val live = state.getOption.filter(s => satAdd(s.lastTs, ttlMicros) > wmMicros)
          val fresh = rows.filter(_.tsMicros > wmMicros).toSeq
          if (live.isEmpty && fresh.isEmpty) {
            if (state.exists) state.remove()
            Iterator.empty
          } else {
            // A timeout tick (or an all-late batch) keeps live state as-is.
            val total = live.map(_.count).getOrElse(0L) + fresh.length
            val lastTs = (live.map(_.lastTs) ++ fresh.map(_.tsMicros)).max
            state.update(WinKeyState(total, lastTs))
            armEviction(state, lastTs, ttlMicros, wmMicros)
            if (total < 2) Iterator.empty
            else fresh.sortBy(o => (o.doc_id, o.pos)).map(o => SubstringHit(o.doc_id, o.pos)).iterator
          }
      }
  }

  /** Per-doc span rollup over [[SubstringHit]] rows (a batch of stream
    * output), via the closed forms over the sorted hit positions:
    * `covered = k + Σ min(gap, k)` and `spans = 1 + #{gap >= k}` —
    * algebraically identical to the batch gaps-and-islands merge.
    *
    * @return (doc_id, dup_windows, dup_spans, covered_tokens) for docs
    *         with at least one hit.
    */
  def substringHitSummary(hits: DataFrame, k: Int): DataFrame = {
    val ps = col("__ps")
    val gaps = when(size(ps) > 1,
      zip_with(slice(ps, lit(2), size(ps) - 1), slice(ps, lit(1), size(ps) - 1),
        (a, b) => a - b))
      .otherwise(array().cast("array<int>"))
    hits
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col("doc_id"),
        size(ps).cast("long").as("dup_windows"),
        (lit(1) + size(filter(gaps, g => g >= lit(k)))).cast("long").as("dup_spans"),
        aggregate(gaps, lit(k), (acc, g) => acc + least(g, lit(k)))
          .cast("long").as("covered_tokens"))
  }

  /** Streaming benchmark decontamination — exact matched-n-gram counts
    * for every arriving doc against a static probe frame (the eval set),
    * the ingest-time face of [[graft.operators.Decontaminate.matches]]:
    * in-row distinct shingles explode (codegen generator) → broadcast
    * hash join against the probe shingle set (stream-static, stateless)
    * → per-doc count keyed on (event-time, doc id), emitted exactly once
    * when the watermark passes the doc's timestamp. A doc's shingles all
    * arrive in its own micro-batch, so the aggregation state is only the
    * in-flight docs inside the watermark window.
    *
    * `docs` must already carry `withWatermark(tsCol, …)` (the
    * [[dedupExactStream]] contract). Only docs with ≥1 hit emit — batch
    * parity on (doc_id, matched_ngrams) is asserted in StreamingSpec.
    */
  def decontaminateStream(
      docs: DataFrame,
      probes: DataFrame,
      shingleN: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      tsCol: String = "timestamp",
      probeTextCol: String = "text"
  ): DataFrame = {
    val probeShingles = probes
      .select(explode(
        graft.functions.Texts.distinctShingles(col(probeTextCol), shingleN)).as("s"))
      .distinct()
    docs
      .select(col(idCol), col(tsCol),
        explode(graft.functions.Texts.distinctShingles(col(textCol), shingleN)).as("s"))
      .join(broadcast(probeShingles), Seq("s"))
      .groupBy(col(tsCol), col(idCol))
      .agg(count(lit(1)).as("matched_ngrams"))
      .select(col(idCol), col(tsCol), col("matched_ngrams"))
  }

  /** Streaming model-based quality scoring — σ(w·x) under a FITTED
    * [[graft.operators.QualityClassifier.train]] model frame for every
    * arriving doc, STATELESS (the batch scorer's explode + distinct +
    * window normalization are all stateful plan shapes a stream can't
    * run; here the hashed feature set is built IN-ROW — array_distinct
    * over the hashed grams — and the margin is one codegen'd `aggregate`
    * fold over it against the broadcast weight map, divided by √n_d for
    * the same unit-L2 normalization). The ingest-path face of the
    * GPT-3-style quality filter: train offline on a labeled reference
    * corpus, tag every arriving doc with its quality score, threshold
    * downstream.
    *
    * Scores equal the batch [[graft.operators.QualityClassifier.score]]
    * up to summation order (the batch path sums w·x per feature row, this
    * one folds Σw then scales — asserted ≤5e-5 in StreamingSpec, well
    * inside the batch scorer's own 1e-4 rounding grain). Docs with no
    * tokens get a NULL quality (the batch scorer omits them entirely).
    *
    * @param model a [[graft.operators.QualityClassifier.train]] frame
    *              (or its parquet round-trip): (feat, w) with bias at −1.
    * @return the input rows plus `quality` — unrounded; callers
    *         threshold, they don't hash-compare.
    */
  def qualityScoreStream(
      docs: DataFrame,
      model: DataFrame,
      textCol: String = "text"
  ): DataFrame = {
    require(model.columns.sorted.sameElements(Array("feat", "w")),
      s"not a QualityClassifier model frame (columns ${model.columns.mkString(",")}) — " +
        "fit with QualityClassifier.train")
    // Driver-side scalars (the model is a batch frame): width + bias.
    val dim = model.filter(col("feat") >= 0).count()
    val bias = model.filter(col("feat") === -1).head().getDouble(1)
    val wRow = model.filter(col("feat") >= 0).agg(
      map_from_entries(collect_list(struct(col("feat"), col("w")))).as("__wmap"))

    // In-row mirror of QualityClassifier.hashedFeatures: unigrams +
    // bigrams, xxhash64(gram, "qc") mod dim, distinct.
    val toks = filter(split(lower(col(textCol)), " "), t => t =!= "")
    val grams = concat(
      toks,
      when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>")))
    val feats = array_distinct(transform(grams,
      g => pmod(xxhash64(g, lit("qc")), lit(dim)).cast("int")))
    val sumW = aggregate(feats, lit(0.0d),
      (acc, f) => acc + coalesce(element_at(col("__wmap"), f), lit(0.0d)))
    val margin = sumW / sqrt(size(feats)) + bias
    docs
      .crossJoin(broadcast(wRow))
      .withColumn("quality",
        when(size(feats) > 0, lit(1.0) / (lit(1.0) + exp(-margin))))
      .drop("__wmap")
  }

  /** Streaming LM quality scoring — perplexity under a FITTED
    * [[graft.operators.Vocabulary.unigramLm]] frame for every arriving
    * doc, STATELESS (each doc scores within its own row: no
    * aggregation, no state store, any output mode). The ingest-path
    * quality filter that pairs with the dedup streams: one pass tags
    * arriving docs with ppl and the caller thresholds.
    *
    * The LM is vocab-bounded by construction, so it rides along as one
    * broadcast map column (built relationally — `map_from_entries` over
    * the LM rows, one row crossJoined in; the per-doc score is a single
    * codegen'd `aggregate` fold over the token array, and the map is
    * projected away in the same stage, so it is never copied per row
    * into the output).
    *
    * Scores are bit-identical to batch [[graft.operators.Vocabulary
    * .perplexity]] up to summation order (asserted ≤1e-9 in
    * StreamingSpec; the batch path averages in arrival order, this one
    * folds left over the token array).
    *
    * @param lm a [[graft.operators.Vocabulary.unigramLm]] frame (or its
    *           parquet round-trip).
    * @return the input rows plus (n_tokens, avg_nll, ppl) — unrounded;
    *         callers threshold, they don't hash-compare.
    */
  def perplexityStream(
      docs: DataFrame,
      lm: DataFrame,
      textCol: String = "text"
  ): DataFrame = {
    // Exact-columns gate (same contract as the batch scorer): a
    // bigramLm frame also carries (tok, logp) but would die mid-stream
    // with an opaque duplicate-map-key error here.
    require(lm.columns.sorted.sameElements(Array("logp", "tok")),
      s"not a unigramLm frame (columns ${lm.columns.mkString(",")}) — " +
        "fit the corpus with unigramLm")
    val lmRow = lm.agg(
      map_from_entries(collect_list(
        when(col("tok").isNotNull, struct(col("tok"), col("logp"))))).as("__lmmap"),
      max(when(col("tok").isNull, col("logp"))).as("__oov"))
    val toks = split(lower(col(textCol)), "\\s+")
    val sumLp = aggregate(toks, lit(0.0d),
      (acc, t) => acc + coalesce(element_at(col("__lmmap"), t), col("__oov")))
    docs
      .crossJoin(broadcast(lmRow))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_nll", -sumLp / col("n_tokens"))
      .withColumn("ppl", exp(col("avg_nll")))
      .drop("__lmmap", "__oov")
  }

  /** Per-subject running totals with stateful processing. Emits one update
    * per micro-batch per active subject. State here is unbounded by design
    * (a running total never expires); a production deployment bounding
    * state would add an event-time timeout keyed off the watermark and
    * emit a final record on eviction.
    */
  def cumulativeCounts(
      events: Dataset[SubjectEvent],
      nPreds: Int
  ): Dataset[SubjectTotals] = {
    implicit val enc = Encoders.product[SubjectTotals]
    events
      .groupByKey(_.subject_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SubjectTotals, SubjectTotals](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (subject: Long, rows: Iterator[SubjectEvent], state: GroupState[SubjectTotals]) =>
          val prev = state.getOption.getOrElse(SubjectTotals(subject, 0L, Array.fill(nPreds)(0L)))
          var lastTs = prev.lastTsMicros
          val totals = prev.totals.clone()
          var any = false
          rows.foreach { e =>
            any = true
            lastTs = math.max(lastTs, e.tsMicros)
            var i = 0
            while (i < nPreds) { totals(i) += e.counts(i); i += 1 }
          }
          val updated = SubjectTotals(subject, lastTs, totals)
          state.update(updated)
          if (any) Iterator(updated) else Iterator.empty
      }
  }
}
