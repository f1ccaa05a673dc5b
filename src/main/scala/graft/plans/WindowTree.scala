package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import graft.model.{EndpointBounds, EventBounds, TemporalBounds}
import graft.operators.{Constraints, EventBoundAgg}

/** A node of the window tree: the trigger root plus one node per window
  * start/end boundary, each carrying the endpoint expression that defines
  * the window between it and its parent, and the count constraints that
  * window must satisfy. (reference: src/aces/config.py:1574-1640 builds the
  * same tree with bigtree Nodes.)
  */
final case class WindowNode(
    name: String,
    endpointExpr: Option[EndpointBounds],
    constraints: Map[String, Constraints.Range] = Map.empty,
    children: Seq[WindowNode] = Seq.empty
)

/** Window-tree evaluator: every trigger realization whose windows all hold.
  *
  * (reference: src/aces/extract_subtree.py:16-386; prose spec in
  * docs/source/algorithm.md:181-306.)
  *
  * The reference aggregates the whole frame once per tree edge and joins
  * each level's summaries back onto its anchors. Here the whole tree is
  * evaluated in ONE sorted pass per subject: `flatMapSortedGroups` over the
  * frame's own hash(subject_id) partitioning (no exchange; no sort either
  * over a bucketed table sorted on (subject_id, timestamp)). Per subject
  * the kernel holds the timestamps, flat per-predicate prefix sums and,
  * for each event-bound predicate, its boundary rows, then walks the tree
  * from every trigger row:
  *   - a temporal edge keeps the anchor row and adds its window length to
  *     the root offset; its counts are `P[upper(t+hi)] − P[lower(t+lo)]`
  *     over [[TemporalBounds.inclusiveFrame]];
  *   - an event-bound edge applies [[EventBoundAgg.Rules]]; the bound row
  *     becomes the child's anchor and the root offset resets to 0;
  *   - a missing bound or a failed `has:` constraint drops the trigger row.
  *
  * Rows cross the kernel boundary as `array<bigint>` columns through typed
  * encoders, unboxed. Per-task memory is one subject at a time: its rows ×
  * (predicates + 1) longs in arrays that double as they grow, reused by
  * the task's next subject (≤ 16 B per row and column, 24 B for the moment
  * of a copy), plus an int and a long per boundary row of each event-bound
  * predicate.
  */
object WindowTree {

  // Built once: deriving a product encoder reflects on the type.
  private lazy val inputEncoder = Encoders.product[SubjectRow]
  private[graft] lazy val outputEncoder = Encoders.product[Realized]

  /** @param frame canonical predicates frame: unique, non-null
    *              (subject_id, timestamp) keys.
    * @return one row per realized trigger row: see [[summaries]].
    */
  def apply(tree: WindowNode, trigger: String, frame: DataFrame): DataFrame = {
    // `__`-prefixed columns are engine internals, never predicates.
    val predCols =
      frame.columns.filterNot(c => c == "subject_id" || c == "timestamp" || c.startsWith("__")).toSeq
    val kernel = SubjectKernel(tree, trigger, predCols)
    val input = frame.select(
      col("subject_id"), col("timestamp"), unix_micros(col("timestamp")).as("us"),
      array(predCols.map(c => coalesce(col(c).cast(LongType), lit(0L))): _*).as("counts"))
    val realized = input
      .groupBy("subject_id")
      .as[Long, SubjectRow](Encoders.scalaLong, inputEncoder)
      .flatMapSortedGroups(col("timestamp"))(kernel.apply)(outputEncoder)
    summaries(realized, kernel, frame.schema("subject_id").dataType)
  }

  /** The kernel's rows as the window-tree result: `subject_id` (as
    * `subjectType`), `trigger`, then a `<node>_summary` struct per tree
    * node in pre-order (`window_name`, `timestamp_at_start`,
    * `timestamp_at_end`, one count per predicate).
    */
  private[graft] def summaries(realized: Dataset[Realized], kernel: SubjectKernel, subjectType: DataType): DataFrame = {
    val width = 2 + kernel.predicates.size
    def cell(i: Int): Column = col("cells").getItem(i)
    realized.select(
      Seq(col("subject_id").cast(subjectType).as("subject_id"), timestamp_micros(col("trigger")).as("trigger")) ++
        kernel.names.zipWithIndex.map { case (name, i) =>
          struct(
            Seq(lit(name).as("window_name"),
              timestamp_micros(cell(i * width)).as("timestamp_at_start"),
              timestamp_micros(cell(i * width + 1)).as("timestamp_at_end")) ++
              kernel.predicates.indices.map(c => cell(i * width + 2 + c).as(kernel.predicates(c))): _*
          ).as(s"${name}_summary")
        }: _*)
  }
}

/** Kernel input: a row's epoch µs and predicate counts. Output: per edge
  * slot, the window's start µs, end µs and counts.
  */
private[graft] final case class SubjectRow(us: Long, counts: Array[Long])
private[graft] final case class Realized(subject_id: Long, trigger: Long, cells: Array[Long])

/** A compiled edge (root offset applied). Temporal (no `rules`): the window
  * spans [start, end] µs from its anchor and counts the inclusive µs frame
  * `frame`. Event-bound: `rules` over the `boundary`-th boundary, `frame`
  * the offset-correction frame (empty if none). `has`: (predicate, min, max).
  */
private final case class Edge(slot: Int, rules: Option[EventBoundAgg.Rules], boundary: Int, start: Long, end: Long,
    frame: (Long, Long), has: Seq[(Int, Long, Long)], children: Array[Edge])

private object Edge {
  val RecordStart = -1
  val RecordEnd = -2
}

private[graft] object SubjectKernel {

  /** The kernel of `tree` rooted at rows where `trigger` holds, over rows
    * whose counts are the `predicates`, in that order.
    */
  def apply(tree: WindowNode, trigger: String, predicates: Seq[String]): SubjectKernel = {
    def predIndex(name: String): Int = {
      val i = predicates.indexOf(name)
      require(i >= 0, s"Predicate '$name' not found in the predicates frame: ${predicates.mkString(", ")}")
      i
    }
    // Edges in pre-order: their output slots. Event bounds: the distinct
    // boundary predicates (or record start / end) they search.
    val names = collection.mutable.ArrayBuffer.empty[String]
    val boundaries = collection.mutable.ArrayBuffer.empty[Int]
    def compile(node: WindowNode, rootOffsetUs: Long): Array[Edge] = node.children.map { child =>
      val slot = names.size
      names += child.name
      val bounds = child.endpointExpr
        .getOrElse(throw new IllegalStateException(s"Node '${child.name}' lacks endpoint expr"))
        .withAddedOffset(rootOffsetUs)
      val has = Constraints.resolve(child.constraints).map { case (c, (lo, hi)) =>
        (predIndex(c), lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue))
      }
      bounds match {
        case tb: TemporalBounds =>
          val end = tb.offsetMicros + tb.windowMicros
          Edge(slot, None, -1, tb.offsetMicros, end, tb.inclusiveFrame, has, compile(child, rootOffsetUs + tb.windowMicros))
        case eb: EventBounds =>
          val boundary = eb.boundEventName match {
            case EventBounds.StartOfRecord => Edge.RecordStart
            case EventBounds.EndOfRecord   => Edge.RecordEnd
            case p                         => predIndex(p)
          }
          if (!boundaries.contains(boundary)) boundaries += boundary
          val rules = EventBoundAgg.Rules(eb.mode == "bound_to_row", eb.closed, eb.offsetMicros)
          Edge(slot, Some(rules), boundaries.indexOf(boundary), 0L, 0L, rules.offsetFrame.getOrElse((0L, -1L)),
            has, compile(child, 0L))
      }
    }.toArray
    val roots = compile(tree, 0L)
    new SubjectKernel(roots, predIndex(trigger), predicates, names.toSeq, boundaries.toArray)
  }
}

/** The per-subject evaluation behind [[WindowTree]], one instance per task:
  * [[load]] one subject's rows, then [[realize]] any of them as a trigger.
  * Its arrays are reused by the task's next subject, which
  * `flatMapSortedGroups` passes only once this one's output is drained.
  */
private[graft] final class SubjectKernel private (roots: Array[Edge], trigger: Int, val predicates: Seq[String],
    val names: Seq[String], boundaries: Array[Int]) extends Serializable {

  private val nPreds = predicates.size
  private val width = 2 + nPreds
  // Timestamps, and prefix sums: pre(k * nPreds + c) sums predicate c
  // over rows [0, k). Per boundary: its rows and their timestamps, built
  // on the loaded rows' first realize.
  private var n = 0
  private var ts = new Array[Long](16)
  private var pre = new Array[Long](17 * nPreds)
  private var indexed = false
  private val boundRows = new Array[Array[Int]](boundaries.length)
  private val boundTs = new Array[Array[Long]](boundaries.length)
  private val out = new Array[Long](names.size * width)
  private var read = 0L

  /** A lower bound, relative to the trigger, on every instant a walk
    * reads (≤ 0); `Long.MinValue` if a `<-` bound can read back to the
    * record start.
    */
  val reach: Long = {
    def from(edges: Array[Edge], anchor: Long): Long = edges.foldLeft(anchor) { (lo, e) =>
      e.rules match {
        case Some(r) if r.boundToRow => Long.MinValue
        case _ =>
          // A forward bound is at or after anchor + offset.
          val child = anchor + e.rules.fold(0L)(_.offsetUs)
          lo min (anchor + e.frame._1) min child min from(e.children, child)
      }
    }
    from(roots, 0L)
  }

  /** Every trigger row of one subject's rows (ascending µs) that realizes. */
  def apply(subject: Long, rows: Iterator[SubjectRow]): Iterator[Realized] = {
    load(rows)
    (0 until n).iterator.filter(a => own(a, trigger) >= 1 && realize(a)).map(realized(subject, _))
  }

  /** Holds one subject's rows, ascending and unique in µs, until the next
    * load.
    */
  def load(rows: Iterator[SubjectRow]): Unit = {
    n = 0
    indexed = false
    rows.foreach { r =>
      if (n == ts.length) {
        ts = java.util.Arrays.copyOf(ts, 2 * n)
        pre = java.util.Arrays.copyOf(pre, (2 * n + 1) * nPreds)
      }
      ts(n) = r.us
      var c = 0
      while (c < nPreds) {
        pre((n + 1) * nPreds + c) = pre(n * nPreds + c) + r.counts(c)
        c += 1
      }
      n += 1
    }
  }

  /** Walks the tree from loaded row `a`: true iff every window holds (its
    * summaries then fill [[realized]]). Either way [[lastRead]] is then
    * the latest instant the walk read: its anchors, temporal frame ends
    * and found forward bounds; +∞ if a forward bound is not among the
    * rows.
    */
  def realize(a: Int): Boolean = {
    if (!indexed) {
      for (i <- boundaries.indices) {
        boundRows(i) = boundaries(i) match {
          case Edge.RecordStart => Array(0)
          case Edge.RecordEnd   => Array(n - 1)
          case c                => (0 until n).filter(own(_, c) > 0).toArray
        }
        boundTs(i) = boundRows(i).map(ts(_))
      }
      indexed = true
    }
    read = ts(a)
    holds(roots, a)
  }

  def lastRead: Long = read

  /** The result row of the last [[realize]] of row `a`, if it held. */
  def realized(subject: Long, a: Int): Realized = Realized(subject, ts(a), out.clone())

  private def own(k: Int, c: Int): Long = pre((k + 1) * nPreds + c) - pre(k * nPreds + c)

  /** How many of `times(0 until len)` (ascending) are before `t` (`orAt`: or at it). */
  private def countBefore(times: Array[Long], len: Int, t: Long, orAt: Boolean): Int = {
    var lo = 0
    var hi = len
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) < t || orAt && times(mid) == t) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Sign · counts of rows [from, to) into the summary at `base`. */
  private def addRows(base: Int, from: Int, to: Int, sign: Long): Unit = {
    var c = 0
    while (c < nPreds) {
      out(base + 2 + c) += sign * (pre(to * nPreds + c) - pre(from * nPreds + c))
      c += 1
    }
  }

  /** Sign · counts over the inclusive µs frame [t+lo, t+hi]. */
  private def addFrame(base: Int, t: Long, frame: (Long, Long), sign: Long): Unit =
    if (frame._1 <= frame._2) {
      read = math.max(read, t + frame._2)
      addRows(base, countBefore(ts, n, t + frame._1, orAt = false), countBefore(ts, n, t + frame._2, orAt = true), sign)
    }

  /** Writes every edge's summary from anchor row `a`; false if one fails. */
  private def holds(edges: Array[Edge], a: Int): Boolean = edges.forall { e =>
    val base = e.slot * width
    java.util.Arrays.fill(out, base + 2, base + width, 0L)
    val childAnchor = e.rules match {
      case None =>
        out(base) = ts(a) + e.start
        out(base + 1) = ts(a) + e.end
        addFrame(base, ts(a), e.frame, 1L)
        a
      case Some(r) =>
        // The nearest boundary row at or before (bound_to_row), or at or
        // after, row + offset; `includeEq` admits one exactly there.
        val t = ts(a) + r.offsetUs
        val (bRows, bTs) = (boundRows(e.boundary), boundTs(e.boundary))
        val k = countBefore(bTs, bTs.length, t, r.includeEq == r.boundToRow)
        val b = if (r.boundToRow) (if (k == 0) -1 else bRows(k - 1)) else if (k == bTs.length) -1 else bRows(k)
        read =
          if (r.boundToRow) math.max(read, t)
          else if (b < 0) Long.MaxValue
          else math.max(read, ts(b))
        if (b >= 0) {
          val rowEdge = if (r.adjustOwn) a else a + 1
          val boundEdge = if (r.subtractOwnAtBoundary) b else b + 1
          if (r.boundToRow) addRows(base, boundEdge, rowEdge, 1L) else addRows(base, rowEdge, boundEdge, 1L)
          addFrame(base, ts(a), e.frame, if (r.addOffsetPeriod) 1L else -1L)
          out(base) = if (r.boundToRow) ts(b) else t
          out(base + 1) = if (r.boundToRow) t else ts(b)
        }
        b
    }
    childAnchor >= 0 &&
    e.has.forall { case (c, lo, hi) => out(base + 2 + c) >= lo && out(base + 2 + c) <= hi } &&
    holds(e.children, childAnchor)
  }
}
