package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.Gen

import graft.model.{EndpointBounds, EventBounds, TemporalBounds}
import graft.plans.WindowNode

/** Generators of window-tree cases: predicates frames, task configs and
  * raw window trees, shared by the batch ([[WindowTreeSpec]]) and the
  * streaming ([[StreamingSpec]]) checks.
  */
object WindowTreeGen {

  val Hour = 3600000000L
  val T0 = 1577836800000000L // 2020-01-01 00:00 UTC, µs

  /** One row of a plain predicates frame: no hour = a static row. Counts
    * are (pA, pB, pC, male).
    */
  case class Ev(subject: Long, hour: Option[Int], counts: Seq[Long])

  def toDf(session: SparkSession, rows: Seq[Ev]): DataFrame = {
    import session.implicits._
    rows
      .map(e => (e.subject, e.hour.map(h => new java.sql.Timestamp((T0 + h * Hour) / 1000)),
        e.counts(0), e.counts(1), e.counts(2), e.counts(3)))
      .toDF("subject_id", "timestamp", "pA", "pB", "pC", "male")
  }

  /** One subject: a static row, then ≤ maxRows events at distinct hours of
    * a 20-day span.
    */
  def subjectGen(maxRows: Int): Gen[Seq[(Option[Int], Seq[Long])]] = for {
    n <- Gen.choose(0, maxRows)
    hours <- Gen.listOfN(n, Gen.choose(0, 480)).map(_.distinct.sorted)
    counts <- Gen.listOfN(hours.size, Gen.listOfN(3, Gen.frequency(6 -> 0L, 3 -> 1L, 1 -> 2L)))
    male <- Gen.oneOf(0L, 1L)
  } yield (None, Seq(0L, 0L, 0L, male)) +: hours.zip(counts).map { case (h, c) => (Some(h), c :+ 0L) }

  val framesGen: Gen[Seq[Ev]] = for {
    nSubj <- Gen.choose(1, 4)
    subjects <- Gen.listOfN(nSubj, subjectGen(24))
  } yield subjects.zipWithIndex.flatMap { case (rows, i) => rows.map { case (h, c) => Ev(i + 1L, h, c) } }

  val hoursGen = Gen.choose(1, 72)
  val boundPredGen = Gen.oneOf("pA", "pB", "pC", EventBounds.AnyEvent)
  val rangeGen = Gen.oneOf("(None, 0)", "(1, None)", "(0, 1)", "(None, 2)", "(2, None)")
  def hasGen(keys: Seq[String]): Gen[Seq[(String, String)]] = for {
    n <- Gen.frequency(3 -> 0, 3 -> 1, 1 -> 2)
    picked <- Gen.pick(n, keys)
    ranges <- Gen.listOfN(n, rangeGen)
  } yield picked.toSeq.zip(ranges)

  // ---- task configs -------------------------------------------------------

  case class WinSpec(
      start: Option[String], end: Option[String], startIncl: Boolean, endIncl: Boolean,
      has: Seq[(String, String)])

  /** A window anchored at `ref` by its start or its end, with a temporal,
    * `->`/`<-` or record-bound other side.
    */
  def windowGen(ref: String): Gen[WinSpec] = for {
    rootIsStart <- Gen.oneOf(true, false)
    root <- Gen.oneOf(
      Gen.const(ref),
      hoursGen.map(h => s"$ref + ${h}h"),
      hoursGen.map(h => s"$ref - ${h}h"),
      boundPredGen.map(p => s"$ref -> $p"),
      boundPredGen.map(p => s"$ref <- $p"))
    other <- Gen.oneOf(
      Gen.const(None),
      hoursGen.map(h => Some(if (rootIsStart) s"start + ${h}h" else s"end - ${h}h")),
      boundPredGen.map(p => Some(if (rootIsStart) s"start -> $p" else s"end <- $p")))
    startIncl <- Gen.oneOf(true, false)
    endIncl <- Gen.oneOf(true, false)
    has <- hasGen(Seq("pA", "pB", "pC", EventBounds.AnyEvent, EventBounds.StartOfRecord,
      EventBounds.EndOfRecord))
  } yield
    if (rootIsStart) WinSpec(Some(root), other, startIncl, endIncl, has)
    else WinSpec(other, Some(root), startIncl, endIncl, has)

  /** 1–4 windows, each anchored at the trigger or at an earlier window's
    * start or end, at most 3 windows deep.
    */
  val windowsGen: Gen[Vector[WinSpec]] = {
    def more(acc: Vector[(WinSpec, Int)], left: Int): Gen[Vector[(WinSpec, Int)]] =
      if (left == 0) Gen.const(acc)
      else {
        val refs = ("trigger", 1) +: acc.zipWithIndex.collect {
          case ((_, d), i) if d < 3 => Seq((s"w$i.start", d + 1), (s"w$i.end", d + 1))
        }.flatten
        Gen.oneOf(refs).flatMap { case (ref, d) =>
          windowGen(ref).flatMap(w => more(acc :+ ((w, d)), left - 1))
        }
      }
    Gen.choose(1, 4).flatMap(k => more(Vector.empty, k)).map(_.map(_._1))
  }

  val yamlGen: Gen[String] = for {
    windows <- windowsGen
    trigger <- Gen.frequency(4 -> "pA", 1 -> EventBounds.AnyEvent)
    static <- Gen.oneOf(true, false)
    label <- Gen.option(Gen.zip(Gen.choose(0, windows.size - 1), Gen.oneOf("pB", "pC")))
    index <- Gen.option(Gen.zip(Gen.choose(0, windows.size - 1), Gen.oneOf("start", "end")))
  } yield {
    def py(b: Boolean) = if (b) "True" else "False"
    val ws = windows.zipWithIndex.map { case (w, i) =>
      (Seq(
        s"  w$i:",
        s"    start: ${w.start.getOrElse("null")}",
        s"    end: ${w.end.getOrElse("null")}",
        s"    start_inclusive: ${py(w.startIncl)}",
        s"    end_inclusive: ${py(w.endIncl)}") ++
        (if (w.has.isEmpty) Nil
         else Seq(w.has.map { case (k, r) => s"""$k: "$r"""" }.mkString("    has: { ", ", ", " }"))) ++
        label.collect { case (`i`, p) => s"    label: $p" } ++
        index.collect { case (`i`, s) => s"    index_timestamp: $s" }).mkString("\n")
    }
    (Seq("predicates:", "  pA: { code: A }", "  pB: { code: B }", "  pC: { code: C }") ++
      (if (static) Seq("patient_demographics:", "  male: { code: SEX//male }") else Nil) ++
      Seq(s"trigger: $trigger", "windows:") ++ ws).mkString("", "\n", "\n")
  }

  // ---- raw window trees ---------------------------------------------------

  /** Bounds beyond what task configs produce: temporal windows of any sign
    * (zero included) with their own offset, and event bounds with an
    * offset of any sign. `streamable`: forward (`->`) predicate bounds
    * only, the event bounds a stream can resolve.
    */
  def boundsGen(streamable: Boolean): Gen[EndpointBounds] = Gen.oneOf(
    for {
      li <- Gen.oneOf(true, false)
      ri <- Gen.oneOf(true, false)
      w <- Gen.choose(-48, 48)
      o <- Gen.choose(-24, 24)
    } yield TemporalBounds(li, w * Hour, ri, o * Hour),
    for {
      li <- Gen.oneOf(true, false)
      ri <- Gen.oneOf(true, false)
      forward <- if (streamable) Gen.const(true) else Gen.oneOf(true, false)
      p <- Gen.oneOf(Seq("pA", "pB", "pC", EventBounds.AnyEvent) ++
        (if (streamable) Nil else Seq(if (forward) EventBounds.EndOfRecord else EventBounds.StartOfRecord)))
      o <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(-24, 24))
    } yield EventBounds(li, if (forward) p else s"-$p", ri, o * Hour))

  def childrenGen(depth: Int, streamable: Boolean): Gen[Seq[WindowNode]] =
    if (depth > 3) Gen.const(Nil)
    else for {
      n <- if (depth == 1) Gen.choose(1, 2) else Gen.frequency(2 -> 0, 2 -> 1, 1 -> 2)
      kids <- Gen.listOfN(n, for {
        b <- boundsGen(streamable)
        has <- hasGen(Seq("pA", "pB", "pC", "*"))
        c <- childrenGen(depth + 1, streamable)
      } yield WindowNode("", Some(b), has.map { case (k, r) => k -> config.WindowDef.parseConstraint(k, r) }.toMap, c))
    } yield kids

  /** A trigger-rooted tree with nodes named n0, n1, … in pre-order. */
  def treeGen(streamable: Boolean): Gen[WindowNode] = childrenGen(1, streamable).map { kids =>
    var next = 0
    def name(n: WindowNode): WindowNode = {
      val named = n.copy(name = s"n$next")
      next += 1
      named.copy(children = n.children.map(name))
    }
    WindowNode("trigger", None, Map.empty, kids.map(name))
  }
}
