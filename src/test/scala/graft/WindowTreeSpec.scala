package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.config.TaskConfig
import graft.model.{EndpointBounds, EventBounds, TemporalBounds}
import graft.plans.{ExtractSubtree, WindowNode, WindowTree}
import graft.sources.PredicateFrames

/** The per-subject window-tree kernel ([[WindowTree]], behind [[Query]])
  * against the relational oracle ([[ExtractSubtree]]: one window pass and
  * anchor join per tree edge) on generated task configs, trees and
  * frames, under `spark.graft.checkpoint=local` and `off`.
  */
class WindowTreeSpec extends SparkSpec {

  private val Hour = 3600000000L
  private val T0 = 1577836800000000L // 2020-01-01 00:00 UTC, µs

  /** One row of a plain predicates frame: no hour = a static row. Counts
    * are (pA, pB, pC, male).
    */
  private case class Ev(subject: Long, hour: Option[Int], counts: Seq[Long])

  private def toDf(session: SparkSession, rows: Seq[Ev]): DataFrame = {
    import session.implicits._
    rows
      .map(e => (e.subject, e.hour.map(h => new java.sql.Timestamp((T0 + h * Hour) / 1000)),
        e.counts(0), e.counts(1), e.counts(2), e.counts(3)))
      .toDF("subject_id", "timestamp", "pA", "pB", "pC", "male")
  }

  /** One subject: a static row, then ≤ maxRows events at distinct hours of
    * a 20-day span.
    */
  private def subjectGen(maxRows: Int): Gen[Seq[(Option[Int], Seq[Long])]] = for {
    n <- Gen.choose(0, maxRows)
    hours <- Gen.listOfN(n, Gen.choose(0, 480)).map(_.distinct.sorted)
    counts <- Gen.listOfN(hours.size, Gen.listOfN(3, Gen.frequency(6 -> 0L, 3 -> 1L, 1 -> 2L)))
    male <- Gen.oneOf(0L, 1L)
  } yield (None, Seq(0L, 0L, 0L, male)) +: hours.zip(counts).map { case (h, c) => (Some(h), c :+ 0L) }

  private val framesGen: Gen[Seq[Ev]] = for {
    nSubj <- Gen.choose(1, 4)
    subjects <- Gen.listOfN(nSubj, subjectGen(24))
  } yield subjects.zipWithIndex.flatMap { case (rows, i) => rows.map { case (h, c) => Ev(i + 1L, h, c) } }

  private val hoursGen = Gen.choose(1, 72)
  private val boundPredGen = Gen.oneOf("pA", "pB", "pC", EventBounds.AnyEvent)
  private val rangeGen = Gen.oneOf("(None, 0)", "(1, None)", "(0, 1)", "(None, 2)", "(2, None)")
  private def hasGen(keys: Seq[String]): Gen[Seq[(String, String)]] = for {
    n <- Gen.frequency(3 -> 0, 3 -> 1, 1 -> 2)
    picked <- Gen.pick(n, keys)
    ranges <- Gen.listOfN(n, rangeGen)
  } yield picked.toSeq.zip(ranges)

  // ---- task configs -------------------------------------------------------

  private case class WinSpec(
      start: Option[String], end: Option[String], startIncl: Boolean, endIncl: Boolean,
      has: Seq[(String, String)])

  /** A window anchored at `ref` by its start or its end, with a temporal,
    * `->`/`<-` or record-bound other side.
    */
  private def windowGen(ref: String): Gen[WinSpec] = for {
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
  private val windowsGen: Gen[Vector[WinSpec]] = {
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

  private val yamlGen: Gen[String] = for {
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
    * offset of any sign.
    */
  private val boundsGen: Gen[EndpointBounds] = Gen.oneOf(
    for {
      li <- Gen.oneOf(true, false)
      ri <- Gen.oneOf(true, false)
      w <- Gen.choose(-48, 48)
      o <- Gen.choose(-24, 24)
    } yield TemporalBounds(li, w * Hour, ri, o * Hour),
    for {
      li <- Gen.oneOf(true, false)
      ri <- Gen.oneOf(true, false)
      forward <- Gen.oneOf(true, false)
      p <- Gen.oneOf("pA", "pB", "pC", EventBounds.AnyEvent,
        if (forward) EventBounds.EndOfRecord else EventBounds.StartOfRecord)
      o <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(-24, 24))
    } yield EventBounds(li, if (forward) p else s"-$p", ri, o * Hour))

  private def childrenGen(depth: Int): Gen[Seq[WindowNode]] =
    if (depth > 3) Gen.const(Nil)
    else for {
      n <- if (depth == 1) Gen.choose(1, 2) else Gen.frequency(2 -> 0, 2 -> 1, 1 -> 2)
      kids <- Gen.listOfN(n, for {
        b <- boundsGen
        has <- hasGen(Seq("pA", "pB", "pC", "*"))
        c <- childrenGen(depth + 1)
      } yield WindowNode("", Some(b), has.map { case (k, r) => k -> config.WindowDef.parseConstraint(k, r) }.toMap, c))
    } yield kids

  /** A trigger-rooted tree with nodes named n0, n1, … in pre-order. */
  private val treeGen: Gen[WindowNode] = childrenGen(1).map { kids =>
    var next = 0
    def name(n: WindowNode): WindowNode = {
      val named = n.copy(name = s"n$next")
      next += 1
      named.copy(children = n.children.map(name))
    }
    WindowNode("trigger", None, Map.empty, kids.map(name))
  }

  // ---- comparison ---------------------------------------------------------

  /** One session per checkpoint mode (`Materialize` reads the mode from a
    * frame's own session), so parallel property workers never race on a
    * shared conf.
    */
  private lazy val sessions: Seq[(String, SparkSession)] = Seq("local", "off").map { mode =>
    val s = spark.newSession()
    s.conf.set("spark.graft.checkpoint", mode)
    mode -> s
  }

  private val realized = new java.util.concurrent.atomic.AtomicInteger

  /** Every kernel result equals the oracle's in schema and rows. */
  private def agree(kernel: Seq[(String, DataFrame)], oracle: DataFrame): Prop = {
    val want = snap(oracle)
    if (want.nonEmpty) realized.incrementAndGet()
    Prop.all(kernel.map { case (mode, got) =>
      val g = snap(got)
      Prop(got.schema.simpleString == oracle.schema.simpleString && g == want) :|
        s"checkpoint=$mode: ${got.schema.simpleString}\nkernel:\n${g.mkString("\n")}\n" +
        s"oracle: ${oracle.schema.simpleString}\n${want.mkString("\n")}"
    }: _*)
  }

  private def queryAgrees(yaml: String, rows: Seq[Ev]): Prop = {
    val cfg = TaskConfig.fromYaml(yaml)
    val preds = sessions.map { case (mode, s) => mode -> PredicateFrames.finalize(cfg, toDf(s, rows)) }
    agree(preds.map { case (mode, df) => mode -> Query(cfg, df) }, ExtractSubtree.query(cfg, preds.head._2)) :|
      yaml
  }

  private def treeAgrees(tree: WindowNode, rows: Seq[Ev]): Prop = {
    val df = toDf(spark, rows).filter(col("timestamp").isNotNull).withColumn(EventBounds.AnyEvent, lit(1L))
    val anchors = df.filter(col("pA") >= 1)
      .select(col("subject_id"), col("timestamp").as("subtree_anchor_timestamp"))
    val got = WindowTree(tree, "pA", df)
    val want = ExtractSubtree(tree, anchors, df).withColumnRenamed("subtree_anchor_timestamp", "trigger")
    agree(Seq("any" -> got), want.select(got.columns.map(c => col(s"`$c`")).toSeq: _*)) :|
      tree.toString
  }

  /** `prop` holds on `cases` generated cases, and at least a quarter of
    * them realize a row (so the comparison is not of empty frames).
    */
  private def check(cases: Int)(prop: Prop): Unit = {
    realized.set(0)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases).withWorkers(4), prop)
    assert(res.passed, res.status.toString)
    assert(realized.get >= cases / 4, s"only ${realized.get} of $cases cases realized a row")
  }

  test("Query under checkpoint=local and off matches the relational oracle on generated tasks") {
    check(200)(Prop.forAllNoShrink(yamlGen, framesGen)(queryAgrees))
  }

  test("WindowTree matches ExtractSubtree on generated trees with any offsets") {
    check(100)(Prop.forAllNoShrink(treeGen, framesGen)(treeAgrees))
  }

  test("a subject with 10^4 rows") {
    val big = Seq.tabulate(10000)(k => Ev(1L, Some(k * 3 + k % 2), Seq(k % 7 / 6, k % 5 / 4, k % 11 / 10, 0L)))
    val rows = Ev(1L, None, Seq(0L, 0L, 0L, 1L)) +: big
    (1L to 3L).foreach { seed =>
      val yaml = yamlGen.pureApply(Gen.Parameters.default, Seed(seed))
      val tree = treeGen.pureApply(Gen.Parameters.default, Seed(seed))
      Seq(queryAgrees(yaml, rows), treeAgrees(tree, rows)).foreach { p =>
        val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1), p)
        assert(res.passed, res.status.toString)
      }
    }
  }

  private val degenerateYaml =
    """predicates:
      |  pA: { code: A }
      |  pB: { code: B }
      |trigger: pA
      |windows:
      |  input:
      |    start: null
      |    end: trigger
      |    start_inclusive: True
      |    end_inclusive: True
      |    index_timestamp: end
      |  target:
      |    start: trigger
      |    end: start -> pB
      |    start_inclusive: False
      |    end_inclusive: True
      |    label: pB
      |""".stripMargin

  /** Query over `rows` is empty, with the schema of a realizing input, and
    * its MEDS labels are an empty frame of the label schema.
    */
  private def assertEmptyResult(rows: DataFrame): Unit = {
    val cfg = TaskConfig.fromYaml(degenerateYaml)
    val realizing = Query(cfg, predicatesDf(Seq("pA", "pB"), Seq(
      (1L, "2020-01-01 00:00", Seq(1L, 0L)), (1L, "2020-01-02 00:00", Seq(0L, 1L)))))
    assert(realizing.count() == 1)
    val out = Query(cfg, rows)
    assert(out.schema == realizing.schema && out.isEmpty)
    val labels = Query.toMedsLabels(out)
    assert(labels.schema == Query.toMedsLabels(realizing).schema && labels.count() == 0)
  }

  test("an empty canonical frame gives an empty result with the normal schema") {
    assertEmptyResult(predicatesDf(Seq("pA", "pB"), Seq((1L, "2020-01-01 00:00", Seq(1L, 0L)))).limit(0))
  }

  test("a frame without trigger rows gives an empty result with the normal schema") {
    assertEmptyResult(predicatesDf(Seq("pA", "pB"), Seq(
      (1L, "2020-01-01 00:00", Seq(0L, 1L)), (2L, "2020-01-02 00:00", Seq(0L, 0L)))))
  }
}
