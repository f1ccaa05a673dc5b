package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.WindowTreeGen._
import graft.config.TaskConfig
import graft.model.EventBounds
import graft.plans.{ExtractSubtree, WindowNode, WindowTree}
import graft.sources.PredicateFrames

/** The per-subject window-tree kernel ([[WindowTree]], behind [[Query]])
  * against the relational oracle ([[ExtractSubtree]]: one window pass and
  * anchor join per tree edge) on generated task configs, trees and
  * frames ([[WindowTreeGen]]).
  */
class WindowTreeSpec extends SparkSpec {

  // ---- comparison ---------------------------------------------------------

  private val realized = new java.util.concurrent.atomic.AtomicInteger

  /** The kernel's result equals the oracle's in schema and rows. */
  private def agree(got: DataFrame, oracle: DataFrame): Prop = {
    val want = snap(oracle)
    if (want.nonEmpty) realized.incrementAndGet()
    val g = snap(got)
    Prop(got.schema.simpleString == oracle.schema.simpleString && g == want) :|
      s"kernel: ${got.schema.simpleString}\n${g.mkString("\n")}\n" +
      s"oracle: ${oracle.schema.simpleString}\n${want.mkString("\n")}"
  }

  private def queryAgrees(yaml: String, rows: Seq[Ev]): Prop = {
    val cfg = TaskConfig.fromYaml(yaml)
    val preds = PredicateFrames.finalize(cfg, toDf(spark, rows))
    agree(Query(cfg, preds), ExtractSubtree.query(cfg, preds)) :| yaml
  }

  private def treeAgrees(tree: WindowNode, rows: Seq[Ev]): Prop = {
    val df = toDf(spark, rows).filter(col("timestamp").isNotNull).withColumn(EventBounds.AnyEvent, lit(1L))
    val anchors = df.filter(col("pA") >= 1)
      .select(col("subject_id"), col("timestamp").as("subtree_anchor_timestamp"))
    val got = WindowTree(tree, "pA", df)
    val want = ExtractSubtree(tree, anchors, df).withColumnRenamed("subtree_anchor_timestamp", "trigger")
    agree(got, want.select(got.columns.map(c => col(s"`$c`")).toSeq: _*)) :|
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

  test("Query matches the relational oracle on generated tasks") {
    check(200)(Prop.forAllNoShrink(yamlGen, framesGen)(queryAgrees))
  }

  test("WindowTree matches ExtractSubtree on generated trees with any offsets") {
    check(100)(Prop.forAllNoShrink(treeGen(streamable = false), framesGen)(treeAgrees))
  }

  test("a subject with 10^4 rows") {
    val big = Seq.tabulate(10000)(k => Ev(1L, Some(k * 3 + k % 2), Seq(k % 7 / 6, k % 5 / 4, k % 11 / 10, 0L)))
    val rows = Ev(1L, None, Seq(0L, 0L, 0L, 1L)) +: big
    (1L to 3L).foreach { seed =>
      val yaml = yamlGen.pureApply(Gen.Parameters.default, Seed(seed))
      val tree = treeGen(streamable = false).pureApply(Gen.Parameters.default, Seed(seed))
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
