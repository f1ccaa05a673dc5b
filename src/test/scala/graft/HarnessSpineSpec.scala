package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the dev harness on one spine: every main builds its session with
  * [[Sessions.local]], and stage metrics come from the one listener,
  * [[graft.tools.Probe.StageLog]], so a new probe cannot grow its own.
  * Streaming state machines stay on one core each: a new near-dup stream
  * goes through `StreamingPredicates.bandedPairStream`. Session settings
  * stay in one registry, [[GraftConf]], and lineage cuts in one place,
  * [[graft.plans.Materialize]], which the ACES path ([[Query]],
  * `plans/WindowTree`) does not call. Per-partition passes stay in the plan
  * (`Dataset.mapPartitions`), and scratch dirs are deleted by Spark's
  * shutdown hook through `ScratchDirs`.
  */
class HarnessSpineSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toList
    finally files.close()
  }

  private def count(pattern: String): Map[String, Int] =
    sources.map { case (f, text) => f -> pattern.r.findAllIn(text).size }
      .filter(_._2 > 0).toMap

  test("SparkSession.builder() appears only in Sessions") {
    assert(count("""SparkSession\s*\.builder\(\)""") == Map("Sessions.scala" -> 1))
  }

  test("onStageCompleted is overridden at most once") {
    assert(count("""def\s+onStageCompleted\b""").values.sum <= 1)
  }

  test("spark.graft.* keys are declared only in GraftConf, at most 5 of them") {
    val keys = count("\"spark\\.graft\\.")
    assert(keys.keySet.subsetOf(Set("GraftConf.scala")), s"key literals outside GraftConf: $keys")
    assert(keys.getOrElse("GraftConf.scala", 0) <= 5)
  }

  test("flatMapGroupsWithState is called at most 3 times") {
    // The banded near-dup core, cohortWindows and substringDupStream.
    assert(count("""\.flatMapGroupsWithState\b""").values.sum <= 3)
  }

  test("localCheckpoint( and .checkpoint( appear only in Materialize") {
    val cuts = count("""localCheckpoint\(|\.checkpoint\(""")
    assert(cuts.keySet.subsetOf(Set("Materialize.scala")), s"lineage cuts outside Materialize: $cuts")
  }

  test(".rdd appears only in Materialize, QualityClassifier and ParallelFloor") {
    // The cut's handle, the classifier fit's treeAggregate, and the
    // partition count of a scan-level input.
    val rdds = count("""\.rdd\b""")
    assert(rdds.keySet.subsetOf(Set("Materialize.scala", "QualityClassifier.scala", "ParallelFloor.scala")),
      s".rdd outside the three allowed files: $rdds")
  }

  test("Query and WindowTree mention neither Materialize nor GraftConf") {
    // The ACES path returns a plan: no lineage cut, no session setting.
    val files = Set("Query.scala", "WindowTree.scala")
    assert(files.subsetOf(sources.map(_._1).toSet))
    val mentions = count("Materialize|GraftConf").filter { case (f, _) => files(f) }
    assert(mentions.isEmpty, s"mentions: $mentions")
  }

  test("addShutdownHook appears nowhere") {
    assert(count("addShutdownHook").isEmpty)
  }
}
