package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the dev harness on one spine: every main builds its session with
  * [[Sessions.local]], and stage metrics come from the one listener,
  * [[graft.tools.Probe.StageLog]], so a new probe cannot grow its own.
  * Streaming state machines stay on one core each: a new near-dup stream
  * goes through `StreamingPredicates.bandedPairStream`.
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

  test("flatMapGroupsWithState is called at most 4 times") {
    // The banded near-dup core, cohortWindows, substringDupStream and
    // cumulativeCounts.
    assert(count("""\.flatMapGroupsWithState\b""").values.sum <= 4)
  }
}
