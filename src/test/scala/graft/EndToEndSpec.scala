package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.config.TaskConfig
import graft.sources.PredicateFrames

/** Full-pipeline golden test ported from the reference's end-to-end CLI
  * test (reference: tests/test_e2e.py:19-191): the 24-hour in-hospital
  * mortality task over the direct-standard CSV fixture must produce
  * exactly one cohort row with the exact summary structs.
  */
class EndToEndSpec extends SparkSpec {

  // exposed for RunSpec (defs: class-init order)
  def predicatesCsvText: String = predicatesCsv
  def taskYamlText: String = taskYaml

  private val predicatesCsv =
    """subject_id,timestamp,male,female,admission,death,discharge,lab,spo2,normal_spo2,abnormally_low_spo2,abnormally_high_spo2,procedure_start,procedure_end,ventilation,diagnosis_ICD9CM_41071,diagnosis_ICD10CM_I214
      |1,,1,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |1,12/1/1989 12:03,0,0,1,0,0,0,0,0,0,0,0,0,0,0,0
      |1,12/1/1989 13:14,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,12/1/1989 15:17,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,12/1/1989 16:17,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,12/1/1989 20:17,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,12/2/1989 3:00,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,12/2/1989 9:00,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |1,12/2/1989 10:00,0,0,0,0,0,0,0,0,0,0,1,0,1,0,0
      |1,12/2/1989 14:22,0,0,0,0,0,0,0,0,0,0,0,1,1,0,0
      |1,12/2/1989 15:00,0,0,0,0,1,0,0,0,0,0,0,0,0,0,0
      |1,1/21/1991 11:59,0,0,0,0,0,0,0,0,0,0,0,0,0,1,0
      |1,1/27/1991 23:32,0,0,1,0,0,0,0,0,0,0,0,0,0,0,0
      |1,1/27/1991 23:46,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,1/28/1991 3:18,0,0,0,0,0,1,0,0,0,0,0,0,0,0,0
      |1,1/28/1991 3:28,0,0,0,0,0,0,0,0,0,0,1,0,1,0,0
      |1,1/28/1991 4:36,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,1/29/1991 23:32,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,1/30/1991 5:00,0,0,0,0,0,1,0,0,0,0,0,0,0,0,0
      |1,1/30/1991 8:00,0,0,0,0,0,1,1,0,0,1,0,0,0,0,0
      |1,1/30/1991 11:00,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,1/30/1991 14:00,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |1,1/30/1991 14:15,0,0,0,0,0,1,0,0,0,0,0,0,0,0,0
      |1,1/31/1991 1:00,0,0,0,0,0,0,0,0,0,0,0,1,1,0,0
      |1,1/31/1991 2:15,0,0,0,0,1,0,0,0,0,0,0,0,0,0,0
      |1,2/8/1991 8:15,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |1,3/3/1991 19:33,0,0,1,0,0,0,0,0,0,0,0,0,0,0,0
      |1,3/3/1991 20:33,0,0,0,0,0,1,1,0,1,0,0,0,0,0,0
      |1,3/3/1991 21:38,0,0,0,1,0,0,0,0,0,0,0,0,0,0,0
      |2,,0,1,0,0,0,0,0,0,0,0,0,0,0,0,0
      |2,3/8/1996 2:24,0,0,1,0,0,0,0,0,0,0,0,0,0,0,0
      |2,3/8/1996 2:35,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |2,3/8/1996 4:00,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |2,3/8/1996 10:00,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |2,3/8/1996 16:00,0,0,0,0,1,0,0,0,0,0,0,0,0,0,0
      |2,6/5/1996 0:32,0,0,1,0,0,0,0,0,0,0,0,0,0,0,0
      |2,6/5/1996 0:48,0,0,0,0,0,0,0,0,0,0,0,0,0,0,1
      |2,6/5/1996 1:59,0,0,0,0,0,0,0,0,0,0,1,0,1,0,0
      |2,6/7/1996 6:00,0,0,0,0,0,1,0,0,0,0,0,0,0,0,0
      |2,6/7/1996 9:00,0,0,0,0,0,1,1,0,1,0,0,0,0,0,0
      |2,6/7/1996 12:00,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |2,6/7/1996 15:00,0,0,0,0,0,0,0,0,0,0,0,1,1,0,0
      |2,6/7/1996 15:00,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |2,6/8/1996 3:00,0,0,0,1,0,0,0,0,0,0,0,0,0,0,0
      |3,,1,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |3,3/8/1996 2:22,0,0,0,0,0,0,0,0,0,0,1,0,1,0,0
      |3,3/8/1996 2:24,0,0,1,0,0,0,0,0,0,0,0,0,0,0,0
      |3,3/8/1996 2:37,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |3,3/9/1996 8:00,0,0,0,0,0,1,0,0,0,0,0,0,0,0,0
      |3,3/9/1996 11:00,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |3,3/9/1996 19:00,0,0,0,0,0,1,1,1,0,0,0,0,0,0,0
      |3,3/9/1996 22:00,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0
      |3,3/11/1996 21:00,0,0,0,0,0,0,0,0,0,0,0,1,1,0,0
      |3,3/12/1996 0:00,0,0,0,1,0,0,0,0,0,0,0,0,0,0,0
      |""".stripMargin

  private val taskYaml =
    """# Task: 24-hour In-hospital Mortality Prediction
      |predicates:
      |  admission:
      |    code: event_type//ADMISSION
      |  discharge:
      |    code: event_type//DISCHARGE
      |  death:
      |    code: event_type//DEATH
      |  discharge_or_death:
      |    expr: or(discharge, death)
      |
      |patient_demographics:
      |  male:
      |    code: SEX//male
      |
      |trigger: admission
      |
      |windows:
      |  input:
      |    start: NULL
      |    end: trigger + 24h
      |    start_inclusive: True
      |    end_inclusive: True
      |    has:
      |      _ANY_EVENT: (5, None)
      |    index_timestamp: end
      |  gap:
      |    start: trigger
      |    end: start + 48h
      |    start_inclusive: False
      |    end_inclusive: True
      |    has:
      |      admission: (None, 0)
      |      discharge: (None, 0)
      |      death: (None, 0)
      |  target:
      |    start: gap.end
      |    end: start -> discharge_or_death
      |    start_inclusive: False
      |    end_inclusive: True
      |    label: death
      |""".stripMargin

  test("in-hospital mortality e2e golden (tests/test_e2e.py)") {
    val cfg = TaskConfig.fromYaml(taskYaml)
    assert(cfg.predicates.keySet ==
      Set("admission", "discharge", "death", "discharge_or_death", "male"))
    assert(cfg.preorderWindowNames ==
      Seq("input.end", "input.start", "gap.end", "target.end"))

    val csvPath = Files.createTempFile("graft_e2e", ".csv")
    Files.writeString(csvPath, predicatesCsv)

    val plainNames = cfg.plainPredicates.keys.toSeq
    val plainDf = PredicateFrames.directLoad(
      spark, csvPath.toString, plainNames, Some("M/d/yyyy H:mm"))
    val predsDf = PredicateFrames.finalize(cfg, plainDf)

    spark.conf.set("spark.graft.checkpoint", "off")
    val result = Query(cfg, predsDf).cache()

    assert(result.count() == 1)
    val row = result.head()

    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    assert(row.getAs[Long]("subject_id") == 1L)
    assert(row.getAs[java.sql.Timestamp]("index_timestamp") == ts("1991-01-28 23:32:00"))
    assert(row.getAs[Long]("label") == 0L)
    assert(row.getAs[java.sql.Timestamp]("trigger") == ts("1991-01-27 23:32:00"))

    def checkSummary(
        colName: String,
        windowName: String,
        tsStart: String,
        tsEnd: String,
        admission: Long,
        discharge: Long,
        death: Long,
        dischargeOrDeath: Long,
        anyEvent: Long): Unit = {
      val s = row.getAs[Row](colName)
      assert(s.getAs[String]("window_name") == windowName, s"$colName window_name")
      assert(s.getAs[java.sql.Timestamp]("timestamp_at_start") == ts(tsStart), s"$colName start")
      assert(s.getAs[java.sql.Timestamp]("timestamp_at_end") == ts(tsEnd), s"$colName end")
      assert(s.getAs[Long]("admission") == admission, s"$colName admission")
      assert(s.getAs[Long]("discharge") == discharge, s"$colName discharge")
      assert(s.getAs[Long]("death") == death, s"$colName death")
      assert(s.getAs[Long]("discharge_or_death") == dischargeOrDeath, s"$colName d_or_d")
      assert(s.getAs[Long]("_ANY_EVENT") == anyEvent, s"$colName _ANY_EVENT")
    }

    checkSummary("input.end_summary", "input.end",
      "1991-01-27 23:32:00", "1991-01-28 23:32:00", 0, 0, 0, 0, 4)
    checkSummary("input.start_summary", "input.start",
      "1989-12-01 12:03:00", "1991-01-28 23:32:00", 2, 1, 0, 1, 16)
    checkSummary("gap.end_summary", "gap.end",
      "1991-01-27 23:32:00", "1991-01-29 23:32:00", 0, 0, 0, 0, 5)
    checkSummary("target.end_summary", "target.end",
      "1991-01-29 23:32:00", "1991-01-31 02:15:00", 0, 1, 0, 1, 7)

    // Column order parity (reference: query.py:155-159).
    assert(result.columns.toSeq == Seq(
      "subject_id", "index_timestamp", "label", "trigger",
      "input.end_summary", "input.start_summary", "gap.end_summary", "target.end_summary"))

    spark.conf.unset("spark.graft.checkpoint")
  }

  test("flagship identical under local and reliable checkpoint modes") {
    val cfg = TaskConfig.fromYaml(taskYaml)
    val csvPath = Files.createTempFile("graft_e2e3", ".csv")
    Files.writeString(csvPath, predicatesCsv)
    val plainDf = PredicateFrames.directLoad(
      spark, csvPath.toString, cfg.plainPredicates.keys.toSeq, Some("M/d/yyyy H:mm"))
    val predsDf = PredicateFrames.finalize(cfg, plainDf).cache()

    spark.conf.set("spark.graft.checkpoint", "local")
    val local = snap(Query(cfg, predsDf))
    val dir = Files.createTempDirectory("graft-e2e-ckpt")
    spark.conf.set("spark.graft.checkpoint", "reliable")
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    val reliable =
      try snap(Query(cfg, predsDf))
      finally {
        spark.conf.unset("spark.graft.checkpoint")
        spark.conf.unset("spark.graft.checkpoint.dir")
        deleteTree(dir)
      }
    assert(local.nonEmpty && local == reliable)
  }

  test("query is idempotent (tests/test_extract_subtree_idempotency.py)") {
    val cfg = TaskConfig.fromYaml(taskYaml)
    val csvPath = Files.createTempFile("graft_e2e2", ".csv")
    Files.writeString(csvPath, predicatesCsv)
    val plainDf = PredicateFrames.directLoad(
      spark, csvPath.toString, cfg.plainPredicates.keys.toSeq, Some("M/d/yyyy H:mm"))
    val predsDf = PredicateFrames.finalize(cfg, plainDf).cache()

    spark.conf.set("spark.graft.checkpoint", "off")
    val r1 = Query(cfg, predsDf).collect()
    val r2 = Query(cfg, predsDf).collect()
    assert(r1.toSeq == r2.toSeq)
    spark.conf.unset("spark.graft.checkpoint")
  }
}
