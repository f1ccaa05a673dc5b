package graft

import org.apache.spark.sql.functions._

import graft.config.{CodeEq, PlainPredicateDef}
import graft.operators.Constraints
import graft.sources.PredicateFrames

/** Loader tests ported from the reference's predicates doctests. */
class PredicateFramesSpec extends SparkSpec {

  test("direct loader accepts Python strptime formats (run.py data configs)") {
    import spark.implicits._
    val raw = Seq((1L, "12/1/1989 12:03", 1L)).toDF("subject_id", "timestamp", "admission")
    val out = PredicateFrames.directFrom(raw, Seq("admission"), Some("%m/%d/%Y %H:%M"))
    assert(snap(out) == Seq("1|1989-12-01 12:03:00|1"))
    assert(PredicateFrames.normalizeTsFormat("%Y-%m-%d %H:%M:%S.%f") == "yyyy-M-d H:mm:ss.SSSSSS")
  }

  test("MEDS loader: derive, collapse, static rows (predicates.py:245-268)") {
    import spark.implicits._
    val raw = Seq(
      (1L, Some("1989-01-01 00:00"), "admission"),
      (1L, Some("1989-01-01 01:00"), "discharge"),
      (1L, Some("1989-01-01 01:00"), "discharge"),
      (2L, Some("1989-01-01 02:00"), "admission"),
      (3L, None: Option[String], "gender//male")
    ).toDF("subject_id", "time", "code")
      .withColumn("time", to_timestamp(col("time")))

    val out = PredicateFrames.fromMeds(
      raw,
      Seq(
        "discharge" -> PlainPredicateDef(CodeEq("discharge")),
        "male" -> PlainPredicateDef(CodeEq("gender//male"), static = true)))

    assert(snap(out) == Seq(
      "1|1989-01-01 00:00:00|0|0",
      "1|1989-01-01 01:00:00|2|0",
      "2|1989-01-01 02:00:00|0|0",
      "3|null|0|1"
    ).sorted)
  }

  test("collapse: skew-safe and direct modes produce identical frames") {
    import spark.implicits._
    val raw = (1 to 500).map { i =>
      (i % 7L, f"1989-01-01 ${i % 24}%02d:00", (i % 3).toLong, 1L)
    }.toDF("subject_id", "timestamp", "a", "b")
      .withColumn("timestamp", to_timestamp(col("timestamp")))

    spark.conf.set("spark.graft.collapse", "skew-safe")
    val skewSafe =
      try snap(PredicateFrames.collapse(raw, Seq("a", "b")))
      finally spark.conf.unset("spark.graft.collapse")
    spark.conf.set("spark.graft.collapse", "direct")
    val direct =
      try snap(PredicateFrames.collapse(raw, Seq("a", "b")))
      finally spark.conf.unset("spark.graft.collapse")
    // default = adaptive; on a tiny in-memory frame it must shortcut to
    // direct without a sampling job, and match both forced modes.
    val adaptive = snap(PredicateFrames.collapse(raw, Seq("a", "b")))
    assert(skewSafe.nonEmpty && skewSafe == direct && direct == adaptive)
  }

  test("adaptive collapse decides from sampled skew and duplication") {
    import spark.implicits._
    def frame(rows: Seq[(Long, String)]) =
      rows.toDF("subject_id", "timestamp")
        .withColumn("timestamp", to_timestamp(col("timestamp")))
        .withColumn("a", lit(1L))
    // Deterministic decisions on tiny frames: disable the size shortcut
    // and sample everything.
    def decide(df: org.apache.spark.sql.DataFrame) =
      PredicateFrames.chooseCollapseMode(df, smallInputBytes = 0L, sampleFraction = 1.0)
    val uniform = frame((1 to 2000).map(i => (i.toLong, f"1989-01-01 ${i % 24}%02d:00")))
    assert(decide(uniform) == "direct")

    // One subject owns ~half the rows → hash(subject) exchange straggles.
    val skewed = frame((1 to 2000).map(i =>
      (if (i % 2 == 0) 42L else i.toLong, f"1989-01-01 ${i % 24}%02d:00")))
    assert(decide(skewed) == "skew-safe")

    // Heavy same-instant duplication → full-key map-side combine pays.
    val dupes = frame((1 to 2000).map(i => ((i % 100).toLong, "1989-01-01 00:00")))
    assert(decide(dupes) == "skew-safe")
  }

  test("ESGPT loader: 3-table join + static rows (predicates.py:312-365)") {
    import spark.implicits._
    val subjects = Seq((1L, "A123", "brown"), (2L, "B456", "blue"))
      .toDF("subject_id", "MRN", "eye_colour")
    val events = Seq(
      (1L, 1L, "2021-01-01 00:00", "adm"),
      (2L, 1L, "2021-01-01 12:00", "dis"),
      (3L, 2L, "2021-01-02 00:00", "adm"),
      (4L, 2L, "2021-01-02 12:00", "obs"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
      .withColumn("timestamp", to_timestamp(col("timestamp")))
    val meas = Seq(
      (1L, Some(150.0), None: Option[String], None: Option[Double]),
      (1L, None: Option[Double], Some("K"), Some(5.1)),
      (2L, Some(120.0), None: Option[String], None: Option[Double]),
      (2L, None: Option[Double], Some("K"), Some(3.8)),
      (4L, Some(177.0), None: Option[String], None: Option[Double]))
      .toDF("event_id", "HR", "lab", "lab_val")

    val out = PredicateFrames.fromEsgpt(
      subjects, events, meas,
      valueColumns = Map("high_HR" -> "HR", "high_Potassium" -> "lab_val"),
      predicates = Seq(
        "is_adm" -> PlainPredicateDef(CodeEq("event_type//adm")),
        "is_dis" -> PlainPredicateDef(CodeEq("event_type//dis")),
        "high_HR" -> PlainPredicateDef(CodeEq("HR"), valueMin = Some(140)),
        "high_Potassium" -> PlainPredicateDef(CodeEq("lab//K"), valueMin = Some(5.0)),
        "eye_colour" -> PlainPredicateDef(CodeEq("eye_colour//brown"), static = true)))

    assert(snap(out) == Seq(
      "1|null|0|0|0|0|1",
      "2|null|0|0|0|0|0",
      "1|2021-01-01 00:00:00|1|0|1|1|0",
      "1|2021-01-01 12:00:00|0|1|0|0|0",
      "2|2021-01-02 00:00:00|1|0|0|0|0",
      "2|2021-01-02 12:00:00|0|0|1|0|0"
    ).sorted)
  }

  test("static variable filter (constraints.py:135-170)") {
    import spark.implicits._
    val df = Seq(
      (1L, None: Option[String], 0L, 1L),
      (1L, Some("1989-12-01 12:03"), 1L, 0L),
      (1L, Some("1989-12-02 05:17"), 4L, 0L),
      (2L, None: Option[String], 3L, 0L),
      (2L, Some("1989-12-01 13:14"), 3L, 0L)
    ).toDF("subject_id", "ts", "is_A", "male")
      .withColumn("timestamp", to_timestamp(col("ts"))).drop("ts")
      .select("subject_id", "timestamp", "is_A", "male")

    val out = Constraints.checkStaticVariables(Seq("male"), df)
    assert(out.columns.toSeq == Seq("subject_id", "timestamp", "is_A"))
    assert(snap(out) == Seq(
      "1|1989-12-01 12:03:00|1",
      "1|1989-12-02 05:17:00|4"
    ).sorted)

    intercept[IllegalArgumentException](Constraints.checkStaticVariables(Seq("female"), df))
  }

  test("derived predicates referencing statics propagate the static row value (predicates.py:722-736)") {
    import spark.implicits._
    val yaml =
      """predicates:
        |  lab: { code: LAB }
        |  male_lab: { expr: "and(lab, male)" }
        |patient_demographics:
        |  male: { code: MALE }
        |trigger: lab
        |windows:
        |  w:
        |    start: null
        |    end: trigger + 24h
        |    start_inclusive: True
        |    end_inclusive: True
        |    has: { male_lab: "(1, None)" }
        |""".stripMargin
    val cfg = graft.config.TaskConfig.fromYaml(yaml)
    val plain = Seq(
      (1L, None: Option[String], 0L, 1L), // static row: subject 1 is male
      (1L, Some("2020-01-01 00:00"), 1L, 0L),
      (2L, None: Option[String], 0L, 0L),
      (2L, Some("2020-01-02 00:00"), 1L, 0L)
    ).toDF("subject_id", "ts", "lab", "male")
      .withColumn("timestamp", to_timestamp(col("ts"))).drop("ts")
      .select("subject_id", "timestamp", "lab", "male")
    val out = PredicateFrames.finalize(cfg, plain)
    // male_lab must be 1 on subject 1's event row (male propagated from the
    // static row), 0 for subject 2.
    val vals = out.filter(col("timestamp").isNotNull)
      .select("subject_id", "male_lab").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals == Map(1L -> 1L, 2L -> 0L))
  }

  test("special predicates (predicates.py:761-788)") {
    import spark.implicits._
    val yaml =
      """predicates:
        |  a: { code: a }
        |trigger: _ANY_EVENT
        |windows:
        |  w:
        |    start: null
        |    end: trigger + 24h
        |    start_inclusive: True
        |    end_inclusive: True
        |    has: { _RECORD_START: "(None, 0)", _RECORD_END: "(None, 0)" }
        |""".stripMargin
    val cfg = graft.config.TaskConfig.fromYaml(yaml)
    val plain = Seq(
      (1L, "2020-01-01 00:00", 1L),
      (1L, "2020-01-02 00:00", 0L),
      (1L, "2020-01-03 00:00", 1L)
    ).toDF("subject_id", "ts", "a")
      .withColumn("timestamp", to_timestamp(col("ts"))).drop("ts")
      .select("subject_id", "timestamp", "a")
    val out = PredicateFrames.finalize(cfg, plain)
    assert(out.columns.toSeq ==
      Seq("subject_id", "timestamp", "a", "_ANY_EVENT", "_RECORD_START", "_RECORD_END"))
    assert(snap(out) == Seq(
      "1|2020-01-01 00:00:00|1|1|1|0",
      "1|2020-01-02 00:00:00|0|1|0|0",
      "1|2020-01-03 00:00:00|1|1|0|1"
    ).sorted)
  }
}
