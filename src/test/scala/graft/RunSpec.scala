package graft

import java.nio.file.{Files, Paths}

/** CLI-level golden test: `graft.Run.main` on the direct-standard e2e
  * fixture must reproduce the reference CLI's output (the harness analogue
  * of tests/utils.py:76-163 `cli_test`).
  */
class RunSpec extends SparkSpec {

  test("Run.main reproduces the e2e golden row from CSV via CLI args") {
    // Reuse the fixture from EndToEndSpec via its source files.
    val e2e = new EndToEndSpec
    val dir = Files.createTempDirectory("graft_run")
    val csv = dir.resolve("data.csv")
    val yaml = dir.resolve("task.yaml")
    Files.writeString(csv, e2e.predicatesCsvText)
    Files.writeString(yaml, e2e.taskYamlText)
    val out = dir.resolve("out.parquet").toString

    // ensure the shared test session is what Run.getOrCreate picks up
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    Run.main(Array(
      "--config", yaml.toString,
      "--data", csv.toString,
      "--standard", "direct",
      "--ts-format", "M/d/yyyy H:mm",
      "--output", out))

    val result = spark.read.parquet(out)
    assert(result.count() == 1)
    val row = result.head()
    assert(row.getAs[Long]("subject_id") == 1L)
    assert(row.getAs[java.sql.Timestamp]("index_timestamp") ==
      java.sql.Timestamp.valueOf("1991-01-28 23:32:00"))
    assert(row.getAs[Long]("label") == 0L)
  }

  test("expandShardNames ports the reference doctests (expand_shards.py:28-55)") {
    assert(Run.expandShardNames(Seq("train/4", "val/IID/1", "val/prospective/1")) ==
      Seq("train/0", "train/1", "train/2", "train/3", "val/IID/0", "val/prospective/0"))
    assert(Run.expandShardNames(Seq("data/data_4", "data/test_4")) ==
      Seq("data/data_0", "data/data_1", "data/data_2", "data/data_3",
        "data/test_0", "data/test_1", "data/test_2", "data/test_3"))
    intercept[IllegalArgumentException](Run.expandShardNames(Seq("train.invalid")))
    // Directory form: extension-less relative parquet paths.
    val dir = Files.createTempDirectory("graft_expand")
    Files.createDirectories(dir.resolve("evens/0"))
    Seq("1.parquet", "3.parquet", "evens/0/file_0.parquet", "4.json")
      .foreach(f => Files.writeString(dir.resolve(f), ""))
    assert(Run.expandShardNames(Seq(dir.toString)).sorted ==
      Seq("1", "3", "evens/0/file_0"))
  }

  test("Run --help prints usage (tests/test_help_message.py)") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Run.main(Array("--help")))
    assert(buf.toString.contains("--config") && buf.toString.contains("--standard"))
  }

  test("per-shard output mode mirrors expand_shards naming (expand_shards.py)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._

    // Two MEDS shards under train/, subjects disjoint (the MEDS sharding
    // invariant), one trivial click->purchase task.
    val dir = Files.createTempDirectory("graft_shards")
    val events = Seq(
      (1L, "2024-01-01 10:00:00", "click", 0.0f),
      (1L, "2024-01-01 10:30:00", "purchase", 1.0f),
      (2L, "2024-01-02 09:00:00", "click", 0.0f),
      (2L, "2024-01-02 11:00:00", "click", 0.0f))
      .toDF("subject_id", "time", "code", "numeric_value")
      .withColumn("time", to_timestamp(col("time")))
    events.filter(col("subject_id") === 1).coalesce(1)
      .write.parquet(dir.resolve("data/train/0.parquet").toString)
    events.filter(col("subject_id") === 2).coalesce(1)
      .write.parquet(dir.resolve("data/train/1.parquet").toString)

    val yaml = dir.resolve("task.yaml")
    Files.writeString(yaml,
      """predicates:
        |  click: { code: click }
        |  purchase: { code: purchase }
        |trigger: click
        |windows:
        |  target:
        |    start: trigger
        |    end: start + 24h
        |    start_inclusive: False
        |    end_inclusive: True
        |    label: purchase
        |    index_timestamp: end
        |""".stripMargin)

    def run(out: String, extra: String*): Unit = Run.main(Array(
      "--config", yaml.toString,
      "--data", dir.resolve("data").toString,
      "--standard", "meds",
      "--shard-mode", "per-shard",
      "--output", out) ++ extra)
    val outDir = dir.resolve("out").toString
    run(outDir)
    val statsDir = dir.resolve("stats").toString
    val statsOut = dir.resolve("out_stats").toString
    run(statsOut, "--window-stats", statsDir)

    assert(Run.expandShards(dir.resolve("data").toString).map(_._1) ==
      Seq("train/0", "train/1"))
    val s0 = spark.read.parquet(s"$outDir/train/0.parquet")
    val s1 = spark.read.parquet(s"$outDir/train/1.parquet")
    assert(s0.select("subject_id").distinct().collect().map(_.getLong(0)).toSet == Set(1L))
    assert(s1.select("subject_id").distinct().collect().map(_.getLong(0)).toSet == Set(2L))
    assert(s0.filter(col("boolean_value")).count() == 1) // subj 1 purchased in window
    assert(s1.filter(col("boolean_value")).count() == 0)

    // --window-stats: each shard's stats are that shard's Query rows and
    // columns, and its labels are those of the run without stats.
    val cfg = graft.config.TaskConfig.fromYaml(Files.readString(yaml))
    Seq("train/0", "train/1").foreach { shard =>
      val events = spark.read.parquet(dir.resolve(s"data/$shard.parquet").toString)
      val query = Query(cfg, graft.sources.PredicateFrames.finalize(cfg,
        graft.sources.PredicateFrames.fromMeds(events, cfg.plainPredicates.toSeq)))
      val stats = spark.read.parquet(s"$statsDir/$shard")
      assert(stats.columns.toSeq == query.columns.toSeq, shard)
      assert(snap(stats).nonEmpty && snap(stats) == snap(query), shard)
      assert(snap(spark.read.parquet(s"$statsOut/$shard.parquet")) ==
        snap(spark.read.parquet(s"$outDir/$shard.parquet")), shard)
    }
  }
}
