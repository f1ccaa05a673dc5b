package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.config.TaskConfig
import graft.sources.PredicateFrames

/** End-to-end task runner — the `aces-cli` equivalent
  * (reference: src/aces/run.py:121-180).
  *
  * Usage:
  *   runMain graft.Run --config task.yaml --data events.parquet \
  *     [--predicates overrides.yaml] [--standard meds|direct|esgpt] \
  *     [--ts-format "M/d/yyyy H:mm"] [--output out.parquet] [--window-stats dir]
  *
  * For `--standard esgpt`, `--data` is an ESGPT dataset directory
  * (subjects_df/events_df/dynamic_measurements_df parquet + config.json).
  *
  * `--data` accepts a file, directory, or glob — sharded datasets
  * (reference: expand_shards.py) are read as partitions of one distributed
  * scan rather than per-shard processes. `--shard-mode per-shard` instead
  * mirrors the reference's Hydra-multirun layout exactly: one output file
  * per input shard at `<output>/<shard>.parquet`, shard names being
  * extension-less relative paths (train/0, tuning/1, …) as produced by
  * `expand_shards.py` — for pipelines whose downstream steps key on
  * per-shard files.
  *
  * Output: MEDS label schema for the `meds` standard (subject_id,
  * prediction_time, boolean_value, integer_value, float_value,
  * categorical_value; reference run.py:22-32), raw result otherwise.
  */
object Run {
  val usage: String =
    """Usage: graft.Run --config TASK.yaml --data PATH [options]
      |
      |Required:
      |  --config PATH        task configuration YAML
      |  --data PATH          input data: file, directory, or glob; an ESGPT
      |                       dataset directory for --standard esgpt
      |Options:
      |  --standard S         meds (default) | direct | esgpt
      |  --predicates PATH    predicates override/fleshing-out YAML
      |  --ts-format FMT      timestamp format for direct string timestamps
      |                       (Spark or Python strptime pattern)
      |  --output PATH        output parquet (default /tmp/graft_result.parquet)
      |  --shard-mode MODE    per-shard: one output per input shard at
      |                       <output>/<shard>.parquet (expand_shards naming)
      |  --window-stats DIR   also write the full per-window summary frame
      |
      |Hydra-compat form (aces-cli parity; `key=value` args):
      |  graft.Run [--multirun] cohort_dir=DIR cohort_name=TASK \
      |    data.standard=meds|direct|esgpt [data.path=PATH] \
      |    [data=sharded data.root=DIR data.shard=train/0,train/1] \
      |    [config_path=..] [predicates_path=..] [output_filepath=..] \
      |    [data.ts_format=..] [window_stats_dir=..] \
      |    [any.dotted.path=value ...]   # OmegaConf-style task-YAML overrides,
      |                                  # e.g. windows.target.end=start+36h
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.contains("--help") || args.contains("-h")) {
      println(usage)
      return
    }
    // Hydra-style invocation (`key=value` args, `aces-cli` parity) vs the
    // native flag CLI. Hydra mode only when EVERY arg is key=value (or the
    // multirun flag) — a native `--data /path/date=2024-06-01` flag value
    // containing '=' must not flip the whole invocation.
    val isHydra = args.forall(a =>
      a == "--multirun" || a == "-m" || (!a.startsWith("-") && a.contains("=")))
    if (isHydra) hydraMain(args)
    else runWithOpts(parseArgs(args))
  }

  /** `aces-cli` Hydra-compat entry: `key=value` overrides over the
    * reference's `_aces.yaml` defaults (reference: configs/_aces.yaml and
    * the configs/data group), including the interpolations
    * `config_path=${cohort_dir}/${cohort_name}.yaml`,
    * `output_filepath=${cohort_dir}/${cohort_name}${data._prefix}.parquet`,
    * and the `data=single_file|sharded` config group
    * (`data.path=${data.root}/${data.shard}.parquet`, `_prefix=/${shard}`).
    *
    * `--multirun`/`-m` with a comma-separated `data.shard` sweeps shards
    * exactly like Hydra multirun over `$(expand_shards ...)` output
    * (reference: tests/utils.py:96-130): one output per shard at
    * `${cohort_dir}/${cohort_name}/${shard}.parquet`.
    *
    * Any other `a.b.c=value` argument is an OmegaConf-style dotted
    * override merged into the task YAML itself
    * ([[graft.config.TaskConfig.applyOverrides]]) — the reference's
    * arbitrary-override grammar (`windows.target.end=start+36h`).
    */
  def hydraMain(args: Array[String]): Unit = {
    val multirun = args.contains("--multirun") || args.contains("-m")
    val kv = args
      .filterNot(a => a == "--multirun" || a == "-m")
      .map { a =>
        val parts = a.split("=", 2)
        require(parts.length == 2, s"Expected key=value argument, got: $a")
        parts(0) -> parts(1)
      }
      .toMap
    val cohortDir = kv.getOrElse("cohort_dir", "")
    val cohortName = kv.getOrElse("cohort_name", "")
    val configPath = kv.getOrElse("config_path", s"$cohortDir/$cohortName.yaml")
    val standard = kv.getOrElse("data.standard", sys.error("data.standard is required"))

    // Hydra parity (reference run.py:120-121): every key that is not a
    // launcher/config-group key is an OmegaConf-style dotted override into
    // the task YAML itself — `windows.target.end=start+36h`,
    // `trigger=discharge`, `predicates.buy.code=purchase`, … The merged
    // config goes through the normal fromYaml validation, so a typo'd
    // root key still fails with the unrecognized-key error.
    val launcherKeys = Set(
      "cohort_dir", "cohort_name", "config_path", "output_filepath",
      "predicates_path", "window_stats_dir", "data", "data.standard",
      "data.root", "data.shard", "data.path", "data.ts_format")
    val taskOverrides = kv.toSeq
      .filter { case (k, _) => !launcherKeys(k) && !k.startsWith("hydra.") }
      .sortBy(_._1)
    val effectiveConfigPath =
      if (taskOverrides.isEmpty) configPath
      else {
        val merged = graft.config.TaskConfig.applyOverrides(
          java.nio.file.Files.readString(java.nio.file.Paths.get(configPath)), taskOverrides)
        val tmp = java.nio.file.Files.createTempFile("graft_task_override_", ".yaml")
        tmp.toFile.deleteOnExit()
        java.nio.file.Files.writeString(tmp, merged)
        tmp.toString
      }

    // (shard name, data path, output _prefix) per run.
    val shards: Seq[(String, String, String)] =
      if (kv.get("data").contains("sharded")) {
        val root = kv.getOrElse("data.root", sys.error("data.root is required for data=sharded"))
        val spec = kv.getOrElse("data.shard", sys.error("data.shard is required for data=sharded"))
        // Post-shell values are literal shard names (Hydra sweeps the
        // comma list that `$(expand_shards ...)` printed).
        val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(multirun || names.size == 1,
          s"${names.size} shards given without --multirun")
        names.map(n => (n, s"$root/$n.parquet", s"/$n"))
      } else
        Seq(("", kv.getOrElse("data.path", sys.error("data.path is required")), ""))

    // One session for the whole (multi)run; runWithOpts leaves
    // caller-owned sessions running (and so does this, for tests).
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = session()
    if (shards.size > 1 && kv.contains("output_filepath"))
      // Hydra parity: an explicit literal output_filepath has no
      // ${data._prefix} interpolation, so every shard writes the same
      // file (last one wins) — as in the reference. Warn loudly.
      System.err.println(
        "[graft.Run] WARNING: explicit output_filepath with --multirun — " +
          "all shards write the same path; only the last shard's output survives. " +
          "Omit output_filepath to get per-shard ${cohort_dir}/${cohort_name}/<shard>.parquet.")
    try shards.foreach { case (shard, dataPath, prefix) =>
      val out = kv.getOrElse("output_filepath", s"$cohortDir/$cohortName$prefix.parquet")
      val opts = Map("config" -> effectiveConfigPath, "data" -> dataPath,
        "standard" -> standard, "output" -> out) ++
        kv.get("predicates_path").map("predicates" -> _) ++
        kv.get("data.ts_format").map("ts-format" -> _) ++
        kv.get("window_stats_dir").map(d => "window-stats" -> s"$d/$cohortName$prefix.parquet")
      if (shard.nonEmpty) println(s"[graft.Run] shard $shard")
      runWithOpts(opts)
    } finally if (!preexisting) spark.stop()
  }

  /** `SPARK_MASTER` (default `local[*]`) with `SPARK_GRAFT_CPUS` (default
    * 32) shuffle partitions.
    */
  private def session(): SparkSession =
    Sessions.local(Sessions.envCpus(32),
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[*]"))

  def runWithOpts(opts: Map[String, String]): Unit = {
    val configPath = opts.getOrElse("config", sys.error("--config is required"))
    val dataPath = opts.getOrElse("data", sys.error("--data is required"))
    val standard = opts.getOrElse("standard", "meds").toLowerCase
    val outPath = opts.getOrElse("output", "/tmp/graft_result.parquet")

    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = session()

    val cfg = TaskConfig.fromYaml(
      Files.readString(Paths.get(configPath)),
      opts.get("predicates").map(p => Files.readString(Paths.get(p))))

    def loadPlain(path: String) = standard match {
      case "direct" =>
        PredicateFrames.directLoad(
          spark, path, cfg.plainPredicates.keys.toSeq, opts.get("ts-format"))
      case "meds" =>
        PredicateFrames.fromMeds(spark.read.parquet(path), cfg.plainPredicates.toSeq)
      case "esgpt" =>
        PredicateFrames.fromEsgptDir(spark, path, cfg.plainPredicates.toSeq)
      case other =>
        sys.error(s"Invalid data standard: $other. Options are 'direct', 'MEDS', 'ESGPT'.")
    }

    def runOne(path: String, out: String, shard: Option[String] = None): Long = {
      val query = Query(cfg, PredicateFrames.finalize(cfg, loadPlain(path)))
      // With stats, the query runs once: into the stats parquet, which the
      // labels are then read from. Per-shard runs each get their own stats
      // subdirectory; a shared mode("overwrite") target would keep only the
      // last shard's stats.
      val result = opts.get("window-stats").fold(query) { dir =>
        val statsDir = shard.fold(dir)(s => s"$dir/$s")
        query.write.mode("overwrite").parquet(statsDir)
        spark.read.parquet(statsDir)
      }
      val coerced = if (standard == "meds") Query.toMedsLabels(result) else result
      coerced.write.mode("overwrite").parquet(out)
      spark.read.parquet(out).count()
    }

    if (opts.get("shard-mode").contains("per-shard")) {
      val shards = expandShards(dataPath)
      require(shards.nonEmpty, s"No parquet shards found under $dataPath")
      shards.foreach { case (name, path) =>
        val n = runOne(path, s"$outPath/$name.parquet", Some(name))
        println(s"[graft.Run] shard $name: wrote $n rows to $outPath/$name.parquet")
      }
    } else {
      val n = runOne(dataPath, outPath)
      println(s"[graft.Run] wrote $n rows to $outPath")
    }
    if (!preexisting) spark.stop()
  }

  /** Enumerate the shards of a dataset directory: every `*.parquet`
    * file/dir below `root`, named by its extension-less relative path —
    * the reference's shard naming (`expand_shards.py:9-76`: train/0,
    * tuning/1, …). A plain file is its own single shard.
    */
  def expandShards(root: String): Seq[(String, String)] = {
    val rootFile = new java.io.File(root)
    if (!rootFile.isDirectory) return Seq(rootFile.getName.replaceAll("\\.[^.]+$", "") -> root)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
      else if (f.getName.endsWith(".parquet")) Seq(f) // parquet dataset dir
      else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(rootFile).map { f =>
      val rel = rootFile.toPath.relativize(f.toPath).toString
      rel.replaceAll("\\.parquet$", "") -> f.getPath
    }
  }

  /** Reference `expand_shards` parity (expand_shards.py:9-76): `prefix/N`
    * or `prefix_N` expands to `prefix{/|_}0 .. N-1`; a directory expands to
    * the extension-less relative paths of every parquet shard beneath it.
    */
  def expandShardNames(args: Seq[String]): Seq[String] = {
    val pat = "(.+)([/_])(\\d+)".r
    args.flatMap { arg =>
      if (new java.io.File(arg).isDirectory) expandShards(arg).map(_._1)
      else arg match {
        case pat(prefix, delim, num) => (0 until num.toInt).map(i => s"$prefix$delim$i")
        case _ => throw new IllegalArgumentException(s"Invalid shard format: $arg")
      }
    }
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}
