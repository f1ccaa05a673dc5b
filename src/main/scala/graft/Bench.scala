package graft

import graft.harness.QueryCatalog

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver.
  *
  * Queries are forced with the `noop` sink (full materialization of every
  * column); a bare `count()` would let Spark prune projections and
  * under-report the work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus(32)
    val spark = Sessions.local(cpus)

    val names = QueryCatalog.benchNames
    val fns = QueryCatalog.queries

    // Warm-up: JIT + file listing across the widest code path (the
    // flagship exercises scans, collapse, windows, joins, checkpoints).
    // A warm-up failure is a loud signal the flagship itself is broken —
    // surface the stack instead of letting the timed run print -1 mutely.
    try fns("aces_flagship")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARM-UP FAILED — flagship is broken: $e")
      e.printStackTrace()
    }

    // Noise evidence: this box is shared, and two consecutive driver
    // rounds recorded contended numbers that misrepresented the build.
    // Stamp the artifact with the 1-minute system loadavg before and
    // after the timed runs, plus each query's best-of-N spread — any
    // reader can self-adjudicate a suspicious total (loadavg >> core
    // count or spreads of tens of percent = contention, not regression).
    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadavg()

    // Best of 2 runs per query, ESCALATING to best of 5 under contention:
    // the minimum is the standard noise-robust estimator and every run is
    // a full end-to-end execution (no cross-run caches — Query caches
    // nothing), but contended runs can all be slow (BENCH_r07 recorded
    // 6-12x phantom regressions at loadavg 10+, and BENCH_r09 shipped a
    // 66.9 s ivfpq outlier next to a 10.5 s minimum). So sampling
    // continues — up to best of 5 — while the samples still contain an
    // unexplained >3x outlier relative to the current minimum, or while
    // the first pass started contended (loadavg > cores/4 or spread >
    // 1.0): each extra sample is one more chance for a quiet window the
    // minimum can latch onto. Every raw run is emitted (`raw_runs`)
    // TOGETHER with the loadavg observed at that run's start
    // (`run_loadavg`), so a surviving outlier is self-explaining from the
    // artifact alone — a 3x raw spike next to a loadavg spike is box
    // contention, not a regression. A query that failed ANY run reports
    // -1: a flaky query must not produce a clean-looking timing.
    val escalateLoad = cpus.toDouble / 4
    val maxRuns = 5
    val warmupSet = QueryCatalog.warmupNames.toSet

    // Cross-round check: the within-round outlier rule can't catch "both
    // runs slow" (r10's text_langid_trigram read 16.8/18.4 s at low
    // internal spread; a quiet-box re-probe matched the prior round's
    // 4.9 s). So ALSO escalate while this round's minimum exceeds 1.5x
    // the same entry's minimum in the previous round's committed
    // artifact (the highest-numbered BENCH_r*.json in cwd, or
    // SPARK_GRAFT_PREV_BENCH). New entries have no prior — never
    // escalated by this rule; a real regression keeps its slow reading
    // after 5 quiet samples and stays visible.
    // Resolution order: explicit override → the committed BENCH_FLOORS
    // .json (per-entry quiet-box minima, updated ONLY by loadavg-vetted
    // readings that beat the standing floor — the driver's contended
    // sweeps rewrite BENCH_LOCAL.json, and in r15 one such sweep
    // replaced the strictest committed floors and loosened this very
    // gate, so the floors now live in a file the sweep never touches) →
    // BENCH_LOCAL.json (this Bench's OWN full output line from the
    // previous round) → the newest driver-side BENCH_r*.json (a wrapper
    // whose `tail` is the LAST N chars of the sbt log — best-effort
    // fallback only).
    def minsIn(p: java.nio.file.Path): Map[String, Double] = {
      val txt = java.nio.file.Files.readString(p)
      val qsec = "\"queries\":\\{([^}]*)\\}".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(qsec)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val floorsPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS", "BENCH_FLOORS.json"))
    val prevMins: Map[String, Double] = {
      val candidates =
        sys.env.get("SPARK_GRAFT_PREV_BENCH").map(java.nio.file.Paths.get(_)).toSeq ++
          Seq(floorsPath, java.nio.file.Paths.get("BENCH_LOCAL.json")) ++ {
            val rx = "BENCH_r(\\d+)\\.json".r
            Option(new java.io.File(".").listFiles()).toSeq.flatten
              .flatMap(f => rx.findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
              .sortBy(-_._1).map(_._2.toPath)
          }
      candidates.filter(java.nio.file.Files.exists(_)).map(minsIn)
        .find(_.nonEmpty).getOrElse(Map.empty)
    }
    def onceFor(name: String): Double =
      try {
        val t0 = System.nanoTime()
        fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); -1.0 }
    val results = names.map { name =>
      def once(): Double = onceFor(name)
      // Fit-heavy entries get ONE untimed warm-up: first-execution JIT of
      // the iterative fit loop (and index/model persistence for the _idx
      // serving entries) otherwise leaks into the timed best-of-N — r8's
      // ivfpq raw runs [52.7, 12.2, 6.1] are warm-up decay, not work.
      if (warmupSet(name)) once()
      def sample(): (Double, Double) = { val l = loadavg(); (once(), l) }
      var runs = Vector(sample(), sample())
      def vals = runs.map(_._1)
      def outlier = vals.max > 3 * math.max(vals.min, 1e-9)
      val firstContended = {
        val spread2 = (vals.max - vals.min) / math.max(vals.min, 1e-9)
        runs.head._2 > escalateLoad || spread2 > 1.0
      }
      def crossRoundSlow = prevMins.get(name)
        .exists(p => p > 0 && vals.min > 1.5 * p)
      while (runs.length < maxRuns && vals.forall(_ >= 0) &&
        (outlier || crossRoundSlow || (runs.length == 2 && firstContended)))
        runs = runs :+ sample()
      if (runs.length > 2)
        System.err.println(
          f"[bench] $name: contention escalation -> best of ${runs.length} " +
            f"(outlier=$outlier, crossRoundSlow=$crossRoundSlow, " +
            f"first-pass loadavg ${runs.head._2}%.1f)")
      (name, if (vals.exists(_ < 0)) -1.0 else vals.min, vals, runs.map(_._2))
    }
    // DEFERRED RETRY: a FULLY-contended window defeats within-sweep
    // escalation — all 5 samples slow with loadavg just under the
    // escalation cutoff (r13's aces_readmission shipped 2.18 s vs a
    // 0.88 s quiet floor that way). After the sweep, any entry whose
    // BEST run started above cores/8 gets re-queued: by then the rest
    // of the sweep has run and the box has had minutes to quiet. Each
    // retry waits up to 60 s for loadavg to fall under cores/8, then
    // takes two more timed samples; the overall minimum wins, and the
    // artifact lists the retried names so cross-round readers know
    // which minima were re-adjudicated.
    val retryLoad = cpus.toDouble / 8
    val retriedNames = scala.collection.mutable.ArrayBuffer[String]()
    val finalResults = results.map { case r @ (name, v, vals, loads) =>
      val bestIdx = vals.indexOf(vals.min)
      if (v < 0 || loads.isEmpty || loads(bestIdx) <= retryLoad) r
      else {
        var waitedMs = 0
        while (loadavg() > retryLoad && waitedMs < 60000) {
          Thread.sleep(5000); waitedMs += 5000
        }
        retriedNames += name
        val extra = Vector.fill(2) { val l = loadavg(); (onceFor(name), l) }
        val allVals = vals ++ extra.map(_._1)
        val allLoads = loads ++ extra.map(_._2)
        System.err.println(
          f"[bench] $name: deferred retry (best-run loadavg ${loads(bestIdx)}%.1f > " +
            f"$retryLoad%.1f) -> ${extra.map(e => f"${e._1}%.3f").mkString(", ")} " +
            f"at loadavg ${extra.map(e => f"${e._2}%.1f").mkString(", ")}")
        // The retry is ADDITIVE: the sweep already produced valid minima
        // (v >= 0 or we wouldn't be here), so a retry sample that itself
        // fails — on the very contention that triggered the retry — must
        // not convert a measured entry into a failure; it just
        // contributes nothing.
        (name, allVals.filter(_ >= 0).min, allVals, allLoads)
      }
    }
    val loadEnd = loadavg()
    val failed = finalResults.collect { case (k, v, _, _) if v < 0 => k }
    val qs = finalResults
      .map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Per-query spread of the N runs around the reported minimum,
    // (max-min)/min — the per-query noise the minimum filtered out.
    val spreads = finalResults
      .map { case (k, v, runs, _) =>
        val s = if (v <= 0) -1.0 else (runs.max - runs.min) / runs.min
        "\"" + k + "\":" + f"$s%.3f"
      }
      .mkString("{", ",", "}")
    // Every raw sample, so a suspicious minimum can be re-adjudicated
    // from the artifact alone (no re-run needed).
    val rawRuns = finalResults
      .map { case (k, _, runs, _) =>
        "\"" + k + "\":" + runs.map(r => f"$r%.3f").mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    // The 1-minute loadavg at the START of each raw run (parallel to
    // raw_runs): a raw outlier whose loadavg entry spikes is box
    // contention, adjudicated from the artifact alone.
    val runLoads = finalResults
      .map { case (k, _, _, loads) =>
        "\"" + k + "\":" + loads.map(l => f"$l%.2f").mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson,""" +
        f""""loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f,"run_spread":$spreads,"raw_runs":$rawRuns,""" +
        f""""run_loadavg":$runLoads,"retried":${retriedNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        f""""noise_note":"shared box; best-of-2, escalated up to best-of-5 while a >3x raw outlier persists, or the minimum exceeds 1.5x the entry's previous-round artifact minimum (cross-round check; tightened from 2.5x in r13 — warmups killed the JIT excuse, so 1.6-1.9x contended minima were sailing through), or first pass contended (loadavg > cores/4 or spread > 1.0); run_loadavg[i] is the 1-min loadavg at raw_runs[i]'s start — outliers coexisting with loadavg spikes are contention, not regressions; entries in `retried` had their best run start above cores/8 and were re-timed after the sweep once the box quieted (deferred retry, up to 60s wait + best-of-2 more)"}"""
    // The driver keeps only the last ~2000 chars of the sbt log and
    // parses that tail — every BENCH_r*.json through r14 recorded
    // "parsed": null because the full diagnostic line above (raw_runs +
    // run_loadavg + noise_note) is several KB and truncates mid-object.
    // So the artifact contract splits in two: BENCH_LOCAL.json (and one
    // early log line) carries the COMPLETE diagnostics for humans and
    // the cross-round prevMins reader, while the FINAL line the process
    // prints — after spark.stop(), on both streams, with logging
    // quiesced — is a COMPACT object (total + per-entry minima + failure
    // list, ~1 KB for 30 entries) that fits the tail whole, so the
    // driver's parse finally succeeds.
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson,"retried_n":${retriedNames.length},"detail":"BENCH_LOCAL.json"}"""
    spark.sparkContext.setLogLevel("ERROR")
    println(json)
    System.out.flush()
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    // FLOORS update — separate artifact from the sweep by design: a
    // floor only ever RATCHETS DOWN, and only on a loadavg-VETTED
    // reading (the winning run started below cores/8, the deferred-
    // retry bar), so a contended driver sweep can never loosen the
    // cross-round escalation gate by overwriting the strictest minima
    // on record (that is exactly what happened to BENCH_LOCAL.json in
    // r15). Entries with no vetted reading this sweep keep their
    // standing floor untouched.
    val standingFloors =
      if (java.nio.file.Files.exists(floorsPath)) minsIn(floorsPath)
      else Map.empty[String, Double]
    val vetted: Map[String, Double] = finalResults.flatMap {
      case (k, v, runs, loads) if v >= 0 =>
        val quiet = runs.zip(loads).collect {
          case (r, l) if r >= 0 && l <= retryLoad => r
        }
        if (quiet.isEmpty) None else Some(k -> quiet.min)
      case _ => None
    }.toMap
    val newFloors = (standingFloors.keySet ++ vetted.keySet).toSeq.sorted.map { k =>
      val merged = (standingFloors.get(k).toSeq ++ vetted.get(k).toSeq).min
      k -> merged
    }
    val lowered = newFloors.filter { case (k, v) =>
      standingFloors.get(k).forall(v < _) }.map(_._1)
    if (newFloors.toMap != standingFloors) {
      val floorsJson =
        """{"metric":"floors","unit":"sec","queries":""" +
          newFloors.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
            .mkString("{", ",", "}") +
          s""","note":"per-entry quiet-box minima; ratchets down only, on runs whose start loadavg <= cores/8; the cross-round 1.5x escalation gate reads THIS file, never the sweep output","updated":${
            lowered.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
      java.nio.file.Files.write(floorsPath, (floorsJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] floors updated (${lowered.size} lowered/new): " +
        lowered.mkString(", "))
    }
    spark.stop()
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
    System.err.println(compact)
    System.err.flush()
    println(compact)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
