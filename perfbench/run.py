"""Benchmark runner: builds the engine with the benchmark, generates the
seeded MEDS input, runs one workload in a JVM, checks its outputs and
prints the metrics, the last line being one JSON object.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

See perfbench/README.md for the workloads and metrics.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
FINGERPRINTS = os.path.join(BENCH, "fingerprints.json")
VERIFIED = os.path.join(WORK, "verified.json")
DATA_CACHE_KEEP = 4
JVM_TIMEOUT_S = 170

# Both workloads read a shard of the same size; see README.md for why.
WORKLOADS = {
    "meds_icu_mortality": dict(rows=800_000, task="icu_mortality_24h"),
    "meds_readmission_dense": dict(rows=800_000, task="readmission_dense"),
}

END_TO_END = {
    "setup_s": "s", "extract_s": "s", "rows_per_s": "M_rows/s",
}

SPANS = ["sources.fromMeds", "sources.finalize", "sources.writeBucketed", "Query.apply", "output.labels"]
ROLLUP_UNITS = {
    "wall_s": "s", "idle_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_cpu_s": "s", "core_util": "ratio", "gc_s": "s", "shuffle_write_mb": "MiB",
    "shuffle_read_mb": "MiB", "spill_mb": "MiB", "peak_exec_mem_mb": "MiB", "error_logs": "count",
}
PER_LAYER = {"config.fromYaml.wall_s": "s"}
PER_LAYER.update({f"{s}.{r}": u for s in SPANS for r, u in ROLLUP_UNITS.items()})
PER_LAYER.update({
    "sources.frame_rows": "count", "Query.peak_cached_mb": "MiB", "Query.anchor_yield": "ratio",
    "trace.extract_s": "s", "trace.span_coverage": "ratio", "jvm.peak_heap_mb": "MiB",
})

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-Xmx6g", "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the installation the spark-submit on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("perfbench: Spark not found; set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compiles engine + benchmark with sbt unless the sources are unchanged."""
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building engine and benchmark (sbt compile)")
    subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"],
                   cwd=BENCH, check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=840,
                   env=dict(os.environ, SPARK_HOME=spark_home()))
    with open(STAMP, "w") as f:
        f.write(digest)


def input_data(rows, seed):
    """Returns the cached MEDS shard for (rows, seed), generating it once."""
    sys.path.insert(0, BENCH)
    import gen_meds
    cache = os.path.join(WORK, "data")
    path = os.path.join(cache, f"meds_r{rows}_s{seed}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(cache, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    gen_meds.write(rows, seed, tmp)
    os.rename(tmp, path)
    entries = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    for old in entries[:-DATA_CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def load_json(path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def run_jvm(args, run_dir):
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=run_dir,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    return json.loads(lines[-1])


def icu_oracle_mismatches(data, labels):
    """Rows that differ between the engine's labels and an independent
    DuckDB formulation of tasks/icu_mortality_24h.yaml, and the oracle's
    row count."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    oracle = f"""
    WITH p AS (
      SELECT subject_id, CAST(time AS TIMESTAMP) AS ts,
        SUM(CASE WHEN regexp_matches(code, '^ICU_ADMISSION//') THEN 1 ELSE 0 END) AS icu_adm,
        SUM(CASE WHEN regexp_matches(code, '^ICU_DISCHARGE//') THEN 1 ELSE 0 END) AS icu_dis,
        SUM(CASE WHEN code = 'MEDS_DEATH' THEN 1 ELSE 0 END) AS death
      FROM read_parquet('{data}/*.parquet') WHERE time IS NOT NULL GROUP BY 1, 2),
    p2 AS (SELECT *, CASE WHEN icu_dis > 0 OR death > 0 THEN 1 ELSE 0 END AS stop FROM p),
    anchors AS (SELECT subject_id, ts AS trig FROM p2 WHERE icu_adm >= 1),
    checks AS (
      SELECT a.subject_id, a.trig,
        (SELECT COUNT(*) FROM p2 x WHERE x.subject_id = a.subject_id
           AND x.ts <= a.trig + INTERVAL 24 HOURS) AS n_any,
        (SELECT COALESCE(SUM(x.icu_adm), 0) + COALESCE(SUM(x.stop), 0) FROM p2 x
           WHERE x.subject_id = a.subject_id
           AND x.ts > a.trig AND x.ts <= a.trig + INTERVAL 48 HOURS) AS n_gap,
        (SELECT MIN(x.ts) FROM p2 x WHERE x.subject_id = a.subject_id
           AND x.stop > 0 AND x.ts >= a.trig + INTERVAL 48 HOURS) AS stop_ts
      FROM anchors a)
    SELECT c.subject_id, c.trig + INTERVAL 24 HOURS AS prediction_time,
      COALESCE((SELECT SUM(y.death) FROM p2 y WHERE y.subject_id = c.subject_id
        AND y.ts > c.trig + INTERVAL 48 HOURS AND y.ts <= c.stop_ts), 0) > 0 AS boolean_value
    FROM checks c WHERE c.n_any >= 5 AND c.n_gap = 0 AND c.stop_ts IS NOT NULL"""
    engine = f"""SELECT subject_id, CAST(prediction_time AS TIMESTAMP) AS prediction_time, boolean_value
                 FROM read_parquet('{labels}/*.parquet')"""
    bad_a, bad_b, total = con.execute(f"""SELECT
        (SELECT COUNT(*) FROM (({oracle}) EXCEPT ALL ({engine}))),
        (SELECT COUNT(*) FROM (({engine}) EXCEPT ALL ({oracle}))),
        (SELECT COUNT(*) FROM ({oracle}))""").fetchone()
    return bad_a + bad_b, total


def summarize_trace(layers, extract_s, op_s, peak_heap_mb):
    """Per-layer metrics: for each span rollup, the median over the timed
    operations (the ingest and the extractions) that ran the span."""
    def med(name):
        vals = [op[name] for op in layers if name in op]
        return statistics.median(vals) if vals else 0.0
    metrics = {name: med(name) for name in PER_LAYER}
    metrics["Query.peak_cached_mb"] = med("Query.apply.peak_cached_mb")
    metrics["Query.anchor_yield"] = statistics.median(
        op["Query.cohort_rows"] / op["Query.anchors"] for op in layers if op.get("Query.anchors"))
    metrics["trace.extract_s"] = statistics.median(extract_s)
    metrics["jvm.peak_heap_mb"] = peak_heap_mb
    metrics["trace.span_coverage"] = statistics.median(
        sum(v for k, v in op.items() if k.endswith(".wall_s")) / s for op, s in zip(layers, op_s))
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found; run from a repository checkout")
    wl = WORKLOADS[a.workload]

    build()
    data = input_data(wl["rows"], a.seed)
    key = f"{a.workload}/{a.seed}/{wl['rows']}"
    recorded = load_json(FINGERPRINTS).get(key) or load_json(VERIFIED).get(key)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    problems = []
    try:
        raw = run_jvm([
            "--data", data, "--task", os.path.join(BENCH, "tasks", f"{wl['task']}.yaml"),
            "--work", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
        ] + (["--expect", recorded] if recorded else []), run_dir)
        if raw["setup_failed"]:
            problems.append("a warm-up extraction gave empty or non-unique labels")
        if not recorded and raw["failed"] == 0:
            # First run of this seed: check the labels independently where
            # an oracle exists, then record the fingerprint.
            if wl["task"] == "icu_mortality_24h":
                t0 = time.time()
                bad, total = icu_oracle_mismatches(data, os.path.join(run_dir, "out", "labels.parquet"))
                log(f"DuckDB oracle: {total} rows, {bad} mismatched ({time.time() - t0:.1f} s)")
                if bad:
                    problems.append(f"{bad} label rows differ from the DuckDB oracle")
            if not problems:
                verified = load_json(VERIFIED)
                verified[key] = raw["fingerprint"]
                with open(VERIFIED, "w") as f:
                    json.dump(verified, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")

    extract_s = statistics.median(raw["extract_s"])
    if a.trace:
        metrics = summarize_trace(raw["layers"], raw["extract_s"], raw["op_s"], raw["peak_heap_mb"])
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(raw["setup_s"]),
            "extract_s": extract_s,
            "rows_per_s": raw["rows"] / 1e6 / extract_s,
        }
        units = END_TO_END
    for name, v in metrics.items():
        print(f"{name:32s} {v:14.4f} {units[name]}")
    print(f"{raw['rows']} input rows, {raw['cores']} cores, {len(raw['extract_s'])} extractions, "
          f"set-ups {' '.join(f'{x:.2f}' for x in raw['setup_s'])} s, "
          f"loadavg {raw['loadavg'][0]:.2f} -> {raw['loadavg'][1]:.2f}, fingerprint {raw['fingerprint']}")
    if not a.trace:
        print(f"rows_per_s {metrics['rows_per_s']:.3f} M rows/s on {raw['cores']} cores; the reference "
              "reads 0.22-0.44 M rows/s per task on 36 cores over an 80.5M-row shard (BASELINE.md)")
    print(json.dumps({
        "correct": not problems and raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
