#!/usr/bin/env python3
"""Benchmark of the `anonymize` CLI (graft.app.Main.run) on seeded workloads.

    python3 perfbench/run.py --workload anon_wide --seed 1 --seconds 10 --trace 0

Builds the repository and this package with sbt (once per source state) and
generates the workload's inputs from the seed.  `--trace 0` starts JVMs that
only build the session, for `setup_s`, then one JVM that runs `Main.run`
again and again: a few untimed warm-up exports, then timed ones until
`--seconds` have passed.  Each metric is a median.  `--trace 1` runs one JVM
that warms up the same way, then times one untraced and one traced export.
Outputs are checked with DuckDB after the timed region.  The last stdout
line is one JSON object:
`correct`, `attempted` (table exports), `failed` (table exports that failed
or failed a check) and `metrics`, the end-to-end metrics with `--trace 0` and
the per-layer metrics with `--trace 1`.  The exit code is non-zero when any
export or check failed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Half the cores: the JIT compiler and GC threads, busiest while the exports
# warm up, need the rest of the machine. local[N] with N = nproc is both
# slower and noisier on a small box.
CORES = max(1, (os.cpu_count() or 2) // 2)
HEAP = "4g"
PROC_TIMEOUT_S = 150
WARMUP_RUNS = 6  # the cold export and the next five: the JIT is still compiling
SETUP_PROCESSES = 2  # setup_s is the median of this many JVM starts per run
ADD_OPENS = [  # as build.sbt's javaOptions: Spark on JDK 17 outside spark-submit
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "run_rel": "ratio", "out_bytes_ratio": "ratio"}

PER_LAYER = {
    "config.load_s": "s", "app.resolve_tables_s": "s",
    "sources.list_s": "s", "sources.snapshot_plan_s": "s", "sources.read_plan_s": "s",
    "sources.files": "count", "sources.cdc_keep_ratio": "ratio",
    "pipeline.build_s": "s", "pipeline.queue_wait_s": "s", "pipeline.copy_s": "s",
    "pipeline.validate_s": "s",
    "sinks.write_s": "s", "sinks.write_p50_s": "s", "sinks.write_max_s": "s",
    "sinks.out_mb": "MB", "sinks.out_files": "count",
    **{f"fakegen.ns_per_row.{k}": "ns" for k in (
        "first_name", "last_name", "full_name", "company", "email", "address", "uuid",
        "phone", "multi_email")},
    "operators.transform_exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.plan_ms": "ms",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_busy_share": "ratio", "spark.input_mb": "MB",
    "spark.records_read": "count", "spark.records_written": "count",
    "spark.read_amplification": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.stage_skew": "ratio",
    **{f"self.{layer}_s": "s" for layer in (
        "config", "app", "sources", "pipeline", "sinks", "spark")},
    "trace.run_s": "s", "trace_overhead_ratio": "ratio",
    "process.run_s": "s", "process.cpu_s": "s", "process.peak_rss_mb": "MB",
}

# Span names whose summed durations are reported as `<name>_s`.
SPAN_SUMS = ["config.load", "app.resolve_tables", "sources.list", "sources.snapshot_plan",
             "sources.read_plan", "pipeline.build", "pipeline.copy", "pipeline.validate",
             "sinks.write"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def _stamp():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the repository and this package; return the runtime classpath."""
    main = os.path.join(REPO, "src", "main", "scala", "graft", "app", "Main.scala")
    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and os.path.isfile(main)):
        raise SystemExit("perfbench: no graft sources next to the benchmark; nothing to build")
    stamp, cp_file = _stamp(), os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    tmp = os.path.join(BUILD, "tmp")  # sbt's socket and JNA files stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                        "compile", "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


# ---- one JVM ------------------------------------------------------------------

def launch(cp, mode, man, out_dir, result, extra, deadline):
    """Run one fresh JVM; return its result object, or None if it failed."""
    tmp = os.path.join(man["root"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, **man["env"])
    env.pop("SKIP_VALIDATIONS", None)
    # -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp
    jvm = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cli = man["args"] + ["--output-dir", out_dir, "--master", f"local[{CORES}]",
                         "--parallelism", str(CORES)]
    log_path = result + ".log"
    with open(log_path, "w") as logf:
        cmd = jvm + ["-cp", cp, "perfbench.Cli", mode, f"{time.time():.6f}", result] + extra + cli
        proc = subprocess.Popen(cmd, cwd=man["root"], env=env, stdout=logf, stderr=logf)
        try:
            rc = proc.wait(timeout=max(5.0, min(PROC_TIMEOUT_S, deadline - time.time())))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            causes = [l for l in f if "Exception" in l and not l.lstrip().startswith("at ")]
        log(f"{mode} process failed ({rc}):\n" + "".join(causes[:8]))
        return None
    with open(result) as f:
        return json.load(f)


def versions(cp):
    spark = re.search(r"spark-core_[0-9.]+-([^/]+)\.jar", cp)
    jdk = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                         capture_output=True, text=True).stderr
    return {"spark": spark.group(1) if spark else None,
            "jdk": jdk.splitlines()[0] if jdk else None}


def out_stats(out_dir):
    n, size = 0, 0
    for d, _, fs in os.walk(out_dir):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


# ---- runs --------------------------------------------------------------------

def untraced(cp, man, seconds, deadline, con):
    """Set-up-only JVMs, then one JVM that exports again and again."""
    tables, root = list(man["tables"]), man["root"]
    setups = []
    for i in range(SETUP_PROCESSES - 1):
        res = launch(cp, "setup", man, os.path.join(root, f"setup{i}"),
                     os.path.join(root, f"setup{i}.json"), [], deadline)
        if res is None:
            return len(tables), len(tables), {}, 0
        setups.append(res["setup_s"])
    out = os.path.join(root, "out")
    res = launch(cp, "run", man, out, os.path.join(root, "res.json"),
                 [str(WARMUP_RUNS), str(seconds)], deadline)
    if res is None:
        return len(tables), len(tables), {}, 0
    log(f"setups {json.dumps(setups)}, exports {json.dumps(res)}")
    runs = len(res["run_s"])
    first, last = os.path.join(out, "0"), os.path.join(out, str(runs - 1))
    bad = check.check_output(con, man, first)
    for t, p in bad.items():
        log(f"check failed: {t}: {'; '.join(p)}")
    want = check.digests(con, man, first)
    diff = [t for t, d in check.digests(con, man, last).items() if d != want[t]]
    for t in diff:
        log(f"check failed: {t}: output digest differs between exports with one RNG_SEED")
    metrics = {
        "setup_s": statistics.median(setups + [res["setup_s"]]),
        "run_rel": _relative(res["run_s"], res["ref_s"]),
        "out_bytes_ratio": out_stats(first)[1] / man["input_bytes"],
    }
    # raw figures, for the information line only: they move with the machine
    med = {k: statistics.median(res[k][WARMUP_RUNS:])
           for k in ("run_s", "cpu_s", "ref_s", "ref_cpu_s")}
    man["facts"].update(med, rows_per_s=man["input_rows"] / med["run_s"],
                        peak_rss_mb=res["peak_rss_mb"])
    return len(tables) * runs, len(bad) + len(diff), metrics, runs - WARMUP_RUNS


def _relative(export, reference):
    """Median over the timed exports of each export's figure divided by the
    mean of the reference runs just before and just after it."""
    return statistics.median(
        export[i] / ((reference[i - 1] + reference[i]) / 2)
        for i in range(WARMUP_RUNS, len(export)))


def _self_times(spans):
    """Self time per span: its duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def traced(cp, man, deadline, con):
    tables = list(man["tables"])
    root = man["root"]
    spec = os.path.join(root, "kernels.tsv")
    with open(spec, "w") as f:
        for kind, (table, column) in sorted(man["kernels"].items()):
            f.write(f"kernel\t{kind}\t{_table_path(man, table)}\t{column}\n")
        # the first two configured tables: enough to see the projection's cost
        for t in [t for t, e in man["tables"].items() if not e.get("copy")][:2]:
            f.write(f"transform\t{t}\t{_table_path(man, t)}\n")
    spans_path = os.path.join(root, "spans.jsonl")
    out = os.path.join(root, "out")
    res = launch(cp, "traced", man, out, os.path.join(root, "res.json"),
                 [str(WARMUP_RUNS), spans_path, spec], deadline)
    if res is None:
        return len(tables), len(tables), {}
    plain, out = os.path.join(out, "plain"), os.path.join(out, "traced")
    bad = check.check_output(con, man, out)
    for t, p in bad.items():
        log(f"check failed: {t}: {'; '.join(p)}")
    got, want = check.digests(con, man, out), check.digests(con, man, plain)
    diff = [t for t in tables if got[t] != want[t]]
    for t in diff:
        log(f"check failed: {t}: traced output digest differs from the untraced run's")
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    self_s = _self_times(spans)
    m = {k: v for k, v in res.items() if k in PER_LAYER}
    for name in SPAN_SUMS:
        m[f"{name}_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == name)
    writes = sorted((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == "sinks.write")
    if writes:
        m["sinks.write_p50_s"] = statistics.median(writes)
        m["sinks.write_max_s"] = writes[-1]
    n_files, size = out_stats(out)
    m["sinks.out_files"], m["sinks.out_mb"] = n_files, size / 1e6
    if man["workload"] == "dms_cdc":
        rows = sum(int(got[t].split(":")[0]) for t in tables)
        m["sources.cdc_keep_ratio"] = rows / man["input_rows"]
    for layer in ("config", "app", "sources", "pipeline", "sinks", "spark"):
        m[f"self.{layer}_s"] = sum(self_s[s["id"]] for s in spans
                                   if s["name"].split(".")[0] == layer)
    m["process.run_s"] = res["base_run_s"]
    m["trace.run_s"] = res["run_s"]
    m["trace_overhead_ratio"] = res["run_s"] / res["base_run_s"]
    keep = os.path.join(WORK, "traces")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(spans_path, os.path.join(keep, f"{man['workload']}.spans.jsonl"))
    layers = {}
    for s in spans:
        layers[s["name"]] = layers.get(s["name"], 0.0) + self_s[s["id"]]
    with open(os.path.join(keep, f"{man['workload']}.self_s.json"), "w") as f:
        json.dump(layers, f, indent=1, sort_keys=True)
    return (WARMUP_RUNS + 2) * len(tables), len(bad) + len(diff), m


def _table_path(man, table):
    e = man["tables"][table]
    if e.get("cdc"):
        d = os.path.join(man["input_dir"], table)
        return ",".join(os.path.join(d, f) for f in sorted(os.listdir(d)) if f.startswith("LOAD"))
    return os.path.join(man["input_dir"], f"{table}.parquet")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + 150
    root = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        man = gen.GENERATORS[a.workload](root, a.seed)
        con = check.connect()
        if a.trace:
            attempted, failed, metrics = traced(cp, man, deadline, con)
            units, runs = PER_LAYER, 1
        else:
            attempted, failed, metrics, runs = untraced(cp, man, a.seconds, deadline, con)
            units = END_TO_END
        con.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "timed_exports": runs,
                      "cores": CORES, "nproc": os.cpu_count(), "heap": HEAP, **versions(cp),
                      "input_rows": man["input_rows"], "input_bytes": man["input_bytes"],
                      "input_files": man["input_files"], **man["facts"]}))
    correct = failed == 0 and len(metrics) > 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
