#!/usr/bin/env python3
"""Repository benchmark: builds the engine and runs one workload at local[4].

Usage (from the repository root):
    python3 perfbench/run.py --workload {analytics,serve,all} \
        --seed N --seconds S --trace {0,1}

Builds src/main/scala plus perfbench/src with perfbench/build.sh into
$CARGO_TARGET_DIR (default .bench_build), reusing the build while the
sources are unchanged. Each run gets a fresh directory under the build
directory for the warehouse, Spark scratch space, landing files,
checkpoints and tables; it is removed when the run ends. Prints every
metric with its unit, a stamp line, and as the last line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (`all` runs the
workloads in turn, each printing its own block). The full result, stamp
included, is also written to <build dir>/results/. Exits 1 when an output
check fails, 2 when the engine sources are missing, 3 when a run itself
fails. See perfbench/METRICS.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

WORKLOADS = ("analytics", "serve")

# setup_s and work_s are CPU seconds of the benchmark JVM (all threads);
# the wall-clock times are per-layer metrics under "wall." and the names
# METRICS.md lists
END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "heap_live_mb": "MiB",
}

FAMILIES = ("Relational", "Events", "Text", "Dedup", "Vectors", "Warehouse",
            "Validation", "Ml", "Multimodal", "TimeSeries", "Dashboard",
            "SqlDash", "Temporal", "Sampling", "Privacy")

PER_LAYER = {
    "wall.setup_s": "s",
    "wall.work_s": "s",
    "wall.op_ms_p50": "ms",
    "jvm.cpu_s": "s",
    "setup.session_s": "s",
    "setup.landing_s": "s",
    "setup.warm_s": "s",
    "error_rate": "ratio",
    "analytics_s": "s",
    **{f"queries.{f}.s": "s" for f in FAMILIES},
    "queries.define_s": "s",
    "queries.exec_s": "s",
    "pipeline.replay_rows_per_s": "rows/s",
    **{f"warehouse.stage_build_s.{s}": "s" for s in ("gold", "text")},
    "ingest_rows_per_s": "rows/s",
    "ingest_batch_ms_p50": "ms",
    "ingest_batch_ms_p90": "ms",
    "ingest_write_amp": "ratio",
    "validate.s": "s",
    "streaming.status_upsert_s": "s",
    "warehouse.gold_refresh_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.micro_batches": "count",
    "sources.commit.versions": "count",
    "sources.commit.files": "count",
    "sources.commit.live_bytes": "bytes",
    "warehouse.gold_rows": "count",
    "streaming.status_rows": "count",
    "dash_ms_p50": "ms",
    "dash_ms_p99": "ms",
    "sql_ms_p50": "ms",
    "sql_ms_p99": "ms",
    "refresh_ms_p50": "ms",
    "serve.publish_s": "s",
    "serve.requests.dash": "count",
    "serve.requests.sql": "count",
    "serve.sql_stale_reads": "count",
    "serve.computes": "count",
    "serve.cache_hit_ratio": "ratio",
    "serve.status.429": "count",
    "serve.status.408": "count",
    "serve.status.5xx": "count",
    "serve.generator_late_ms_p99": "ms",
    "spark.task_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.gc_s": "s",
    **{f"self.{s}": "s" for s in (
        "queries.define", "queries.exec", "pipeline.replay", "ingest.batch",
        "validate", "streaming.status_upsert", "warehouse.gold_refresh",
        "serve.publish", "serve.warm", "serve.dash", "serve.sql")},
    "trace.spans": "count",
    "trace.overhead_pct": "%",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
RUN_TIMEOUT_S = 170


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def git_stamp():
    """HEAD and dirty flag when the working directory is a git checkout's root."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.getcwd():
            return None, None
        head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], capture_output=True,
                               text=True, timeout=10).stdout.strip() != ""
        return head, dirty
    except (OSError, subprocess.SubprocessError):
        return None, None


def sources_hash():
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open("perfbench/build.sh", "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(out, want):
    stamp = os.path.join(out, "classes.stamp")
    if os.path.isdir(os.path.join(out, "classes")) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return
    print("perfbench: building engine and benchmark sources", file=sys.stderr)
    r = subprocess.run(["bash", "perfbench/build.sh", out], timeout=600,
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail(3, "build failed")
    with open(stamp, "w") as f:
        f.write(want)


def history_path(out, sources, workload, seconds):
    """Untraced results of one build of the sources, one JSON line per run."""
    return os.path.join(out, "history", f"{sources[:16]}-{workload}-{seconds}s.jsonl")


def run_one(workload, seed, seconds, trace, out, sources):
    """Run one workload in its own JVM; print its metrics; return correctness."""
    load_before, cpu_before = loadavg(), cpu_times()
    root = os.path.join(out, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    heap = "3g"
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={root}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([os.path.join(out, "classes"), f"{SPARK_JARS}/*"]),
              "graft.perfbench.Main", workload, str(seed), str(seconds),
              str(trace), root, os.path.abspath("perfbench"),
              out])
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(3, f"{workload}: run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    wall = time.time() - t0
    cpu_after = cpu_times()
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(3, f"{workload}: run failed (exit {proc.returncode}, no result)")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    head, dirty = git_stamp()
    stamp = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "git_head": head, "git_dirty": dirty,
        "nproc": os.cpu_count(), "spark_cores": 4,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": heap, "loadavg_before": load_before,
        "loadavg_after": loadavg(), "process_wall_s": wall,
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": (
            (cpu_after[0] - cpu_before[0]) / max(1, cpu_after[1] - cpu_before[1])
            if cpu_before and cpu_after else None),
        "sources_sha256": sources,
        "failed_checks": res["failed_checks"], "checks": res["checks"],
    }

    e2e, layer = res["end_to_end"], res["per_layer"]
    hist = history_path(out, sources, workload, seconds)
    if trace == 0:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        chosen = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    else:
        # tracing overhead: this traced run's work_s against the median of
        # the untraced runs of the same workload and sources in this build
        # directory
        base = []
        if os.path.exists(hist):
            with open(hist) as f:
                base = [json.loads(l)["work_s"] for l in f if l.strip()][-10:]
        layer["trace.overhead_pct"] = (
            100.0 * (e2e["work_s"] / statistics.median(base) - 1.0) if base else 0.0)
        stamp["trace_baseline_runs"] = len(base)
        chosen = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}

    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "end_to_end": e2e, "per_layer": layer}, f,
                  indent=1, sort_keys=True)

    for k, (v, u) in chosen.items():
        print(f"{k:40s} {v:>16.6f} {u}")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    correct = bool(res["correct"])
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }), flush=True)
    return correct


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        fail(2, "engine sources (src/main/scala/graft) not found; "
                "run from the repository root")
    if shutil.which("java") is None or not os.environ.get("SPARK_HOME") \
            or not os.path.isdir(SPARK_JARS):
        fail(2, "needs java on PATH and SPARK_HOME pointing at a Spark installation")

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    sources = sources_hash()
    build(out, sources)
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    ok = [run_one(w, a.seed, a.seconds, a.trace, out, sources) for w in workloads]
    sys.exit(0 if all(ok) else 1)


if __name__ == "__main__":
    main()
