#!/usr/bin/env python3
"""graft's benchmark: DataBEATS workloads over SparkEntry.queries at sf0.1.

    python3 perfbench/run.py --workload dag_etl --seed 1 --seconds 40 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run:

  * times set-up (process start until GraftSession.local(cores) is built
    and warmed) in SETUP_SAMPLES processes and reports the median;
  * runs the workload's keys in a closed loop, one key at a time, for
    --seconds (at least one full pass). Every pass releases the shared
    SparkEntry artifacts and permutes the keys from --seed;
  * checks every result against expected.tsv (see record.py). A throw, a
    wrong result or a key over its limit counts as failed and is charged
    the limit in pass_s and in the percentiles;
  * with --trace 1, registers listeners and reports per-layer numbers
    instead; one record per key execution goes to
    perfbench/.work/records/.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it is a summary: every end-to-end number
(query_p50_ms, write_p50_ms and failed_frac too), the failures, core
count, JVM and data size.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "sf0.1")
EXPECTED = os.path.join(BENCH, "expected.tsv")
SETUP_SAMPLES = 3
BUILD_TIMEOUT_S = 850
# The measuring process ends well within the 180 s a run may take.
RUN_TIMEOUT_S = 150
# A fixed heap and young generation, so peak RSS does not ride on how
# the collector happened to grow the heap in one run.
JVM_HEAP = "4g"
JVM_YOUNG = "1g"

# Per-layer metrics: unit and how one pass's key records combine.
PER_LAYER = {
    "plan.analysis_ms": ("ms", sum),
    "plan.optimization_ms": ("ms", sum),
    "plan.planning_ms": ("ms", sum),
    "entry.construct_ms": ("ms", sum),
    "entry.eager_jobs": ("count", sum),
    "entry.artifact_builds": ("count", sum),
    "entry.persisted_mb": ("MB", max),
    "exec.jobs": ("count", sum),
    "exec.stages": ("count", sum),
    "exec.driver_gap_ms": ("ms", sum),
    "exec.task_cpu_ms": ("ms", sum),
    "exec.task_overhead_ms": ("ms", sum),
    "exec.max_stage_skew": ("ratio", max),
    "exec.peak_exec_mem_mb": ("MB", max),
    "tables.scan_tasks": ("count", sum),
    "tables.input_bytes": ("bytes", sum),
    "tables.max_scan_task_share": ("ratio", max),
    "shuffle.write_bytes": ("bytes", sum),
    "shuffle.read_bytes": ("bytes", sum),
    "shuffle.fetch_wait_ms": ("ms", sum),
    "shuffle.reduce_tasks": ("count", sum),
    "shuffle.spill_bytes": ("bytes", sum),
    "sources.write_task_ms": ("ms", sum),
    "sources.output_bytes": ("bytes", sum),
    "sources.output_rows": ("count", sum),
    "jvm.gc_ms": ("ms", sum),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def source_files():
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles program + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala/graft")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"no benchmark data under {DATA}")
    os.makedirs(WORK, exist_ok=True)
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                with open(cp_file) as cf:
                    return cf.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    classes = os.path.join(BENCH, "target")
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in r.stdout.splitlines() if l.startswith(classes)]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return lines[-1]


class Jvm:
    """One harness process; its stdout is read line by line."""

    def __init__(self, classpath, log, timeout, *args):
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
                "--add-modules=jdk.incubator.vector",
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
                f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
                f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Harness",
                  "--cores", str(cores()), "--data", DATA] + list(args))
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                                     stderr=log, text=True)
        self.timer = threading.Timer(timeout, self.proc.kill)
        self.timer.start()

    def lines(self):
        for line in self.proc.stdout:
            yield line.rstrip("\n")

    def close(self):
        self.timer.cancel()
        self.proc.kill()
        self.proc.wait()
        self.proc.stdout.close()


def read_harness(jvm, setup_only):
    """(setup seconds, [(tag, record)]) of one harness process. The process
    is stopped once it has said all it will: a set-up sample when it is
    ready, any other after its END line (its scratch files go with the
    next run's cleanup)."""
    setup, records = None, []
    for line in jvm.lines():
        if line == "READY":
            setup = time.monotonic() - jvm.t0
            if setup_only:
                break
        elif " " in line and line.split(" ", 1)[0] in ("KEY", "PASS", "END", "EXPECT"):
            tag, body = line.split(" ", 1)
            records.append((tag, json.loads(body)))
            if tag == "END":
                break
    jvm.close()
    if setup is None or not (setup_only or any(t == "END" for t, _ in records)):
        fail(f"harness ended early; see {WORK}/harness.log")
    return setup, records


def harness(classpath, *args, timeout=RUN_TIMEOUT_S):
    for scratch in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    with open(os.path.join(WORK, "harness.log"), "a") as log:
        return read_harness(Jvm(classpath, log, timeout, *args),
                            setup_only=args[:2] == ("--mode", "setup"))


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath = build()
    open(os.path.join(WORK, "harness.log"), "w").close()

    setups = [harness(classpath, "--mode", "setup")[0]
              for _ in range(SETUP_SAMPLES - 1)]
    setup, records = harness(
        classpath, "--mode", "run", "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--expected", EXPECTED)
    setups.append(setup)

    keys = [r for t, r in records if t == "KEY"]
    passes = [r for t, r in records if t == "PASS"]
    end = next(r for t, r in records if t == "END")
    if not keys or not passes:
        fail("no key ran")
    failures = [k for k in keys if k["status"] != "ok"]
    writes = [k["charged_ms"] for k in keys if k["write"]]
    data_mb = sum(os.path.getsize(os.path.join(DATA, f))
                  for f in os.listdir(DATA)) / 2**20
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "passes": len(passes), "attempted": len(keys), "failed": len(failures),
        "failed_frac": len(failures) / len(keys),
        "pass_s": statistics.median([p["pass_ms"] for p in passes]) / 1000,
        "query_p50_ms": statistics.median([k["charged_ms"] for k in keys]),
        "write_p50_ms": statistics.median(writes) if writes else None,
        "setup_s": statistics.median(setups), "peak_rss_mb": end["peak_rss_mb"],
        "failures": sorted({f"{k['key']}: {k['status']}: {k['message']}"
                            for k in failures}),
        "cores": end["cores"], "jvm": end["jvm"],
        "data": f"sf0.1, {data_mb:.1f} MB parquet (fits in memory)",
    }

    if a.trace:
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        path = os.path.join(WORK, "records",
                            f"{a.workload}-seed{a.seed}.jsonl")
        with open(path, "w") as fh:
            for k in keys:
                fh.write(json.dumps(k) + "\n")
        summary["records"] = os.path.relpath(path, ROOT)
        by_pass = {}
        for k in keys:
            by_pass.setdefault(k["pass"], []).append(k)
        metrics = {}
        for name, (unit, combine) in PER_LAYER.items():
            per_pass = [combine(k[name] for k in ks) for ks in by_pass.values()]
            metrics[name] = metric(statistics.median(per_pass), unit)
        busy = [sum(k["exec.task_run_ms"] for k in by_pass[p["pass"]])
                / (p["pass_ms"] * end["cores"]) for p in passes]
        metrics["exec.core_busy_frac"] = metric(statistics.median(busy), "ratio")
        metrics["session.start_ms"] = metric(end["session.start_ms"], "ms")
        metrics["trace.pass_s"] = metric(summary["pass_s"], "s")
    else:
        metrics = {
            "setup_s": metric(summary["setup_s"], "s"),
            "pass_s": metric(summary["pass_s"], "s"),
            "peak_rss_mb": metric(summary["peak_rss_mb"], "MB"),
        }
    print(json.dumps(summary))
    print(json.dumps({"correct": not failures, "attempted": len(keys),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
