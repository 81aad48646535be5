"""Open-loop benchmark of the pump (see perfbench/README.md).

    python3 perfbench/run.py --workload live_tcp --seed 1 --seconds 20 --trace 0

Builds the program from source if needed, runs one workload in a fresh
JVM, writes the run's full JSON under `.bench_build/perfbench/runs/`,
then prints one summary line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (from a run with listeners attached). Exit codes: 0 correct and
valid; 1 an output check failed (the line is still printed); 2 usage or
build error; 3 the run was invalid (generator late or backlog growing),
so no numbers are printed.

    python3 perfbench/run.py --self-test    # the benchmark's own math
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["small_fast", "wide_fanout", "live_tcp"]

# name -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "gen.late_p99_ms": "ms",
    "mqtt.lag_p50_ms": "ms",
    "mqtt.lag_p99_ms": "ms",
    "mqtt.delivered_frac": "ratio",
    "source.backlog_msgs.p99": "msgs",
    "source.latestOffset_ms.p50": "ms",
    "source.getBatch_ms.p50": "ms",
    "pump.queryPlanning_ms.p50": "ms",
    "pump.batches": "count",
    "pump.rows_per_batch.p50": "rows",
    "pump.trigger_ms.p50": "ms",
    "pump.trigger_ms.p99": "ms",
    "pump.addBatch_ms.p50": "ms",
    "pump.walCommit_ms.p50": "ms",
    "pump.commitOffsets_ms.p50": "ms",
    "pump.busy_frac": "ratio",
    "pump.msgs_per_busy_s": "msg/s",
    "pump.fanout_other_ms.p50": "ms",
    "spark.jobs_per_batch": "count",
    "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "sink.raw_write_ms.p50": "ms",
    "sink.adapter_write_ms.p50": "ms",
    "sink.raw_files": "count",
    "sink.adapter_files": "count",
    "sink.raw_bytes": "bytes",
    "sink.adapter_bytes": "bytes",
    "sink.shuffle_bytes": "bytes",
    "adapter.stage_ms.p50": "ms",
    "adapter.rows_out": "rows",
    "adapter.rejects": "msgs",
    "adapter.parses_per_batch": "count",
    "live.raw_ms.p50": "ms",
    "live.adapter_ms.p50": "ms",
    "live.rows": "rows",
    "live.errors": "count",
    "monitor.trigger_ms.p50": "ms",
    "monitor.busy_frac": "ratio",
    "monitor.state_rows": "rows",
    "monitor.state_bytes": "bytes",
    "monitor.docs": "count",
    "monitor.backlog_msgs.p99": "msgs",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "proc.cores_busy": "cores",
    "proc.cpu_ms_per_kmsg": "ms",
    "broker.log_mb": "MB",
    "failed_frac": "ratio",
    "leak.persisted_rdds": "count",
    "leak.threads": "count",
    "leak.tmp_bytes": "bytes",
}

# JVM flags Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(build.OUT, "runs")
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(main, args, timeout_s, work):
    """Run a benchmark main in its own JVM; its stdout goes to our stderr."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=build.ROOT)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        log(f"run killed after {timeout_s} s")
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def summary(run, trace):
    """The one-line result: every declared metric with its unit."""
    table = PER_LAYER if trace else END_TO_END
    values = run["per_layer"] if trace else run["e2e"]
    metrics = {}
    for name, unit in table.items():
        v = values.get(name)
        if not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
            raise ValueError(f"metric {name} missing or not a number: {v!r}")
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": bool(run["correct"]), "attempted": int(run["attempted"]),
            "failed": int(run["failed"]), "metrics": metrics}


def self_test():
    work = os.path.join(build.OUT, f"work-selftest-{os.getpid()}")
    try:
        code = run_jvm("graft.perfbench.StatsCheck", [], 120, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bench = os.path.join(build.ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        spec = json.load(open(bench))
        declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if declared != END_TO_END:
            log(f"BENCHMARK.json end_to_end differs from run.py: {declared}")
            code = 1
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if declared != PER_LAYER:
            log(f"BENCHMARK.json per_layer differs from run.py: {declared}")
            code = 1
        unknown = [w["name"] for w in spec["workloads"] if w["name"] not in WORKLOADS]
        if unknown:
            log(f"BENCHMARK.json names workloads run.py does not know: {unknown}")
            code = 1
    return 0 if code == 0 else 1


def main():
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--master", default=None,
                    help="Spark master, default local[<nproc>]; local[1] is the single-core baseline")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    try:
        digest = build.build()
    except SystemExit as e:
        log(f"build failed: {e}")
        return 2
    if a.self_test:
        return self_test()

    started = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out = os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}-{started}-{os.getpid()}.json")
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--work", work,
            "--stamp.source_sha256", digest, "--stamp.git_commit", git_commit() or "unknown"]
    if a.master:
        args += ["--master", a.master]
    try:
        code = run_jvm("graft.perfbench.PumpBench", args, JVM_TIMEOUT_S, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None or not os.path.exists(out):
        log("the run produced no result")
        return 2
    run = json.load(open(out))
    if run.get("error"):
        log(f"the run failed: {run['error']}")
        return 2
    if not run.get("valid"):
        log(f"invalid run, not reported: {run.get('invalid_reasons')}")
        return 3
    try:
        line = json.dumps(summary(run, a.trace == 1))
    except ValueError as e:
        log(str(e))
        return 2
    log(f"run file: {os.path.relpath(out, build.ROOT)}")
    sys.stderr.flush()
    print(line)
    sys.stdout.flush()
    return 0 if run["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
