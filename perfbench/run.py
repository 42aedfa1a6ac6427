#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, in a fresh JVM.

    python3 perfbench/run.py --workload suite|gate --seed N \
        --seconds S --trace 0|1

Run from the root of the repository. Builds the program first if needed
(perfbench/build.py), runs the workload at local[nproc] with the heap the
Tier-1 command derives from the machine, and prints two lines: the box
and config record, then the result, a JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics; per-layer ones
with --trace 1). Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
WORKLOADS = ("suite", "gate")
# Env-gated diagnostics and A/B arms of the program; runs start without them.
DROPPED_ENV_PREFIXES = ("SPARK_GRAFT_",)
DROPPED_ENV = ("GRAFT_STAGE_TIMING", "GRAFT_GATE_TIMING", "PQ_SEARCH_STAGES")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def meminfo_kb(key):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {key} in /proc/meminfo")


def driver_mem():
    """The Tier-1 rule: half of MemTotal in GiB, clamped to [2, 8]."""
    g = meminfo_kb("MemTotal") // 2097152
    return f"{min(max(g, 2), 8)}g"


def cpu_model():
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def java_version():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE,
                         stdout=subprocess.DEVNULL, text=True).stderr
    return out.splitlines()[0] if out else "unknown"


def jvm(classes, xmx, work, main_class, args):
    """The java command line for one of the benchmark's mains."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    # C1 only (see README); the code cache then defaults to 48 MB, which
    # Spark's generated code outgrows, so give it the tiered default.
    return (["java", f"-Xmx{xmx}", "-Xss16m", "-XX:-UsePerfData",
             "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/tmp",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             "-cp", classes + os.pathsep + build.classpath(),
             main_class] + args)


def clean_env():
    return {k: v for k, v in os.environ.items()
            if not k.startswith(DROPPED_ENV_PREFIXES) and k not in DROPPED_ENV}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build.build()
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")

    cores = len(os.sched_getaffinity(0))
    xmx = driver_mem()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.txt")
    cmd = jvm(classes, xmx, work, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--cores", str(cores), "--work", work, "--out", out,
        "--expected", os.path.join(build.BENCH, "expected")])
    log_path = os.path.join(build.BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=clean_env(), start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"{a.workload} run failed ({code}); log: {log_path}")

    with open(out) as f:
        record_line, result_line = f.read().splitlines()[:2]
    record = json.loads(record_line)
    result = json.loads(result_line)
    record.update({
        "nproc": cores, "mem_total_kb": meminfo_kb("MemTotal"),
        "cpu_model": cpu_model(), "java": java_version(), "xmx": xmx,
        "master": f"local[{cores}]",
    })
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(build.BUILD, "traces"), exist_ok=True)
        shutil.move(spans, os.path.join(build.BUILD, "traces", tag + ".jsonl"))
    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(build.BUILD, "results", f"{tag}-{stamp}.json"),
              "w") as f:
        json.dump({"record": record, "result": result}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"box": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
