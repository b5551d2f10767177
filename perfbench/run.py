#!/usr/bin/env python3
"""relspark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark from
source (see build.py) into $CARGO_TARGET_DIR (default .bench_build), then
runs one workload in a fresh JVM at local[<cores>] and prints one JSON
object as the last line of stdout: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones and writes the full span report to --trace-out (default
<build dir>/traces/<workload>-seed<seed>.json).

Workloads: hot_broadcast, longtail_joined, maintain_cycle (see
BENCHMARK.json). Generated corpora are cached under <build dir>/corpus;
everything else a run writes lives in a per-run work directory that is
deleted when the run ends. The program's GRAFT_* tuning knobs are refused.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("hot_broadcast", "longtail_joined", "maintain_cycle")
RESULT = "PERFBENCH_RESULT "
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--trace-out")
    return ap.parse_args()


def jvm_command(classes, jars, work, args, trace_out, corpus):
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": work / "spark-local",
        "spark.sql.warehouse.dir": work / "warehouse",
        "java.io.tmpdir": work / "tmp",
    }
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # fixed pre-touched heap and the throughput collector, as the repo's
    # `run` settings: page-fault cost is paid at JVM start, not while timing
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", str(work), "--corpus", str(corpus)]
    if trace_out:
        cmd += ["--trace-out", str(trace_out)]
    return cmd


def run_jvm(cmd):
    """Runs the benchmark JVM; returns its result line or None. Output other
    than the result goes to stderr."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT):
            result = line[len(RESULT):].strip()
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return None
    return result


def main():
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    knobs = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if knobs:
        print(f"[perfbench] refusing to run with tuning knobs set: {', '.join(knobs)}",
              file=sys.stderr)
        return 2
    root = Path(__file__).resolve().parent.parent
    build_dir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    try:
        classes = build.ensure_built(root, build_dir)
        jars = build.spark_jars(root)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = build_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    trace_out = None
    if args.trace == "1":
        trace_out = Path(args.trace_out).resolve() if args.trace_out else \
            build_dir / "traces" / f"{args.workload}-seed{args.seed}.json"
    try:
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        result = run_jvm(jvm_command(classes, jars, work, args, trace_out,
                                     build_dir / "corpus"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
