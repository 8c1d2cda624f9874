#!/usr/bin/env python3
"""Repo benchmark: seeded closed-loop workloads over the Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload docdb_queries --seed 1 --seconds 24 --trace 0

Workloads: docdb_queries, curation (see BENCHMARK.json). The
first run in a checkout compiles the engine and the benchmark
(perfbench/build.py) into .bench_build/, reused by later runs. The input
tables are the sf0.1 fixture, kept in perfbench/data/sf0.1. Each run gets
its own temp root under .bench_build/runs/, removed at exit. The last
stdout line is the result object; lines before it starting with '#' give
context.

    python3 perfbench/run.py --record

re-records perfbench/expected.json, the output digests runs check against.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800
DATA = os.path.join(build.BENCH, "data", "sf0.1")
WORKLOADS = ("docdb_queries", "curation")


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap():
    """Half the host's memory in GiB, clamped to 2..8 (as Tier-1 verify sizes it)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def other_benchmark_running():
    """Command line of another running graft.Bench or benchmark JVM, if any."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            continue
        if args and os.path.basename(args[0]) == b"java" and (
                b"graft.Bench" in args or b"perfbench.Main" in args):
            return b" ".join(args).decode(errors="replace")[:200]
    return None


def git_commit():
    """HEAD of the checkout, or 'none' outside a git repository."""
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "--short=12", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return r.stdout.strip() if r.returncode == 0 else "none"


def java(classpath, heap_size, work, main_args, timeout, log):
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap_size}", f"-Djava.io.tmpdir={work}/tmp",
           *build.JVM_OPTS, "-cp", classpath, "perfbench.Main", *main_args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"JVM exceeded {timeout} s; log: {log}")
    if proc.returncode != 0:
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"JVM exited with {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and a.workload is None:
        fail("--workload is required", 2)

    other = other_benchmark_running()
    if other:
        fail(f"another benchmark JVM is running, refusing to start: {other}", 3)

    classes, stamp = build.build()
    cp = f"{classes}:{build.spark_jars()}/*"
    cpus = str(len(os.sched_getaffinity(0)))
    heap_size = heap()
    common = ["--cpus", cpus, "--heap", heap_size, "--build", stamp]

    work = os.path.abspath(os.path.join(build.OUT, "runs", f"run-{os.getpid()}"))
    os.makedirs(work)
    try:
        log = os.path.join(build.OUT, "last-run.log")
        if a.record:
            out = java(cp, heap_size, work, ["--mode", "record", "--data", DATA, "--work", work,
                                             "--out", os.path.join(build.BENCH, "expected.json"),
                                             *common], RECORD_TIMEOUT_S, log)
            print(out, end="")
            return
        out = java(cp, heap_size, work,
                   ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
                    "--work", work, "--expected", os.path.join(build.BENCH, "expected.json"),
                    *common], RUN_TIMEOUT_S, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail("the JVM printed no result line")
    print(f"# commit={git_commit()}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
