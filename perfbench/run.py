#!/usr/bin/env python3
"""Journal-store benchmark: one command, one workload, one JSON result line.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the store and the benchmark program
from source on first use (see build.py), runs the program in one JVM with
local[min(4, nproc)] Spark and one closed-loop client thread, checks the
outputs, and prints as its last line

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Lines before it, prefixed "# ", are the human-readable details:
per-workload latencies with their tails and sample counts, error rate,
retained storage, load and other-process CPU, and (traced) the per-layer
table. Workloads: kv_point, mutate_maintain, ops_suite (see README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("kv_point", "mutate_maintain", "ops_suite")
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_child(cmd, deadline, **kw):
    """Run cmd in its own process group and return (returncode, stdout).
    At the deadline (or on any interruption) kill the whole group, wait for
    it, and re-raise."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def oracle_check(out_dir, deadline):
    """Runs tools/parity.py (the DuckDB oracle) over the ops_suite dump.
    Returns (checked, failed, lines)."""
    spec = os.path.join(out_dir, "ops_check.txt")
    fixture, dump, keys = open(spec).read().splitlines()[:3]
    keys = keys.split()
    rc, out = run_child(
        [sys.executable, os.path.join(build.ROOT, "tools", "parity.py"),
         fixture, dump] + keys, deadline, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.startswith("[")]
    ok = {l.split()[1] for l in lines if l.startswith("[OK]")}
    failed = [k for k in keys if k not in ok]
    if rc != 0 and not failed:
        failed = ["parity.py"]
    return len(keys), len(failed), lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated launcher still stops the benchmark JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S
    cores = max(1, min(4, os.cpu_count() or 1))
    broot = build.build_root()
    run_dir = os.path.join(broot, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(broot, "out", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(out)
    log = os.path.join(broot, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}"] +
           [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--cores", str(cores), "--tmp", tmp, "--out", out])
    try:
        with open(log, "w") as err:
            rc, stdout = run_child(cmd, deadline, stdout=subprocess.PIPE,
                                   stderr=err, text=True, cwd=build.ROOT)
        lines = stdout.splitlines()
        if rc != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(f"perfbench: benchmark JVM exited {rc}; see {log}\n")
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            return 1
        result = json.loads(lines[-1])
        for l in lines[:-1]:
            print(l)
        if a.workload == "ops_suite":
            checked, bad, olines = oracle_check(out, deadline)
            shutil.rmtree(os.path.join(out, "ops_dump"), ignore_errors=True)
            for l in olines:
                print(f"# oracle: {l}")
            result["attempted"] += checked
            result["failed"] += bad
            result["correct"] = result["correct"] and bad == 0
        for l in open(log):
            if l.startswith("[perfbench]"):
                print(f"# {l.rstrip()}")
        print(json.dumps(result))
        return 0
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {RUN_LIMIT_S} s; see {log}\n")
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
