#!/usr/bin/env python3
"""Benchmark of the crawl loop, extraction and the URL-seen set.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark (see build.py); every run then starts one JVM at local[N] that sets
up the workload's inputs from the seed, warms up, measures for `--seconds`,
checks every output against an independent oracle and prints one JSON result
as the last line of standard output. `--trace 1` adds the Spark listener and
span recorder and reports the per-layer metrics instead of the end-to-end
ones. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("crawl_deep", "crawl_wide", "extract", "frontier_dedup")
RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath, cds = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_dir = build.OUT / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    cmd = build.java_cmd(classpath, cds, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--trace-dir", str(trace_dir)]
    log = work.parent / f"run-{os.getpid()}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        print("\n".join(lines[-20:]), file=sys.stderr)
        print(f"perfbench: JVM exited {proc.returncode}; stderr tail of {log}:", file=sys.stderr)
        print("".join(log.read_text().splitlines(True)[-40:]), file=sys.stderr)
        return 1
    log.unlink(missing_ok=True)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
