"""Run one benchmark workload and print its result as the last line.

    python3 spatialbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program (see build.py). The result line is one JSON object with the keys
correct, attempted, failed and metrics: with --trace 0 every end-to-end
metric of BENCHMARK.json, with --trace 1 every per-layer metric. A traced
run also leaves its spans in .bench_build/traces/. The exit code is 0 only
when every operation and correctness check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("join_tile", "query_mix")
TIMEOUT_S = 170
# Spark task threads: on a shared host, two threads run about as fast as
# four and leave the runs less exposed to what the other tenants do
CORES = 2


def fail(msg: str, code: int = 2):
    print(f"spatialbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    spec_path = build.ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail(f"{spec_path} missing")
    spec = json.loads(spec_path.read_text())
    try:
        build_dir = build.build()
    except build.BuildError as e:
        fail(str(e))

    cores = max(1, min(CORES, os.cpu_count() or 1))
    work = build.OUT / f"work-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    log = work / "jvm.log"
    cmd = build.java_cmd(build_dir, work / "tmp") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work), "--result", str(result), "--cores", str(cores)]
    started = time.monotonic()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    recorded = build_dir / "app.jsa.tmp"
    if code != 0 or not result.is_file():
        recorded.unlink(missing_ok=True)
        sys.stderr.write(log.read_text()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail("timed out" if code is None else f"benchmark JVM exited with {code}", 1)

    if recorded.is_file():
        recorded.rename(build_dir / "app.jsa")
    raw = json.loads(result.read_text())
    print(f"[spatialbench] JVM wall {time.monotonic() - started:.1f}s", file=sys.stderr)
    if a.trace == "1":
        traces = build.OUT / "traces"
        traces.mkdir(exist_ok=True)
        spans = work / "spans.jsonl"
        if spans.is_file():
            shutil.copy(spans, traces / f"{a.workload}-seed{a.seed}.jsonl")
    # progress and failure lines of the benchmark JVM, for the reader of stderr
    for line in log.read_text().splitlines():
        if line.startswith("[spatialbench]"):
            print(line, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if a.trace == "0" and m["name"] not in raw["metrics"]:
            fail(f"benchmark JVM did not report {m['name']}", 1)
        metrics[m["name"]] = {"value": raw["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
    print(json.dumps({"machine": raw["machine"]}))
    correct = raw["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
