"""Repeat benchmark runs over several seeds and print each metric's median
and quartiles against its bound.

    python3 spatialbench/repeat.py --workload query_mix --seeds 1-10
    python3 spatialbench/repeat.py --workload join_tile --seeds 1,2,3 --trace 1

The spread of a metric is (q3 - q1) / median, with the quartiles of
statistics.quantiles(values, n=4). A run that fails or reports an
incorrect result is listed and left out of the figures. --out saves every
run's result line as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    runs = []
    for seed in seeds(a.seeds):
        cmd = [sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", a.trace]
        t0 = time.monotonic()
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.monotonic() - t0
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        machine = json.loads(lines[-2])["machine"] if len(lines) > 1 else {}
        calib = machine.get("start", {}).get("calib_ms")
        load = machine.get("start", {}).get("loadavg", [None])[0]
        if r.returncode != 0 or not result or not result["correct"]:
            print(f"seed {seed}: FAILED (exit {r.returncode})\n{r.stderr[-2000:]}", file=sys.stderr)
            runs.append({"seed": seed, "ok": False})
            continue
        print(f"seed {seed}: ok, attempted {result['attempted']}, wall {wall:.1f} s, calib {calib} ms, "
              f"load {load}", file=sys.stderr)
        runs.append({"seed": seed, "ok": True, "wall_s": wall, "result": result, "machine": machine})
    if a.out:
        Path(a.out).write_text(json.dumps(runs, indent=1))

    good = [r["result"] for r in runs if r["ok"]]
    print(f"{a.workload}: {len(good)} of {len(runs)} runs ok")
    if len(good) < 2:
        sys.exit(1)
    print(f"{'metric':44} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
    for name in good[0]["metrics"]:
        vals = [g["metrics"][name]["value"] for g in good]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else "  WIDE" if spread > b else "  >1/3")
        print(f"{name:44} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.3f} {b if b is not None else '':>6}{flag}")
    sys.exit(0 if len(good) == len(runs) else 1)


if __name__ == "__main__":
    main()
