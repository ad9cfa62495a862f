#!/usr/bin/env python3
# usage: python3 bench/paired.py --parent <checkout> --change <checkout> [--workload query_mix] [--seeds 11-20] [--seconds 10] [--out runs.json]
"""Alternating same-seed benchmark runs of two checkouts, compared pair by pair.

For each seed it runs spatialbench/run.py, unchanged, once in the parent
checkout and once in the change checkout, alternating which side runs first
(the parent first on even pair indexes). It then prints:

  - each end-to-end metric of BENCHMARK.json: both sides' median and
    quartiles, the change/parent ratio of the medians, in how many pairs the
    change read better (ties count for neither), and whether that is a gain
    by the rule of at least nine tenths of the pairs and a median difference
    above the parent's quartile distance;
  - each query kind's median latency per side, the median over runs of the
    `[spatialbench] <kind> median ...` stderr lines (query_mix only);
  - the change/parent latency ratio per query round: a kind's samples are
    listed in query order, so with one knn query per round sample i of a
    kind that runs m times a round belongs to round i // m; the ratio is the
    median over pairs and queries of that round of the per-query ratio, for
    every kind and without knn.

Both checkouts build their own benchmark jar on the first run (see
spatialbench/build.py). A run that fails is reported and its pair left out.
Make both checkouts fresh copies in sibling directories, for example
`git archive <rev> | tar -x -C <dir>`: runs from a long-used working tree
have read slower than a fresh copy of the same code, even on set-up and
ingest.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

KIND_LINE = re.compile(r"^\[spatialbench\]\s+[\d.]+s (\w+)\s+median\s+([\d.]+) ms:((?: [\d.]+)*)\s*$")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "spatialbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    if r.returncode != 0 or not result or not result["correct"]:
        print(f"  {checkout} seed {seed}: FAILED (exit {r.returncode})\n{r.stderr[-1500:]}", file=sys.stderr)
        return None
    kinds = {}
    for line in r.stderr.splitlines():
        m = KIND_LINE.match(line)
        if m:
            kinds[m.group(1)] = [float(x) for x in m.group(3).split()]
    return {"wall_s": wall, "metrics": {k: v["value"] for k, v in result["metrics"].items()}, "kinds": kinds}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def round_ratios(parent, change):
    """Round index -> per-query change/parent ratios, all kinds and without knn."""
    out = {}
    if not parent or set(parent) != set(change):
        return out
    rounds = min(len(v) for v in parent.values())
    for kind, ps in parent.items():
        cs = change[kind]
        if len(cs) != len(ps) or not rounds or len(ps) % rounds:
            continue
        per = len(ps) // rounds
        for i, (p, c) in enumerate(zip(ps, cs)):
            if p > 0:
                slot = out.setdefault(i // per, ([], []))
                slot[0].append(c / p)
                if kind != "knn":
                    slot[1].append(c / p)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", default="query_mix")
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()

    spec = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    pairs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {side: run(path, a.workload, seed, seconds) for side, path in order}
        ok = all(got.values())
        print(f"seed {seed}: {'ok' if ok else 'FAILED'}, {order[0][0]} first, walls "
              + " / ".join(f"{s} {got[s]['wall_s']:.1f} s" for s in ("parent", "change") if got[s]),
              file=sys.stderr)
        if ok:
            pairs.append({"seed": seed, **got})
    if a.out:
        Path(a.out).write_text(json.dumps(pairs, indent=1))
    n = len(pairs)
    print(f"{a.workload}: {n} pairs ok")
    if not n:
        sys.exit(1)

    print(f"\n{'metric':24} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
          f"{'ratio':>7} {'better':>7}  gain")
    for m in spec["end_to_end"] + [{"name": "wall_s", "better": "lower"}]:
        name = m["name"]
        get = (lambda side: side["wall_s"]) if name == "wall_s" else (lambda side: side["metrics"].get(name))
        ps = [get(p["parent"]) for p in pairs]
        cs = [get(p["change"]) for p in pairs]
        if None in ps or None in cs:
            continue
        sign = 1 if m["better"] == "higher" else -1
        better = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
        pq, cq = quartiles(ps), quartiles(cs)
        gain = better >= 0.9 * n and sign * (cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"{name:24} {pq[1]:12.6g} [{pq[0]:9.4g}, {pq[2]:9.4g}] {cq[1]:12.6g} [{cq[0]:9.4g}, {cq[2]:9.4g}] "
              f"{cq[1] / pq[1] if pq[1] else float('nan'):7.3f} {better:3d}/{n:<3d}  {'yes' if gain else 'no'}")

    kinds = sorted({k for p in pairs for k in p["parent"]["kinds"]})
    if kinds:
        print(f"\n{'kind':18} {'parent ms':>10} {'change ms':>10} {'ratio':>7}")
        for k in kinds:
            pm = [statistics.median(p["parent"]["kinds"][k]) for p in pairs if p["parent"]["kinds"].get(k)]
            cm = [statistics.median(p["change"]["kinds"][k]) for p in pairs if p["change"]["kinds"].get(k)]
            if pm and cm:
                pmed, cmed = statistics.median(pm), statistics.median(cm)
                print(f"{k:18} {pmed:10.1f} {cmed:10.1f} {cmed / pmed:7.3f}")
        rounds = {}
        for p in pairs:
            for r, (every, no_knn) in round_ratios(p["parent"]["kinds"], p["change"]["kinds"]).items():
                slot = rounds.setdefault(r, ([], []))
                slot[0].extend(every)
                slot[1].extend(no_knn)
        print(f"\n{'round':>5} {'queries':>8} {'change/parent':>14} {'without knn':>12}")
        for r in sorted(rounds):
            every, no_knn = rounds[r]
            print(f"{r + 1:5d} {len(every):8d} {statistics.median(every):14.3f} "
                  f"{statistics.median(no_knn) if no_knn else float('nan'):12.3f}")


if __name__ == "__main__":
    main()
