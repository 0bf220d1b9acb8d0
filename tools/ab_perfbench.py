#!/usr/bin/env python3
"""Alternating parent/change A/B of one perfbench workload.

    python3 tools/ab_perfbench.py PARENT_TREE CHANGE_TREE \\
        --workload api_requests --pairs 10 --seed0 100 [--out ab.jsonl]

Each pair runs ``perfbench/run.py --trace 0`` once in each source tree
with the same seed (``seed0 + pair``), alternating which tree goes
first, so host drift hits both sides alike.  Every run is a fresh
process in its own tree (each tree builds and keeps its own index).

For each end-to-end metric of ``BENCHMARK.json`` it prints both sides'
median and quartiles, the change's win fraction over the pairs (ties
count for neither side), whether the median gain exceeds the parent's
interquartile spread, and the change's median over the parent's against
the metric's bound.  It also prints ``failed``/``attempted`` per side.
A gain may be claimed when the change wins at least nine tenths of the
pairs, its median gain exceeds the parent's spread and it fails no more
operations than the parent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run failed in {tree} (seed {seed}, code "
                 f"{proc.returncode}):\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["run_s"] = time.perf_counter() - t0
    return out


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of the change's BENCHMARK.json")
    ap.add_argument("--out", default=None,
                    help="append every run's result here as a JSON line")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    trees = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = _run(trees[side], args.workload, seed, seconds)
            runs[side].append(res)
            line = {"pair": i, "seed": seed, "side": side, "result": res}
            print(json.dumps(line), file=sys.stderr)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(line) + "\n")

    print(f"workload {args.workload}, {args.pairs} pairs, seeds "
          f"{args.seed0}..{args.seed0 + args.pairs - 1}, {seconds:g} s runs")
    for side in ("parent", "change"):
        print(f"  {side}: failed {sum(r['failed'] for r in runs[side])} / "
              f"attempted {sum(r['attempted'] for r in runs[side])}")
    for m in bench["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        vals = {side: [r["metrics"][name]["value"] for r in runs[side]]
                for side in runs}
        pq = _quartiles(vals["parent"])
        cq = _quartiles(vals["change"])
        wins = sum((c > p) if higher else (c < p)
                   for p, c in zip(vals["parent"], vals["change"]))
        gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        worse = -gain / pq[1] if pq[1] else 0.0
        print(f"{name} [{m['unit']}, {m['better']} is better, "
              f"bound {m['bound']}]")
        for side, q in (("parent", pq), ("change", cq)):
            print(f"  {side:6s} median {q[1]:.4g}  q1 {q[0]:.4g}  "
                  f"q3 {q[2]:.4g}")
        print(f"  change wins {wins}/{args.pairs} "
              f"({wins / args.pairs:.0%}); median gain {gain:+.4g} vs "
              f"parent spread {pq[2] - pq[0]:.4g} "
              f"({'exceeds' if gain > pq[2] - pq[0] else 'within'}); "
              f"worse by {worse:+.1%} of the parent median "
              f"({'within' if worse <= m['bound'] else 'BEYOND'} bound)")


if __name__ == "__main__":
    main()
