"""Stability and parent/change comparison of the benchmark.

    python3 perfbench/stability.py                       # this tree, twice
    python3 perfbench/stability.py --a ../parent --b .   # parent vs change

For each workload, runs ``--runs`` pairs: pair ``i`` runs seed
``--first-seed + i`` once in tree A and once in tree B, alternating which
goes first. Each run is ``BENCHMARK.json``'s command from that tree's root.
For every end-to-end metric it prints each side's median and quartiles, the
quartile spread as a share of the median against the metric's bound, and
whether B's median is worse than A's by more than the bound. With A and B
the same tree, that is the benchmark's own run-to-run stability check
(the spread of ``setup_s`` is printed but not judged).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _run(root: str, spec: dict, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} in {root}: exit {proc.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", default=".", help="tree A (the parent), default: this tree")
    ap.add_argument("--b", default=".", help="tree B (the change), default: this tree")
    ap.add_argument("--workloads", default="", help="comma list, default: all")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args()

    roots = [os.path.abspath(args.a), os.path.abspath(args.b)]
    with open(os.path.join(roots[0], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w for w in args.workloads.split(",") if w] or [w["name"] for w in spec["workloads"]]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    ok_all = True
    for wl in workloads:
        values = {side: {m: [] for m in metrics} for side in "AB"}
        failures = {"A": 0, "B": 0}
        for i in range(args.runs):
            seed = args.first_seed + i
            order = [("A", roots[0]), ("B", roots[1])]
            if i % 2:
                order.reverse()
            for side, root in order:
                res = _run(root, spec, wl, seed, spec["run_seconds"], 0)
                failures[side] += res["failed"] + (0 if res["correct"] else 1)
                for m in metrics:
                    values[side][m].append(res["metrics"][m]["value"])
                print(f"{wl} seed={seed} {side} " + " ".join(
                    f"{m}={values[side][m][-1]:.4f}" for m in metrics), flush=True)
        print(f"\n{wl}: failures A={failures['A']} B={failures['B']}")
        print(f"{'metric':14s} {'side':4s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}  verdict")
        for m, meta in metrics.items():
            meds = {}
            for side in "AB":
                q1, q2, q3 = statistics.quantiles(values[side][m], n=4)
                meds[side] = q2
                spread = (q3 - q1) / q2 if q2 else float("inf")
                judged = m != "setup_s"
                verdict = ("ok" if spread <= meta["bound"] else "TOO WIDE") if judged else "-"
                ok_all &= verdict != "TOO WIDE"
                print(f"{m:14s} {side:4s} {q1:12.4f} {q2:12.4f} {q3:12.4f} "
                      f"{spread:8.4f} {meta['bound']:6.3f}  {verdict}")
            sign = 1 if meta["better"] == "lower" else -1
            worse = sign * (meds["B"] - meds["A"]) / meds["A"] if meds["A"] else float("inf")
            verdict = "ok" if worse <= meta["bound"] else "WORSE"
            ok_all &= verdict == "ok" and failures["B"] == 0
            print(f"{m:14s} B vs A: {100 * worse:+.2f}% worse (bound {100 * meta['bound']:.0f}%)  {verdict}")
        print()
    print("PASS" if ok_all else "FAIL")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
