#!/usr/bin/env python3
"""A/B one benchmark workload across two graft checkouts.

    python3 tools/ab.py --parent DIR --change DIR --workload tail \
        [--pairs 10] [--first-seed 1] [--seconds 15] [--trace 0]

Runs `perfbench/run.py` in each checkout, in `--pairs` pairs. Pair i
runs both sides on seed first-seed+i, and alternates which side runs
first (parent first on even pairs), so drift on the host falls on both
sides alike. Every run is printed as it lands, with its `correct` and
`failed` fields and the host's `contended` flag and `steal_cores`.

At the end, per metric: each side's median and quartiles, how many
pairs the change won (ties count for neither side; the direction comes
from the change's BENCHMARK.json, "lower" if the metric is not listed),
and whether the gain rule holds: the change wins at least nine tenths
of the pairs, and the medians differ by more than the distance between
the parent's quartiles.

A run that exits non-zero loses only its pair: the pair is reported
with the tail of its stderr, the A/B goes on, the summary covers the
pairs that completed, and the script exits non-zero. The summary also
names every pair with a run that read `correct: false` or `failed > 0`.

The two checkouts must be separate directories (e.g. made with
`git clone` or `git archive`): each run builds and writes under the
checkout it runs in.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


class RunFailed(Exception):
    """A run of run.py that exited non-zero or printed no result."""


def run(checkout, workload, seed, seconds, trace):
    """One run of run.py in `checkout`: (result, host) JSON objects."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RunFailed(f"{checkout} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    return result, detail.get("host", {})


def directions(checkout):
    """metric name -> "lower" | "higher", from the checkout's BENCHMARK.json."""
    path = Path(checkout) / "BENCHMARK.json"
    if not path.exists():
        return {}
    bench = json.loads(path.read_text())
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(vs):
    """(q1, median, q3); a single value is all three."""
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    if Path(a.parent).resolve() == Path(a.change).resolve():
        sys.exit("--parent and --change must be different checkouts")

    sides = {"parent": a.parent, "change": a.change}
    values = {"parent": {}, "change": {}}  # side -> metric -> [value per pair]
    lost, flagged = [], []  # pairs with a failed run; pairs with a bad result
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        try:
            for side in order:
                t0 = time.monotonic()
                res, host = run(sides[side], a.workload, seed, a.seconds, a.trace)
                pair[side] = {k: v["value"] for k, v in res["metrics"].items()}
                if not res["correct"] or res["failed"] > 0:
                    flagged.append(f"pair {i + 1} seed {seed} {side}: "
                                   f"correct={res['correct']} failed={res['failed']}")
                print(f"pair {i + 1} seed {seed} {side:6s} wall={time.monotonic() - t0:.0f}s "
                      f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                      f"contended={host.get('contended')} steal_cores={host.get('steal_cores')} "
                      + " ".join(f"{k}={v:.4g}" for k, v in pair[side].items()), flush=True)
        except RunFailed as e:
            lost.append(f"pair {i + 1} seed {seed}")
            print(f"pair {i + 1} seed {seed} FAILED, pair dropped: {e}", flush=True)
            continue
        for side, metrics in pair.items():
            for k, v in metrics.items():
                values[side].setdefault(k, []).append(v)

    better = directions(a.change)
    print(f"\n{a.workload}: {a.pairs - len(lost)} of {a.pairs} pairs completed, "
          f"{a.seconds} s each, trace={a.trace}")
    print(f"{'metric':32s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
          f" {'wins':>6s}  gain")
    for k in sorted(set(values["parent"]) & set(values["change"])):
        p, c = values["parent"][k], values["change"][k]
        n = min(len(p), len(c))
        sign = -1.0 if better.get(k, "lower") == "lower" else 1.0
        wins = sum(sign * (c[i] - p[i]) > 0 for i in range(n))
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        gain = wins >= 0.9 * n and sign * (cmed - pmed) > (pq3 - pq1)
        pcol = f"{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]"
        ccol = f"{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]"
        print(f"{k:32s} {pcol:>30s} {ccol:>30s} {wins:>3d}/{n:<2d}  {'yes' if gain else 'no'}")
    for f in flagged:
        print(f"FLAGGED {f}")
    for p in lost:
        print(f"LOST {p}: a run exited non-zero")
    if lost:
        sys.exit(1)


if __name__ == "__main__":
    main()
