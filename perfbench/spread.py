#!/usr/bin/env python3
"""Run one workload over several seeds and print, per metric, the
median and the quartile spread as a share of the median, the way the
benchmark's acceptance reads it.

    python3 perfbench/spread.py --workload tail --seeds 1-5 [--seconds 15] [--trace 0]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    values = {}
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, str(RUN), "--workload", a.workload, "--seed", str(s),
                              "--seconds", str(a.seconds), "--trace", a.trace],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        host = detail.get("host", {})
        print(f"seed {s}: wall={time.monotonic() - t0:.0f}s "
              f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              f"contended={host.get('contended')} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k:32s} median={med:.6g} spread={spread:.3f} n={len(vs)}")


if __name__ == "__main__":
    main()
