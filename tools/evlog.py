#!/usr/bin/env python3
"""Summarize a Spark event log per stage.

    python3 tools/evlog.py EVENT_LOG [--min-tasks N] [--json]

For every stage attempt: its task count and the sums, over its finished
tasks, of executor deserialize time, deserialize CPU time, run time and
CPU time, in milliseconds, with the stage's job group and name. A last
line sums every stage. Deserialize time far above run time means each
task spends more on unpacking what it was sent than on its work.

EVENT_LOG is a file Spark wrote with `spark.eventLog.enabled=true` (and
`spark.eventLog.dir`), plain or compressed. `.zstd` logs, the default
codec, are read through the `unzstd` command-line tool, `.gz` through
Python's gzip, anything else as plain JSON lines. A rolling log's
directory (`eventlog_v2_*`) is read file by file in order.
"""
import argparse
import gzip
import json
import subprocess
from pathlib import Path


def lines_of(path):
    if path.is_dir():
        for f in sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1])):
            yield from lines_of(f)
        return
    if ".zstd" in path.name:
        out = subprocess.run(["unzstd", "-c", str(path)], check=True, capture_output=True).stdout
        yield from out.decode("utf-8").splitlines()
    elif path.name.endswith(".gz"):
        with gzip.open(path, "rt", encoding="utf-8") as f:
            yield from f
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def summarize(path):
    stages = {}   # (stage id, attempt) -> row
    group_of = {}  # stage id -> job group

    def row(sid, att):
        return stages.setdefault((sid, att), {
            "stage": sid, "attempt": att, "name": "", "group": group_of.get(sid, ""),
            "tasks": 0, "deser_ms": 0.0, "deser_cpu_ms": 0.0, "run_ms": 0.0, "cpu_ms": 0.0})

    for line in lines_of(path):
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                group_of[sid] = group
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            r = row(info["Stage ID"], info["Stage Attempt ID"])
            r["name"] = info.get("Stage Name", r["name"])
            r["group"] = group_of.get(info["Stage ID"], r["group"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            r = row(ev["Stage ID"], ev["Stage Attempt ID"])
            r["tasks"] += 1
            r["deser_ms"] += m.get("Executor Deserialize Time", 0)
            r["deser_cpu_ms"] += m.get("Executor Deserialize CPU Time", 0) / 1e6
            r["run_ms"] += m.get("Executor Run Time", 0)
            r["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    return [stages[k] for k in sorted(stages)]


SUMS = ("tasks", "deser_ms", "deser_cpu_ms", "run_ms", "cpu_ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", type=Path)
    ap.add_argument("--min-tasks", type=int, default=1,
                    help="list only stages with at least this many finished tasks")
    ap.add_argument("--json", action="store_true", help="one JSON object per stage")
    args = ap.parse_args()
    rows = [r for r in summarize(args.log) if r["tasks"] >= args.min_tasks]
    total = {k: sum(r[k] for r in rows) for k in SUMS}
    if args.json:
        for r in rows:
            print(json.dumps(r))
        print(json.dumps({"stage": "total", **total}))
        return
    print(f"{'stage':>7} {'tasks':>6} {'deser_ms':>9} {'deser_cpu':>9} {'run_ms':>9} {'cpu_ms':>9}  group / name")
    for r in rows:
        sid = f"{r['stage']}.{r['attempt']}"
        print(f"{sid:>7} {r['tasks']:>6} {r['deser_ms']:>9.0f} {r['deser_cpu_ms']:>9.0f} "
              f"{r['run_ms']:>9.0f} {r['cpu_ms']:>9.0f}  {r['group'] or '-'} / {r['name'][:60]}")
    print(f"{'total':>7} {total['tasks']:>6} {total['deser_ms']:>9.0f} {total['deser_cpu_ms']:>9.0f} "
          f"{total['run_ms']:>9.0f} {total['cpu_ms']:>9.0f}  {len(rows)} stages")


if __name__ == "__main__":
    main()
