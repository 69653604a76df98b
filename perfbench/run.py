#!/usr/bin/env python3
"""graft's benchmark: one workload per run.

    python3 perfbench/run.py --workload tail|backlog|registry --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the
benchmark (perfbench/build.sbt compiles graft from this checkout's
sources) with sbt; later runs reuse the build until a source changes.
The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. Everything the run writes lands in
`.bench_build/` and the sbt `target/` directories of this checkout.
After a `registry` run, each query's warm-up result is compared with
its oracle SQL by `tools/crosscheck.py` (DuckDB); every query counts as
one more attempted check, and a mismatch as a failed one.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = HERE / "target" / "classpath.txt"
JAVA_OPTS = HERE / "target" / "javaopts.txt"
RUN_TIMEOUT_S = 150
CROSSCHECK_TIMEOUT_S = 20
BUILD_TIMEOUT_S = 840

# Heap cap: the workloads peak near 1.5 GB; the cap keeps the footprint
# small where other jobs share the host.
HEAP = "-Xmx3g"


def sources():
    """Every file the build reads: graft's main sources and build, the
    S3 simulator, and the benchmark's own build and sources."""
    yield ROOT / "build.sbt"
    yield ROOT / "project" / "build.properties"
    yield ROOT / "src" / "test" / "scala" / "graft" / "streamlog" / "S3LiteServer.scala"
    yield ROOT / "tools" / "crosscheck.py"
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"
    for top in (ROOT / "src" / "main", HERE / "src" / "main"):
        for dirpath, _, files in os.walk(top):
            for f in files:
                yield Path(dirpath) / f


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    missing = [p for p in sources() if not p.exists()]
    if missing:
        fail(f"not a graft checkout: {missing[0].relative_to(ROOT)} is missing")
    if CLASSPATH.exists():
        built = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime <= built for p in sources()):
            return
    print("[perfbench] building", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not CLASSPATH.exists() or not JAVA_OPTS.exists():
        fail(f"build failed with code {r.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("not a graft checkout: src/main/scala/graft is missing")
    build()
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # graft's own JVM options first, so the benchmark's settings win
    cmd = ["java"] + JAVA_OPTS.read_text().split("\n")
    cmd = [c for c in cmd if c] + [
        HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"run failed with code {proc.returncode}")
    result = json.loads(lines[-1])
    if a.workload == "registry":
        crosscheck(work, result)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


def crosscheck(work, result):
    """Compare the registry's warm-up results with their oracle SQL."""
    out = work / "registry-out"
    names = sorted(json.loads((out / "oracle_sql.json").read_text()))
    try:
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "crosscheck.py"),
                            str(work / "registry-tables"), str(out)] + names,
                           capture_output=True, text=True, timeout=CROSSCHECK_TIMEOUT_S)
        verdicts = [l for l in r.stdout.splitlines() if l.startswith(("PASS ", "FAIL "))]
    except subprocess.TimeoutExpired:
        verdicts = []
    passed = sum(v.startswith("PASS ") for v in verdicts)
    for v in verdicts:
        if not v.startswith("PASS "):
            print(f"[perfbench] cross-check: {v}", file=sys.stderr)
    result["attempted"] += len(names)
    result["failed"] += len(names) - passed
    result["correct"] = result["correct"] and passed == len(names)


if __name__ == "__main__":
    main()
