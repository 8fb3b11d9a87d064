#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source,
runs one workload in a fresh JVM and prints its metrics.

Run from the repository root:

    python3 panelbench/run.py --workload panel_cv --seed 1 --seconds 8 --trace 0

The build (sbt, the benchmark's own build in this directory, which depends
on the program's build at the root) runs only when a source or build file
changed since the last build. Build outputs, logs and per-run results go
under `.bench_build/` at the root. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed`, and `metrics` holding every
end-to-end metric named in BENCHMARK.json (`--trace 0`) or every per-layer
metric (`--trace 1`). Every metric the run measured is printed above it and
kept in `.bench_build/results/<run>/result.json`, with the spans of a
traced run in `spans.jsonl` next to it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
LAUNCH = HERE / "target" / "launch"
WORKLOADS = ("panel_cv", "dedup_crawl")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "-Xmx4g"


def fail(msg):
    print(f"[panelbench] {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Files whose content decides the build: both builds and all sources."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for src in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def ensure_built():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT} (build.sbt and src/main/scala are required)")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = WORK / "build.stamp"
    want = digest.hexdigest()
    if stamp.is_file() and stamp.read_text() == want and (LAUNCH / "classpath").is_file():
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    print("[panelbench] building program and benchmark (sbt writeLaunch)", file=sys.stderr)
    with open(log, "w") as out:
        try:
            proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                  cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
    if proc.returncode != 0 or not (LAUNCH / "classpath").is_file():
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed; see {log}")
    stamp.write_text(want)


def java_command(args, out_dir):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = [o for o in (LAUNCH / "jvm_options").read_text().splitlines() if o]
    return [str(java), *opts, HEAP, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", (LAUNCH / "classpath").read_text().strip(), "panelbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(out_dir)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail(f"{spec_path} is missing")
    spec = json.loads(spec_path.read_text())
    ensure_built()

    out_dir = WORK / "results" / f"{args.workload}_seed{args.seed}_trace{args.trace}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    log = out_dir / "run.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "tmp"))
    with open(log, "w") as err:
        proc = subprocess.Popen(java_command(args, out_dir), cwd=WORK, env=env,
                                stdout=err, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    result_path = out_dir / "result.json"
    if code != 0 or not result_path.is_file():
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"run exited with code {code}; see {log}")
    result = json.loads(result_path.read_text())

    measured = result["metrics"]
    for name in sorted(measured):
        m = measured[name]
        print(f"{args.workload:>12} {name:<32} {m['value']!r:>24} {m['unit']}")
    for p in result["passes"]:
        bad = [c for c in p["checks"] if not c["ok"]]
        if p["error"] or bad:
            print(f"pass {p['index']}: error={p['error']} failed checks={bad}")
    print(f"passes={sum(1 for p in result['passes'] if p['index'] >= 0)} "
          f"attempted={result['attempted']} failed={result['failed']} results={out_dir}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} was not measured (no pass completed?)")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
