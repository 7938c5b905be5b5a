#!/usr/bin/env python3
"""The repo benchmark: the OMOP ETL engine's `run` path at two scales.

Usage (from the repo root):
  python3 omopbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each run builds the program if needed (omopbench/build.py), then starts one
JVM on local[<cores>] that sets up three times, runs one cold op and then
warm ops in a closed loop with one client while they fit in S seconds (at
least one), checks every op's output, and writes a raw report. This script turns that report into metrics and prints,
as its last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`; the line before it is a detail object (calibration,
sample counts, check outcomes). `--trace 1` gives the per-layer metrics.

Workloads (the seed permutes the staged source row order; rule order is
semantic and stays sorted):
  etl_omop_small  the 4 validation rules on the workbook corpus itself
                  (73 target rows); every op is checked value for value
                  against the workbook golden
  etl_omop_large  the same rules on a x2000 replica (104,021 target rows);
                  every op's row counts are checked against the golden x2000
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import report  # noqa: E402

CORPUS = "src/test/resources/corpus"
RULES = "src/main/resources/validation"
RESOURCES = "src/main/resources"

# workload -> replica factor of the workbook corpus
WORKLOADS = {"etl_omop_small": 1, "etl_omop_large": 2000}
SETUPS = 3
JVM_TIMEOUT_S = 170
HEAP = "3g"

# the JDK 17 module opens Spark needs outside spark-submit; kept here rather
# than borrowed from tools/run.sh so that launcher changes cannot move the
# benchmark
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = Path.cwd()
    for p in (CORPUS, RULES):
        if not (root / p).is_dir():
            print(f"omopbench: {p} not found; run from the repo root", file=sys.stderr)
            return 2
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"omopbench: {e}", file=sys.stderr)
        return 2

    work = root / ".bench_build" / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "report.json"
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([str(classes), str(root / RESOURCES), str(jars / "*")]),
            "omopbench.EtlBench",
            "--work", str(work), "--corpus", str(root / CORPUS), "--rules", str(root / RULES),
            "--factor", str(WORKLOADS[a.workload]), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed), "--cpus", str(cores()),
            "--setups", str(SETUPS), "--report", str(raw_path)])
    t0 = time.monotonic()
    try:
        # JVM stdout goes to stderr: this script's stdout carries only results
        proc = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"omopbench: JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    if proc.returncode != 0 or not raw_path.is_file():
        print(f"omopbench: JVM exited {proc.returncode} without a report", file=sys.stderr)
        return 3
    raw = json.loads(raw_path.read_text())
    shutil.rmtree(work, ignore_errors=True)

    result, detail = report.assemble(raw, trace=bool(a.trace))
    detail["workload"] = a.workload
    detail["run_wall_s"] = time.monotonic() - t0
    for p in detail["problems"]:
        print(f"omopbench: {p}", file=sys.stderr)
    if detail["calibration"]["disturbed"]:
        print(f"omopbench: calibration moved x{detail['calibration']['ratio']:.3f} "
              "during the run; the box was disturbed", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
