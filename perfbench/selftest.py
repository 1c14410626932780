#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input sizes.

    python3 perfbench/selftest.py

Run from the repository root.  Checks that:
* every workload runs once untraced and once traced, and prints exactly the
  metrics BENCHMARK.json names, each a finite number with the named unit;
* the correctness gates fail on a corrupted golden row and on an audit
  count that is off by one;
* the command exits non-zero, printing no result, in a directory that holds
  only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_metrics(workload: str, trace: int, expected: dict[str, str]) -> None:
    p = run(["--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--tiny"])
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit(f"FAIL {workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        sys.exit(f"FAIL {workload} trace={trace}: incorrect run "
                 f"{p.stdout.strip().splitlines()[-2][:3000]}")
    got = result["metrics"]
    if sorted(got) != sorted(expected):
        sys.exit(f"FAIL {workload} trace={trace}: metrics differ: "
                 f"missing {sorted(set(expected) - set(got))}, "
                 f"extra {sorted(set(got) - set(expected))}")
    for name, unit in expected.items():
        v = got[name]
        if v["unit"] != unit or not isinstance(v["value"], (int, float)) \
                or not math.isfinite(v["value"]):
            sys.exit(f"FAIL {workload} trace={trace}: {name} = {v}, want unit {unit}")
    print(f"ok   {workload} trace={trace}: {len(got)} metrics with units", flush=True)


def check_gates() -> None:
    """The gates must reject one corrupted golden row and an off-by-one
    audit count, and accept the untouched ones."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from ocr_sam_project_spark.pipeline.job import run_extraction_job
    from ocr_sam_project_spark.sources.io import write_golden_parquet, write_pages_parquet
    from perfbench import checks, engine

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    spark = engine.start_session(work, 2)
    try:
        engine.ship_package(spark, ROOT, work)
        pages = write_pages_parquet(f"{work}/pages.parquet", n=120, seed=5)
        golden = spark.read.parquet(write_golden_parquet(f"{work}/golden.parquet", n=120, seed=5))
        summary = run_extraction_job(spark, pages, f"{work}/out", num_parts=2)
        written = spark.read.parquet(f"{work}/out/extractions")
        first = golden.orderBy("url", "seg_no").first()
        corrupted = golden.withColumn("extracted_text", F.when(
            (F.col("url") == first["url"]) & (F.col("seg_no") == first["seg_no"]),
            F.concat(F.col("extracted_text"), F.lit(" "))).otherwise(F.col("extracted_text")))
        off_by_one = dict(summary, docs_in=summary["docs_in"] + 1)
        cases = [
            ("golden gate accepts the golden rows", checks.golden_gate(written, golden, True), True),
            ("golden gate rejects a corrupted row", checks.golden_gate(written, corrupted, True), False),
            ("survivor gate rejects a corrupted row", checks.golden_gate(written, corrupted, False), False),
            ("audit gate accepts the exact count", checks.audit_gate(summary, 120), True),
            ("audit gate rejects an off-by-one count", checks.audit_gate(off_by_one, 120), False),
        ]
        for label, (ok, detail), want in cases:
            if ok != want:
                sys.exit(f"FAIL {label}: {detail}")
            print(f"ok   {label}", flush=True)
    finally:
        engine.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def check_bare_directory() -> None:
    """Without the package next to it the command must fail, silently."""
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(["--workload", "extract_clean", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        sys.exit(f"FAIL bare directory: exit {p.returncode}, stdout {p.stdout[-500:]}")
    print(f"ok   bare directory exits {p.returncode} with no result", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    check_bare_directory()
    for workload in sorted(w["name"] for w in bench["workloads"]):
        check_metrics(workload, 0, e2e)
        check_metrics(workload, 1, per_layer)
    check_gates()
    print("selftest passed")


if __name__ == "__main__":
    main()
