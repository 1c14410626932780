#!/usr/bin/env python3
"""Two-parallelism scaling bench — the BASELINE.json north_rule criterion.

Runs the IDENTICAL extraction job at local[N] and local[4N] (fresh JVM per
run, `spark-submit`-equivalent isolation via subprocess) on the SAME input,
reports throughput at both plus scaling efficiency

    eff = (docs_per_sec_4N / docs_per_sec_N) / 4

and appends the result table to BENCH.md.  Criterion: eff >= 0.8.

Usage: python bench/scaling.py [--pages 20000] [--n 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {here!r})
from pyspark.sql import SparkSession

cpus = {cpus}
spark = (SparkSession.builder.master(f"local[{{cpus}}]")
         .appName("scaling-bench")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "16g")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from ocr_sam_project_spark.pipeline.job import run_extraction_job
# warm-up pass over a small prefix (JVM/Arrow spin-up excluded from timing)
warm = tempfile.mkdtemp(prefix="scale_warm_")
run_extraction_job(spark, {warm_pages!r}, warm, run_id="warm", num_parts=cpus,
                   split_parallelism={split_par})
shutil.rmtree(warm, ignore_errors=True)
# the sandbox VM shows sporadic multi-second stalls (hypervisor noise), so
# measure {reps} repetitions and report the best — identical input splits at
# every parallelism (split_parallelism pins maxPartitionBytes).
best = None
for rep in range({reps}):
    out = tempfile.mkdtemp(prefix="scale_")
    s = run_extraction_job(spark, {pages!r}, out, run_id=f"scale{{rep}}",
                           num_parts=cpus, split_parallelism={split_par})
    shutil.rmtree(out, ignore_errors=True)
    if best is None or s["elapsed_sec"] < best["elapsed_sec"]:
        best = s
print("RESULT " + json.dumps({{"cpus": cpus, "docs": best["docs_in"],
      "elapsed": best["elapsed_sec"],
      "docs_per_sec": best["docs_in"] / best["elapsed_sec"]}}))
spark.stop()
"""


def _loadavg() -> float | None:
    """1-minute host load average — the contention witness every scaling
    row must carry (r6: the criterion's evidence is load-sensitive, and
    rows without a recorded load sample keep re-litigating whether a
    marginal efficiency was the code or the neighbors)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def run_at(cpus: int, pages: str, warm_pages: str, split_par: int, reps: int = 3) -> dict:
    code = _CHILD.format(here=HERE, cpus=cpus, pages=pages, warm_pages=warm_pages,
                         split_par=split_par, reps=reps)
    load0 = _loadavg()
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    load1 = _loadavg()
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[len("RESULT "):])
            r["load_before"], r["load_after"] = load0, load1
            return r
    raise RuntimeError(f"child failed (cpus={cpus}):\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=20000)
    ap.add_argument("--warm-pages", type=int, default=1000)
    ap.add_argument("--n", type=int, default=8, help="small parallelism (large = 4n)")
    ap.add_argument("--pairs", type=int, default=3,
                    help="alternating (N, 4N) sampling rounds; best per side wins")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from ocr_sam_project_spark.sources.io import write_pages_parquet

    cache = os.path.join(HERE, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    pages = os.path.join(cache, f"pages_n{args.pages}_seed42.parquet")
    if not os.path.exists(pages):
        write_pages_parquet(pages, n=args.pages, seed=42)
    warm = os.path.join(cache, f"pages_n{args.warm_pages}_seed43.parquet")
    if not os.path.exists(warm):
        write_pages_parquet(warm, n=args.warm_pages, seed=43)

    # The host's contention state drifts on a minutes scale, so a single
    # sequential (small, large) pair can straddle two different machine
    # states and report nonsense in either direction.  Sample each side in
    # ALTERNATING child JVMs across `--pairs` rounds and take the best
    # steady-state throughput per side — the same best-of policy as before,
    # spread over wider (and interleaved) time windows.
    smalls, larges = [], []
    for _ in range(args.pairs):
        smalls.append(run_at(args.n, pages, warm, split_par=args.n * 4, reps=2))
        larges.append(run_at(args.n * 4, pages, warm, split_par=args.n * 4, reps=2))
    small = max(smalls, key=lambda r: r["docs_per_sec"])
    large = max(larges, key=lambda r: r["docs_per_sec"])
    eff = (large["docs_per_sec"] / small["docs_per_sec"]) / 4.0

    result = {
        "pages": args.pages,
        "n_small": args.n,
        "n_large": args.n * 4,
        "docs_per_sec_small": round(small["docs_per_sec"], 1),
        "docs_per_sec_large": round(large["docs_per_sec"], 1),
        "elapsed_small_sec": round(small["elapsed"], 2),
        "elapsed_large_sec": round(large["elapsed"], 2),
        "scaling_efficiency": round(eff, 3),
        "criterion_ge_0.8": eff >= 0.8,
        "all_docs_per_sec_small": [round(r["docs_per_sec"], 1) for r in smalls],
        "all_docs_per_sec_large": [round(r["docs_per_sec"], 1) for r in larges],
        # per-child (before, after) 1-min load samples, in run order —
        # self-annotating contention evidence for every row
        "loadavg_small": [[r["load_before"], r["load_after"]] for r in smalls],
        "loadavg_large": [[r["load_before"], r["load_after"]] for r in larges],
    }
    print(json.dumps(result))

    md = os.path.join(HERE, "BENCH.md")
    header_needed = not os.path.exists(md)
    with open(md, "a") as f:
        if header_needed:
            f.write(
                "# BENCH — scaling evidence (north_rule: efficiency >= 0.8 "
                "between N and 4N parallelism)\n\n"
                "Identical extraction job (`run_extraction_job`, fresh JVM per run,\n"
                "warm-up pass excluded) on the same synthetic pages parquet.\n\n"
                "| pages | local[N] | local[4N] | docs/s @N | docs/s @4N | efficiency | pass |\n"
                "|---|---|---|---|---|---|---|\n"
            )
        # the winning (best-throughput) child's load window rides in the
        # pass cell so every appended row is self-annotating
        loads = (
            f"load N {small['load_before']}->{small['load_after']}, "
            f"4N {large['load_before']}->{large['load_after']}"
        )
        f.write(
            f"| {args.pages} | local[{args.n}] | local[{args.n * 4}] "
            f"| {result['docs_per_sec_small']} | {result['docs_per_sec_large']} "
            f"| {result['scaling_efficiency']} "
            f"| {'YES' if eff >= 0.8 else 'NO'} ({loads}) |\n"
        )


if __name__ == "__main__":
    main()
