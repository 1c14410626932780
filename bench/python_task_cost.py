#!/usr/bin/env python3
"""Fixed cost of one Python task: is one wave of Arrow tasks per core right?

Times an identity mapInPandas over a generated pages file at 1x, 4x and 16x
nproc input splits, interleaved in ONE process at local[nproc] (the order
rotates every rep).  The Python work per row is nil and the rows are the
same at every split count, so the wall time grows with the task count only.
A JVM-only scan of the same file at 16x nproc splits is the control: a task
that starts no Python worker.

The slope of wall time over task count, times nproc (the tasks that run at
once), is the fixed cost of one Python task in slot-seconds.
`pipeline.job._tune_split_size` plans one task per core because this cost
is large next to the per-row work of a bench-scale input.

Usage: python bench/python_task_cost.py [--pages 10000] [--reps 3]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from ocr_sam_project_spark.sources.io import write_pages_parquet  # noqa: E402

WAVES = (1, 4, 16)


def _identity(batches):
    yield from batches


def _timed(spark: SparkSession, df: DataFrame, group: str) -> tuple[float, int]:
    """Wall seconds of a no-op write of `df`, and the tasks it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = sum(
        info.numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    )
    return wall, tasks


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pages", type=int, default=10000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))  # nproc
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="python_task_cost_")
    try:
        path = os.path.join(work, "pages.parquet")
        # row groups small enough for 16 splits per core
        write_pages_parquet(path, n=args.pages, seed=1,
                            row_group_size=max(1, args.pages // (64 * cores)))
        total = os.path.getsize(path)

        def scan(splits: int) -> DataFrame:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(-(-total // splits)))
            return spark.read.parquet(path)

        variants = [(f"python {w}x", w * cores, True) for w in WAVES]
        variants.append((f"jvm {WAVES[-1]}x", WAVES[-1] * cores, False))
        walls: dict[str, list[float]] = {name: [] for name, _, _ in variants}
        tasks: dict[str, int] = {}
        for rep in range(args.reps + 1):  # rep 0 warms the JVM and workers
            order = variants[rep % len(variants):] + variants[:rep % len(variants)]
            for name, splits, python in order:
                df = scan(splits)
                if python:
                    df = df.mapInPandas(_identity, df.schema)
                wall, n = _timed(spark, df, f"task-cost-{rep}-{name}")
                if rep:
                    walls[name].append(wall)
                    tasks[name] = n

        print(f"{args.pages} pages, {total / 1e6:.1f} MB, local[{cores}], "
              f"{args.reps} reps (median, min-max wall s)\n")
        print("| variant | tasks | wall s |")
        print("|---|---|---|")
        for name, _, _ in variants:
            w = walls[name]
            print(f"| {name} | {tasks[name]} | {statistics.median(w):.2f} "
                  f"({min(w):.2f}-{max(w):.2f}) |")
        lo, hi = f"python {WAVES[0]}x", f"python {WAVES[-1]}x"
        slope = ((statistics.median(walls[hi]) - statistics.median(walls[lo]))
                 / max(1, tasks[hi] - tasks[lo]))
        print(f"\nfixed cost per Python task: {slope * cores:.3f} slot-s "
              f"({slope * 1e3:.1f} ms of wall per extra task at {cores} slots)")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
