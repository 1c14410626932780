#!/usr/bin/env python3
"""Round-6 optimization harness (guide §1.4): isolate individual declared
queries with the noop sink, time them over N reps, and dump
`.explain("formatted")` for plan evidence under plans/r06/.

This file is NOT bench.py (which is frozen for the driver's measurement);
it exists so each optimization's before/after numbers and plan shapes can
be captured without re-running the whole suite.

Usage:
  python bench_extra.py explain  <query> [<query> ...] [--tag before]
  python bench_extra.py time     <query> [<query> ...] [--reps 5]
  python bench_extra.py plancount [<query> ...] # Exchange/BatchEvalPython counts
                                                # (every registered query if none)

Env: SPARK_GRAFT_SF_DIR (default: SF_DIR below), SPARK_GRAFT_CPUS (default:
the cores this process may run on).
"""

from __future__ import annotations

import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bench-extra-r06")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    mode = sys.argv[1]
    args = sys.argv[2:]
    tag = "before"
    reps = 5
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--tag":
            tag = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    spark = _spark()
    from ocr_sam_project_spark.queries import QUERY_FNS, _load

    _load(spark, SF_DIR)

    if mode == "explain":
        os.makedirs(os.path.join(HERE, "plans", "r06"), exist_ok=True)
        for name in names:
            df = QUERY_FNS[name](spark, SF_DIR)
            txt = _explain_str(df)
            path = os.path.join(HERE, "plans", "r06", f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(txt)
            ex = len(re.findall(r"\bExchange\b", txt))
            py = len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas", txt))
            print(f"{name}: wrote {path} (Exchange={ex}, PythonEval={py})")
    elif mode == "plancount":
        # counts are mentions in the formatted explain (the tree and the
        # node details can both name a node): comparable between runs
        for name in names or sorted(QUERY_FNS):
            df = QUERY_FNS[name](spark, SF_DIR)
            txt = _explain_str(df)
            ex = len(re.findall(r"\bExchange\b", txt))
            rr = len(re.findall(r"RoundRobinPartitioning", txt))
            scans = len(re.findall(r"\bScan parquet\b", txt))
            py = len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas", txt))
            sm = len(re.findall(r"SortMergeJoin", txt))
            bh = len(re.findall(r"BroadcastHashJoin", txt))
            print(f"{name}: Exchange={ex} RoundRobin={rr} Scan={scans} "
                  f"PythonEval={py} SMJ={sm} BHJ={bh}")
    elif mode == "time":
        # warm-up: one noop scan of the base tables + first query compiles
        for t in ("lineitem", "orders", "documents", "embeddings"):
            spark.table(t).write.format("noop").mode("overwrite").save()
        out = {}
        for name in names:
            fn = QUERY_FNS[name]
            ts = []
            for r in range(reps):
                spark.sparkContext.setJobDescription(f"{name}#{r}")
                t0 = time.monotonic()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                ts.append(time.monotonic() - t0)
            ts_s = sorted(ts)
            med = ts_s[len(ts_s) // 2] if reps % 2 else (
                ts_s[reps // 2 - 1] + ts_s[reps // 2]
            ) / 2
            out[name] = (med, min(ts), max(ts))
            print(f"{name}: median={med:.3f}s min={min(ts):.3f} max={max(ts):.3f} all={[round(x,3) for x in ts]}")
        print({k: round(v[0], 3) for k, v in out.items()})
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
