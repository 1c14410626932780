#!/usr/bin/env python3
"""Layered extraction benchmark: one command, two workloads.

    python3 perfbench/run.py --workload extract_clean --seed 1 --seconds 12 --trace 0

Run from the repository root.  One client in one process drives a closed
loop at `local[<nproc>]`: the next timed unit starts when the previous one
has finished and been checked.  A unit is one `run_extraction_job` call.
Units run until `--seconds` have passed.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(from a run that alternates untraced and traced units and then runs the
layer probes, writing its spans under `.perfbench_out/`).  The line before
it holds the run's detail: host, versions, seed, per-unit samples and the
correctness detail.  Scratch files live under `.perfbench_work/` and are
removed at exit.  `--tiny` shrinks every input, for the self-test.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ocr_sam_project_spark"

# extract_clean: small enough that a run of BENCHMARK.json's run_seconds
# holds two or three units after the two untimed ones, for its median.
# funnel_recrawl: crawl 1 is large enough that its store holds at least
# STORE_PER_BATCH_ROW fingerprints per batch row (the batch is batch_pages
# plus the three duplicate kinds)
SIZES = {
    "extract_clean": {"pages": 10000},
    "funnel_recrawl": {"crawl1_pages": 5000, "batch_pages": 320, "recrawled": 32,
                       "url_variants": 16, "text_copies": 16},
}
TINY = {
    "extract_clean": {"pages": 300},
    "funnel_recrawl": {"crawl1_pages": 1000, "batch_pages": 60, "recrawled": 6,
                       "url_variants": 3, "text_copies": 3},
}

END_TO_END = {"run_s": "s", "docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}

def layer_units() -> dict[str, str]:
    """Every per-layer metric, with its unit."""
    from perfbench.checks import TIERS
    from perfbench.spans import PHASES

    return {
        "extraction.doc_us_p50": "us", "extraction.doc_us_p99": "us", "extraction.cpu_s": "s",
        **{f"extraction.{p}_us": "us" for p in PHASES},
        "extraction.segments": "count", "extraction.quarantined": "count",
        "stages.arrow_identity_s": "s", "stages.extract_noop_s": "s",
        "stages.python_share": "ratio", "stages.rows_in": "count",
        "stages.segments_out": "count",
        "job.scan_s": "s", "job.write_s": "s", "job.elapsed_s": "s", "job.tail_s": "s",
        **{f"job.tier_s.{t}": "s" for t in TIERS},
        "job.extract_write_s": "s", "job.stats_s": "s", "job.lineage_write_s": "s",
        "job.fp_append_s": "s",
        **{f"job.losers.{t}": "count" for t in TIERS},
        "job.drop_frac": "ratio", "job.bloom_precision": "ratio", "job.unexplained_s": "s",
        "spark.jobs": "count", "spark.tasks": "count", "spark.busy_s": "s",
        "spark.busy_frac": "ratio", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
        "spark.input_mb": "MB",
        "sources.gen_s": "s",
        "self_s.pipeline.job": "s", "self_s.pipeline.stages": "s", "self_s.operators": "s",
        "trace.overhead_s": "s", "trace.spans": "count",
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    return p.parse_args(argv)


def run_units(wl, args, counters, sampler, tracer, cores: int) -> list[dict]:
    """The closed loop: units back to back until they have measured
    `--seconds` in all.  In a traced run every second unit is traced (at
    least one of each)."""
    from perfbench.engine import loadavg
    from perfbench.spans import job_marks

    units: list[dict] = []
    while True:
        i = len(units)
        traced = bool(args.trace) and i % 2 == 1
        wl.tracer = tracer if traced else None
        wl.before(i)
        unit = {"i": i, "traced": traced, "load_before": loadavg()}
        token = counters.begin()
        sampler.active.set()
        t0 = time.monotonic()
        result, error = None, None
        try:
            if traced:
                root_span = tracer.span("pipeline.job.run_extraction_job", "pipeline.job")
                with root_span as root, job_marks(tracer):
                    result = wl.call(i)
                unit["root"] = root
            else:
                result = wl.call(i)
        except Exception:
            error = traceback.format_exc()
        unit["run_s"] = time.monotonic() - t0
        sampler.active.clear()
        unit["engine"] = counters.end(token, unit["run_s"], cores)
        unit["peak_rss_mb"], unit["peak_rss_by_process"] = sampler.take_peak()
        unit["load_after"] = loadavg()
        if error is None:
            try:
                unit["ok"], unit["check"] = wl.check(i, result)
            except Exception:
                error = traceback.format_exc()
        if error is not None:
            print(error, file=sys.stderr)
            unit["ok"], unit["error"] = False, error.strip().splitlines()[-1]
        else:
            unit["docs"] = result["docs_in"]
            unit["summary"] = result
        units.append(unit)
        measured = sum(u["run_s"] for u in units)
        if measured >= args.seconds and (not args.trace or len(units) >= 2):
            return units


def end_to_end(units: list[dict], setup_s: float) -> dict:
    good = [u for u in units if u["ok"]]
    run_s = _median([u["run_s"] for u in units])
    return {
        "run_s": run_s,
        "docs_per_s": _median([u["docs"] / u["run_s"] for u in good]),
        "setup_s": setup_s,
        "peak_rss_mb": max(u["peak_rss_mb"] for u in units),
    }


def per_layer(wl, units: list[dict], probes: dict, tracer, gen_s: float, cores: int) -> dict:
    from perfbench.checks import TIERS
    from perfbench.spans import MARK_METRICS

    m = {k: 0.0 for k in layer_units()}
    m.update(probes)
    plain = [u for u in units if not u["traced"]]
    traced = [u for u in units if u["traced"]]
    for key in ("jobs", "tasks", "busy_s", "busy_frac", "gc_s", "shuffle_write_mb", "input_mb"):
        m[f"spark.{key}"] = _median([u["engine"][key] for u in units])
    m["sources.gen_s"] = gen_s
    by_root = {u["root"]: u for u in traced if "root" in u}
    per_name: dict[str, list[float]] = {}
    selfs: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s["parent"] in by_root:
            key = MARK_METRICS.get(s["name"].split(".", 1)[1])
            if key:
                per_name.setdefault(key, []).append(s["end"] - s["start"])
    for root in by_root:
        for layer, v in tracer.self_times(root).items():
            selfs.setdefault(layer, []).append(v)
    for key, xs in per_name.items():
        m[key] = _median(xs)
    for layer in ("pipeline.job", "pipeline.stages", "operators"):
        m[f"self_s.{layer}"] = _median(selfs.get(layer, []))
    run_plain = _median([u["run_s"] for u in plain])
    m["trace.overhead_s"] = _median([u["run_s"] for u in traced]) - run_plain
    m["trace.spans"] = len(tracer.spans)
    summaries = [u["summary"] for u in units if "summary" in u]
    if summaries:
        last = summaries[-1]
        for t, key in TIERS.items():
            m[f"job.losers.{t}"] = last[key]
        m["job.drop_frac"] = sum(last[k] for k in TIERS.values()) / wl.input_rows
        m["stages.segments_out"] = last["segments_out"]
        m["job.elapsed_s"] = _median([s["elapsed_sec"] for s in summaries])
        m["job.tail_s"] = _median([u["run_s"] - u["summary"]["elapsed_sec"]
                                   for u in plain if "summary" in u])
        m["job.write_s"] = m["job.extract_write_s"] - m["stages.extract_noop_s"]
        if m["stages.extract_noop_s"] > 0:
            m["stages.python_share"] = m["extraction.cpu_s"] / cores / m["stages.extract_noop_s"]
        explained = (m["extraction.cpu_s"] / cores + m["stages.arrow_identity_s"]
                     + m["job.write_s"] + sum(m[f"job.tier_s.{t}"] for t in TIERS)
                     + m["job.tail_s"])
        m["job.unexplained_s"] = run_plain - explained
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    # import as a package from the repository root, so no benchmark module
    # can shadow a standard-library one
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    from perfbench import engine
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    cores = engine.nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": cores, "master": f"local[{cores}]",
              "loadavg_start": engine.loadavg()}
    spark = None
    tracer = Tracer(run_id)
    try:
        spark = engine.start_session(work, cores)
        engine.ship_package(spark, ROOT, work)
        session_s = time.monotonic() - T_START
        detail["versions"] = engine.versions()
        size = (TINY if args.tiny else SIZES)[args.workload]
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores, size)
        t = time.monotonic()
        with tracer.span("sources.generate", "sources"):
            gen_s = wl.prepare()
        prepare_s = time.monotonic() - t
        with tracer.span(f"{args.workload}.warm", "perfbench"):
            wl.warm()
        detail["setup"] = {"session_s": session_s, "prepare_s": prepare_s,
                           "warm_s": time.monotonic() - t - prepare_s,
                           "size": size, "inputs": wl.inputs()}
        counters = engine.EngineCounters(spark)
        with engine.RssSampler() as sampler:
            # process start to the first timed unit
            setup_s = time.monotonic() - T_START
            units = run_units(wl, args, counters, sampler, tracer, cores)
        detail["loadavg_end"] = engine.loadavg()
        if args.trace:
            with tracer.span(f"{args.workload}.probes", "perfbench"):
                probes = wl.probes()
            metrics = per_layer(wl, units, probes, tracer, gen_s, cores)
            units_spec = layer_units()
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{run_id}.jsonl")
            tracer.write(spans_path)
            detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = end_to_end(units, setup_s)
            units_spec = END_TO_END
    finally:
        if spark is not None:
            engine.stop_session(spark)
        detail["stray_processes"] = engine.wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    failed = sum(not u["ok"] for u in units)
    detail["failed_frac"] = failed / len(units)
    detail["units"] = [{k: v for k, v in u.items() if k != "root"} for u in units]
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(units),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units_spec.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
