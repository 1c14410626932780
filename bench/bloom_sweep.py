#!/usr/bin/env python3
"""Bloom store-probe sweep: is the fingerprint-store Bloom tier worth it?

Times three ways to find the batch fingerprints that are already in the
store, interleaved in ONE process at local[nproc]:

  no_bloom   batch LEFT SEMI JOIN store (what the job does without the tier)
  old_bloom  bloom_build + the F.lit(list) probe (one literal node per
             bitset word, rebuilt here as the measured baseline) + join
  new_bloom  bloom_build + operators.dedup.bloom_hit (one binary literal)
             + join

at store/batch ratios of 10x, 100x and 1000x.  Store and batch are
corpus_fingerprints of synthetic texts; the store is written to parquet and
read back, as the job reads its fp store.  One batch fp in eight is a store
member.  Every rep of every variant must find the same losers.  Each cell
is the median (min-max) wall seconds of the reps, bloom_build included.

Usage: python bench/bloom_sweep.py [--batch 96] [--ratios 10,100,1000]
                                   [--reps 3] [--bits 1048576]
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

from pyspark.sql import Column, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ocr_sam_project_spark.operators.dedup import (  # noqa: E402
    bloom_build,
    bloom_hit,
    corpus_fingerprints,
)

K = 4


def bloom_hit_list_literal(fp: Column, words: list[int], m_bits: int, k: int) -> Column:
    """The pre-binary-literal bloom_hit: F.lit(words) becomes an array of
    one literal per word, so building it costs one py4j call per word."""
    lit_words = F.lit(words).cast("array<bigint>")
    cond = F.lit(True)
    for j in range(k):
        p = (
            F.conv(
                F.substring(F.md5(F.concat(fp, F.lit(f":{j}"))), 1, 14), 16, 10
            ).cast("long")
            % m_bits
        )
        word = F.element_at(lit_words, (F.shiftright(p, 6) + 1).cast("int"))
        bit = F.call_function(
            "shiftright", word, (p % 64).cast("int")
        ).bitwiseAND(F.lit(1).cast("bigint"))
        cond = cond & (bit == 1)
    return cond


def _texts(spark: SparkSession, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("sweep page body "), F.col("id").cast("string")).alias("text"),
    )


def _losers(spark, variant: str, batch, store_path: str, bits: int) -> tuple[float, list]:
    t0 = time.perf_counter()
    store = spark.read.parquet(store_path).select("fp")
    probe = batch
    if variant != "no_bloom":
        hit = bloom_hit if variant == "new_bloom" else bloom_hit_list_literal
        words = bloom_build(store, m_bits=bits, k=K)
        probe = batch.filter(hit(F.col("fp"), words, bits, K))
    losers = probe.join(store, "fp", "left_semi").select("doc_id").localCheckpoint()
    ids = sorted(r.doc_id for r in losers.collect())
    return time.perf_counter() - t0, ids


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", type=int, default=96)
    ap.add_argument("--ratios", default="10,100,1000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--bits", type=int, default=1 << 20)
    args = ap.parse_args()

    cpus = os.cpu_count() or 1
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bloom-sweep")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    variants = ["no_bloom", "old_bloom", "new_bloom"]
    work = tempfile.mkdtemp(prefix="bloom_sweep_")
    rows = []
    try:
        for ratio in (int(r) for r in args.ratios.split(",")):
            n_store = ratio * args.batch
            store_path = f"{work}/store_{ratio}.parquet"
            corpus_fingerprints(_texts(spark, 0, n_store)).select("fp").write.parquet(
                store_path
            )
            # one batch row in eight is a store member, the rest are new
            n_dup = args.batch // 8
            batch = (
                corpus_fingerprints(
                    _texts(spark, n_store - n_dup, n_store - n_dup + args.batch)
                )
                .localCheckpoint()
            )
            _losers(spark, "new_bloom", batch, store_path, args.bits)  # warm-up
            times = {v: [] for v in variants}
            expect = None
            for rep in range(args.reps):
                # rotate the order so no variant always runs first
                for v in variants[rep % len(variants):] + variants[: rep % len(variants)]:
                    dt, ids = _losers(spark, v, batch, store_path, args.bits)
                    if expect is None:
                        expect = ids
                    if ids != expect:
                        raise RuntimeError(f"{v} at {ratio}x found other losers")
                    times[v].append(dt)
            if len(expect) != n_dup:
                raise RuntimeError(f"{ratio}x: {len(expect)} losers, {n_dup} planted")
            for v in variants:
                ts = times[v]
                rows.append((ratio, n_store, v, statistics.median(ts), min(ts), max(ts)))
                print(f"ratio {ratio} {v}: {statistics.median(ts):.2f} s", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(f"\nlocal[{cpus}], batch {args.batch} fps, m = {args.bits} bits, k = {K}, "
          f"{args.reps} interleaved reps after one warm-up\n")
    print("| store/batch | store fps | variant | median s | min-max s |")
    print("|---|---|---|---|---|")
    for ratio, n_store, v, med, lo, hi in rows:
        print(f"| {ratio}x | {n_store} | {v} | {med:.2f} | {lo:.2f}-{hi:.2f} |")


if __name__ == "__main__":
    main()
