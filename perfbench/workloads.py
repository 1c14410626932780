"""The workloads.  Each one prepares its inputs from the seed, warms the
engine with untimed jobs, then runs timed units; the benchmark times only the call into
the program (`run_extraction_job`).

* extract_clean  - the synthetic page corpus with no tier enabled: Python
  extraction, the Arrow boundary and the partitioned write do the work.
* funnel_recrawl - a second crawl against the fingerprint store of a first
  one, with every admission and dedup tier on: joins, window dedup,
  checkpoints, the store probe and the bloom filter do the work.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import checks, spans


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _write_rows(path: str, rows: list[dict], schema: pa.Schema, **kw) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path, **kw)


def _urls_written(spark, out_dir: str) -> set[str]:
    df = spark.read.parquet(f"{out_dir}/extractions").select("url").distinct()
    return {r.url for r in df.collect()}


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, cores: int, size: dict):
        self.spark, self.work, self.seed, self.cores, self.size = (
            spark, work_dir, seed, cores, size)
        self.tracer: spans.Tracer | None = None

    def prepare(self) -> float:
        """Generate this workload's inputs; returns the seconds spent in the
        `sources` layer."""
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def call(self, i: int) -> dict:
        """The timed call; returns the job summary (or pass result)."""
        raise NotImplementedError

    def before(self, i: int) -> None:
        """Untimed per-unit preparation."""

    def check(self, i: int, result: dict) -> tuple[bool, dict]:
        raise NotImplementedError

    def probes(self) -> dict:
        return {}

    def inputs(self) -> dict:
        """Sizes of the generated inputs, for the run's detail."""
        return {"input_rows": self.input_rows}

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def _stage_input_probes(self, stage_input: str) -> dict:
        """The layer probes over the rows the job's Arrow stage received."""
        with self._span("extraction.extract_document", "extraction"):
            out = spans.extraction_probe(stage_input)
        with self._span("pipeline.stages.probes", "pipeline.stages"):
            out.update(spans.stage_probes(self.spark, stage_input))
        return out


# --------------------------------------------------------------------------
class ExtractClean(Workload):
    name = "extract_clean"

    def prepare(self) -> float:
        from ocr_sam_project_spark.sources.io import write_golden_parquet, write_pages_parquet

        self.pages = f"{self.work}/in/pages.parquet"
        self.golden = f"{self.work}/in/golden.parquet"
        t = time.monotonic()
        write_pages_parquet(self.pages, n=self.size["pages"], seed=self.seed)
        gen_s = time.monotonic() - t
        write_golden_parquet(self.golden, n=self.size["pages"], seed=self.seed)
        return gen_s

    def warm(self) -> None:
        # two untimed units: the first jobs of a session pay for Python worker
        # start-up and JIT compilation, and the second unit is still slower
        # than the ones after it
        for i in (-2, -1):
            self.before(i)
            self.call(i)
        self.golden_df = self.spark.read.parquet(self.golden).cache()
        self.golden_df.count()

    def before(self, i: int) -> None:
        self.out = _fresh(f"{self.work}/out")

    def call(self, i: int) -> dict:
        from ocr_sam_project_spark.pipeline.job import run_extraction_job

        return run_extraction_job(self.spark, self.pages, self.out,
                                  run_id=f"unit{i}", num_parts=self.cores)

    def check(self, i: int, result: dict) -> tuple[bool, dict]:
        written = self.spark.read.parquet(f"{self.out}/extractions")
        ok_g, golden = checks.golden_gate(written, self.golden_df, every_page=True)
        ok_a, audit = checks.audit_gate(result, self.size["pages"])
        return ok_g and ok_a, {"golden": golden, "audit": audit}

    @property
    def input_rows(self) -> int:
        return self.size["pages"]

    def probes(self) -> dict:
        out = self._stage_input_probes(self.pages)
        with self._span("pipeline.job.scan", "pipeline.job"):
            out["job.scan_s"] = spans.scan_probe(self.spark, self.pages)
        out["stages.rows_in"] = self.size["pages"]
        return out


# --------------------------------------------------------------------------
BLOCKED_DOMAIN = "mingob.gob.pa"
ROBOTS_HOST = "gacetaoficial.gob.pa"
ROBOTS_TXT = "User-agent: *\nDisallow: /lote/00000\nAllow: /lote/000005\n"


# The bloom tier is built for a store much larger than the batch (job.py:
# "at store >> batch scale"); a unit fails unless the store holds at least
# this many fingerprints per batch row.
STORE_PER_BATCH_ROW = 10

# Crawl 1 runs against a store seeded with this many of its own pages'
# fingerprints, so that it takes the store-probe and bloom path too.
SEED_STORE_PAGES = 50


class FunnelRecrawl(Workload):
    """Crawl 1 (untimed) builds the fingerprint store; each timed unit is a
    second crawl over a much smaller batch against a fresh copy of that
    store.  Both crawls run every tier: crawl 1 starts from a store seeded
    with the fingerprints of its first SEED_STORE_PAGES pages, so that it
    also warms the store probe and the bloom filter for the timed units.

    The batch holds the seed+1 pages under `/lote/` urls plus, taken from
    them or from crawl 1: re-crawled crawl-1 pages (store dups), tracking-
    parameter url variants (url dups), the same text under new urls (exact
    dups); one hot domain is blocklisted and robots.txt disallows a path
    prefix on another.  The duplicate shares are illustrative, not taken
    from a measured crawl: each is a minority of the batch, so most of it
    is new to the store, the case the bloom tier is designed for."""

    name = "funnel_recrawl"

    def prepare(self) -> float:
        from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA, write_pages_parquet
        from ocr_sam_project_spark.sources.synth import make_pages

        n1, n2 = self.size["crawl1_pages"], self.size["batch_pages"]
        self.crawl1 = f"{self.work}/in/crawl1.parquet"
        t = time.monotonic()
        write_pages_parquet(self.crawl1, n=n1, seed=self.seed)
        old = make_pages(n1, self.seed)
        new = make_pages(n2, self.seed + 1)
        gen_s = time.monotonic() - t
        self.seed_urls = [p.url for p in old[:SEED_STORE_PAGES]]

        def row(p, url):
            return {"url": url, "warc_ts": p.warc_ts, "html": p.html,
                    "text": p.text, "lang": p.lang}

        rows, golden = [], []

        def add(p, url):
            rows.append(row(p, url))
            golden.extend({"url": url, "seg_no": s, "extracted_text": txt}
                          for s, txt in p.golden)

        for p in new:
            add(p, p.url.replace("/oficios/", "/lote/"))
        step = max(1, n2 // self.size["recrawled"])
        for p in old[::step][: self.size["recrawled"]]:
            add(p, p.url)
        for k, p in enumerate(new[1::step][: self.size["url_variants"]]):
            add(p, p.url.replace("/oficios/", "/lote/") + f"?utm_source=feed{k}")
        for k, p in enumerate(new[2::step][: self.size["text_copies"]]):
            add(p, f"https://copias{k % 7}.example.net/copia/{k:06d}")
        self.batch = f"{self.work}/in/batch.parquet"
        _write_rows(self.batch, rows, PAGES_ARROW_SCHEMA, row_group_size=256)
        self.batch_rows = len(rows)
        self.golden_rows = golden
        return gen_s

    def warm(self) -> None:
        from ocr_sam_project_spark.operators.curation import pii_scrub
        from ocr_sam_project_spark.operators.dedup import corpus_fingerprints
        from ocr_sam_project_spark.operators.webgraph import parse_robots
        from ocr_sam_project_spark.pipeline.job import run_extraction_job

        self.store = f"{self.work}/store"
        self.blocklist = self.spark.createDataFrame([(BLOCKED_DOMAIN,)], "domain string")
        self.robots = parse_robots(self.spark.createDataFrame(
            [(ROBOTS_HOST, ROBOTS_TXT)], "host string, robots_txt string")).cache()
        # the seed store holds what the job itself appends: the fingerprints
        # of non-empty texts
        seed = (self.spark.read.parquet(self.crawl1)
                .filter(F.col("url").isin(self.seed_urls) & (F.length(F.trim("text")) > 0)))
        corpus_fingerprints(seed, "text", "url").write.parquet(_fresh(self.store))
        run_extraction_job(
            self.spark, self.crawl1, _fresh(f"{self.work}/crawl1"), run_id="crawl1",
            num_parts=self.cores, fp_store_path=self.store, **self._tiers())
        self.store_rows = self.spark.read.parquet(self.store).count()
        # the job scrubs survivors' text, so the golden side goes through
        # the repository's own pii_scrub operator
        g = self.spark.createDataFrame(
            self.golden_rows, "url string, seg_no int, extracted_text string")
        scrubbed = pii_scrub(
            g.select(F.concat_ws("\t", "url", "seg_no").alias("key"), "extracted_text"),
            text_col="extracted_text", id_col="key")
        self.golden_df = scrubbed.select(
            F.split("key", "\t")[0].alias("url"),
            F.split("key", "\t")[1].cast("int").alias("seg_no"),
            F.col("text").alias("extracted_text"),
        ).cache()
        self.golden_df.count()

    def before(self, i: int) -> None:
        self.out = _fresh(f"{self.work}/out")
        self.store_copy = _fresh(f"{self.work}/store-copy")
        shutil.copytree(self.store, self.store_copy)

    def call(self, i: int) -> dict:
        from ocr_sam_project_spark.pipeline.job import run_extraction_job

        return run_extraction_job(
            self.spark, self.batch, self.out, run_id=f"unit{i}", num_parts=self.cores,
            fp_store_path=self.store_copy, **self._tiers())

    def _tiers(self) -> dict:
        """Every tier's option, the same for both crawls."""
        return {"dedup": "exact", "fp_store_bloom": True, "url_dedup": True,
                "pii_scrub": True, "blocklist": self.blocklist, "robots_rules": self.robots}

    def check(self, i: int, result: dict) -> tuple[bool, dict]:
        written = self.spark.read.parquet(f"{self.out}/extractions")
        ok_g, golden = checks.golden_gate(written, self.golden_df, every_page=False)
        ok_a, audit = checks.audit_gate(result, self.batch_rows)
        # every tier must have work on this input, or the workload is not
        # measuring what it claims to
        idle = [k for k in checks.AUDIT_TIERS if result[k] <= 0]
        store_ratio = self.store_rows / self.batch_rows
        ratio_ok = store_ratio >= STORE_PER_BATCH_ROW
        return ok_g and ok_a and not idle and ratio_ok, {
            "golden": golden, "audit": audit, "idle_tiers": idle,
            "store_per_batch_row": store_ratio}

    @property
    def input_rows(self) -> int:
        return self.batch_rows

    def inputs(self) -> dict:
        return {"input_rows": self.batch_rows, "store_rows": self.store_rows}

    def probes(self) -> dict:
        from ocr_sam_project_spark.operators.dedup import (
            bloom_build,
            bloom_hit,
            corpus_fingerprints,
        )

        # the Arrow stage saw only the survivors: probe the same rows
        urls = _urls_written(self.spark, self.out)
        batch = pq.read_table(self.batch)
        keep = pa.array([u in urls for u in batch.column("url").to_pylist()])
        survivors = f"{self.work}/in/survivors.parquet"
        pq.write_table(batch.filter(keep), survivors, row_group_size=256)
        out = self._stage_input_probes(survivors)
        with self._span("pipeline.job.scan", "pipeline.job"):
            out["job.scan_s"] = spans.scan_probe(self.spark, self.batch)
        out["stages.rows_in"] = len(urls)
        # bloom precision: true store members among the bloom hits of the
        # batch's non-empty texts, with the job's default filter size and
        # hash count
        bits = 1 << 20
        store = self.spark.read.parquet(self.store).select("fp")
        fps = corpus_fingerprints(self.spark.read.parquet(self.batch)
                                  .filter(F.length(F.trim("text")) > 0), "text", "url")
        with self._span("operators.dedup.bloom", "operators"):
            words = bloom_build(store, m_bits=bits, k=4)
            hits = fps.filter(bloom_hit(F.col("fp"), words, bits, 4))
            n_hits = hits.count()
            n_true = hits.join(store, "fp", "left_semi").count()
        out["job.bloom_precision"] = n_true / n_hits if n_hits else 0.0
        return out


WORKLOADS = {w.name: w for w in (ExtractClean, FunnelRecrawl)}
