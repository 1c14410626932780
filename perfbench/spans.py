"""In-memory spans and the per-layer probes of a traced run.

Spans are recorded from the benchmark's own files, around its calls into
the layers' public functions; nothing inside the package is edited.  The
job's tier and tail intervals come from its existing `_mark` timing points,
which the traced run wraps for the length of one call.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq


class Tracer:
    """Spans (name, layer, start, end, parent, run) kept in memory and
    written out once, when the benchmark ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "layer": layer,
            "start": start, "end": end,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        })
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = self.add(name, layer, time.monotonic(), 0.0)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time by layer over the tree under `root`: each span's
        duration minus the part of it that its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["layer"]] += (s["end"] - s["start"]) - covered
            todo.extend(kids[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def job_marks(tracer: Tracer):
    """Turn the job's `_mark(label, t0)` timing points into child spans of
    the current span, for the duration of the block."""
    from ocr_sam_project_spark.pipeline import job

    orig = job._mark

    def mark(label: str, t0: float) -> float:
        now = orig(label, t0)
        layer = "pipeline.job" if label in TAIL_MARKS else (
            "pipeline.stages" if label == "extract+write" else "operators")
        tracer.add(f"job.{label}", layer, t0, now)
        return now

    job._mark = mark
    try:
        yield
    finally:
        job._mark = orig


# job `_mark` label -> per-layer metric
MARK_METRICS = {
    "blocklist": "job.tier_s.blocklist",
    "robots": "job.tier_s.robots",
    "url-dedup": "job.tier_s.url_dedup",
    "dedup": "job.tier_s.exact_dedup",
    "store-dedup": "job.tier_s.store_dedup",
    "extract+write": "job.extract_write_s",
    "stats": "job.stats_s",
    "metrics+lineage-write": "job.lineage_write_s",
    "fp-store-append": "job.fp_append_s",
}
TAIL_MARKS = {"stats", "metrics+lineage-write", "fp-store-append"}


# -- extraction: in-process, one core, no Spark ------------------------------
# phase -> (module, function) calls made by extraction.document
PHASES = {
    "boilerplate": [("boilerplate", "decode_html"), ("boilerplate", "extract_main_text")],
    "pdftext": [("pdftext", "extract_pages")],
    "segment": [("segmentation", "segment_document")],
    "classify": [("classifier", "classify"), ("classifier", "confidence"),
                 ("classifier", "requires_urgent_action")],
    "fields": [("extractors", "extract_fields"), ("document", "parse_date_es")],
    "persons": [("extractors", "extract_persons_structured"),
                ("extractors", "extract_persons"), ("extractors", "should_have_persons")],
    "keywords": [("extractors", "find_keywords")],
    "validate": [("extractors", "validate_extraction"), ("document", "validate_count")],
}


def extraction_probe(pages_path: str) -> dict:
    """Run `extract_document` over every page of `pages_path` in this
    process and time each document and each phase of it."""
    import importlib

    from ocr_sam_project_spark.extraction import document

    phase_ns: dict[str, int] = defaultdict(int)
    depth = [0]
    patched = []

    def timed(phase: str, fn):
        def wrapper(*a, **kw):
            if depth[0]:
                return fn(*a, **kw)
            depth[0] += 1
            t = time.perf_counter_ns()
            try:
                return fn(*a, **kw)
            finally:
                phase_ns[phase] += time.perf_counter_ns() - t
                depth[0] -= 1
        return wrapper

    for phase, calls in PHASES.items():
        for mod_name, fn_name in calls:
            mod = importlib.import_module(f"ocr_sam_project_spark.extraction.{mod_name}")
            orig = getattr(mod, fn_name)
            patched.append((mod, fn_name, orig))
            setattr(mod, fn_name, timed(phase, orig))
    table = pq.read_table(pages_path, columns=["url", "html", "text", "lang"])
    doc_us: list[float] = []
    segments = quarantined = 0
    try:
        for row in table.to_pylist():
            html = row["html"]
            t = time.perf_counter_ns()
            recs = document.extract_document(
                row["url"], bytes(html) if html is not None else None,
                row["text"], row["lang"], 1)
            doc_us.append((time.perf_counter_ns() - t) / 1000.0)
            segments += len(recs)
            quarantined += sum(r["error"] is not None for r in recs)
    finally:
        for mod, fn_name, orig in patched:
            setattr(mod, fn_name, orig)
    n = max(1, len(doc_us))
    q = statistics.quantiles(doc_us, n=100) if len(doc_us) >= 2 else [doc_us[0]] * 99
    out = {
        "extraction.doc_us_p50": statistics.median(doc_us),
        # p99 only where >= 10 documents lie beyond it
        "extraction.doc_us_p99": q[98] if len(doc_us) >= 1000 else 0.0,
        "extraction.cpu_s": sum(doc_us) / 1e6,
        "extraction.segments": segments,
        "extraction.quarantined": quarantined,
    }
    for phase in PHASES:
        out[f"extraction.{phase}_us"] = phase_ns[phase] / 1000.0 / n
    return out


# -- pipeline.stages / job scan ---------------------------------------------
def _noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


def _pages(spark, pages_path: str):
    return spark.read.parquet(pages_path).select("url", "html", "text", "lang")


def scan_probe(spark, pages_path: str) -> float:
    """The job's input columns, scanned to the noop sink."""
    return _noop(_pages(spark, pages_path))


def stage_probes(spark, pages_path: str) -> dict:
    """A `mapInPandas` identity (the Arrow boundary alone) and
    `extract_stage`, each over `pages_path` to the noop sink."""
    from ocr_sam_project_spark.pipeline.stages import extract_stage

    cols = _pages(spark, pages_path)

    def identity(batches):
        yield from batches

    return {
        "stages.arrow_identity_s": _noop(cols.mapInPandas(identity, schema=cols.schema)),
        "stages.extract_noop_s": _noop(extract_stage(cols)),
    }

