"""End-to-end extraction job: scan -> page ledger -> extract -> write -> lineage.

    blocklist -> robots -> url_dedup -> {exact|minhash}_dedup -> store_dedup
      -> mapInPandas extract -> [pii scrub] -> parquet write -> lineage/metrics

Scale design (SURVEY.md §4; graded against the 100 TB target):

* **One page ledger.** The optional drop tiers run as one labelled pass
  over a narrow frame of the FULL corpus, cheapest first: each row is
  labelled by the first tier that drops it, so each dropped page skips the
  Arrow stage and is audited exactly once, and a duplicate pair that spans
  a completed part and a resumed one is still caught.  The losers are
  checkpointed once, and the per-part page and loser counts ride that one
  action through `DataFrame.observe`; only the iterative minhash tier adds
  actions.  The write observes its own per-part segment, error and PII
  counts, so the job never reads back what it wrote, and the fp-store
  append reuses the ledger's fingerprints.
* **Zero-shuffle core.** The extraction stage is a narrow map over Arrow
  batches; the only data movement is the parquet write.
* **Skew salting.** `part_id = pmod(xxhash64(url), P)` spreads Zipfian hot
  domains evenly across all P partitions.
* **Checkpoint-resume.** A lineage table records per-part_id status; a rerun
  filters completed parts out before any work happens, and the write uses
  dynamic partition overwrite so re-processing a partition is idempotent
  (the reference's DynamoDB state machine + idempotent S3 keys,
  tracking_service.py:22-82, storage_service.py:68).
* **Quarantine.** Rows that fail extraction carry an `error` column instead
  of throwing (the DLQ analog, template.yaml:88-107).
* **Telemetry.** The drop pass's Spark jobs carry the description
  `tier:drop_pass` (minhash's `tier:minhash_dedup`); the metrics table gets
  one `tier_sec:drop_pass` row and a `tier_losers:<name>` row per tier.
"""

from __future__ import annotations

import contextlib
import os
import time
from datetime import datetime, timezone
from typing import Optional

_TIMING = os.environ.get("SPARK_GRAFT_TIMING") == "1"


def _mark(label: str, t0: float) -> float:
    now = time.monotonic()
    if _TIMING:
        print(f"[job-timing] {label}: {now - t0:.2f}s", flush=True)
    return now

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..sources.io import read_spread
from .schema import LINEAGE_SCHEMA, METRICS_SCHEMA
from .stages import extract_stage

DEFAULT_NUM_PARTS = 32

_MIN_SPLIT = 64 << 10        # 64 KiB — bench corpora compress hard; a floor
                             # above the compressed row-group size would cap
                             # the map stage below the core count
_MAX_SPLIT = 128 << 20       # Spark default
_SPLIT_CONF = "spark.sql.files.maxPartitionBytes"

# drop tier, in funnel order -> (summary / metrics counter of its losers,
# lineage column that audits them; several tiers can share one)
_TIERS = {
    "blocklist": ("blocked_dropped", "blocked_dropped"),
    "robots": ("robots_dropped", "blocked_dropped"),
    "url_dedup": ("url_dups_dropped", "url_dups_dropped"),
    "exact_dedup": ("dups_dropped", "dups_dropped"),
    "minhash_dedup": ("dups_dropped", "dups_dropped"),
    "store_dedup": ("store_dups_dropped", "dups_dropped"),
}
_DROP_COUNTERS = tuple(dict.fromkeys(c for c, _ in _TIERS.values()))
_LINEAGE_DROPS = tuple(dict.fromkeys(col for _, col in _TIERS.values()))
# per-part extraction counts, in lineage and metrics
_STATS = ("docs_in", "segments_out", "errors", "pii_redactions")


def _tune_split_size(
    spark: SparkSession, pages_path: str, target_parallelism: Optional[int] = None
) -> None:
    """Size input splits to one wave of tasks: ceil(input bytes / cores).

    The map-only extraction stage then runs one Python task per core.  A
    Python task has a fixed cost that more, smaller tasks only multiply: at
    local[4] an identity mapInPandas over 10k synthetic pages took 0.64 s
    as 4 tasks, 1.65 s as 16 and 5.75 s as 64, against 0.59 s for a 64-task
    JVM-only scan, i.e. ~0.34 slot-s per Python task
    (bench/python_task_cost.py).
    With Spark's default 128 MB maxPartitionBytes a small-corpus bench would
    collapse to 1 task and not scale at all; at 100 TB the computed value
    caps back at the 128 MB default, so this is a no-op on a real cluster
    (where file count >> cores) and only matters at bench scale.
    `target_parallelism` replaces the core count, so a scaling comparison
    can pin IDENTICAL splits at every cluster size.
    Local paths only: a non-local or unreadable path keeps the defaults.
    Sets the session conf; run_extraction_job restores it when it returns."""
    try:
        total = 0
        if os.path.isdir(pages_path):
            for root, _dirs, files in os.walk(pages_path):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.isfile(pages_path):
            total = os.path.getsize(pages_path)
        else:
            return
    except OSError:
        return
    cores = target_parallelism or spark.sparkContext.defaultParallelism
    split = max(_MIN_SPLIT, min(_MAX_SPLIT, -(-total // max(1, cores))))
    spark.conf.set(_SPLIT_CONF, str(split))


def _part_id(num_parts: int) -> Column:
    return F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)).cast("int")


def with_part_id(pages: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Uniform url-hash salt — the unit of lineage/resume."""
    return pages.withColumn("part_id", _part_id(num_parts))


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (scheme-agnostic)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def completed_parts(spark: SparkSession, lineage_path: str) -> list[int]:
    """part_ids whose LATEST lineage row says completed.

    A MISSING path means "first run" (no parts done); a path that exists
    but fails to read must RAISE — treating a corrupt lineage table as
    empty would silently re-run every part (safe only because writes are
    idempotent, but masking the corruption; same contract as the fp-store
    probe)."""
    if not _path_exists(spark, lineage_path):
        return []
    # mergeSchema (ADVICE r5): lineage is append-only and its schema grew
    # mid-history (8 -> 11 columns); without merging, Spark picks one
    # file's footer arbitrarily and the newer audit columns can silently
    # vanish from reads over a mixed directory
    lin = spark.read.option("mergeSchema", "true").parquet(lineage_path)
    latest = (
        lin.groupBy("part_id")
        .agg(F.max_by("status", "updated_at").alias("status"))
        .filter(F.col("status") == "completed")
    )
    return [r.part_id for r in latest.collect()]


# --------------------------------------------------------------------------
# the page ledger: one labelled pass over a narrow frame of the pages
# --------------------------------------------------------------------------
def _drop_labels(
    pages: DataFrame,
    run_parts: list[int],
    blocklist: Optional[DataFrame],
    robots_rules: Optional[DataFrame],
    url_dedup: bool,
    dedup: Optional[str],
    store_path: Optional[str],
    bloom_bits: int,
) -> tuple[list[str], Observation, DataFrame]:
    """The run's page ledger: the enabled tiers in funnel order, an
    Observation of `docs_in:p` (kept pages of run part p) and `<tier>:p`,
    and the lazy ledger rows.  Each page of the corpus is labelled with the
    FIRST tier that drops it (`_tier` null: kept) over a narrow frame of
    (url, part_id, fp); `fp` is the md5 of the normalized text, null for an
    empty text, which is no one's duplicate.  A tier only counts the live
    rows, unlabelled with an fp.  A url loses on all its rows or none, as
    the extraction drops losers by url.  minhash runs its own actions over a
    checkpoint of the frame and comes back as a url flag, as the store tier
    does (a Bloom filter of `bloom_bits` only prefilters its semi-join; a
    MISSING store means first crawl).  The rows are the losers plus, when
    `store_path` is given, the kept pages of the run parts with their fp
    for the store append; with neither, the pass reads only `url`."""
    from pyspark.sql import Window

    from ..operators.curation import canonical_url
    from ..operators.dedup import bloom_build, bloom_hit, dedup_losers
    from ..operators.textstats import normalize_for_fingerprint
    from ..operators.webgraph import blocklist_hits, robots_filter

    text, url = F.col("text"), F.col("url")
    frame = selected = pages.select(
        "url", "part_id",
        F.when(F.length(F.trim(text)) > 0, F.md5(normalize_for_fingerprint(text))).alias("fp"),
        *([text] if dedup not in (None, "exact") else []),
        F.lit(None).cast("string").alias("_tier"),
    )
    alive = F.col("_tier").isNull()
    live = alive & F.col("fp").isNotNull()
    tiers: list[str] = []

    def label(df: DataFrame, name: str, cond: Column) -> DataFrame:
        tiers.append(name)
        return df.withColumn("_tier", F.coalesce("_tier", F.when(cond, F.lit(name))))

    def flagged(df: DataFrame, urls: DataFrame, name: str) -> DataFrame:
        # an IN-subquery plans a broadcast existence join: a url that `urls`
        # holds twice cannot fan out the frame the way a left join would
        return label(df, name, url.isin(F.broadcast(urls.select("url"))))

    if blocklist is not None:
        frame = flagged(frame, blocklist_hits(frame, blocklist), "blocklist")
    if robots_rules is not None:
        frame = label(robots_filter(frame, robots_rules), "robots", ~F.col("allowed")).drop("allowed")
    if url_dedup:
        keep = F.min(F.when(alive, url)).over(Window.partitionBy(canonical_url(url)))
        frame = label(frame, "url_dedup", url != keep)
    if dedup == "exact":
        by_fp = Window.partitionBy("fp")
        keep = F.min(F.when(live, url)).over(by_fp)
        n = F.count(F.when(live, F.lit(1))).over(by_fp)
        # the one per-row verdict, spread over the url's rows (see docstring)
        frame = frame.withColumn("_lose", live & (n >= 2) & (url != keep))
        frame = label(frame, "exact_dedup",
                      alive & F.max("_lose").over(Window.partitionBy("url"))).drop("_lose")
    elif dedup is not None:
        sc = pages.sparkSession.sparkContext
        sc.setJobDescription(f"tier:{dedup}_dedup")
        # the earlier tiers run once, into this checkpoint; the rest of the
        # pass goes on from it
        frame = frame.withColumn("text", F.when(live, text)).localCheckpoint()
        docs = frame.filter(live).select("url", "text")
        losers = dedup_losers(docs, method=dedup, text_col="text", id_col="url")
        sc.setJobDescription("tier:drop_pass")
        frame = flagged(frame.drop("text"), losers, f"{dedup}_dedup")
    if store_path is not None and _path_exists(pages.sparkSession, store_path):
        # the store's schema is known, so no schema-inference job runs
        store = pages.sparkSession.read.schema("fp string").parquet(store_path)
        # every tier above judges whole urls, so all rows of a url still
        # alive here are live, and probing the frame as first selected gives
        # the same labels without running the tier chain a second time
        fresh = selected.filter(F.col("fp").isNotNull())
        if bloom_bits:
            fresh = fresh.filter(bloom_hit(F.col("fp"), bloom_build(store, m_bits=bloom_bits, k=4),
                                           bloom_bits, 4))
        frame = flagged(frame, fresh.join(store, "fp", "left_semi"), "store_dedup")

    part = F.col("part_id")
    in_ledger = ~alive
    if store_path is not None:
        in_ledger |= live & part.isin(run_parts)
    obs = Observation()
    ledger = frame.select(
        "url", "part_id", "_tier", *(["fp"] if store_path is not None else [])
    ).observe(obs, *[
        F.count_if(cond & (part == p)).alias(f"{name}:{p}")
        for name, cond in [("docs_in", alive), *[(t, F.col("_tier") == t) for t in tiers]]
        for p in run_parts
    ]).filter(in_ledger)
    return tiers, obs, ledger


@contextlib.contextmanager
def _session_restored(spark: SparkSession):
    """Give the caller's split-size conf and job description back on exit;
    yields that job description."""
    split = spark.conf.get(_SPLIT_CONF, None)
    desc = spark.sparkContext.getLocalProperty("spark.job.description")
    try:
        yield desc
    finally:
        spark.sparkContext.setJobDescription(desc)
        if split is None:
            spark.conf.unset(_SPLIT_CONF)
        else:
            spark.conf.set(_SPLIT_CONF, split)


def _append_rows(spark: SparkSession, rows: list[dict], schema: StructType, path: str) -> None:
    """Append driver-side rows to a parquet table as one file.  An Arrow
    table becomes a LocalRelation, so no Python-worker task runs (a list of
    tuples ships pickled rows through a Python RDD); left as it is, the
    relation is sliced across the cores and writes a file per slice, which
    every resume's `completed_parts` reads back."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    spark.createDataFrame(table, schema=schema).coalesce(1).write.mode("append").parquet(path)


def run_extraction_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_id: str = "run-0",
    run_ts: Optional[datetime] = None,
    num_parts: int = DEFAULT_NUM_PARTS,
    pages_per_doc: int = 1,
    only_parts: Optional[list[int]] = None,
    split_parallelism: Optional[int] = None,
    dedup: Optional[str] = None,
    fp_store_path: Optional[str] = None,
    fp_store_bloom: bool = False,
    fp_store_bloom_bits: int = 1 << 20,
    url_dedup: bool = False,
    pii_scrub: bool = False,
    blocklist=None,
    robots_rules=None,
) -> dict:
    """Run (or resume) the extraction pipeline.

    Writes:
      {out_dir}/extractions/  parquet partitioned by part_id (dynamic overwrite)
      {out_dir}/lineage/      append-only status rows (latest row wins)
      {out_dir}/metrics/      per-run counters (long format)

    `only_parts` restricts the run to a subset of partitions (used by the
    kill-and-resume test to simulate a mid-job failure).

    Drop tiers, in funnel order, each off unless its option is given:
    `blocklist` (DataFrame with a `domain` column; a url host or any parent
    domain of it is refused), `robots_rules` (a parse_robots output; the REP
    verdict per url), `url_dedup` (tracking-param/fragment/case variants of
    one canonical url keep the min url; no text is read), `dedup` ("exact" |
    "minhash" text dedup), and `fp_store_path` (cross-run dedup: drop pages
    whose fingerprint a completed earlier run stored, then append this
    run's survivors'; only a MISSING store means first crawl, one that
    fails to read raises).  `fp_store_bloom` puts a Bloom filter of
    `fp_store_bloom_bits` bits in front of the store join (same losers).

    The summary and metrics count each tier's losers (`blocked_dropped`,
    `robots_dropped`, `url_dups_dropped`, `dups_dropped`,
    `store_dups_dropped`); lineage audits them per part in `blocked_dropped`
    (blocklist + robots), `url_dups_dropped` and `dups_dropped` (text +
    store).  A part whose every page was dropped still completes.
    `docs_in` counts the pages that entered the extraction, so input rows =
    `docs_in` + every tier's losers.  The losers are keyed by url: a url
    on several rows is dropped on all of them once a tier drops one, else
    extracted once per row (no tier drops one of two identical rows).

    `pii_scrub` redacts emails / phone numbers / cedula IDs from the
    extracted text (regexp codegen on the output; the input is untouched)
    and adds a per-row `pii_redactions` column and per-part lineage totals.
    It breaks byte-identity with the reference by design, so it is off by
    default.

    The caller's session confs and job description are left as they were.
    Returns a small summary dict.
    """
    run_ts = run_ts or datetime(2025, 1, 1, tzinfo=timezone.utc)
    bloom_bits = fp_store_bloom_bits if fp_store_bloom else 0
    with _session_restored(spark) as caller_desc:
        _tune_split_size(spark, pages_path, split_parallelism)
        extractions_path = f"{out_dir}/extractions"
        lineage_path = f"{out_dir}/lineage"
        metrics_path = f"{out_dir}/metrics"
        # lineage/metrics timestamps: a naive run_ts is local time, as Spark's
        # row conversion reads it
        ts = run_ts.astimezone(timezone.utc)

        # the one scan feeds every tier and the Python extraction; spreading
        # a 4-row-group sf0.1 input took extract+write from 10s to ~3s at
        # local[32]
        pages = with_part_id(read_spread(spark, pages_path), num_parts)
        done = set(completed_parts(spark, lineage_path))
        run_parts = [p for p in range(num_parts)
                     if p not in done and (only_parts is None or p in only_parts)]
        counters = dict.fromkeys(_DROP_COUNTERS, 0)
        summary = {"run_id": run_id, **dict.fromkeys(_STATS, 0), **counters,
                   "skipped_parts": sorted(done), "elapsed_sec": 0.0}
        if not run_parts:
            return summary

        t0 = tm = time.monotonic()
        spark.sparkContext.setJobDescription("tier:drop_pass")
        tiers, obs, ledger = _drop_labels(
            pages, run_parts, blocklist, robots_rules, url_dedup, dedup, fp_store_path, bloom_bits)
        ledger = ledger.localCheckpoint()  # eager: the one drop-pass action fills obs
        n = obs.get
        tm = _mark("drop_pass", tm)
        per_part, tier_metrics = {}, []
        for t in tiers:
            n_losers = sum(n[f"{t}:{p}"] for p in run_parts)
            counters[_TIERS[t][0]] += n_losers
            tier_metrics.append((f"tier_losers:{t}", n_losers))
        if tiers:
            tier_metrics.append(("tier_sec:drop_pass", tm - t0))
        for p in run_parts:
            drops = {c: sum(n[f"{t}:{p}"] for t in tiers if _TIERS[t][1] == c)
                     for c in _LINEAGE_DROPS}
            # every run part that holds a page completes, also one whose every
            # page a tier dropped: else each resume would re-run it (and
            # re-count its losers) forever
            if n[f"docs_in:{p}"] or any(drops.values()):
                per_part[p] = {"docs_in": n[f"docs_in:{p}"], **drops}

        part, alive = F.col("part_id"), F.col("_tier").isNull()
        todo = pages.filter(part.isin(run_parts))
        if tiers:
            # hinted: a checkpoint's size statistic is Long.Max, so the corpus
            # would pay a SortMergeJoin shuffle of its html (r6: 10.4 -> 4.7 s
            # at sf0.1).  Past the broadcast cap, bucket both sides by url
            # (sources.bucketing.bucketed_anti_join).
            todo = todo.join(F.broadcast(ledger.filter(~alive).select("url")), "url", "left_anti")
        spark.sparkContext.setJobDescription(caller_desc)

        # part_id is a pure function of url, so it is recomputed after the Arrow
        # stage instead of being dragged through it (narrower Arrow batches).
        extracted = extract_stage(todo, pages_per_doc).withColumn("part_id", _part_id(num_parts))

        # --- optional post-extract PII scrub (narrow regexp codegen on the
        # already-small output; a per-row column carries the counts into the
        # written table and the write's stats) ------------------------------
        if pii_scrub:
            from ..operators.curation import pii_redaction

            t = F.col("extracted_text")
            redacted, n_emails, n_phones, n_ids = pii_redaction(t)
            extracted = extracted.withColumn(
                "pii_redactions",
                F.when(t.isNull(), F.lit(0)).otherwise(n_emails + n_phones + n_ids).cast("long"),
            ).withColumn("extracted_text", F.when(t.isNull(), t).otherwise(redacted))

        # One explicit shuffle of the EXTRACTED rows (far smaller than the
        # input html) clusters each lineage partition into a single output
        # file; without it every map task writes a file into every partition
        # dir (measured 44s write vs 7s at bench scale).  Write task p holds
        # part p: hash-partitioned part ids collide (at 4 parts two of the
        # four tasks got every row, at 32 only 18 got any).  The per-part
        # stats are observed above the shuffle, in the write's result stage,
        # so each task's counts apply once even if a map stage is retried.
        wobs = Observation()
        err = F.col("error").isNotNull()
        counts = [F.count_if((part == p) & c).alias(f"{k}:{p}")
                  for p in run_parts for k, c in (("segments_out", F.lit(True)), ("errors", err))]
        if pii_scrub:  # else every page's pii_redactions is 0, and not observed
            counts += [F.coalesce(F.sum(F.when(part == p, F.col("pii_redactions"))), F.lit(0))
                       .alias(f"pii_redactions:{p}") for p in run_parts]
        (
            extracted.repartitionById(num_parts, part)
            .observe(wobs, *counts)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(extractions_path)
        )
        elapsed = time.monotonic() - t0
        tm = _mark("extract+write", tm)
        if not per_part:
            return summary

        w = wobs.get
        for p, row in per_part.items():
            row.update({k: w.get(f"{k}:{p}", 0) for k in _STATS[1:]})  # _STATS[0]: docs_in
        summary.update({k: sum(v[k] for v in per_part.values()) for k in _STATS},
                       **counters, elapsed_sec=elapsed)
        _append_rows(spark, [
            {"part_id": p, "status": "completed", **v, "run_id": run_id, "updated_at": ts}
            for p, v in sorted(per_part.items())
        ], LINEAGE_SCHEMA, lineage_path)
        metrics = [(k, summary[k]) for k in (*_STATS, *_DROP_COUNTERS, "elapsed_sec")]
        metrics.append(("docs_per_sec", summary["docs_in"] / elapsed if elapsed > 0 else 0.0))
        _append_rows(spark, [
            {"run_id": run_id, "metric": m, "value": float(v), "updated_at": ts}
            for m, v in metrics + tier_metrics
        ], METRICS_SCHEMA, metrics_path)
        tm = _mark("metrics+lineage-write", tm)

        if fp_store_path is not None:
            # the kept pages' fingerprints, so the next crawl's store probe
            # sees this run as completed; in-run losers share their winner's
            # fp and store losers are already present, so neither re-enters
            ledger.filter(alive).select("url", "fp").write.mode("append").parquet(fp_store_path)
            _mark("fp-store-append", tm)

        return summary
