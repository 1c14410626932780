"""End-to-end extraction job: scan -> salt -> extract -> write -> lineage.

Scale design (SURVEY.md §4; graded against the 100 TB target):

* **Zero-shuffle core.** The extraction stage is a narrow map over Arrow
  batches; the only data movement is the parquet write.  At 10^12 rows the
  job is embarrassingly parallel — throughput scales with executors as long
  as input splits are balanced.
* **Skew salting.** Common-Crawl domains are Zipfian, so partitioning by
  domain would melt one executor.  `part_id = pmod(xxhash64(url), P)` is a
  uniform url-hash salt: hot domains spread evenly across all P partitions.
* **Checkpoint-resume.** A lineage table records per-part_id status; a rerun
  anti-joins completed parts out of the scan before any work happens, and
  the write uses dynamic partition overwrite so re-processing a partition is
  idempotent (the reference's DynamoDB state machine + idempotent S3 keys,
  tracking_service.py:22-82, storage_service.py:68).
* **Quarantine.** Rows that fail extraction carry an `error` column instead
  of throwing (the DLQ analog, template.yaml:88-107).
"""

from __future__ import annotations

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import LINEAGE_SCHEMA, METRICS_SCHEMA
from .stages import extract_stage

DEFAULT_NUM_PARTS = 32

_MIN_SPLIT = 64 << 10        # 64 KiB — bench corpora compress hard; a floor
                             # above the compressed row-group size would cap
                             # the map stage below the core count
_MAX_SPLIT = 128 << 20       # Spark default


def _tune_split_size(
    spark: SparkSession, pages_path: str, target_parallelism: Optional[int] = None
) -> None:
    """Size input splits to the cluster so the map-only extraction stage
    actually fans out.  With Spark's default 128 MB maxPartitionBytes a
    small-corpus bench collapses to 1 task and cannot scale; at 100 TB the
    computed value caps back at the 128 MB default, so this is a no-op on a
    real cluster (where file count >> cores) and only matters at bench scale.
    Local paths only: a non-local or unreadable path keeps the defaults."""
    import os

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
    # ~3 waves of tasks per core for balance.  target_parallelism lets a
    # scaling comparison pin IDENTICAL splits at every cluster size.
    split = max(_MIN_SPLIT, min(_MAX_SPLIT, total // max(1, cores * 3)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))


def _row_groups_below(pages_path: str, cores: int) -> bool:
    """True iff the LOCAL parquet input's total row-group count is below
    `cores` — i.e. the scan cannot reach full parallelism no matter the
    split size (parquet is unsplittable below row-group granularity).
    Only reads footers when the file COUNT is already below `cores` (a
    many-file input is parallel enough without any probe), so at scale
    this never touches a footer.  Non-local / unreadable paths: False."""
    import os

    try:
        if os.path.isdir(pages_path):
            files = [
                os.path.join(root, f)
                for root, _dirs, fs in os.walk(pages_path)
                for f in fs
                if f.endswith(".parquet")
            ]
        elif os.path.isfile(pages_path):
            files = [pages_path]
        else:
            return False
        if len(files) >= cores:
            return False
        import pyarrow.parquet as pq

        groups = 0
        for f in files:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            if groups >= cores:
                return False
        return True
    except Exception:
        return False


def with_part_id(pages: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Uniform url-hash salt — the unit of lineage/resume."""
    return pages.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)).cast("int")
    )


def completed_parts(spark: SparkSession, lineage_path: str) -> list[int]:
    """part_ids whose LATEST lineage row says completed.

    A MISSING path means "first run" (no parts done); a path that exists
    but fails to read must RAISE — treating a corrupt lineage table as
    empty would silently re-run every part (safe only because writes are
    idempotent, but masking the corruption; same contract as the fp-store
    read below)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(lineage_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
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
      {out_dir}/metrics/      per-run counters

    `only_parts` restricts the run to a subset of partitions (used by the
    kill-and-resume test to simulate a mid-job failure).

    `dedup` ("exact" | "minhash" | None) inserts a pre-extract dedup stage:
    at 100 TB you dedup BEFORE paying Python extraction — every duplicate
    page dropped here skips the whole Arrow stage.  The (small) loser set is
    computed once (eager localCheckpoint, so the LSH DAG doesn't re-run
    inside the extraction scan), anti-joined out of the input, and the
    per-partition dropped counts land in lineage as `dups_dropped`.

    `fp_store_path` enables CROSS-RUN dedup (the re-crawl scenario): pages
    whose canonical fingerprint is already in the persisted store — i.e.
    processed by a COMPLETED earlier run — are dropped before extraction,
    and the survivors' fingerprints are appended to the store when this
    run's partitions complete.  The store side is pruned to its fp column
    for the probe; at 100 TB keep it bucketed by fp (sources.bucketing).
    `fp_store_bloom` adds the Bloom admission tier in front of the store
    join (operators.dedup.bloom_build/bloom_hit): bloom-misses skip the
    join entirely, only the hit slice (true dups + the designed FP rate of
    `fp_store_bloom_bits`) pays the exact semi-join — output and lineage
    provably identical either way.

    `url_dedup` inserts the CHEAPEST dedup tier ahead of everything else:
    tracking-param/fragment/case variants of one canonical URL collapse to
    the min-url page before any text is read or fingerprinted (one hash-
    shuffle on a short canonical-url string — at 10^12 pages this tier
    never touches the html/text columns).  Dropped counts land in lineage
    as `url_dups_dropped`; the text-dedup / fp-store universes exclude url
    losers so every dropped page is audited exactly once.

    `robots_rules` (a parse_robots output (host, allow, prefix), or None)
    applies the REP admission verdict per url as tier -0.5 — after the
    blocklist (blocked pages never pay the robots join), before url
    canonicalization.  Refusals get their own `robots_dropped` summary /
    metrics counter; in lineage they fold into the admission column
    (`blocked_dropped` audits all admission refusals) so each dropped
    page lands in exactly one lineage bucket.

    `blocklist` (DataFrame with a `domain` column, or None) refuses
    ADMISSION to pages whose url host — or any parent domain of it — is
    listed (UT1-style suffix semantics, operators.webgraph).  It runs as
    tier -1, before even url canonicalization: a blocked page is never
    read, fingerprinted, or counted as crawl work.  Refused counts land in
    lineage as `blocked_dropped`.  The probe is two broadcast joins (the
    blocklist, then the tiny hit set) — zero corpus Exchange.

    `pii_scrub` redacts emails / phone numbers / cedula IDs from the
    extracted text AFTER extraction (pure regexp codegen on the narrow
    output — the input corpus is untouched), appending a per-row
    `pii_redactions` count column to the extractions table and the
    per-partition totals to lineage.  NOTE: scrubbing deliberately breaks
    the byte-identical-vs-reference invariant — it is a training-corpus
    tier, off by default.
    Returns a small summary dict.
    """
    run_ts = run_ts or datetime(2025, 1, 1, tzinfo=timezone.utc)
    extractions_path = f"{out_dir}/extractions"
    lineage_path = f"{out_dir}/lineage"
    metrics_path = f"{out_dir}/metrics"

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _tune_split_size(spark, pages_path, split_parallelism)

    # Row-group-aware spread at the SCAN (r6): when the input is a handful
    # of single-row-group files, parquet cannot split below row-group
    # granularity, so _tune_split_size plans many byte-range tasks but only
    # row-group-count of them carry rows — every admission tier and the
    # Python extraction then run on that many cores.  (spread_scan's
    # partition-count probe is fooled by exactly those empty splits, so the
    # guard here counts REAL row groups from the local footers — and only
    # when the file count is below the core count, so at scale no footer is
    # ever read and this is a no-op.)  Measured at sf0.1 on a 4-row-group
    # input: extract+write 10s -> ~3s on local[32].
    raw_pages = spark.read.parquet(pages_path)
    par = spark.sparkContext.defaultParallelism
    if _row_groups_below(pages_path, par):
        raw_pages = raw_pages.repartition(par)
    pages = with_part_id(raw_pages, num_parts)

    done = set(completed_parts(spark, lineage_path))
    todo = pages.filter(~F.col("part_id").isin(list(done))) if done else pages
    if only_parts is not None:
        todo = todo.filter(F.col("part_id").isin(only_parts))

    t0 = time.monotonic()
    tm = t0

    def _per_part_counts(loser_urls: DataFrame) -> dict[int, int]:
        """Per-partition loser counts restricted to THIS run's parts —
        the shared lineage-audit pattern for every drop tier."""
        here = with_part_id(loser_urls, num_parts)
        if done:
            here = here.filter(~F.col("part_id").isin(list(done)))
        if only_parts is not None:
            here = here.filter(F.col("part_id").isin(only_parts))
        return {
            r.part_id: r.n
            for r in here.groupBy("part_id").agg(F.count("*").alias("n")).collect()
        }

    # --- tier -1: domain-blocklist admission filter (host string only) ---
    blocked_by_part: dict[int, int] = {}
    blocked_dropped = 0
    dedup_universe = pages  # later tiers exclude earlier tiers' losers so
    #                         each dropped page is audited exactly once
    if blocklist is not None:
        from ..operators.webgraph import domain_suffixes, host_of

        bl_losers = (
            pages.select(
                "url",
                F.explode(domain_suffixes(host_of(F.col("url")))).alias("_sfx"),
            )
            .join(
                F.broadcast(blocklist.select(F.lower("domain").alias("_sfx"))),
                "_sfx",
                "left_semi",
            )
            .select("url")
            .distinct()  # a host can hit via several suffixes; audit once
            .localCheckpoint()  # eager: the probe DAG runs exactly once
        )
        blocked_by_part = _per_part_counts(bl_losers)
        blocked_dropped = sum(blocked_by_part.values())
        todo = todo.join(F.broadcast(bl_losers), "url", "left_anti")
        dedup_universe = dedup_universe.join(F.broadcast(bl_losers), "url", "left_anti")
        tm = _mark("blocklist", tm)

    # --- tier -0.5: robots.txt admission (REP verdict per url) -----------
    # `robots_rules` is a parse_robots output (host, allow, prefix).  Runs
    # after the blocklist (blocked pages never pay the robots join) and
    # before url canonicalization.  Refused counts get their own summary /
    # metrics counter; in LINEAGE they fold into the admission column
    # (blocked_dropped audits ALL admission refusals — blocklist + robots —
    # so each dropped page still lands in exactly one lineage bucket).
    robots_by_part: dict[int, int] = {}
    robots_dropped = 0
    if robots_rules is not None:
        from ..operators.webgraph import robots_filter

        rb_losers = (
            robots_filter(dedup_universe.select("url"), robots_rules)
            .filter(~F.col("allowed"))
            .select("url")
            .localCheckpoint()  # eager: the verdict DAG runs exactly once
        )
        robots_by_part = _per_part_counts(rb_losers)
        robots_dropped = sum(robots_by_part.values())
        todo = todo.join(F.broadcast(rb_losers), "url", "left_anti")
        dedup_universe = dedup_universe.join(F.broadcast(rb_losers), "url", "left_anti")
        tm = _mark("robots", tm)
    admission_by_part = {
        p: blocked_by_part.get(p, 0) + robots_by_part.get(p, 0)
        for p in set(blocked_by_part) | set(robots_by_part)
    }

    # --- tier 0: canonical-URL dedup (no text read at all) ---------------
    url_drops_by_part: dict[int, int] = {}
    url_dups_dropped = 0
    if url_dedup:
        from pyspark.sql import Window

        from ..operators.curation import canonical_url

        w = Window.partitionBy("_cu")
        url_losers = (
            dedup_universe.select("url", canonical_url(F.col("url")).alias("_cu"))
            .withColumn("_keep", F.min("url").over(w))
            .filter(F.col("url") != F.col("_keep"))
            .select("url")
            .localCheckpoint()  # eager: the canonicalize DAG runs once
        )
        url_drops_by_part = _per_part_counts(url_losers)
        url_dups_dropped = sum(url_drops_by_part.values())
        todo = todo.join(F.broadcast(url_losers), "url", "left_anti")
        dedup_universe = dedup_universe.join(F.broadcast(url_losers), "url", "left_anti")
        tm = _mark("url-dedup", tm)

    dups_by_part: dict[int, int] = {}
    dups_dropped = 0
    if dedup is not None:
        from ..operators.dedup import dedup_losers

        # empty/whitespace texts are excluded from the dedup universe: they
        # all share one fingerprint but are NOT duplicates of each other —
        # each must reach the quarantine branch with its own url/provenance.
        # Losers are computed over the FULL corpus, not this run's todo: on
        # resume a duplicate pair can span a completed part and a remaining
        # one, and a todo-only universe would let the remaining copy through
        # (the winner-by-min-url is also only stable against the full set).
        dedupable = dedup_universe.filter(F.length(F.trim(F.col("text"))) > 0)
        losers = dedup_losers(
            dedupable, method=dedup, text_col="text", id_col="url"
        ).localCheckpoint()  # eager: the dedup DAG runs exactly once
        dups_by_part = _per_part_counts(losers)
        dups_dropped = sum(dups_by_part.values())
        # Regime note (100 TB): every loser anti-join in this job carries an
        # EXPLICIT broadcast hint (r6): the checkpointed loser sets are
        # LogicalRDD scans whose size statistic defaults to Long.Max, so
        # without the hint the planner NEVER chose broadcast and the corpus
        # paid a SortMergeJoin shuffle with its html/text payload (measured
        # 10.4s -> 4.7s on the dedup pipeline's extract+write at sf0.1).
        # The hint is also the documented regime: losers are |dups|-sized,
        # not corpus-sized (the common <~1%-dup case).  Past broadcastable
        # size the right call is NOT SortMergeJoin anyway, i.e. a full
        # wide shuffle of the PAGES including html payload — at a 10%-dup
        # 100 TB corpus that shuffle is the job.  The high-dup deployment
        # keeps the corpus bucketed by url at ingest (Iceberg bucket(url,N)
        # transform) and writes the losers bucketed identically; then
        # sources.bucketing.bucketed_anti_join does this step with NO
        # Exchange on either side (plan-tested in
        # test_plans.test_bucketed_dedup_anti_join_has_no_exchange).
        todo = todo.join(F.broadcast(losers), "url", "left_anti")
        tm = _mark("dedup", tm)

    store_dups_by_part: dict[int, int] = {}
    store_dups_dropped = 0
    if fp_store_path is not None:
        from ..operators.dedup import corpus_fingerprints

        # explicit existence probe (Hadoop FS — scheme-agnostic): ONLY a
        # missing path means "first crawl".  A store that exists but fails to
        # read (corrupt footer, permission error) must PROPAGATE — silently
        # treating it as first-crawl would skip cross-run dedup and append
        # duplicate fingerprints to a store that is still there.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(fp_store_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        store = spark.read.parquet(fp_store_path).select("fp") if fs.exists(jpath) else None
        if store is not None:
            # cross-run dedup: a page whose fp is already in the store was
            # processed by a COMPLETED earlier run — drop it before the
            # Arrow stage.  Same full-corpus/resume discipline as the
            # in-run loser set above; empty texts bypass (own provenance).
            # The probe universe excludes every EARLIER tier's losers (url
            # variants, in-run text dups): a page dropped by two tiers must
            # be audited exactly once (it was already counted upstream;
            # counting it here too would overstate the lineage/metrics drop
            # totals — the anti-joins themselves were always idempotent).
            store_universe = dedup_universe.filter(
                F.length(F.trim(F.col("text"))) > 0
            )
            if dedup is not None:
                store_universe = store_universe.join(F.broadcast(losers), "url", "left_anti")
            fps = corpus_fingerprints(store_universe, "text", "url")
            # Optional Bloom admission tier (fp_store_bloom): at store >>
            # batch scale the semi-join shuffles the whole new batch on fp
            # even though almost none of it is in the store.  The bitset
            # (one word-keyed shuffle of the STORE, output bounded by the
            # filter size) rides into the plan as ONE binary literal, so the
            # probe is a narrow filter whose plan size does not grow with
            # the filter; only the bloom-HIT slice reaches the join.  False
            # negatives are impossible, the join removes false positives —
            # the loser set, lineage counts, and survivors are IDENTICAL
            # either way (test_job_fp_store_bloom_identical).
            probe_fps = fps
            if fp_store_bloom:
                from ..operators.dedup import bloom_build, bloom_hit

                words = bloom_build(store, m_bits=fp_store_bloom_bits, k=4)
                probe_fps = fps.filter(
                    bloom_hit(F.col("fp"), words, fp_store_bloom_bits, 4)
                )
            store_losers = (
                probe_fps.join(store, "fp", "left_semi")
                .select("url")
                .localCheckpoint()
            )
            store_dups_by_part = _per_part_counts(store_losers)
            store_dups_dropped = sum(store_dups_by_part.values())
            todo = todo.join(F.broadcast(store_losers), "url", "left_anti")
            tm = _mark("store-dedup", tm)

    # part_id is a pure function of url, so it is recomputed after the Arrow
    # stage instead of being dragged through it (narrower Arrow batches).
    extracted = extract_stage(todo, pages_per_doc).withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)).cast("int")
    )

    # --- optional post-extract PII scrub (narrow regexp codegen on the
    # already-small output; counts ride a per-row column into the written
    # table so the lineage rollup needs no extra pass) ---------------------
    if pii_scrub:
        from ..operators.curation import (
            PII_CEDULA_RE,
            PII_EMAIL_RE,
            PII_PHONE_RE,
        )

        t = F.col("extracted_text")
        after_phone = F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
        )
        # ids counted AFTER phone redaction (a phone's digit tail would
        # double-count as an id fragment) — same order as operators.pii_scrub
        n_red = (
            F.regexp_count(t, F.lit(PII_EMAIL_RE))
            + F.regexp_count(t, F.lit(PII_PHONE_RE))
            + F.regexp_count(after_phone, F.lit(PII_CEDULA_RE))
        )
        extracted = extracted.withColumn(
            "pii_redactions",
            F.when(t.isNull(), F.lit(0)).otherwise(n_red).cast("long"),
        ).withColumn(
            "extracted_text",
            F.when(
                t.isNull(), t
            ).otherwise(F.regexp_replace(after_phone, PII_CEDULA_RE, "<ID>")),
        )

    # One explicit shuffle of the EXTRACTED rows (boilerplate already
    # stripped — far smaller than the input html) clusters each lineage
    # partition into a single output file.  Without it, every map task
    # writes a file into every partition dir: M x P tiny files, and the
    # file-commit + later scans dominate wall-clock (measured 44s write /
    # 31s read-back vs 7s/0.4s at bench scale).
    (
        extracted.repartition(num_parts, F.col("part_id"))
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(extractions_path)
    )
    elapsed = time.monotonic() - t0
    tm = _mark("extract+write", tm)

    # lineage rollup from the *written* table (cheap column-pruned scan of
    # the much smaller output — the input is never re-scanned) — set-based
    # counters, not per-row RMW (A3/K5, crm_integrator/app.py:785-807).
    # This run's partitions are exactly: written parts minus already-done
    # parts, intersected with only_parts when restricted.
    # explicit schema: a run whose every page was deduped away writes an
    # EMPTY partitioned dir, where schema inference would throw
    written = spark.read.schema(extracted.schema).parquet(extractions_path)
    this_run = written
    if done:
        this_run = this_run.filter(~F.col("part_id").isin(list(done)))
    if only_parts is not None:
        this_run = this_run.filter(F.col("part_id").isin(only_parts))
    pii_agg = (
        F.sum("pii_redactions") if pii_scrub else F.lit(0).cast("long")
    ).alias("pii_n")
    stats_rows = (
        this_run
        .groupBy("part_id")
        .agg(
            F.countDistinct("url").alias("docs_in"),
            F.count("*").alias("segments_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            pii_agg,
        )
        .collect()
    )
    tm = _mark("stats", tm)
    docs_in = int(sum(r.docs_in for r in stats_rows))
    pii_redactions_total = int(sum(r.pii_n or 0 for r in stats_rows))
    # a partition whose EVERY page was a dedup loser writes zero output rows
    # and so never appears in the written table — it is still COMPLETE, and
    # without a lineage row every resume would re-run it (and re-count its
    # losers in the metrics) forever.  dups_by_part is already restricted to
    # this run's parts, so its keys minus the written parts are exactly the
    # dedup-emptied partitions.
    seen_parts = {r.part_id for r in stats_rows}
    drops_by_part = {
        p: dups_by_part.get(p, 0) + store_dups_by_part.get(p, 0)
        for p in set(dups_by_part) | set(store_dups_by_part)
    }
    dedup_only_parts = sorted(
        p
        for p in set(drops_by_part) | set(url_drops_by_part) | set(admission_by_part)
        if p not in seen_parts
    )
    if not stats_rows and not dedup_only_parts:
        return {"run_id": run_id, "docs_in": 0, "segments_out": 0, "errors": 0,
                "dups_dropped": dups_dropped,
                "store_dups_dropped": store_dups_dropped,
                "url_dups_dropped": url_dups_dropped,
                "blocked_dropped": blocked_dropped,
                "robots_dropped": robots_dropped,
                "pii_redactions": 0,
                "skipped_parts": sorted(done), "elapsed_sec": 0.0}
    stats = spark.createDataFrame(
        [
            (r.part_id, "completed", r.docs_in, r.segments_out, r.errors,
             drops_by_part.get(r.part_id, 0),
             url_drops_by_part.get(r.part_id, 0),
             admission_by_part.get(r.part_id, 0), r.pii_n or 0, run_id, run_ts)
            for r in stats_rows
        ]
        + [
            (p, "completed", 0, 0, 0, drops_by_part.get(p, 0),
             url_drops_by_part.get(p, 0), admission_by_part.get(p, 0), 0,
             run_id, run_ts)
            for p in dedup_only_parts
        ],
        schema=LINEAGE_SCHEMA,
    )
    stats.write.mode("append").parquet(lineage_path)

    seg_out = sum(r.segments_out for r in stats_rows)
    err_out = sum(r.errors for r in stats_rows)
    metrics = spark.createDataFrame(
        [
            (run_id, "docs_in", float(docs_in), run_ts),
            (run_id, "segments_out", float(seg_out), run_ts),
            (run_id, "errors", float(err_out), run_ts),
            (run_id, "dups_dropped", float(dups_dropped), run_ts),
            (run_id, "store_dups_dropped", float(store_dups_dropped), run_ts),
            (run_id, "url_dups_dropped", float(url_dups_dropped), run_ts),
            (run_id, "blocked_dropped", float(blocked_dropped), run_ts),
            (run_id, "robots_dropped", float(robots_dropped), run_ts),
            (run_id, "pii_redactions", float(pii_redactions_total), run_ts),
            (run_id, "elapsed_sec", float(elapsed), run_ts),
            (run_id, "docs_per_sec", float(docs_in) / elapsed if elapsed > 0 else 0.0, run_ts),
        ],
        schema=METRICS_SCHEMA,
    )
    metrics.write.mode("append").parquet(metrics_path)
    tm = _mark("metrics+lineage-write", tm)

    if fp_store_path is not None:
        from ..operators.dedup import corpus_fingerprints

        # append the fingerprints of everything THIS run actually processed
        # (written urls = post-dedup survivors; in-run losers share their
        # winner's fp, store losers are already present — neither re-enters)
        # so the next crawl's store probe sees this run as completed.
        corpus_fingerprints(
            pages.filter(F.length(F.trim(F.col("text"))) > 0).join(
                this_run.select("url").distinct(), "url", "left_semi"
            ),
            "text",
            "url",
        ).write.mode("append").parquet(fp_store_path)
        _mark("fp-store-append", tm)

    return {
        "run_id": run_id,
        "docs_in": docs_in,
        "segments_out": seg_out,
        "errors": err_out,
        "dups_dropped": dups_dropped,
        "store_dups_dropped": store_dups_dropped,
        "url_dups_dropped": url_dups_dropped,
        "blocked_dropped": blocked_dropped,
        "robots_dropped": robots_dropped,
        "pii_redactions": pii_redactions_total,
        "skipped_parts": sorted(done),
        "elapsed_sec": elapsed,
    }
