"""Correctness gates.  Each returns `(ok, detail)`; a unit whose gate fails
counts as failed in the benchmark's result, it is never dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# job tier -> the summary key that counts its losers
TIERS = {"blocklist": "blocked_dropped", "robots": "robots_dropped",
         "url_dedup": "url_dups_dropped", "exact_dedup": "dups_dropped",
         "store_dedup": "store_dups_dropped"}
AUDIT_TIERS = tuple(TIERS.values())


def golden_gate(written: DataFrame, golden: DataFrame, every_page: bool) -> tuple[bool, dict]:
    """Written `extracted_text` must be byte-equal to the golden text per
    (url, seg_no), in both directions, on the pages that have golden rows.

    `written` is the job's extractions table, `golden` holds
    (url, seg_no, extracted_text).  With `every_page` each golden page must
    have been written (the corpus had no drop tier); otherwise only the
    written golden pages (the survivors) are compared.  A quarantined row
    (error set) never matches, so a golden page that ends up quarantined
    fails the gate.  Pages without golden rows (the generator's garbage and
    empty pages) are not compared, as in tests/test_pipeline_spark.py.
    """
    expect = golden.select("url", "seg_no", F.col("extracted_text").alias("g_text"))
    if not every_page:
        expect = expect.join(written.select("url").distinct(), "url", "left_semi")
    got = (written.filter(F.col("error").isNull())
           .join(expect.select("url").distinct(), "url", "left_semi")
           .select("url", "seg_no", F.col("extracted_text").alias("w_text")))
    both = got.join(expect, ["url", "seg_no"], "full_outer")
    differs = ~F.col("w_text").eqNullSafe(F.col("g_text"))
    stats = both.agg(F.count("*").alias("rows"),
                     F.sum(differs.cast("int")).alias("bad")).first()
    bad = int(stats["bad"] or 0)
    detail = {"rows": int(stats["rows"]), "mismatches": bad}
    if bad:
        detail["first"] = [r["url"] for r in both.filter(differs).select("url").limit(3).collect()]
    return bad == 0 and detail["rows"] > 0, detail


def audit_gate(summary: dict, input_rows: int) -> tuple[bool, dict]:
    """Every input row is written or dropped by exactly one tier:
    input_rows == docs_in + blocked + robots + url_dups + dups + store_dups."""
    accounted = summary["docs_in"] + sum(summary[k] for k in AUDIT_TIERS)
    return accounted == input_rows, {"input_rows": input_rows, "accounted": accounted}

