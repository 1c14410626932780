"""End-to-end Spark pipeline tests: Arrow stage plumbing, byte-identical
golden diff via anti-join, long-format flattening, lineage + resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_sam_project_spark.pipeline.job import (
    completed_parts,
    run_extraction_job,
    with_part_id,
)
from ocr_sam_project_spark.pipeline.stages import entities_long, extract_stage, fields_long


@pytest.fixture(scope="module")
def extractions(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    df = extract_stage(pages)
    df.cache()
    df.count()
    return df


def test_extract_stage_runs_and_covers_all_urls(spark, pages_parquet, extractions):
    n_pages = spark.read.parquet(pages_parquet).count()
    assert n_pages == 400
    # every input url appears (content rows extracted, dead rows quarantined)
    assert extractions.select("url").distinct().count() == n_pages


def test_byte_identical_vs_golden_antijoin(spark, golden_parquet, extractions):
    """The fixture gate: golden ANTI-JOIN extracted == empty, both directions,
    joined on (url, seg_no, extracted_text) — any byte drift shows up."""
    golden = spark.read.parquet(golden_parquet)
    got = extractions.filter(F.col("error").isNull()).select(
        "url", F.col("seg_no").cast("int").alias("seg_no"), "extracted_text"
    )
    keys = ["url", "seg_no", "extracted_text"]
    missing = golden.join(got, keys, "left_anti").count()
    assert missing == 0, f"{missing} golden segments not reproduced byte-identically"
    # and the expected-covered urls produce no EXTRA segments
    golden_urls = golden.select("url").distinct()
    extra = (
        got.join(golden_urls, "url", "left_semi")
        .join(golden, keys, "left_anti")
        .count()
    )
    assert extra == 0, f"{extra} unexpected extra segments on golden urls"


def test_quarantine_rows_carry_error(extractions):
    errs = extractions.filter(F.col("error").isNotNull())
    assert errs.count() > 0
    assert errs.filter(F.col("error") == "empty_document").count() > 0


def test_quarantine_null_html_null_text_not_lost(spark):
    """DLQ contract: a (NULL html, NULL text) row must land in the
    empty_document quarantine branch, not vanish (a bare `length(html) > 0`
    predicate is SQL NULL there, dropping the row from BOTH filter sides)."""
    pages = spark.createDataFrame(
        [
            ("null://both", None, None, "es"),
            ("null://html-only-empty", None, "   ", "es"),
            ("ok://text", None, "texto util presente aqui", "es"),
        ],
        "url string, html binary, text string, lang string",
    )
    out = extract_stage(pages).cache()
    assert out.select("url").distinct().count() == 3  # docs_in preserved
    dead = {
        r.url
        for r in out.filter(F.col("error") == "empty_document").collect()
    }
    assert dead == {"null://both", "null://html-only-empty"}
    out.unpersist()


def test_doc_types_routed(extractions):
    types = {r.doc_type for r in extractions.select("doc_type").distinct().collect()}
    # all 16 types + unknown appear across 400 synthetic pages
    assert "unknown" in types
    assert len(types) >= 15, sorted(types)


def test_fields_long_format(extractions):
    fl = fields_long(extractions)
    assert set(fl.columns) == {"url", "seg_no", "doc_type", "field", "value", "span"}
    rows = fl.filter(F.col("field") == "numero_oficio").limit(5).collect()
    assert rows
    # span offsets index into extracted_text
    sample = rows[0]
    text = (
        extractions.filter((F.col("url") == sample.url) & (F.col("seg_no") == sample.seg_no))
        .select("extracted_text")
        .first()
        .extracted_text
    )
    assert text[sample.span.start : sample.span.end] == sample.value


def test_entities_long_both_name_conventions(extractions):
    e = entities_long(extractions)
    row = (
        e.filter(F.size(F.split(F.col("nombre_completo"), " ")) >= 4)
        .select("nombre_completo", "apellido_paterno_v1", "apellido_paterno_v2")
        .first()
    )
    assert row is not None
    toks = row.nombre_completo.split()
    assert row.apellido_paterno_v1 == toks[1]
    assert row.apellido_paterno_v2 == toks[-2]


def test_monto_total_equals_sum_of_personas(extractions):
    bad = (
        extractions.filter(F.size("personas") > 0)
        .withColumn(
            "recomputed",
            F.aggregate("personas", F.lit(0.0), lambda acc, p: acc + p["monto_numerico"]),
        )
        .filter(F.abs(F.col("recomputed") - F.col("monto_total")) > 1e-9)
        .count()
    )
    assert bad == 0


def test_extraction_plan_is_shuffle_free(extractions, spark, pages_parquet):
    """Scale guard: the extract stage must be a narrow map — no Exchange."""
    pages = spark.read.parquet(pages_parquet)
    plan = extract_stage(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------------------
# lineage + resume (SURVEY.md §5 item 5)
# --------------------------------------------------------------------------
def test_job_lineage_and_resume(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "out")
    num_parts = 8

    pages = with_part_id(spark.read.parquet(pages_parquet), num_parts)
    all_parts = sorted(r.part_id for r in pages.select("part_id").distinct().collect())

    # run 1: simulate a kill after the first 3 partitions
    first = all_parts[:3]
    s1 = run_extraction_job(
        spark, pages_parquet, out, run_id="r1", num_parts=num_parts, only_parts=first
    )
    assert s1["docs_in"] > 0
    assert sorted(completed_parts(spark, f"{out}/lineage")) == sorted(first)

    # run 2: resume — must skip completed parts and finish the rest
    s2 = run_extraction_job(spark, pages_parquet, out, run_id="r2", num_parts=num_parts)
    assert s2["skipped_parts"] == sorted(first)
    assert sorted(completed_parts(spark, f"{out}/lineage")) == all_parts

    # resumed state is complete & identical to a fresh one-shot run
    resumed = spark.read.parquet(f"{out}/extractions")
    out2 = str(tmp_path / "fresh")
    run_extraction_job(spark, pages_parquet, out2, run_id="rf", num_parts=num_parts)
    fresh = spark.read.parquet(f"{out2}/extractions")
    cols = ["url", "seg_no", "extracted_text", "doc_type", "monto_total", "error"]
    assert resumed.select(cols).exceptAll(fresh.select(cols)).count() == 0
    assert fresh.select(cols).exceptAll(resumed.select(cols)).count() == 0

    # run 2 did not re-extract run 1's partitions (lineage rows prove it:
    # each part_id completed exactly once, under the run that owned it)
    lin = spark.read.parquet(f"{out}/lineage")
    per_part = lin.groupBy("part_id").count().filter(F.col("count") > 1).count()
    assert per_part == 0

    # a third run is a no-op
    s3 = run_extraction_job(spark, pages_parquet, out, run_id="r3", num_parts=num_parts)
    assert s3["docs_in"] == 0


def test_job_dedup_pre_extract_stage(spark, pages_parquet, tmp_path):
    """dedup="exact" drops duplicate pages BEFORE the Arrow extraction stage
    (the 100 TB ordering: never pay Python for a page you'll discard), keeps
    exactly one canonical url per duplicate text, and audits the per-part
    dropped counts in lineage as dups_dropped."""
    import pyarrow.parquet as pq

    # corpus = the standard 400 synthetic pages + 5 exact-duplicate urls of
    # existing NON-EMPTY texts (same text, new url -> exact dedup drops 5).
    # "zdup://" sorts after "https://", so the original url stays canonical.
    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    dup = [dict(r) for r in nonempty[:5]]
    for i, r in enumerate(dup):
        r["url"] = f"zdup://copy-{i}"
    import pyarrow as pa

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(base, str(in_dir / "base.parquet"))
    pq.write_table(pa.Table.from_pylist(dup, schema=base.schema), str(in_dir / "dups.parquet"))

    out = str(tmp_path / "out")
    s = run_extraction_job(
        spark, str(in_dir), out, run_id="rd", num_parts=8, dedup="exact"
    )
    assert s["dups_dropped"] == 5
    assert s["docs_in"] == 400  # the 5 copies never reached extraction

    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 5
    # kept urls: one canonical per text — none of the droppable copies when
    # the original url sorts first (originals here sort before dup://)
    written = spark.read.parquet(f"{out}/extractions")
    assert written.filter(F.col("url").startswith("zdup://")).count() == 0
    assert written.select("url").distinct().count() == 400

    # resume semantics unchanged: a second dedup run is a no-op
    s2 = run_extraction_job(
        spark, str(in_dir), out, run_id="rd2", num_parts=8, dedup="exact"
    )
    assert s2["docs_in"] == 0


def test_job_cross_run_fp_store_dedup(spark, pages_parquet, tmp_path):
    """fp_store_path: run 1 processes a crawl and persists its fingerprints;
    run 2 (a later re-crawl into a FRESH out_dir) drops every page whose
    text was already processed by run 1 — even under different urls — and
    appends only its own new fingerprints."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    rows = base.to_pylist()
    nonempty = [r for r in rows if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    in1 = tmp_path / "crawl1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "pages.parquet"))
    out1 = str(tmp_path / "out1")
    s1 = run_extraction_job(
        spark, str(in1), out1, run_id="c1", num_parts=8, fp_store_path=store
    )
    assert s1["store_dups_dropped"] == 0 and s1["docs_in"] == 400

    # crawl 2: 10 re-crawled copies (same text, new url) + 5 genuinely new
    recrawl = [dict(r) for r in nonempty[:10]]
    for i, r in enumerate(recrawl):
        r["url"] = f"zrecrawl://copy-{i}"
    fresh = [dict(nonempty[0]) for _ in range(5)]
    for i, r in enumerate(fresh):
        r["url"] = f"znew://page-{i}"
        r["text"] = f"pagina totalmente nueva numero {i} con contenido propio"
    in2 = tmp_path / "crawl2"
    in2.mkdir()
    pq.write_table(
        pa.Table.from_pylist(recrawl + fresh, schema=base.schema),
        str(in2 / "pages.parquet"),
    )
    out2 = str(tmp_path / "out2")
    s2 = run_extraction_job(
        spark, str(in2), out2, run_id="c2", num_parts=8, fp_store_path=store
    )
    assert s2["store_dups_dropped"] == 10
    assert s2["docs_in"] == 5
    written = spark.read.parquet(f"{out2}/extractions")
    assert written.filter(F.col("url").startswith("zrecrawl://")).count() == 0
    # lineage audits the store drops in dups_dropped
    lin = spark.read.parquet(f"{out2}/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 10

    # replaying crawl 2 against the grown store drops everything
    out3 = str(tmp_path / "out3")
    s3 = run_extraction_job(
        spark, str(in2), out3, run_id="c3", num_parts=8, fp_store_path=store
    )
    assert s3["docs_in"] == 0 and s3["store_dups_dropped"] == 15


def test_job_in_run_and_store_dedup_compose(spark, pages_parquet, tmp_path):
    """dedup="exact" + fp_store_path in one run: in-run copies fall to the
    loser stage, re-crawled copies of the PRIOR run fall to the store
    stage, both audited, and the store gains only the survivors' fps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    in1 = tmp_path / "c1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "p.parquet"))
    run_extraction_job(
        spark, str(in1), str(tmp_path / "o1"), run_id="c1", num_parts=8,
        fp_store_path=store,
    )

    # crawl 2: 4 re-crawls of run-1 texts + 3 fresh pages, one of which has
    # an in-run duplicate (same text, two urls)
    recrawl = [dict(r) for r in nonempty[:4]]
    for i, r in enumerate(recrawl):
        r["url"] = f"zre://{i}"
    fresh = [dict(nonempty[0]) for _ in range(4)]
    for i, r in enumerate(fresh):
        r["url"] = f"znew://{i}"
        r["text"] = f"contenido fresco {i // 2} para la segunda corrida"  # 0,1 dup; 2,3 dup
    in2 = tmp_path / "c2"
    in2.mkdir()
    pq.write_table(pa.Table.from_pylist(recrawl + fresh, schema=base.schema), str(in2 / "p.parquet"))

    s = run_extraction_job(
        spark, str(in2), str(tmp_path / "o2"), run_id="c2", num_parts=8,
        dedup="exact", fp_store_path=store,
    )
    assert s["store_dups_dropped"] == 4  # the re-crawls
    assert s["dups_dropped"] == 2  # znew://1 and znew://3 lose in-run
    assert s["docs_in"] == 2  # znew://0 and znew://2 extracted
    lin = spark.read.parquet(f"{tmp_path}/o2/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 6


def test_job_all_curation_tiers_compose(spark, pages_parquet, tmp_path):
    """url_dedup (pre-text tier) + dedup="exact" + fp_store_path +
    pii_scrub all on in one run: each tier drops/redacts its own slice,
    every dropped page is audited exactly once across the three drop
    tallies, and lineage carries url_dups_dropped + pii_redactions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    # run 1 fills the store with the base corpus
    in1 = tmp_path / "c1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "p.parquet"))
    run_extraction_job(
        spark, str(in1), str(tmp_path / "o1"), run_id="c1", num_parts=8,
        fp_store_path=store,
    )

    # crawl 2, engineered one page per tier:
    #  A: two URL variants of ONE page (utm params) -> url tier drops 1
    #  B: re-crawl of a run-1 text under a new url    -> store tier drops 1
    #  C: two copies of a FRESH text                  -> in-run tier drops 1
    #  D: fresh text containing PII                   -> scrubbed, counted
    # html=None on the engineered pages: extraction prefers the DOM parse
    # when html is present, and these tests pin the text-path content
    a1 = dict(nonempty[0]); a1["url"] = "https://a.example.com/x"
    a1["text"] = "texto fresco de la variante a para el caso"; a1["html"] = None
    a2 = dict(a1); a2["url"] = "https://a.example.com/x?utm_source=feed"
    b = dict(nonempty[1]); b["url"] = "https://b.example.com/recrawl"
    c1 = dict(nonempty[0]); c1["url"] = "https://c.example.com/1"
    c1["text"] = "contenido nuevo duplicado en dos urls distintas"; c1["html"] = None
    c2 = dict(c1); c2["url"] = "https://c.example.com/2"
    d = dict(nonempty[0]); d["url"] = "https://d.example.com/pii"
    d["text"] = ("Oficio No. JE-123-2025 del Juzgado Primero de lo Civil. "
                 "escriba a maria@correo.example.org con cedula 8-123-456")
    d["html"] = None
    #  E: page on a blocklisted domain's subdomain  -> admission tier drops 1
    e = dict(nonempty[0]); e["url"] = "https://ads.blocked.example/spam"
    e["text"] = "contenido de spam que jamas debe entrar al corpus"
    e["html"] = None
    #  F: robots-disallowed path / G: same host, allowed path -> robots
    #  tier drops F only
    f = dict(nonempty[0]); f["url"] = "https://r.example.com/private/secreto"
    f["text"] = "contenido privado que robots prohibe rastrear aqui"
    f["html"] = None
    g = dict(nonempty[0]); g["url"] = "https://r.example.com/public/nota"
    g["text"] = "contenido publico permitido por robots txt aqui"
    g["html"] = None
    in2 = tmp_path / "c2"
    in2.mkdir()
    pq.write_table(
        pa.Table.from_pylist([a1, a2, b, c1, c2, d, e, f, g], schema=base.schema),
        str(in2 / "p.parquet"),
    )

    blocked = spark.createDataFrame([("blocked.example",)], "domain string")
    from ocr_sam_project_spark.operators.webgraph import parse_robots

    robots = parse_robots(
        spark.createDataFrame(
            [("r.example.com", "User-agent: *\nDisallow: /private\n")],
            "host string, robots_txt string",
        )
    )
    s = run_extraction_job(
        spark, str(in2), str(tmp_path / "o2"), run_id="c2", num_parts=8,
        dedup="exact", fp_store_path=store, url_dedup=True, pii_scrub=True,
        blocklist=blocked, robots_rules=robots,
    )
    assert s["blocked_dropped"] == 1    # e (suffix match on parent domain)
    assert s["robots_dropped"] == 1     # f (Disallow /private); g admitted
    assert s["url_dups_dropped"] == 1   # a2 (utm variant)
    assert s["dups_dropped"] == 1       # c2 (in-run text dup)
    assert s["store_dups_dropped"] == 1  # b (re-crawl)
    assert s["docs_in"] == 4            # a1, c1, d, g extracted
    assert s["pii_redactions"] >= 2     # d's email + cedula (at least)

    written = spark.read.parquet(f"{tmp_path}/o2/extractions")
    assert written.filter(F.col("url") == a2["url"]).count() == 0
    assert written.filter(F.col("url") == e["url"]).count() == 0
    assert written.filter(F.col("url") == f["url"]).count() == 0
    assert written.filter(F.col("url") == g["url"]).count() > 0
    lineage = spark.read.parquet(f"{tmp_path}/o2/lineage").filter(
        F.col("run_id") == "c2"
    )
    # the lineage admission column audits blocklist + robots refusals
    assert lineage.agg(F.sum("blocked_dropped")).first()[0] == 2
    d_rows = written.filter(F.col("url") == d["url"]).collect()
    assert d_rows and all(
        "maria@" not in (r.extracted_text or "") for r in d_rows
    )
    assert any("<EMAIL>" in (r.extracted_text or "") for r in d_rows)

    lin = spark.read.parquet(f"{tmp_path}/o2/lineage")
    assert lin.agg(F.sum("url_dups_dropped")).first()[0] == 1
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 2  # text + store tiers
    assert lin.agg(F.sum("pii_redactions")).first()[0] == s["pii_redactions"]


def test_job_store_and_inrun_loser_counted_once(spark, pages_parquet, tmp_path):
    """A page that is BOTH an in-run duplicate loser AND a store hit must be
    audited exactly once: the store probe runs over the post-in-run-dedup
    universe, so dups_dropped + store_dups_dropped == pages actually dropped
    (the r4 form counted such a page in both tallies)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    in1 = tmp_path / "c1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "p.parquet"))
    run_extraction_job(
        spark, str(in1), str(tmp_path / "o1"), run_id="c1", num_parts=8,
        fp_store_path=store,
    )

    # crawl 2 = TWO copies of one run-1 text under new urls: zcopy-a wins
    # in-run (min url), zcopy-b is the in-run loser; zcopy-a is then a store
    # hit.  2 pages in -> exactly 2 drops total, never 3.
    copies = [dict(nonempty[0]), dict(nonempty[0])]
    copies[0]["url"] = "zcopy-a://page"
    copies[1]["url"] = "zcopy-b://page"
    in2 = tmp_path / "c2"
    in2.mkdir()
    pq.write_table(pa.Table.from_pylist(copies, schema=base.schema), str(in2 / "p.parquet"))

    s = run_extraction_job(
        spark, str(in2), str(tmp_path / "o2"), run_id="c2", num_parts=8,
        dedup="exact", fp_store_path=store,
    )
    assert s["docs_in"] == 0
    assert s["dups_dropped"] == 1  # zcopy-b lost in-run
    assert s["store_dups_dropped"] == 1  # zcopy-a hit the store — once
    lin = spark.read.parquet(f"{tmp_path}/o2/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 2


def test_job_corrupt_fp_store_raises(spark, pages_parquet, tmp_path):
    """An fp store that EXISTS but cannot be read must raise, not silently
    degrade to first-crawl behavior (which would both skip cross-run dedup
    and append duplicate fingerprints)."""
    store = tmp_path / "fp_store"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        run_extraction_job(
            spark, pages_parquet, str(tmp_path / "out"), run_id="bad",
            num_parts=8, fp_store_path=str(store),
        )


def test_job_dedup_across_resume_boundary(spark, pages_parquet, tmp_path):
    """A duplicate pair whose winner lands in a COMPLETED part must still be
    dropped when the loser's part runs in a later resume: losers are
    computed over the full corpus, not the resume's todo subset."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    num_parts = 8
    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]

    # ONE query assigns every candidate url (originals + copy names) a part
    cands = [f"zdup://resume-{i}" for i in range(20)]
    urls = [r["url"] for r in nonempty] + cands
    part = {
        r.url: r.p
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .selectExpr("url", f"pmod(xxhash64(url), {num_parts}) AS p")
        .collect()
    }
    # pick an original whose part differs from its copy's part
    winner, loser_url = next(
        (r, c) for r in nonempty for c in cands if part[c] != part[r["url"]]
    )
    copy = dict(winner)
    copy["url"] = loser_url

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(base, str(in_dir / "base.parquet"))
    pq.write_table(pa.Table.from_pylist([copy], schema=base.schema), str(in_dir / "dup.parquet"))

    out = str(tmp_path / "out")
    # run 1: ONLY the winner's part completes
    run_extraction_job(
        spark, str(in_dir), out, run_id="p1", num_parts=num_parts,
        only_parts=[part[winner["url"]]], dedup="exact",
    )
    # run 2: resume the rest — the loser's part now runs with the winner's
    # part already done; the loser must still be dropped
    s2 = run_extraction_job(
        spark, str(in_dir), out, run_id="p2", num_parts=num_parts, dedup="exact"
    )
    assert s2["dups_dropped"] == 1
    written = spark.read.parquet(f"{out}/extractions")
    assert written.filter(F.col("url") == loser_url).count() == 0
    assert written.filter(F.col("url") == winner["url"]).count() >= 1


def test_job_dedup_all_loser_part_completes(spark, tmp_path):
    """A partition whose EVERY page is a dedup loser writes no output rows
    but must still get a 'completed' lineage row (with its dups_dropped) —
    otherwise each resume re-runs it and re-counts its losers forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA

    num_parts = 4
    # one query assigns candidate urls to parts (pmod(xxhash64(url), 4))
    cands = [f"https://w{i}.example/a" for i in range(40)]
    part = {
        r.url: r.p
        for r in spark.createDataFrame([(u,) for u in cands], "url string")
        .selectExpr("url", f"pmod(xxhash64(url), {num_parts}) AS p")
        .collect()
    }
    # winner = the globally smallest url (so it always wins the keep-min
    # tie-break); loser (same text) is ALONE in a different part
    winner = min(cands)
    pa_ = part[winner]
    extra = next(u for u in cands if part[u] == pa_ and u != winner)
    loser = next(u for u in sorted(cands) if part[u] != pa_)
    pb_ = part[loser]
    T = datetime(2025, 1, 1, 10, 0)
    rows = [
        {"url": winner, "warc_ts": T, "html": None, "text": "texto compartido x", "lang": "es"},
        {"url": extra, "warc_ts": T, "html": None, "text": "otro texto unico", "lang": "es"},
        {"url": loser, "warc_ts": T, "html": None, "text": "Texto  COMPARTIDO x", "lang": "es"},
    ]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), str(in_dir / "p.parquet"))

    out = str(tmp_path / "out")
    s1 = run_extraction_job(
        spark, str(in_dir), out, run_id="r1", num_parts=num_parts, dedup="exact"
    )
    assert s1["dups_dropped"] == 1
    lin = spark.read.parquet(f"{out}/lineage")
    loser_part_rows = lin.filter(F.col("part_id") == pb_).collect()
    assert len(loser_part_rows) == 1  # the dedup-emptied part IS completed
    assert loser_part_rows[0].dups_dropped == 1
    assert loser_part_rows[0].docs_in == 0

    # resume: nothing left to do, and the loser is NOT re-counted
    s2 = run_extraction_job(
        spark, str(in_dir), out, run_id="r2", num_parts=num_parts, dedup="exact"
    )
    assert s2["docs_in"] == 0
    assert s2["dups_dropped"] == 0


def test_metrics_written(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "m")
    run_extraction_job(spark, pages_parquet, out, run_id="rm", num_parts=4)
    m = spark.read.parquet(f"{out}/metrics")
    names = {r.metric for r in m.select("metric").distinct().collect()}
    assert {"docs_in", "segments_out", "errors", "elapsed_sec", "docs_per_sec"} <= names


def test_job_fp_store_bloom_identical(spark, pages_parquet, tmp_path):
    """fp_store_bloom must not change ANY observable output: same
    store_dups_dropped, same docs_in, same surviving url set, same lineage
    totals as the plain semi-join path — the bloom tier only shrinks the
    join input (false negatives impossible, the join removes false
    positives).  Runs with a deliberately small filter so false positives
    are present and MUST be cleaned by the verify join."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    rows = [r for r in base.to_pylist() if (r["text"] or "").strip()]

    outs = {}
    for tag, bloom in (("plain", False), ("bloom", True)):
        store = str(tmp_path / f"fp_store_{tag}")
        in1 = tmp_path / f"crawl1_{tag}"
        in1.mkdir()
        pq.write_table(base, str(in1 / "pages.parquet"))
        run_extraction_job(
            spark, str(in1), str(tmp_path / f"o1_{tag}"), run_id="c1",
            num_parts=8, fp_store_path=store,
            fp_store_bloom=bloom, fp_store_bloom_bits=256,
        )
        recrawl = [dict(r) for r in rows[:10]]
        for i, r in enumerate(recrawl):
            r["url"] = f"zrecrawl://copy-{i}"
        fresh = [dict(rows[0]) for _ in range(5)]
        for i, r in enumerate(fresh):
            r["url"] = f"znew://page-{i}"
            r["text"] = f"pagina nueva numero {i} con contenido propio"
        in2 = tmp_path / f"crawl2_{tag}"
        in2.mkdir()
        pq.write_table(
            pa.Table.from_pylist(recrawl + fresh, schema=base.schema),
            str(in2 / "pages.parquet"),
        )
        out2 = str(tmp_path / f"o2_{tag}")
        s2 = run_extraction_job(
            spark, str(in2), out2, run_id="c2", num_parts=8,
            fp_store_path=store,
            fp_store_bloom=bloom, fp_store_bloom_bits=256,
        )
        lin = spark.read.parquet(f"{out2}/lineage")
        outs[tag] = (
            s2["store_dups_dropped"],
            s2["docs_in"],
            sorted(
                r.url
                for r in spark.read.parquet(f"{out2}/extractions")
                .select("url").collect()
            ),
            lin.agg(F.sum("dups_dropped")).first()[0],
        )
    assert outs["plain"] == outs["bloom"]
    assert outs["bloom"][0] == 10 and outs["bloom"][1] == 5


def test_tune_split_size_keeps_defaults_without_local_input(spark, tmp_path, monkeypatch):
    """A missing path, or a size walk that fails with OSError, leaves the
    split size alone; any other error propagates."""
    import os

    from ocr_sam_project_spark.pipeline.job import _tune_split_size

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    _tune_split_size(spark, str(tmp_path / "missing.parquet"))
    assert spark.conf.get(key) == before

    (tmp_path / "pages.parquet").write_bytes(b"x")

    def vanished(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(os.path, "getsize", vanished)
    _tune_split_size(spark, str(tmp_path / "pages.parquet"))
    assert spark.conf.get(key) == before
    monkeypatch.undo()
    with pytest.raises(AttributeError):
        _tune_split_size(None, str(tmp_path / "pages.parquet"))


def test_row_groups_below_reads_footer_errors_as_false(pages_parquet, tmp_path, monkeypatch):
    """A .parquet file that is not parquet gives False (pyarrow raises
    ArrowInvalid); any other error from the footer read propagates."""
    import pyarrow.parquet as pq

    from ocr_sam_project_spark.sources.io import _row_groups_below

    # the 400-page fixture is 2 row groups
    assert _row_groups_below(pages_parquet, 4) is True
    assert _row_groups_below(pages_parquet, 2) is False
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not a parquet footer")
    assert _row_groups_below(str(junk), 4) is False

    def broken(path):
        raise RuntimeError(path)

    monkeypatch.setattr(pq, "ParquetFile", broken)
    with pytest.raises(RuntimeError):
        _row_groups_below(pages_parquet, 4)


def _scan_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_spread_round_robins_a_one_row_group_file(spark, tmp_path):
    """Fewer row groups than cores: one round-robin Exchange to
    defaultParallelism, with the projection and the filter pushed below it
    into the scan."""
    from ocr_sam_project_spark.sources.io import read_spread, write_pages_parquet

    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("a one-row-group file is already one split per core")
    path = write_pages_parquet(str(tmp_path / "one.parquet"), n=64, seed=5,
                               row_group_size=64)
    plan = _scan_plan(read_spread(spark, path).filter(F.col("lang") == "es")
                      .select("url"))
    assert plan.count("Exchange") == 1, plan
    assert plan.count(f"RoundRobinPartitioning({cores})") == 1, plan
    scan = plan.split("FileScan")[1]
    assert "ReadSchema: struct<url:string,lang:string>" in scan, plan
    assert "EqualTo(lang,es)" in scan, plan


def test_read_spread_leaves_a_many_row_group_input_alone(spark, tmp_path):
    """At least as many row groups as cores: the plain scan, no Exchange."""
    from ocr_sam_project_spark.sources.io import read_spread, write_pages_parquet

    cores = spark.sparkContext.defaultParallelism
    path = write_pages_parquet(str(tmp_path / "many.parquet"), n=16 * cores,
                               seed=5, row_group_size=16)
    plan = _scan_plan(read_spread(spark, path))
    assert "Exchange" not in plan, plan


def test_extract_stage_dead_rows_are_error_records(spark, tmp_path):
    """A page with neither html nor text is written as the empty_document
    quarantine record extract_document returns, and the stage scans its
    input once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_sam_project_spark.extraction.document import _error_record
    from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA

    rows = [
        {"url": "dead://null", "warc_ts": None, "html": None, "text": None, "lang": "es"},
        {"url": "dead://empty", "warc_ts": None, "html": b"", "text": "  ", "lang": None},
        {"url": "ok://text", "warc_ts": None, "html": None,
         "text": "texto util presente aqui", "lang": "es"},
    ]
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), path)
    assert _scan_plan(extract_stage(spark.read.parquet(path))).count("FileScan") == 1

    out = str(tmp_path / "out")
    run_extraction_job(spark, path, out, num_parts=1)
    written = {r.url: r.asDict() for r in spark.read.parquet(f"{out}/extractions")
               .filter(F.col("url").startswith("dead://")).collect()}
    assert set(written) == {"dead://null", "dead://empty"}
    for r in rows[:2]:
        want = _error_record(r["url"], r["lang"], "empty_document")
        got = written[r["url"]]
        assert {k: got[k] for k in want if k in got} == {
            k: v for k, v in want.items() if k in got}
        assert got["personas"] == want["personas_primary"] == []


def test_job_arrow_stage_runs_one_python_task_per_core(spark, tmp_path):
    """The extraction's mapInPandas stage runs at most defaultParallelism
    Python tasks: one wave, since each Python task pays a fixed setup cost
    (see _tune_split_size).  The input has more row groups than cores, so
    the split size alone sets the task count.

    The stage is found by its RDD operation graph (a MapInPandas scope),
    and it scans its input once."""
    from ocr_sam_project_spark.sources.io import write_pages_parquet

    pages = write_pages_parquet(str(tmp_path / "pages.parquet"), n=400, seed=42,
                                row_group_size=16)
    sc = spark.sparkContext
    sc.setJobGroup("one-wave", "one-wave")
    try:
        run_extraction_job(spark, pages, str(tmp_path / "out"), num_parts=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    dot_of = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    # jobs that share a stage all list it; a stage that was skipped ran no task
    stage_ids = {s for j in tracker.getJobIdsForGroup("one-wave")
                 for s in tracker.getJobInfo(j).stageIds}
    arrow = []
    for s in sorted(stage_ids):
        dot = dot_of(store.operationGraphForStage(s))
        ran = tracker.getStageInfo(s).numCompletedTasks
        if 'label="MapInPandas"' in dot and ran:
            arrow.append((ran, dot.count("FileScanRDD [")))
    assert len(arrow) == 1, arrow
    tasks, scans = arrow[0]
    assert scans == 1 and tasks <= sc.defaultParallelism, arrow


# --------------------------------------------------------------------------
# the tier loop: observed counts, telemetry rows, job count, session confs
# --------------------------------------------------------------------------
_SUMMARY_COUNTERS = (
    "docs_in", "segments_out", "errors", "dups_dropped", "store_dups_dropped",
    "url_dups_dropped", "blocked_dropped", "robots_dropped", "pii_redactions",
    "skipped_parts",
)


def _all_tiers_input(spark, pages_parquet, root) -> tuple[str, dict]:
    """The 400 synthetic pages plus a slice for every drop tier, and the
    job options that turn every tier on.  Returns (input dir, options).

    blocklist: one of the synthetic hosts; robots: a path prefix on
    another; url tier: 8 tracking-param variants; text tier: 8 copies
    under new urls; store tier: a store seeded with the fingerprints of
    20 corpus pages (small bloom filter, so false positives occur)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_sam_project_spark.operators.dedup import corpus_fingerprints
    from ocr_sam_project_spark.operators.webgraph import parse_robots

    base = pq.read_table(pages_parquet)
    judicial = [r for r in base.to_pylist()
                if (r["text"] or "").strip() and "organojudicial" in r["url"]]
    extra = []
    for k, r in enumerate(judicial[:8]):
        extra.append(dict(r, url=f"{r['url']}?utm_source=feed{k}"))
    for k, r in enumerate(judicial[8:16]):
        extra.append(dict(r, url=f"https://copias.example.net/copia/{k:04d}"))
    in_dir = root / "in"
    in_dir.mkdir()
    pq.write_table(base, str(in_dir / "base.parquet"))
    pq.write_table(pa.Table.from_pylist(extra, schema=base.schema), str(in_dir / "extra.parquet"))

    store = str(root / "fp_store")
    seed = spark.createDataFrame(judicial[16:36], schema="url string, warc_ts timestamp, "
                                 "html binary, text string, lang string")
    corpus_fingerprints(seed, "text", "url").write.parquet(store)
    robots = parse_robots(spark.createDataFrame(
        [("mingob.gob.pa", "User-agent: *\nDisallow: /oficios/000001\n")],
        "host string, robots_txt string"))
    return str(in_dir), {
        "num_parts": 8, "dedup": "exact", "url_dedup": True, "pii_scrub": True,
        "fp_store_path": store, "fp_store_bloom": True, "fp_store_bloom_bits": 256,
        "blocklist": spark.createDataFrame([("site17.example.com",)], "domain string"),
        "robots_rules": robots,
    }


def test_job_tier_counts_respect_only_parts_and_resume(spark, pages_parquet, tmp_path):
    """An all-tiers run restricted to three parts, then resumed: every
    loser is counted once, by the run that owns its part.  The per-part
    lineage drops and the summary counters are pinned to the values the
    per-tier count jobs produced before the counts moved onto the
    checkpoint."""
    in_dir, opts = _all_tiers_input(spark, pages_parquet, tmp_path)
    out = str(tmp_path / "out")
    s1 = run_extraction_job(spark, in_dir, out, run_id="t1", only_parts=[0, 1, 2], **opts)
    s2 = run_extraction_job(spark, in_dir, out, run_id="t2", **opts)
    lin = spark.read.parquet(f"{out}/lineage")
    rows = sorted(
        (r.run_id, r.part_id, r.dups_dropped, r.url_dups_dropped, r.blocked_dropped)
        for r in lin.collect()
    )
    assert rows == [
        ("t1", 0, 1, 1, 1), ("t1", 1, 4, 1, 3), ("t1", 2, 7, 0, 3),
        ("t2", 3, 2, 0, 8), ("t2", 4, 4, 1, 2), ("t2", 5, 4, 1, 3),
        ("t2", 6, 3, 4, 3), ("t2", 7, 3, 0, 3),
    ]
    assert {k: s1[k] for k in _SUMMARY_COUNTERS} == {
        "docs_in": 142, "segments_out": 163, "errors": 2, "dups_dropped": 1,
        "store_dups_dropped": 11, "url_dups_dropped": 2, "blocked_dropped": 4,
        "robots_dropped": 3, "pii_redactions": 236, "skipped_parts": [],
    }
    assert {k: s2[k] for k in _SUMMARY_COUNTERS} == {
        "docs_in": 212, "segments_out": 247, "errors": 6, "dups_dropped": 7,
        "store_dups_dropped": 9, "url_dups_dropped": 6, "blocked_dropped": 12,
        "robots_dropped": 7, "pii_redactions": 366, "skipped_parts": [0, 1, 2],
    }


def test_job_fp_store_append_equals_corpus_fingerprints(spark, pages_parquet, tmp_path):
    """The rows a run appends to the fp store are `corpus_fingerprints` of
    the non-empty pages it extracted, for an all-tiers run over a seeded
    store, for a first crawl whose store does not exist yet, and for a url
    on two rows of which one is an exact duplicate; `docs_in` counts those
    same extracted pages.  The job takes the fingerprints from its page
    ledger instead of fingerprinting again."""
    import os
    from collections import Counter

    from ocr_sam_project_spark.operators.dedup import corpus_fingerprints

    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir, opts = _all_tiers_input(spark, pages_parquet, tmp_path)
    first = {"num_parts": 8, "dedup": "exact", "fp_store_path": str(tmp_path / "new_store")}
    # a url on two rows, one of them an exact duplicate of a smaller url's
    # page: the url loses on both rows, so neither is extracted or stored
    base = pq.read_table(pages_parquet)
    pages = sorted((r for r in base.to_pylist() if (r["text"] or "").strip()),
                   key=lambda r: r["url"])
    shadow_dir = tmp_path / "shadow_in"
    shadow_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(pages + [dict(pages[0], url=pages[-1]["url"])],
                                        schema=base.schema), str(shadow_dir / "p.parquet"))
    shadow = {"num_parts": 8, "dedup": "exact", "fp_store_path": str(tmp_path / "shadow_store")}
    rows = lambda df: Counter((r.url, r.fp) for r in df.select("url", "fp").collect())  # noqa: E731
    for run, src, o in (("all", in_dir, opts), ("first", in_dir, first),
                        ("shadow", str(shadow_dir), shadow)):
        store = o["fp_store_path"]
        before = rows(spark.read.parquet(store)) if os.path.exists(store) else Counter()
        out = str(tmp_path / run)
        s = run_extraction_job(spark, src, out, run_id=run, **o)
        todo = spark.read.parquet(src).join(
            spark.read.parquet(f"{out}/extractions").select("url"), "url", "left_semi")
        want = rows(corpus_fingerprints(todo.filter(F.length(F.trim("text")) > 0), "text", "url"))
        assert want and rows(spark.read.parquet(store)) == before + want, run
        assert s["docs_in"] == todo.count(), run
    assert pages[-1]["url"] not in {u for u, _ in want}


@pytest.fixture(scope="module")
def all_tiers_run(spark, pages_parquet, tmp_path_factory):
    """One all-tiers run under its own job group: (summary, out dir, the
    number of Spark jobs it issued)."""
    root = tmp_path_factory.mktemp("all_tiers")
    in_dir, opts = _all_tiers_input(spark, pages_parquet, root)
    sc = spark.sparkContext
    sc.setJobGroup("all-tiers-run", "all-tiers-run")
    try:
        s = run_extraction_job(spark, in_dir, str(root / "out"), run_id="at", **opts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return s, str(root / "out"), len(sc.statusTracker().getJobIdsForGroup("all-tiers-run"))


def test_job_tier_metrics_rows_equal_summary(spark, all_tiers_run):
    """Every tier writes a tier_losers:<name> row to the long-format metrics
    table, equal to its summary counter; the tiers run as one drop pass, so
    its wall time is one tier_sec:drop_pass row."""
    s, out, _ = all_tiers_run
    m = {r.metric: r.value for r in spark.read.parquet(f"{out}/metrics").collect()}
    tiers = {"blocklist": "blocked_dropped", "robots": "robots_dropped",
             "url_dedup": "url_dups_dropped", "exact_dedup": "dups_dropped",
             "store_dedup": "store_dups_dropped"}
    assert {t: m[f"tier_losers:{t}"] for t in tiers} == {t: s[k] for t, k in tiers.items()}
    assert all(s[k] > 0 for k in tiers.values())
    assert m["tier_sec:drop_pass"] > 0
    assert {k for k in m if k.startswith("tier_")} == (
        {f"tier_losers:{t}" for t in tiers} | {"tier_sec:drop_pass"})


def test_job_tail_appends_write_one_file(all_tiers_run):
    """A run appends its lineage rows and its metrics rows as one parquet
    file each, so a resume's `completed_parts` reads back one lineage file
    per earlier run, not one per core."""
    import os

    _, out, _ = all_tiers_run
    for table in ("lineage", "metrics"):
        files = [f for f in os.listdir(f"{out}/{table}") if f.endswith(".parquet")]
        assert len(files) == 1, (table, files)


def test_job_issues_no_per_tier_count_job(all_tiers_run):
    """Every tier's per-part counts ride the one drop-pass checkpoint job,
    and the write observes its own stats.  The run issues 23-24 jobs (max
    over 8 runs; the exact tier's per-url window adds 2, and a store probe
    that re-ran the tier chain's windows issued 25-27); the bound is that
    plus 2.  An action per tier (the tier loop the pass replaced issued
    37-38) or a separate count job per tier pushes it past."""
    _, _, jobs = all_tiers_run
    assert jobs <= 24 + 2


def test_job_minhash_tier_matches_dedup_losers(spark, pages_parquet, tmp_path):
    """An all-tiers run with dedup="minhash" drops exactly the
    `dedup_losers(..., "minhash")` of the pages the admission and url
    tiers keep; every other dropped page is theirs or a store hit."""
    from pyspark.sql import Window

    from ocr_sam_project_spark.operators.curation import canonical_url
    from ocr_sam_project_spark.operators.dedup import dedup_losers
    from ocr_sam_project_spark.operators.textstats import normalize_for_fingerprint
    from ocr_sam_project_spark.operators.webgraph import blocklist_hits, robots_filter

    in_dir, opts = _all_tiers_input(spark, pages_parquet, tmp_path)
    # the run appends its own fingerprints to the store
    stored = {r.fp for r in spark.read.parquet(opts["fp_store_path"]).collect()}
    out = str(tmp_path / "out")
    s = run_extraction_job(spark, in_dir, out, run_id="mh", **dict(opts, dedup="minhash"))

    pages = spark.read.parquet(in_dir)
    refused = robots_filter(pages.select("url"), opts["robots_rules"]).filter(~F.col("allowed"))
    admitted = (pages.join(blocklist_hits(pages, opts["blocklist"]), "url", "left_anti")
                .join(refused, "url", "left_anti"))
    keep = F.min("url").over(Window.partitionBy(canonical_url(F.col("url"))))
    kept = admitted.withColumn("_keep", keep).filter(F.col("url") == F.col("_keep"))
    nonempty = kept.filter(F.length(F.trim("text")) > 0)
    want = {r.url for r in dedup_losers(nonempty, "minhash", text_col="text", id_col="url")
            .collect()}

    urls = lambda df: {r.url for r in df.select("url").collect()}  # noqa: E731
    dropped = urls(pages) - urls(spark.read.parquet(f"{out}/extractions"))
    others = dropped - urls(kept)
    assert want and want <= dropped - others
    assert s["dups_dropped"] == len(want)
    store_hits = dropped - others - want
    assert len(store_hits) == s["store_dups_dropped"]
    hit_fps = {r.fp for r in pages.filter(F.col("url").isin(list(store_hits)))
               .select(F.md5(normalize_for_fingerprint(F.col("text"))).alias("fp")).collect()}
    assert hit_fps <= stored
    assert len(others) == sum(s[k] for k in ("blocked_dropped", "robots_dropped",
                                              "url_dups_dropped"))


def test_job_leaves_session_confs_unchanged(spark, pages_parquet, tmp_path):
    """The job tunes the split size and overwrites partitions dynamically,
    but the caller's session confs and job description are as they were."""
    split, mode = "spark.sql.files.maxPartitionBytes", "spark.sql.sources.partitionOverwriteMode"
    sc = spark.sparkContext
    spark.conf.set(split, "7777777")
    spark.conf.set(mode, "static")
    sc.setJobDescription("caller")
    try:
        out = str(tmp_path / "out")
        run_extraction_job(spark, pages_parquet, out, run_id="c1", num_parts=4,
                           only_parts=[0], url_dedup=True)
        # a second run overwrites only its own part under dynamic overwrite
        run_extraction_job(spark, pages_parquet, out, run_id="c2", num_parts=4,
                           url_dedup=True)
        assert spark.conf.get(split) == "7777777"
        assert spark.conf.get(mode) == "static"
        assert sc.getLocalProperty("spark.job.description") == "caller"
        parts = {r.part_id for r in spark.read.parquet(f"{out}/extractions")
                 .select("part_id").distinct().collect()}
        assert parts == {0, 1, 2, 3}
    finally:
        spark.conf.unset(split)
        spark.conf.unset(mode)
        sc.setJobDescription(None)
