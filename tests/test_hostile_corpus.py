"""Hostile corpora through the extraction job: every page blocked, every
page robots-disallowed, every page a text duplicate, a part that dedup
leaves empty, a zero-row fingerprint store, one 10 MB page, and one url
on two rows.

Each run must finish and audit every dropped page exactly once: the
lineage drop columns equal the summary counters, and extracted plus
dropped pages equal the input.  Where a pure-Python oracle exists (the
expected loser set, or `extract_document` run in-process), the run
matches it.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_sam_project_spark.pipeline.job import run_extraction_job
from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA
from ocr_sam_project_spark.sources.synth import pages_rows

_DROPS = ("blocked_dropped", "robots_dropped", "url_dups_dropped", "dups_dropped",
          "store_dups_dropped")


def _write(root, rows) -> str:
    in_dir = root / "in"
    in_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), str(in_dir / "p.parquet"))
    return str(in_dir)


def _host(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0]


def _parts(spark, urls, num_parts) -> dict:
    """url -> part_id, as the job assigns it."""
    return {r.url: r.p for r in spark.createDataFrame([(u,) for u in urls], "url string")
            .selectExpr("url", f"pmod(xxhash64(url), {num_parts}) AS p").collect()}


def _run_audited(spark, in_dir, out, run_id, n_in, **opts) -> dict:
    """Run the job, then check that every input page is either extracted
    or counted by exactly one drop tier, and that the run's lineage audits
    the same drops as its summary."""
    s = run_extraction_job(spark, in_dir, out, run_id=run_id, **opts)
    assert s["docs_in"] + sum(s[k] for k in _DROPS) == n_in, s
    lin = spark.read.parquet(f"{out}/lineage").filter(F.col("run_id") == run_id)
    got = lin.agg(*[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in
                    ("docs_in", "blocked_dropped", "url_dups_dropped", "dups_dropped")]).first()
    assert got.docs_in == s["docs_in"], (got, s)
    assert got.blocked_dropped == s["blocked_dropped"] + s["robots_dropped"], (got, s)
    assert got.url_dups_dropped == s["url_dups_dropped"], (got, s)
    assert got.dups_dropped == s["dups_dropped"] + s["store_dups_dropped"], (got, s)
    return s


def _written_urls(spark, out) -> set:
    # explicit schema: a run that drops every page writes an empty table,
    # where schema inference would throw
    written = spark.read.schema("url string, part_id int").parquet(f"{out}/extractions")
    return {r.url for r in written.select("url").distinct().collect()}


def test_every_page_blocked(spark, tmp_path):
    rows = pages_rows(48, seed=5)
    in_dir = _write(tmp_path, rows)
    blocked = spark.createDataFrame([(h,) for h in {_host(r["url"]) for r in rows}], "domain string")
    out = str(tmp_path / "out")
    s = _run_audited(spark, in_dir, out, "b1", len(rows), num_parts=4, blocklist=blocked,
                     url_dedup=True, dedup="exact")
    assert s["blocked_dropped"] == len(rows) and s["docs_in"] == 0
    assert _written_urls(spark, out) == set()
    # every part that held a page is completed, so a resume has nothing to do
    lin = spark.read.parquet(f"{out}/lineage")
    assert {r.part_id for r in lin.collect()} == set(_parts(spark, [r["url"] for r in rows], 4).values())
    s2 = run_extraction_job(spark, in_dir, out, run_id="b2", num_parts=4, blocklist=blocked)
    assert s2["docs_in"] == 0 and s2["blocked_dropped"] == 0


def test_every_page_robots_disallowed(spark, tmp_path):
    from ocr_sam_project_spark.operators.webgraph import parse_robots

    rows = pages_rows(48, seed=6)
    in_dir = _write(tmp_path, rows)
    robots = parse_robots(spark.createDataFrame(
        [(h, "User-agent: *\nAllow: /public\nDisallow: /\n") for h in {_host(r["url"]) for r in rows}],
        "host string, robots_txt string"))
    out = str(tmp_path / "out")
    s = _run_audited(spark, in_dir, out, "r1", len(rows), num_parts=4, robots_rules=robots)
    assert s["robots_dropped"] == len(rows) and s["docs_in"] == 0
    assert _written_urls(spark, out) == set()


def test_every_page_a_text_duplicate(spark, tmp_path):
    """One shared text: the min url survives and every other page is a
    dedup loser, so each part without the winner completes with no output
    row and its losers in lineage."""
    rows = [dict(r, text="el mismo oficio repetido en todas las paginas", html=None)
            for r in pages_rows(40, seed=7)]
    in_dir = _write(tmp_path, rows)
    out = str(tmp_path / "out")
    s = _run_audited(spark, in_dir, out, "d1", len(rows), num_parts=4, dedup="exact",
                     url_dedup=True)
    winner = min(r["url"] for r in rows)
    assert (s["dups_dropped"], s["docs_in"]) == (len(rows) - 1, 1)
    assert _written_urls(spark, out) == {winner}
    parts = _parts(spark, [r["url"] for r in rows], 4)
    want = {p: (0, 0) for p in parts.values()}
    for u, p in parts.items():
        want[p] = (want[p][0] + (u == winner), want[p][1] + (u != winner))
    lin = spark.read.parquet(f"{out}/lineage")
    assert {r.part_id: (r.docs_in, r.dups_dropped) for r in lin.collect()} == want
    s2 = run_extraction_job(spark, in_dir, out, run_id="d2", num_parts=4, dedup="exact")
    assert s2["docs_in"] == 0 and s2["dups_dropped"] == 0


def test_part_left_empty_after_url_dedup(spark, tmp_path):
    """Every page of one part is a tracking-param variant of a page in
    another part: the url tier empties that part, which still completes
    with its losers audited."""
    base = [dict(r, html=None, text=f"texto propio de la pagina {k}")
            for k, r in enumerate(pages_rows(24, seed=8))]
    variants = {f"{r['url']}?utm_source=feed": r for r in base}
    parts = _parts(spark, [r["url"] for r in base] + list(variants), 4)
    empty = 1
    kept = [r for r in base if parts[r["url"]] != empty]
    losers = [dict(r, url=v) for v, r in variants.items()
              if parts[v] == empty and parts[r["url"]] != empty]
    assert losers
    rows = kept + losers
    in_dir = _write(tmp_path, rows)
    out = str(tmp_path / "out")
    s = _run_audited(spark, in_dir, out, "u1", len(rows), num_parts=4, url_dedup=True,
                     dedup="exact")
    assert s["url_dups_dropped"] == len(losers) and s["dups_dropped"] == 0
    assert _written_urls(spark, out) == {r["url"] for r in kept}
    row = spark.read.parquet(f"{out}/lineage").filter(F.col("part_id") == empty).collect()
    assert [(r.docs_in, r.url_dups_dropped) for r in row] == [(0, len(losers))]


def test_zero_row_fp_store(spark, tmp_path):
    """A store that exists but holds no fingerprint drops nothing, with or
    without the Bloom filter; the run appends its pages, so a second crawl
    of the same pages drops every non-empty one."""
    from ocr_sam_project_spark.operators.dedup import corpus_fingerprints

    rows = pages_rows(40, seed=9)
    in_dir = _write(tmp_path, rows)
    nonempty = sum(1 for r in rows if (r["text"] or "").strip())
    for bloom in (False, True):
        store = str(tmp_path / f"store{int(bloom)}")
        corpus_fingerprints(spark.createDataFrame([], "url string, text string"), "text", "url") \
            .write.parquet(store)
        assert spark.read.parquet(store).count() == 0
        opts = dict(num_parts=4, fp_store_path=store, fp_store_bloom=bloom, fp_store_bloom_bits=256)
        s = _run_audited(spark, in_dir, str(tmp_path / f"o{int(bloom)}"), "z1", len(rows), **opts)
        assert s["store_dups_dropped"] == 0 and s["docs_in"] == len(rows)
        s2 = _run_audited(spark, in_dir, str(tmp_path / f"o{int(bloom)}b"), "z2", len(rows), **opts)
        assert s2["store_dups_dropped"] == nonempty


def test_one_10mb_page(spark, tmp_path):
    """A 10 MB html page (filler paragraphs spliced into a synthetic
    oficio) extracts in the job exactly as `extract_document` does
    in-process, next to ordinary pages, with the blocklist and both dedup
    tiers on."""
    from ocr_sam_project_spark.extraction.document import extract_document

    rows = pages_rows(16, seed=10)
    big = dict(next(r for r in rows if (r["html"] or b"").startswith(b"<")))
    filler = b"<div class='relleno'><p>parrafo de relleno numero %d con texto comun</p></div>"
    body = b"".join(filler % i for i in range(140_000))
    big["html"] = big["html"].replace(b"</body>", body + b"</body>")
    big["url"] += "/grande"
    big["text"] = "el texto propio de la pagina grande"
    assert len(big["html"]) >= 10 << 20
    rows.append(big)
    in_dir = _write(tmp_path, rows)
    out = str(tmp_path / "out")
    blocked = spark.createDataFrame([("nothing.example",)], "domain string")
    s = _run_audited(spark, in_dir, out, "g1", len(rows), num_parts=4, blocklist=blocked,
                     url_dedup=True, dedup="exact")
    assert s["docs_in"] + s["dups_dropped"] == len(rows)
    got = [(r.seg_no, r.doc_type, r.extracted_text, r.error) for r in
           spark.read.parquet(f"{out}/extractions").filter(F.col("url") == big["url"])
           .orderBy("seg_no").collect()]
    want = [(int(d["seg_no"]), d["doc_type"], d["extracted_text"], d["error"])
            for d in extract_document(big["url"], big["html"], big["text"], big["lang"], 1)]
    assert got == sorted(want)
    assert got[0][3] is None


def test_blocked_url_on_two_rows(spark, tmp_path):
    """A blocked url that appears on two rows is two dropped pages: each
    row is audited once, not the url once."""
    rows = pages_rows(24, seed=11)
    spam = dict(rows[0], url="https://ads.spam.example/oferta", html=None,
                text="contenido de spam repetido")
    rows += [spam, dict(spam, text="otro texto bajo la misma url")]
    in_dir = _write(tmp_path, rows)
    blocked = spark.createDataFrame([("spam.example",)], "domain string")
    out = str(tmp_path / "out")
    s = _run_audited(spark, in_dir, out, "bb", len(rows), num_parts=4, blocklist=blocked,
                     url_dedup=True, dedup="exact")
    assert s["blocked_dropped"] == 2
    assert spam["url"] not in _written_urls(spark, out)


def test_one_50gram_in_every_document_minhash(spark, tmp_path):
    """Every document carries the same 50-word passage, so every minhash
    band sees one hot shingle run: the minhash run finishes, audits every
    drop once, and drops exactly `dedup_losers(..., "minhash")`."""
    from ocr_sam_project_spark.operators.dedup import dedup_losers

    gram = " ".join(f"palabra{k}" for k in range(50))
    rows = [dict(r, html=None, text=f"{r['text'] or ''} {gram}") for r in pages_rows(40, seed=12)]
    in_dir = _write(tmp_path, rows)
    out = str(tmp_path / "out")
    s = _run_audited(spark, in_dir, out, "m1", len(rows), num_parts=4, dedup="minhash")
    want = dedup_losers(spark.read.parquet(in_dir), "minhash", text_col="text", id_col="url")
    assert s["dups_dropped"] == want.count()
    assert _written_urls(spark, out) == {r["url"] for r in rows} - {r.url for r in want.collect()}


def test_url_repeated_in_one_batch(spark, tmp_path):
    """The same page crawled twice in one batch (one url, one text, two
    rows) is extracted once per row: the losers are keyed by url, so no
    tier drops one of the two rows, and each row is a page in."""
    rows = pages_rows(8, seed=3)
    rows.append(dict(rows[0]))
    in_dir = _write(tmp_path, rows)
    s = _run_audited(spark, in_dir, str(tmp_path / "out"), "rp", len(rows), num_parts=4,
                     dedup="exact", url_dedup=True)
    assert s["docs_in"] == len(rows)
