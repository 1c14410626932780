"""Physical-plan hygiene — the 100 TB guards (SURVEY.md §4).

Asserts the properties that matter at scale, read from .explain output:
column pruning reaches the scan, filters push down, small joins broadcast,
aggregations have a map-side partial phase, and the extraction path stays
shuffle-free.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pages_scan_prunes_unused_columns(spark, pages_parquet):
    from ocr_sam_project_spark.pipeline.stages import extract_stage

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(extract_stage(pages))
    # warc_ts is never used by extraction -> must not reach the scan
    assert "warc_ts" not in plan.split("ReadSchema")[-1], plan


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    plan = _plan(pages.filter(F.col("lang") == "es").select("url"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,es)]" in plan or (
        "PushedFilters" in plan and "EqualTo(lang,es)" in plan
    ), plan


def test_j1_join_broadcasts_small_side(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    df = QUERY_FNS["j1_equi_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_a1_agg_has_partial_phase(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    df = QUERY_FNS["a1_monto_total"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # map-side combine: a partial HashAggregate before the exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_" in plan.lower() or "partial" in plan, plan


def test_whole_stage_codegen_covers_native_queries(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    df = QUERY_FNS["c1_classify"](spark, "/root/testdata/sf0.001")
    df.collect()  # AQE: codegen spans only appear in the final plan
    plan = _plan(df)
    # whole-stage-codegen stages print as '*(n)' in the simple plan form
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan


def test_dedup_exact_single_shuffle(spark):
    from ocr_sam_project_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup(docs))
    # one hash-partitioned exchange on fp, nothing else
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: identically-bucketed tables join without a shuffle
    (the repeated-join strategy for 100 TB fact tables)."""
    from ocr_sam_project_spark.sources.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    # disable auto-broadcast so the test exercises the bucketing path, not BHJ
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, "b_orders", "o_orderkey", buckets=8)
        write_bucketed(lineitem, "b_lineitem", "o_orderkey", buckets=8)
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_dedup_anti_join_has_no_exchange(spark, pages_parquet):
    """High-dup-regime dedup (loser set too big to broadcast): corpus and
    losers both bucketed by url -> the anti-join is a SortMergeJoin with NO
    Exchange — the pages (html payload included) never shuffle.  This is
    the 100 TB escape hatch for pipeline/job.py's loser anti-join."""
    from ocr_sam_project_spark.operators.dedup import dedup_losers
    from ocr_sam_project_spark.sources.bucketing import (
        bucketed_anti_join,
        write_bucketed,
    )

    pages = spark.read.parquet(pages_parquet)
    losers = dedup_losers(
        pages.filter(F.length(F.trim(F.col("text"))) > 0), "exact", id_col="url"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(pages, "b_pages", "url", buckets=8)
        write_bucketed(losers, "b_losers", "url", buckets=8)
        survivors = bucketed_anti_join(spark, "b_pages", "b_losers", "url")
        plan = _plan(survivors)
        assert "Exchange" not in plan, plan
        assert survivors.count() == pages.count() - losers.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_pages")
        spark.sql("DROP TABLE IF EXISTS b_losers")


def test_minhash_signatures_shuffle_free(spark):
    """r2 design point: signatures are per-row array_min(transform(...)) —
    NO shingle explode, NO groupBy shuffle (at web scale that shuffle IS
    the job).  The operator adds no Exchange at all."""
    from ocr_sam_project_spark.operators.dedup import minhash_signatures

    df = spark.range(200).selectExpr(
        "id AS doc_id", "concat('texto numero ', id, ' con palabras repetidas') AS text"
    )
    plan = _plan(minhash_signatures(df, fast=True))
    assert "HashAggregate" not in plan and "Generate" not in plan, plan
    assert "Exchange" not in plan, plan


def test_ivf_assign_is_narrow(spark):
    """IVF coarse assignment is ONE narrow per-row argmax over inlined
    centroid literals — no window (full-sort shuffle), no re-join of the
    input, no aggregate.  The r2 form paid row_number() + a second join;
    at 10^9 vectors those were the whole job."""
    from ocr_sam_project_spark.operators.similarity import ivf_assign

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(ivf_assign(df, n_centroids=4))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_ivf_search_stored_path_single_scan(spark, tmp_path):
    """The stored-assignment deployment (centroid_id + centroid list
    persisted at ingest) must touch the corpus EXACTLY ONCE, via the
    posting-list probe filter — no second scan for centroid ranking (the
    r3 form called ivf_centroids(df) per query: a full-table orderBy+limit
    per search at 100 TB).  The probe filter must also push down to the
    parquet scan."""
    from ocr_sam_project_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_search,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, n_centroids=8)
    stored_path = str(tmp_path / "ivf_assigned")
    ivf_assign(emb, n_centroids=8, centroids=cents).write.parquet(stored_path)
    stored = spark.read.parquet(stored_path)

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    res = ivf_search(
        stored, q, k=5, nprobe=2, n_centroids=8,
        assigned_col="centroid_id", centroids=cents,
    )
    plan = _plan(res)
    assert plan.count("Scan parquet") == 1, plan  # posting lists only
    assert "centroid_id" in plan.split("PushedFilters")[-1].split("]")[0], plan

    # forgetting the persisted centroids must be an error, not a rescan
    with pytest.raises(ValueError):
        ivf_search(stored, q, assigned_col="centroid_id")


def test_decontaminate_broadcasts_probe_grams(spark):
    """The probe gram set (benchmarks: ~10^5-10^7 grams) must broadcast —
    a sort-merge join here would shuffle the exploded 100 TB corpus gram
    stream by gram string, which IS the job's cost at scale."""
    from ocr_sam_project_spark.operators.curation import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probe = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    plan = _plan(decontaminate(corpus, probe, n=5))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_domain_cap_under_cap_rows_skip_the_sort(spark):
    """Only over-cap domains pay the per-domain row_number sort; the
    under-cap pass-through side must be a broadcast anti-join with no
    Window above it (at the crawl's Zipfian domain distribution, almost
    all domains are under cap)."""
    from ocr_sam_project_spark.operators.curation import domain_cap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(domain_cap(docs, cap=20))
    # one Window operator total (the over-cap slice), both domain-list
    # joins broadcast; Spark even inserts a partial WindowGroupLimit top-k
    # before the exchange, so a mega-domain ships at most cap rows per map
    # task rather than its whole slice
    assert plan.count("Window [") == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_against_store_prunes_store_scan(spark, pages_parquet, tmp_path):
    """The persisted fp store is (url, fp) but the probe only needs fp —
    column pruning must reach the store scan (at 10^12 stored docs the url
    column is most of the table's bytes)."""
    from ocr_sam_project_spark.operators.dedup import (
        corpus_fingerprints,
        dedup_against_store,
    )

    pages = spark.read.parquet(pages_parquet)
    store_path = str(tmp_path / "store")
    corpus_fingerprints(pages, id_col="url").write.parquet(store_path)
    out = dedup_against_store(
        pages, spark.read.parquet(store_path).select("fp"), id_col="url"
    )
    plan = _plan(out)
    store_scan = [s for s in plan.split("FileScan parquet") if "store" in s.split("Location")[-1][:200]]
    assert store_scan and "ReadSchema: struct<fp:string>" in store_scan[-1], plan


def test_tfidf_topk_plan_shape(spark):
    """tf-idf: the vocabulary-sized df table must broadcast back onto the
    tf rows (no second corpus-wide shuffle), and the per-doc top-k window
    must carry a partial WindowGroupLimit."""
    from ocr_sam_project_spark.operators.curation import tfidf_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(tfidf_topk(docs, k=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tfidf_topk_parameterized_n_docs_single_scan(spark):
    """With n_docs supplied (ingest/lineage/footer metadata already knows
    it), the operator must scan the corpus exactly ONCE — the count()
    fallback is a whole extra 100 TB pass to fetch one scalar.  The
    registered t_tfidf_topk query uses the parameterized path."""
    from ocr_sam_project_spark.operators.curation import tfidf_topk
    from ocr_sam_project_spark.queries import QUERY_FNS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = 500  # sf0.001 documents row count, as a caller-known scalar
    # the tf table is lazily checkpointed (it feeds both the dfreq branch
    # and the probe side — without it each consumer re-ran the whole
    # scan+explode+shuffle subtree: 2 parquet scans in the r4 plan).  The
    # final plan therefore scans parquet ZERO times (tf's one scan lives in
    # the checkpoint's upstream job) — assert no rescans survive here AND
    # that the checkpointed subtree itself holds exactly one scan.
    out = tfidf_topk(docs, k=3, n_docs=n)
    assert _plan(out).count("Scan parquet") == 0, _plan(out)

    cls = type(docs)  # the concrete (classic) DataFrame class
    orig = cls.localCheckpoint
    seen = []
    try:
        cls.localCheckpoint = lambda self, eager=True: (
            seen.append(self._jdf.queryExecution().executedPlan().toString())
            or orig(self, eager)
        )
        tfidf_topk(docs, k=3, n_docs=n)
    finally:
        cls.localCheckpoint = orig
    assert len(seen) == 1 and seen[0].count("Scan parquet") == 1, seen
    # the registered query threads the footer row count through (no count()
    # job, no rescan)
    qplan = _plan(QUERY_FNS["t_tfidf_topk"](spark, "/root/testdata/sf0.001"))
    assert qplan.count("Scan parquet") == 0, qplan


def test_partition_transform_lookup_prunes(spark, pages_parquet, tmp_path):
    """Iceberg-style layout on plain parquet: writing partitioned by
    (days(warc_ts), bucket(url)) makes a url point-lookup a PARTITION
    FILTER — the scan plan must show the bucket in PartitionFilters and the
    lookup must read only that bucket's directories."""
    from ocr_sam_project_spark.sources.partitioning import (
        partitioned_write,
        pruned_lookup,
    )

    pages = spark.read.parquet(pages_parquet)
    out = str(tmp_path / "ptab")
    partitioned_write(pages, out, n_buckets=8)

    url = pages.select("url").first().url
    looked = pruned_lookup(spark, out, url, n_buckets=8)
    assert looked.count() == 1
    plan = _plan(looked)
    assert "PartitionFilters" in plan and "p_bucket" in plan.split("PartitionFilters")[1].split("]")[0], plan
    # every input row survives the round-trip (layout loses nothing)
    assert spark.read.parquet(out).count() == pages.count()


def test_topk_batch_broadcasts_queries_single_shuffle(spark):
    """Batch ANN: the query table must broadcast (corpus unshuffled through
    scoring) and the only exchange is the query_id top-k window's."""
    from ocr_sam_project_spark.operators.similarity import topk_cosine_batch
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(topk_cosine_batch(emb, qs, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_enrich_stage_is_narrow(spark):
    """X8 enrichment must add no Exchange: pure per-row expressions."""
    from ocr_sam_project_spark.pipeline.schema import RAW_EXTRACTION_SCHEMA
    from ocr_sam_project_spark.pipeline.stages import enrich_stage

    raw = spark.createDataFrame([], RAW_EXTRACTION_SCHEMA)
    plan = _plan(enrich_stage(raw))
    assert "Exchange" not in plan, plan


def test_repetition_stats_is_narrow(spark):
    """t_repetition design point: every repetition stat derives from ONE
    materialized token-array column per row — no explode (Generate), no
    aggregate, no Exchange; the whole thing is a narrow codegen pass."""
    from ocr_sam_project_spark.operators.textstats import repetition_stats

    df = spark.range(100).selectExpr(
        "id AS doc_id", "concat('uno dos dos tres ', id) AS text"
    )
    plan = _plan(
        repetition_stats(df).select(
            "doc_id", "n_tokens", "dup_token_frac", "adjacent_repeat_frac"
        )
    )
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan and "HashAggregate" not in plan, plan


def test_intra_doc_dedup_is_narrow(spark):
    """intra_doc_dedup design point: the within-document fold is one
    narrow projection — no Exchange, no Generate, no aggregate node —
    so it pipelines inside the scan stage at any corpus size."""
    from ocr_sam_project_spark.operators.curation import intra_doc_dedup

    df = spark.range(100).selectExpr(
        "id AS doc_id", "concat('l1\nl2\nl1\n', id) AS text"
    )
    plan = _plan(intra_doc_dedup(df))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan and "HashAggregate" not in plan, plan


def test_dsir_delta_table_broadcasts_onto_tf(spark):
    """dsir_weights design point: the corpus tf table is scored via a
    BROADCAST join with the vocabulary-sized delta table — the corpus
    never reshuffles for scoring (the only corpus-wide exchanges are the
    tf groupBy and the final doc-id join)."""
    from ocr_sam_project_spark.operators.curation import dsir_weights

    df = spark.range(200).selectExpr(
        "id AS doc_id", "concat('alpha beta gamma ', id) AS text"
    )
    plan = _plan(dsir_weights(df, df.limit(20)))
    assert "BroadcastHashJoin" in plan, plan


def test_extract_links_is_narrow(spark):
    """g_link_extract design point: regex extraction + zip + posexplode all
    pipeline inside the scan stage — Generate (the explode) is expected,
    but NO Exchange and NO aggregate at any corpus size."""
    from ocr_sam_project_spark.operators.webgraph import extract_links

    df = spark.range(100).selectExpr(
        "concat('https://h', id % 7, '.example/p/', id) AS url",
        "CAST(concat('<a href=\"/x\">l</a><a href=\"https://o.example/y\">m</a>') AS BINARY) AS html",
    )
    plan = _plan(extract_links(df))
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_kmeans_assignment_is_narrow(spark):
    """kmeans design point: each Lloyd ASSIGNMENT pass is one narrow Arrow
    stage (ArrowEvalPython) — no join, no window, no Exchange; only the
    centroid-update aggregate shuffles (k x P partial rows)."""
    from ocr_sam_project_spark.operators.similarity import (
        _kmeans_assign,
        ivf_centroids,
    )
    import numpy as np

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    rows = ivf_centroids(df, 3)
    order = sorted(range(len(rows)), key=lambda i: int(rows[i].cid))
    C = np.vstack([[float(x) for x in rows[i].cvec] for i in order]).T
    cids = np.asarray([int(rows[i].cid) for i in order])
    plan = _plan(_kmeans_assign(df, cids, C, "vec_id", "embedding"))
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan.replace("RoundRobinPartitioning", ""), plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_near_store_probe_prunes_new_side_text(spark, tmp_path):
    """near_store_matches design point: the probe never ships the new
    batch's TEXT through the candidate join — after signatures are
    computed, only (id, sig, band, bucket) rows flow; the store side scans
    just (id, sig)."""
    from ocr_sam_project_spark.operators.dedup import (
        minhash_signatures,
        near_store_matches,
    )

    docs = spark.createDataFrame(
        [(i, f"texto numero {i} con palabras {i % 5}") for i in range(30)],
        "doc_id long, text string",
    )
    store_path = str(tmp_path / "sigs")
    minhash_signatures(docs, k=8, fast=False).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    plan = _plan(near_store_matches(docs, store, k=8, bands=4, fast=False))
    # the store parquet scan reads only (id, sig) — never text
    import re

    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    store_scans = [c for c in scans if "sig" in c]
    assert store_scans and all("text" not in c for c in store_scans), plan


def test_span_dedup_plan_no_python_bounded_shuffles(spark):
    """ExactSubstr span dedup must stay fully JVM-side (no Python eval
    nodes anywhere — the gram stream, the first-occurrence window, and the
    array rebuild are all codegen/HOF work) and shuffle only on the gram
    fingerprint, the dup-starts doc key, and the rebuild join key — the
    corpus text itself flows through at most the rebuild join, never the
    gram window."""
    from ocr_sam_project_spark.operators.curation import span_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(span_dedup(docs, n=12))
    assert "Python" not in plan, plan  # no BatchEval/ArrowEval stages
    # gfp window + starts groupBy (partial+final counts once) + join(toks,
    # starts): a bounded constant, not O(corpus) — and no nested-loop join
    assert 1 <= plan.count("Exchange hashpartitioning") <= 4, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_html_to_text_is_narrow(spark):
    """WET conversion must be a pure-codegen narrow map: zero Exchange,
    zero aggregates, zero Python eval nodes — the parquet scan IS the job,
    so at 100 TB the operator adds nothing beyond the read."""
    from ocr_sam_project_spark.operators.webgraph import html_to_text

    pages = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).selectExpr("doc_id", "CAST(text AS BINARY) AS html")
    plan = _plan(html_to_text(pages))
    assert plan.count("Exchange") == 0, plan
    assert "Aggregate" not in plan, plan
    assert "Python" not in plan, plan


def test_bloom_probe_is_narrow_codegen(spark):
    """The Bloom probe must be a narrow filter: the bitset rides in the
    plan as ONE binary literal of its little-endian words — no join, no
    Exchange, no Python — so at 100 TB the admission decision costs
    exactly one narrow pass."""
    from ocr_sam_project_spark.operators.dedup import bloom_hit
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probed = docs.filter(
        bloom_hit(F.md5(F.col("text")), [0] * 64, 4096, 4)
    ).select("doc_id")
    plan = _plan(probed)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_bloom_probe_tree_size_independent_of_filter_size(spark):
    """bloom_hit's expression tree has the same node count at 2^12 and 2^20
    bits: the bitset is one literal node, not one node per word (the
    F.lit(list) form grew to 16 K children at 2^20 and paid one py4j call
    per word to build them)."""
    from ocr_sam_project_spark.operators.dedup import bloom_hit

    fps = spark.range(1).select(F.md5(F.col("id").cast("string")).alias("fp"))

    def nodes(m_bits):
        words = [(1 << 63) | i for i in range(m_bits // 64)]
        probe = fps.select(bloom_hit(F.col("fp"), words, m_bits, 4).alias("hit"))
        expr = probe._jdf.queryExecution().analyzed().expressions().head()
        return len(expr.treeString().splitlines())

    assert nodes(1 << 12) == nodes(1 << 20)


def test_wet_curate_single_corpus_scan(spark):
    """The WARC->WET->curate composite must run the WET regex chain ONCE:
    the funnel consumes its input twice (loser branch + survivor stream),
    so the WET output is lazily checkpointed — the downstream plan scans
    parquet ZERO times (the one scan+conversion lives in the checkpoint's
    upstream job; both funnel branches read the materialized RDD), same
    convention as the tfidf single-scan guard above."""
    from ocr_sam_project_spark.queries import QUERY_FNS

    plan = _plan(QUERY_FNS["g_wet_curate"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 2, plan  # both read the SAME rdd
    assert "Python" not in plan, plan


def test_quantize_embeddings_is_narrow(spark):
    """Quantization must be a pure codegen projection — no Exchange, no
    Python, no aggregate: at 10^9 vectors it rides the ingest scan.  The
    scale is materialized as its own projection first so the quant lambda
    references a column, not the array_max subtree (the HOF capture trap
    would re-run the max per element — O(d^2) per row)."""
    from ocr_sam_project_spark.operators.similarity import quantize_embeddings

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(quantize_embeddings(df))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_crawl_diff_two_shuffles_only(spark):
    """Snapshot diff must shuffle each side exactly once (the url-keyed
    aggregate, payload (url, id, fp) — never text) and the full-outer join
    must REUSE that partitioning: 2 hash exchanges total, zero extra for
    the join."""
    from ocr_sam_project_spark.queries import QUERY_FNS

    plan = _plan(QUERY_FNS["g_crawl_diff"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SortMergeJoin" in plan and "Full" in plan, plan
    # what flows through each shuffle is the partial aggregate's output:
    # (canonical_url, min-struct of (id, fp)) — the raw text column must be
    # consumed by the pre-shuffle projection, never shipped
    partials = [ln for ln in plan.splitlines() if "partial_min" in ln]
    assert len(partials) == 2, plan
    assert all("text#" not in ln for ln in partials), plan


def test_ccnet_bounds_broadcast_no_corpus_sort(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    df = QUERY_FNS["t_ccnet_buckets"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # the tertile boundary table joins back by broadcast — the corpus side
    # never shuffles for bucket assignment
    assert "BroadcastHashJoin" in plan, plan
    # scored is checkpointed: both consumers (histogram + probe join) read
    # the SAME materialized RDD — the corpus is scanned once, upstream
    assert plan.count("Scan parquet") == 0, plan
    # exactly the two window aggregates (cumulative start + per-lang total)
    # over the (lang, cell) HISTOGRAM — never a window over corpus rows
    assert plan.count("Window [") == 2, plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "windowspecdefinition(lang" in line, line


def test_hll_registers_single_shuffle_no_join(spark):
    import pyspark.sql.functions as F2

    from ocr_sam_project_spark.operators.sketches import hll_registers

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(hll_registers(docs, F2.col("text")))
    # the whole sketch is one narrow map + one bounded-cardinality
    # aggregate shuffle: no joins, no windows, nothing Python
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partial max


def test_anchor_topk_partial_window_group_limit(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    df = QUERY_FNS["g_anchor_topk"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # Spark 4 plans a PARTIAL WindowGroupLimit before the exchange, so a
    # mega-host ships at most k rows per map task into the final rank
    assert "WindowGroupLimit" in plan, plan
    assert plan.lower().count("windowgrouplimit") >= 2 or "Partial" in plan, plan


def test_host_dup_ratio_two_bounded_shuffles(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    df = QUERY_FNS["g_host_dup_ratio"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # (host,fp) distinct pairs then host rollup — two KEYED exchanges, both
    # with map-side partials, no text column past the first projection; the
    # query's read_spread may add one round-robin fan-out on a
    # single-row-group bench input (no-op at scale)
    assert plan.count("hashpartitioning") == 2, plan
    assert plan.count("Exchange") <= 3, plan
    assert "Join" not in plan, plan


def test_cm_sketch_single_shuffle_no_join(spark):
    import pyspark.sql.functions as F2

    from ocr_sam_project_spark.operators.sketches import cm_sketch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(cm_sketch(docs, F2.col("text")))
    # narrow d-cell fanout + one bounded-cardinality aggregate shuffle
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan and "Python" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partials


def test_crawl_to_shards_single_corpus_scan(spark):
    """The crawl-to-training-shards composite (WET -> curate survivors ->
    pack_shards) must also run the WET regex chain exactly once: the
    funnel's dedup consumes the WET frame twice, so both consumers read the
    checkpointed RDD and the downstream plan scans parquet zero times."""
    from ocr_sam_project_spark.queries import QUERY_FNS

    plan = _plan(QUERY_FNS["g_crawl_to_shards"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "Python" not in plan, plan


def test_inverted_postings_one_shuffle_capped_window(spark):
    from ocr_sam_project_spark.queries import QUERY_FNS

    """De-skewed r6 shape (the anchor_topk pattern): the heavy pair stream
    crosses ONE skew-free (term, id) exchange for the dedup; true df is a
    map-side-partial aggregate; the posting rank is a rank FILTER that
    Spark executes as a PARTIAL WindowGroupLimit, so a hot term forwards
    at most cap rows per map task instead of sorting its whole posting
    partition in one task (the r5 single-term-shuffle plan did exactly
    that)."""
    df = QUERY_FNS["t_inverted_index"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # the cap is enforced BEFORE the final per-term rank: partial mode
    partial_limit = [
        ln for ln in plan.splitlines()
        if "WindowGroupLimit" in ln and "Partial" in ln
    ]
    assert partial_limit, plan
    # hot-term skew guard: the pair dedup partitions on (term, id), never
    # on term alone — both attributes appear in one hashpartitioning
    ded = [
        ln for ln in plan.splitlines()
        if "hashpartitioning(term" in ln and ", id" in ln
    ]
    assert ded, plan
    # every keyed exchange is either the (term, id) dedup or a term-keyed
    # partial-aggregated/group-limited stream — nothing else shuffles (the
    # raw node count double-counts shared subtrees that ReuseExchange/AQE
    # dedup at runtime, so assert on the key set, not the count)
    import re as _re

    keys = set(_re.findall(r"hashpartitioning\(([a-z_]+)#\d+(?:, ([a-z_]+)#\d+)?", plan))
    assert keys <= {("term", "id"), ("term", "")}, (keys, plan)
    assert plan.count("Window [") == 1, plan


# --------------------------------------------------------------------------
# operators are lazy: building one plans nothing and runs no Spark job
# --------------------------------------------------------------------------
def _lazy_builds():
    """(name, build(df, spark)) for every operator that once decided its
    input's layout itself, at least one per module.  Left out: bm25_topk,
    tfidf_topk, bigram_logprob, dsir_weights and dup_ngram_frac, whose lazy
    localCheckpoint creates its RDD at build time, so AQE runs the input's
    broadcast stage by design."""
    import numpy as np
    from pyspark.sql import Row

    from ocr_sam_project_spark.operators import curation as C
    from ocr_sam_project_spark.operators import dedup as D
    from ocr_sam_project_spark.operators import indexing as I
    from ocr_sam_project_spark.operators import similarity as S
    from ocr_sam_project_spark.operators import webgraph as W

    def _robots(df, spark):
        rules = W.parse_robots(spark.createDataFrame(
            [("host1.example.org", "User-agent: *\nDisallow: /d/1\n")],
            "host string, robots_txt string"))
        return W.robots_filter(df, rules)

    cents = [Row(cid=0, cvec=[1.0, 0.0, 0.0]), Row(cid=1, cvec=[0.0, 1.0, 1.0])]
    return [
        ("extract_links", lambda df, s: W.extract_links(df)),
        ("blocklist_filter", lambda df, s: W.blocklist_filter(
            df, s.createDataFrame([("host2.example.org",)], "domain string"))),
        ("html_to_text", lambda df, s: W.html_to_text(df.drop("text"))),
        ("host_dup_ratio", lambda df, s: W.host_dup_ratio(df)),
        ("robots_filter", _robots),
        ("inverted_postings", lambda df, s: I.inverted_postings(df)),
        ("line_dedup", lambda df, s: C.line_dedup(df)),
        ("decontaminate", lambda df, s: C.decontaminate(df, df, n=2)),
        ("pii_scrub", lambda df, s: C.pii_scrub(df)),
        ("pack_sequences", lambda df, s: C.pack_sequences(df, seq_len=8)),
        ("boilerplate_strip", lambda df, s: C.boilerplate_strip(df)),
        ("token_budget_select", lambda df, s: C.token_budget_select(df, 100)),
        ("intra_doc_dedup", lambda df, s: C.intra_doc_dedup(df)),
        ("span_dedup", lambda df, s: C.span_dedup(df, n=2)),
        ("minhash_signatures", lambda df, s: D.minhash_signatures(df, fast=True)),
        ("minhash_signatures_portable", lambda df, s: D.minhash_signatures(df)),
        ("simhash_near_dups", lambda df, s: D.simhash_near_dups(df)),
        ("topk_cosine", lambda df, s: S.topk_cosine(df, [1.0, 0.0, 0.0])),
        ("topk_cosine_batch", lambda df, s: S.topk_cosine_batch(df, s.createDataFrame(
            [(0, [1.0, 0.0, 0.0])], "query_id int, query_vec array<double>"))),
        ("rhp_signature_table", lambda df, s: S.rhp_signature_table(df, dim=3)),
        ("rhp_signature_table_by_dim", lambda df, s: S.rhp_signature_table(df)),
        ("ivf_assign", lambda df, s: S.ivf_assign(df, centroids=cents)),
        ("kmeans_assign", lambda df, s: S._kmeans_assign(
            df, np.array([0, 1]), np.array([[1.0, 0.0], [0.0, 1.0], [0.0, 1.0]]),
            "vec_id", "embedding")),
        ("topk_cosine_quantized", lambda df, s: S.topk_cosine_quantized(df, [1.0, 0.0, 0.0])),
    ]


@pytest.fixture
def anti_joined(spark):
    """A corpus frame whose plan holds a broadcast anti-join: planning its
    partitions would run the broadcast job.  A fresh frame per test, since
    a DataFrame caches the RDD it plans."""
    base = spark.range(64).selectExpr(
        "id AS doc_id", "id AS vec_id",
        "concat('https://host', id % 5, '.example.org/d/', id) AS url",
        "concat('texto numero ', id % 7, ' con palabras\nlinea comun') AS text",
        "CAST(concat('<p><a href=\"/x', id, '\">ancla</a></p>') AS BINARY) AS html",
        "concat('dom', id % 3) AS source",
        "array(CAST(id % 7 AS DOUBLE) + 1.0, 1.0, CAST(id % 3 AS DOUBLE)) AS embedding",
    )
    dropped = spark.range(0, 64, 9).selectExpr("id AS doc_id")
    return base.join(F.broadcast(dropped), "doc_id", "left_anti")


@pytest.mark.parametrize("name", [name for name, _ in _lazy_builds()])
def test_operator_build_runs_no_job(spark, anti_joined, name):
    """Building an operator over an input with a broadcast in its plan
    runs no Spark job: operators are lazy transforms and leave the scan
    layout to the reader (sources.io.read_spread)."""
    build = dict(_lazy_builds())[name]
    sc = spark.sparkContext
    group = f"lazy-{name}"
    sc.setJobGroup(group, group)
    try:
        build(anti_joined, spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == [], name


def test_queries_read_only_registered_views(spark, monkeypatch):
    """Every registered query reads its tables through the views that
    `queries._load` registered: once they are registered, a query fn that
    lists or reads a parquet path itself fails to build."""
    from pyspark.sql import DataFrameReader

    from test_oracle_parity import SF_DIR as sf_dir

    from ocr_sam_project_spark import queries
    from ocr_sam_project_spark.sources import io

    queries._load(spark, sf_dir)

    def no_path_read(*args, **kwargs):
        raise AssertionError("a query read a parquet path, not a registered view")

    monkeypatch.setattr(DataFrameReader, "parquet", no_path_read)
    monkeypatch.setattr(io, "read_spread", no_path_read)
    monkeypatch.setattr(queries, "read_spread", no_path_read)
    for name, fn in queries.QUERY_FNS.items():
        assert fn(spark, sf_dir) is not None, name


def test_robots_filter_is_one_narrow_pass(spark, pages_parquet):
    """robots_filter scans its pages once: the per-host rule lists join
    onto the pages by host, so the executed plan holds no Union, no
    SortMergeJoin, and no aggregate keyed on url."""
    import re

    from ocr_sam_project_spark.operators.webgraph import parse_robots, robots_filter

    rules = parse_robots(spark.createDataFrame(
        [("mingob.gob.pa", "User-agent: *\nDisallow: /oficios/000001\nAllow: /oficios/0000011\n")],
        "host string, robots_txt string"))
    df = robots_filter(spark.read.parquet(pages_parquet), rules)
    assert not all(r.allowed for r in df.collect())
    plan = _plan(df).split("== Initial Plan ==")[0]  # AQE's final plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Union" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert not re.search(r"Aggregate\(keys=\[url#", plan), plan


def _plan_nodes(node):
    """Every node of an executed plan, through AQE query stages, reused
    exchanges and subqueries."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    yield node
    kids = seq(node.children()) + seq(node.subqueries())
    if node.nodeName() == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    if node.nodeName().endswith("QueryStage"):
        kids.append(node.plan())
    if node.nodeName() == "ReusedExchange":
        kids.append(node.child())
    for kid in kids:
        yield from _plan_nodes(kid)


def test_drop_pass_is_lazy_and_ships_no_text(spark, pages_parquet, tmp_path):
    """The exact-path drop pass over a parquet input runs no Spark job
    until it is executed, and none of its Exchanges outputs the page text
    or html: the tiers shuffle only the narrow (url, part_id, fp) frame,
    even where the robots rules (a LogicalRDD without a size statistic)
    plan a shuffle join.  Each hash Exchange (the robots rule aggregate,
    the canonical-url, fp and url windows) runs once: the store probe reads
    the frame as first selected, not the tier chain a second time."""
    import re
    from collections import defaultdict

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_sam_project_spark.operators.dedup import corpus_fingerprints
    from ocr_sam_project_spark.operators.webgraph import parse_robots
    from ocr_sam_project_spark.pipeline.job import _drop_labels, with_part_id

    base = pq.read_table(pages_parquet)
    docs = [r for r in base.to_pylist() if (r["text"] or "").strip()][:4]
    extra = ([dict(r, url=r["url"] + "?utm_source=feed") for r in docs]
             + [dict(r, url=f"https://copias.example.net/{k}") for k, r in enumerate(docs)])
    (tmp_path / "in").mkdir()
    pq.write_table(base, str(tmp_path / "in" / "base.parquet"))
    pq.write_table(pa.Table.from_pylist(extra, schema=base.schema), str(tmp_path / "in" / "extra.parquet"))
    pages = with_part_id(spark.read.parquet(str(tmp_path / "in")), 8)
    store = str(tmp_path / "fp_store")
    corpus_fingerprints(pages.limit(20), "text", "url").write.parquet(store)
    blocked = spark.createDataFrame([("site17.example.com",)], "domain string")
    rules = parse_robots(spark.createDataFrame(
        [("mingob.gob.pa", "User-agent: *\nDisallow: /oficios/000001\n")],
        "host string, robots_txt string"))
    sc = spark.sparkContext
    sc.setJobGroup("lazy-drop-pass", "lazy-drop-pass")
    try:
        tiers, _, ledger = _drop_labels(pages, [0, 1], blocked, rules, True, "exact", store, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("lazy-drop-pass") == []
    assert tiers == ["blocklist", "robots", "url_dedup", "exact_dedup", "store_dedup"]

    # the losers, and the kept pages of the run parts for the store append
    assert {r._tier for r in ledger.collect()} == {*tiers, None}
    exchanges = [n for n in _plan_nodes(ledger._jdf.queryExecution().executedPlan())
                 if "Exchange" in n.nodeName() and n.nodeName() != "ReusedExchange"]
    assert exchanges
    runs = defaultdict(set)
    for ex in exchanges:
        cols = {a.name() for a in (ex.output().apply(i) for i in range(ex.output().size()))}
        assert not cols & {"text", "html"}, ex.toString()
        keys = re.sub(r"#\d+", "", ex.outputPartitioning().toString())
        if keys.startswith("hashpartitioning"):
            runs[keys].add(ex.id())
    assert len(runs) >= 4 and all(len(ids) == 1 for ids in runs.values()), dict(runs)


def test_no_tier_ledger_reads_only_url(spark, pages_parquet):
    """With no tier and no fp store, the page ledger only counts pages per
    part: its scan reads the url column alone, so counting `docs_in` never
    makes a tier-less run scan the text or html a second time."""
    import re

    from ocr_sam_project_spark.pipeline.job import _drop_labels, with_part_id

    pages = with_part_id(spark.read.parquet(pages_parquet), 4)
    tiers, obs, ledger = _drop_labels(pages, [0, 1, 2, 3], None, None, False, None, None, 0)
    assert tiers == [] and ledger.collect() == []
    assert sum(obs.get.values()) == 400
    plan = _plan(ledger)
    assert re.findall(r"ReadSchema: struct<([^>]*)>", plan) == ["url:string"], plan


def test_job_write_observes_stats_above_the_shuffle(spark, pages_parquet, tmp_path):
    """The job's per-part segment, error and PII counts ride the write:
    in the executed write plan the CollectMetrics node sits above the
    `repartitionById` Exchange, in the result stage.  Below it, in a map stage,
    a retried stage would apply its tasks' metric updates again."""
    from ocr_sam_project_spark.pipeline.job import run_extraction_job

    out = str(tmp_path / "out")
    s = run_extraction_job(spark, pages_parquet, out, run_id="w1", num_parts=4, pii_scrub=True)
    assert s["segments_out"] == spark.read.parquet(f"{out}/extractions").count()
    store = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [e.physicalPlanDescription() for e in (store.apply(i) for i in range(store.size()))]
    plan = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p
            and f"file:{out}/extractions," in p][-1]
    tree = plan.split("\n\n")[0].splitlines()
    ops = [line.strip(" +-:").split(" (")[0] for line in tree]
    assert "CollectMetrics" in ops and "Exchange" in ops, plan
    assert ops.index("CollectMetrics") < ops.index("Exchange"), plan
    exchange = tree[ops.index("Exchange")].rsplit("(", 1)[1].rstrip(")")
    assert ("shufflepartitionidpassthrough(direct_shuffle_partition_id(part_id"
            in plan.split(f"({exchange}) Exchange")[1].split("\n\n")[0])
