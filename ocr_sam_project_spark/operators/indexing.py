"""Inverted-index construction — the search/retrieval-side primitive of a
web corpus engine (BM25 retrieval, contamination lookups, and
training-data attribution all start from term -> posting lists).

Reference parity note: the reference has no index at all (per-document
Lambda processing); this is the Spark-native corpus analog, like
operators/curation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import normalize_for_fingerprint


def inverted_postings(
    df: DataFrame,
    max_postings: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Term -> capped posting list:
    (term, n_docs, postings array<id>, truncated).

    n_docs is the TRUE document frequency (the BM25 idf input); postings
    holds the `max_postings` smallest doc ids, ascending; truncated flags
    capped terms.  Doc-level postings (positions are span_dedup's domain).

    Scale shape (100 TB) — the de-skewed r6 form (the anchor_topk shape):
    the r5 single-term-shuffle plan ran the dedup, the rank SORT, and the
    aggregate of a hot term ('the' at 10^12 docs) in ONE task — the cap
    bounded only the collected array, not the window sort feeding it.
    Now (1) the (term, id) dedup partitions on (term, id), so a hot term
    spreads over the whole cluster; (2) true df is a plain aggregate with
    map-side partial counts (skew-safe — per-map output is bounded by the
    task's distinct terms); (3) postings come from a rank FILTER
    (_rn <= cap), which Spark plans as a partial WindowGroupLimit
    (plan-tested) so each map task forwards at most cap rows per term
    into the final per-term rank; (4) df and postings join back on term —
    both sides already term-partitioned, no extra exchange.  The heavy
    pair stream crosses one skew-free exchange; the two term-keyed
    exchanges carry partially-aggregated / group-limited rows only."""
    pairs = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(normalize_for_fingerprint(F.col(text_col)), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        # partitions on (term, id) — the hot-term skew guard; both
        # consumers below share this one exchange via ReuseExchange, so
        # the pair stream is exploded and shuffled exactly once
        .dropDuplicates(["term", "id"])
    )
    dfreq = pairs.groupBy("term").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.count("*") > max_postings).alias("truncated"),
    )
    w_rank = Window.partitionBy("term").orderBy("id")
    capped = (
        pairs.withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") <= max_postings)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("id")).alias("postings"))
    )
    # left join: with max_postings < 1 the capped side is empty, and the
    # term must still be listed (empty postings, truncated = true)
    return dfreq.join(capped, "term", "left").select(
        "term",
        "n_docs",
        F.coalesce(F.col("postings"), F.array().cast(capped.schema["postings"].dataType))
        .alias("postings"),
        "truncated",
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval over the corpus for one query: returns the top-k
    (id, n_terms_hit, score) by Robertson/Sparck-Jones BM25 with the
    usual (k1, b) shape and idf = ln((N - df + 0.5)/(df + 0.5) + 1).

    Cross-engine determinism: each (doc, term) partial score is rounded to
    6 dp and cast DECIMAL(18,6) BEFORE the per-doc sum (the established LM
    discipline — float sums are partition-order-dependent); ranking
    compares the exact decimal, ties break on id.

    Scale shape (100 TB): the corpus scan explodes tokens but the query-
    term filter applies INSIDE the explode stage, so only matching (id,
    term, dl) rows — query-hit-sized, not corpus-sized — reach the one
    aggregate shuffle; doc length rides the explode (no join back to the
    corpus).  df-per-term and the (N, avgdl) stats fold to query-sized /
    single-row tables and broadcast.  The only full-corpus aggregate is
    the (N, sum dl) stats pass, which a production deployment precomputes
    at ingest — kept inline here so the query is self-contained and the
    oracle closed-form.  Final top-k is a k-row TakeOrdered, never a
    global sort."""
    from .textstats import token_count

    qt = sorted({t.lower() for t in query_terms})
    src = df.select(F.col(id_col), F.col(text_col))
    toks = src.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("long").alias("dl"),
        F.explode(
            F.split(normalize_for_fingerprint(F.col(text_col)), " ")
        ).alias("term"),
    ).filter(F.col("term").isin(qt))
    # tf feeds TWO consumers (df-per-term + the score join); without the
    # lazy checkpoint Spark re-runs the corpus explode per consumer
    tf = (
        toks.groupBy("id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = src.agg(
        F.count("*").cast("double").alias("_n"),
        (F.sum(token_count(F.col(text_col))).cast("double")
         / F.count("*")).alias("_avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("_df"))
    idf = F.log((F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0)
    part = (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_terms_hit"),
            F.sum(F.round(part, 6).cast("decimal(18,6)")).alias("_s"),
        )
    )
    return (
        scored.orderBy(F.col("_s").desc(), F.col("id"))
        .limit(k)
        .select(
            F.col("id").alias(id_col),
            "n_terms_hit",
            F.col("_s").cast("double").alias("score"),
        )
    )
