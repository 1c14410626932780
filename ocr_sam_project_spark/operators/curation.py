"""Corpus-curation operators a large-scale training-data pipeline needs
beyond whole-document dedup: cross-document LINE dedup (the C4 rule),
benchmark DECONTAMINATION (the GPT-3 appendix-C / FineWeb n-gram rule), and
per-domain CAPS (crawl-frequency debiasing).  All three are pure DataFrame
compositions — no Python in the hot path — with DuckDB oracle twins in
queries.py.

Reference parity note: the reference pipeline curates documents one at a
time inside Lambda handlers (src/handlers/document_processor/app.py) and has
no corpus-level pass at all — these operators are the Spark-native corpus
analogs the north_star asks for (training-data pipeline over Common-Crawl
-style pages).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import normalize_for_fingerprint


# --------------------------------------------------------------------------
def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style cross-document line dedup: each distinct line is kept only
    at its FIRST occurrence in the corpus (min (id, line_no)) and removed
    from every other document; documents are rebuilt from their surviving
    lines.  Returns (id, text, n_kept, n_dropped) — text may be '' when a
    document was entirely boilerplate.

    Lines compare by canonical fingerprint (lowercase, ws-collapsed), so
    formatting variants of a boilerplate line dedup together.  Blank lines
    never participate (kept in place in every doc).

    Scale shape (100 TB) — the drop-LIST form (r6; the span_dedup shape):
    line TEXT never crosses an exchange.  The first-occurrence window
    shuffles only (lfp, id, pos) triples; its losers aggregate to a
    per-doc dropped-position list (|dups|-sized — tiny for a mostly-unique
    corpus, broadcast back onto the docs); the rebuild is a narrow array
    filter over each doc's own split lines.  The previous form reassembled
    EVERY document through a corpus-wide groupBy(id) carrying full line
    text — i.e. the text paid two extra exchanges that this shape deletes
    (guide-§8 discipline: shuffle the lightweight proxy, not the payload).
    Skew guard unchanged: a pathological line shared by millions of docs
    lands in one fp partition but carries only (id, pos) rows."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    lines = src.select(
        "id", F.posexplode(F.split(F.col("_txt"), "\n")).alias("pos", "line")
    )
    participating = F.length(F.trim(F.col("line"))) > 0
    # project BEFORE the exchange: only (lfp, id, pos) rides the window
    # shuffle.  Blank lines never share an lfp with a participating line
    # (their canonical form is ''), so pre-filtering them reproduces the
    # old min(when(participating, ...)) null-skipping exactly.
    keyed = lines.filter(participating).select(
        "id", "pos", F.md5(normalize_for_fingerprint(F.col("line"))).alias("lfp")
    )
    w = Window.partitionBy("lfp")
    drops = (
        keyed.withColumn("_winner", F.min(F.struct("id", "pos")).over(w))
        .filter(
            (F.col("_winner.id") != F.col("id"))
            | (F.col("_winner.pos") != F.col("pos"))
        )
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_dp"))
    )
    joined = src.join(drops, "id", "left")
    ln = F.split(F.col("_txt"), "\n")
    dp = F.coalesce(F.col("_dp"), F.array().cast("array<int>"))
    kept = F.filter(ln, lambda x, i: ~F.array_contains(dp, i))
    isnull = F.col("_txt").isNull()
    return joined.select(
        F.col("id").alias(id_col),
        F.when(isnull, F.lit("")).otherwise(F.array_join(kept, "\n")).alias("text"),
        F.when(isnull, F.lit(0)).otherwise(F.size(kept)).cast("long").alias("n_kept"),
        F.when(isnull, F.lit(0)).otherwise(F.size(dp)).cast("long").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
def ngrams(col, n: int = 5):
    """Column of word n-gram strings over the canonical form; empty array
    when the text has fewer than n tokens.

    The inline `tk` split inside the transform lambda is DELIBERATE:
    whole-stage codegen's subexpression elimination evaluates it once per
    row here, and an A/B against the materialize-tk-first rewrite (the fix
    that won 39s->0.6s for F.aggregate folds elsewhere in this repo)
    measured the materialized form 4x SLOWER for this explode(transform)
    shape (4.6s -> 17-19s at sf0.1) — the extra projection breaks Generate
    pushdown.  Measured, not assumed; see BENCH.md round 4."""
    tk = F.split(normalize_for_fingerprint(col), " ")
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - (n - 1)),
            lambda i: F.array_join(F.slice(tk, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    df: DataFrame,
    probe_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: DROP every corpus document sharing at
    least one word n-gram with the probe corpus (eval benchmarks).  GPT-3
    used 13-grams, FineWeb 10-grams; n is a knob because the oracle uses a
    smaller n at test scale.

    Scale shape (100 TB corpus, ~10^5-10^7 probe grams): the probe gram set
    is tiny next to the corpus, so it is BROADCAST — the corpus explodes to
    (id, gram) rows (narrow), hits resolve in a broadcast semi-join with no
    corpus shuffle, and only the distinct contaminated-id set (small)
    shuffles before the final anti-join."""
    probe_text_col = probe_text_col or text_col
    probe_grams = (
        probe_df.select(F.explode(ngrams(F.col(probe_text_col), n)).alias("gram"))
        .distinct()
    )
    corpus_grams = df.select(
        F.col(id_col), F.explode(ngrams(F.col(text_col), n)).alias("gram")
    )
    contaminated = (
        corpus_grams.join(F.broadcast(probe_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(contaminated, id_col, "left_anti")


# --------------------------------------------------------------------------
def domain_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap (crawl-frequency debias): keep at most `cap`
    docs per domain, chosen DETERMINISTICALLY by md5(id) order (an unbiased
    frozen sample — not 'first cap rows seen', which would bias toward
    whatever the scan order correlates with).

    Scale shape: most domains are under the cap, and only over-cap domains
    need the expensive per-domain sort.  One light count aggregate finds
    the over-cap domain list (small — broadcast); under-cap rows pass
    through with NO window shuffle; only the over-cap slice pays the
    row_number sort — and Spark 4 plans a PARTIAL WindowGroupLimit before
    the exchange (plan-tested), so a mega-domain (the crawl's
    wikipedia.org) ships at most cap rows per map task into the final
    per-domain rank, never its whole slice.  At 10^9-doc domains an
    approximate md5-threshold filter (keep md5(id) < cap/n quantile) drops
    even that."""
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n"))
    over = counts.filter(F.col("_n") > cap).select(domain_col)
    under_rows = df.join(F.broadcast(over), domain_col, "left_anti")
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    capped = (
        df.join(F.broadcast(over), domain_col, "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    return under_rows.unionByName(capped)


# --------------------------------------------------------------------------
# PII scrubbing — training corpora redact contact/identity strings before
# the tokenizer ever sees them.  Patterns are dialect-safe (identical
# semantics in Java regex and DuckDB's RE2) so the DuckDB twin is exact;
# the cedula pattern is the reference's own ID shape
# (src/shared/patterns... see extraction/patterns.py:27).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d{3} \d{3}-\d{4}"
PII_CEDULA_RE = r"\d{1,2}-\d{3,4}-\d{3,4}"


def pii_redaction(t: Column) -> tuple[Column, Column, Column, Column]:
    """The email -> phone -> id redaction of the text column `t`: (the
    redacted text, n_emails, n_phones, n_ids).  Emails and phones are
    counted BEFORE redaction, ids AFTER the phone redaction (a phone's
    trailing digits would otherwise double-count as an id fragment); the
    fixed order is the DuckDB twin's too."""
    after_phone = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return (
        F.regexp_replace(after_phone, PII_CEDULA_RE, "<ID>"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long"),
        F.regexp_count(after_phone, F.lit(PII_CEDULA_RE)).cast("long"),
    )


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, phone numbers, and cedula-style national IDs,
    returning (id, text, n_emails, n_phones, n_ids) (see `pii_redaction`).

    Scale shape: pure regexp_count/regexp_replace codegen — narrow,
    shuffle-free, pipeline-able straight into the curation funnel."""
    text, n_emails, n_phones, n_ids = pii_redaction(F.col(text_col))
    return df.select(
        F.col(id_col), text.alias("text"), n_emails.alias("n_emails"),
        n_phones.alias("n_phones"), n_ids.alias("n_ids"),
    )


# --------------------------------------------------------------------------
def canonical_url(col) -> "F.Column":
    """Crawl URL canonicalization: lowercase scheme+host, strip the
    fragment, remove tracking params (utm_*, fbclid), collapse leftover
    separator runs, drop a trailing '?'/'&' and a trailing slash.  Path
    case is preserved (paths are case-sensitive; hosts are not).

    RE2-compatible on purpose (no lookbehind/lookahead) so the DuckDB twin
    uses the same patterns; only the group-reference syntax differs
    ($1 in Java regex vs \\1 in RE2)."""
    head = F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    tail = F.substr(col, F.length(head) + F.lit(1))
    u = F.concat(F.lower(head), tail)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"([?&])(utm_[a-zA-Z]+|fbclid)=[^&]*", "$1")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&{2,}", "&")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"([^/])/$", "$1")
    return u


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Group pages by canonical URL: (canonical_url, keep_id, n_variants).
    The crawl-side dedup that runs BEFORE content fingerprinting — tracking
    -param and fragment variants of one page never even reach the text
    stage.  One hash-shuffle on the canonical url; at 10^12 pages this is
    the cheapest dedup tier (no text read at all if url is a separate
    column/index)."""
    return (
        df.select(F.col(id_col), canonical_url(F.col(url_col)).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_variants"),
        )
    )


# --------------------------------------------------------------------------
def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-k terms by tf-idf (smooth idf = ln((N+1)/(df+1))) —
    the corpus-analysis primitive behind keyword indexing and topic
    mixture balancing.  Returns (id, term, score, rank), ties broken
    (score DESC, term ASC) for cross-engine determinism; scores rounded
    to 6 dp.

    Scale shape: token explode -> one (id, term) shuffle for tf; the
    document-frequency table is VOCABULARY-sized (millions of terms vs
    10^12 docs), so it broadcasts back onto the tf rows — no second
    corpus-wide shuffle; the final per-doc top-k window shuffles (id,
    term, score) triples only, with Spark's partial WindowGroupLimit
    capping each map task's output at k rows per doc.

    Pass **n_docs** (the corpus size ingest/lineage already knows, or a
    parquet-footer row count — metadata, not a scan) so the operator scans
    the corpus exactly ONCE; the count() fallback exists for ad-hoc calls
    but at 100 TB it is a whole extra pass to fetch one scalar."""
    from pyspark.sql import Window

    if n_docs is None:
        n_docs = df.count()  # fallback scan; the oracle derives the same N
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_for_fingerprint(F.col(text_col)), " ")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    # tf feeds BOTH the broadcast dfreq branch and the probe side; without a
    # checkpoint Spark recomputes the whole scan+explode+tf shuffle subtree
    # for each consumer (measured: 2 corpus scans in the plan).  The lazy
    # localCheckpoint materializes tf once to executor-local storage
    # (spillable) — at 100 TB one tf materialization is far cheaper than a
    # second scan+explode+shuffle of the corpus.  localCheckpoint, not
    # persist(): checkpoint blocks are RDD-scoped and die with this
    # DataFrame; a CacheManager entry would leak across repeated calls.
    tf = (
        toks.groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "id",
        "term",
        F.round(
            F.col("tf") * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("score"),
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "score", "rank")
    )


# --------------------------------------------------------------------------
def mixture_sample(
    df: DataFrame,
    weights: dict,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted mixture sampling — the training-mixture
    primitive: keep each document with probability weights[domain]
    (missing domains keep everything), decided by a FROZEN per-doc coin:
    the first 8 hex chars of md5(id) compared against the weight's hex
    threshold.  No RNG state, stable under re-runs/resume, and exactly
    reproducible in SQL (string comparison of hex literals) — unlike
    rand(seed), whose sequence depends on partitioning.

    Scale shape: a narrow filter — no shuffle, no sampling pass; the
    coin is a pure function of the row."""
    w_col = None
    for dom, w in sorted(weights.items()):
        thr = format(min(max(int(w * (1 << 32)), 0), (1 << 32) - 1), "08x")
        cond = F.col(domain_col) == dom
        keep_here = (
            F.lit(w >= 1.0)
            | (F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < F.lit(thr))
        )
        w_col = (
            F.when(cond, keep_here) if w_col is None else w_col.when(cond, keep_here)
        )
    keep = F.lit(True) if w_col is None else w_col.otherwise(F.lit(True))
    return df.filter(keep)


# --------------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    seq_len: int = 512,
    num_parts: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col=None,
) -> DataFrame:
    """Sequence packing for pretraining (the GPT concat-then-chunk shape):
    documents are concatenated in a frozen order and the token stream is
    cut into seq_len blocks; a document's bin is the block its FIRST token
    lands in.  Returns (part_id, bin_id, n_docs, n_tokens) per bin.

    Packing is PARTITION-LOCAL by construction: docs are salted into
    num_parts streams (default: id mod parts; pass part_col to use a
    stored partition key) and each stream packs independently with one
    narrow cumulative-sum window — no global ordering, no single-partition
    window, so the op scales linearly with executors.  Order within a
    stream is the frozen md5(id) sample order (re-run stable).  The
    cross-partition block boundaries differ from a single global
    concatenation — at 10^12 docs a global order is neither feasible nor
    wanted (each training shard packs its own stream)."""
    binned = _pack_binned(df, seq_len, num_parts, text_col, id_col, part_col)
    return binned.groupBy("part_id", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )


def _pack_binned(df, seq_len, num_parts, text_col, id_col, part_col, extra=None):
    """Shared packing core: per-doc (id, part_id, n_toks, _cum, bin_id).
    `extra` (name -> Column) carries payload THROUGH the stream window's one
    shuffle — cheaper than a second join shuffle to re-attach it later."""
    from .textstats import token_count

    part = (
        part_col
        if part_col is not None
        else (F.col(id_col) % F.lit(num_parts)).cast("int")
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        part.alias("part_id"),
        token_count(F.col(text_col)).cast("long").alias("n_toks"),
        *[c.alias(n) for n, c in (extra or {}).items()],
    )
    w = (
        Window.partitionBy("part_id")
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.withColumn("_cum", F.sum("n_toks").over(w)).withColumn(
        "bin_id", F.floor((F.col("_cum") - F.col("n_toks")) / F.lit(seq_len)).cast("long")
    )


def pack_assignments(
    df: DataFrame,
    seq_len: int = 512,
    num_parts: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col=None,
) -> DataFrame:
    """Per-document packing assignment — the shape a shard WRITER consumes
    to materialize packed sequences: (id, part_id, bin_id, offset, n_toks)
    where `offset` is the doc's first-token position WITHIN its bin
    (stream position mod seq_len) and `bin_id` the block its first token
    lands in, under the same frozen order / partition-local cumsum as
    pack_sequences (whose bin rollup is exactly this table aggregated).

    Same scale shape: one narrow per-stream window, no global order."""
    binned = _pack_binned(df, seq_len, num_parts, text_col, id_col, part_col)
    return binned.select(
        F.col("id").alias(id_col),
        "part_id",
        "bin_id",
        ((F.col("_cum") - F.col("n_toks")) % F.lit(seq_len)).cast("long").alias("offset"),
        "n_toks",
    )


# --------------------------------------------------------------------------
def boilerplate_strip(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Per-domain boilerplate removal — the CCNet/RefinedWeb site-template
    rule the GLOBAL C4 line dedup (line_dedup above) doesn't express: a
    line whose canonical fingerprint appears in >= `min_docs` DISTINCT
    documents of the SAME domain is template text (nav bars, cookie
    banners, footers) and is stripped from EVERY document of that domain
    — including its first occurrence, unlike line_dedup's keep-one.
    Returns (id, domain, text, n_kept, n_dropped); text may be '' for a
    pure-template document.  Blank lines never participate (kept in
    place).

    Scale shape (100 TB): lines explode once, shuffling only (domain, lfp,
    id) for the two-level distinct-doc count (map-side partial combine,
    spill-safe); the surviving boilerplate set is TINY relative to the
    corpus (only fingerprints above threshold), folds to one array per
    domain, and BROADCASTS onto the docs — the rebuild is then a narrow
    per-row array filter, so line text never crosses any exchange (the r5
    form reassembled every document through a corpus-wide groupBy(id)
    carrying full line text).  Reference parity: the reference curates documents
    one at a time in Lambda handlers and has no cross-document pass at
    all (src/handlers/document_processor/app.py) — this is the
    corpus-level analog the north_star's training-data pipeline needs.
    """
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        F.col(text_col).alias("_txt"),
    )
    lines = src.select(
        "id", "domain", F.explode(F.split(F.col("_txt"), "\n")).alias("line")
    )
    participating = F.length(F.trim(F.col("line"))) > 0
    # per-domain template SET (r6 shape): the above-threshold fingerprints
    # fold to one array per domain — domain-cardinality rows, broadcast —
    # and the rebuild becomes a NARROW array filter over each doc's own
    # lines.  The previous form re-exploded every document and reassembled
    # it through a corpus-wide groupBy(id) carrying full line text; line
    # text now crosses ZERO exchanges (guide-§8: broadcast the decision,
    # never shuffle the payload).  The per-domain array is bounded by the
    # domain's distinct >=min_docs template lines — the same rows the old
    # broadcast bp table held, regrouped.
    bp = (
        lines.filter(participating)
        .select(
            "domain",
            F.md5(normalize_for_fingerprint(F.col("line"))).alias("lfp"),
            "id",
        )
        .distinct()
        .groupBy("domain", "lfp")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .groupBy("domain")
        .agg(F.collect_list("lfp").alias("_bps"))
    )
    joined = src.join(F.broadcast(bp), "domain", "left")
    ln = F.split(F.col("_txt"), "\n")
    bps = F.coalesce(F.col("_bps"), F.array().cast("array<string>"))
    kept = F.filter(
        ln,
        lambda x: (F.length(F.trim(x)) == 0)
        | ~F.array_contains(bps, F.md5(normalize_for_fingerprint(x))),
    )
    isnull = F.col("_txt").isNull()
    return joined.select(
        F.col("id").alias(id_col),
        F.col("domain").alias(domain_col),
        F.when(isnull, F.lit("")).otherwise(F.array_join(kept, "\n")).alias("text"),
        F.when(isnull, F.lit(0)).otherwise(F.size(kept)).cast("long").alias("n_kept"),
        F.when(isnull, F.lit(0))
        .otherwise(F.size(ln) - F.size(kept))
        .cast("long")
        .alias("n_dropped"),
    )


# --------------------------------------------------------------------------
def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Corpus-self-trained unigram language-model score — the CCNet-style
    perplexity-filter proxy that needs no external LM: every document is
    scored by the mean log-probability of its tokens under the corpus's
    own add-one-smoothed unigram distribution

        logp(t) = ln((count(t) + 1) / (total_tokens + vocab_size))

    Low scores flag gibberish / OCR noise / wrong-language text exactly
    like a KenLM perplexity gate, with the model derived in the same
    pass.  Returns (id, n_tokens, avg_logprob); empty docs get NULL
    avg_logprob.

    Cross-engine determinism: per-term logp is rounded to 6 dp and cast
    DECIMAL(18,6) BEFORE the per-doc sum, so the accumulation is exact
    integer-scaled arithmetic — float sums are not associative across
    partition orders and would hash-mismatch the oracle.  The final mean
    divides once in double and rounds to 6 dp.

    Scale shape (100 TB): one corpus scan into the (id, term) tf shuffle
    (lazily checkpointed — it feeds both the vocab branch and the probe
    side, and Spark would otherwise re-run the scan+explode per consumer);
    the vocab table is VOCABULARY-sized so its totals fold to one row
    (broadcast cross-join, no driver collect) and the logp table
    broadcasts back onto tf.  No second corpus-wide shuffle.

    With `group_col` (e.g. a language column) the model is trained WITHIN
    each group — CCNet trains one LM per language, not one global model.
    The totals table becomes group-count-sized (still tiny) and logp joins
    back by (group, term); each id carries exactly one group value so the
    per-doc aggregation keys stay (id)-shaped."""
    grp = [group_col] if group_col else []
    toks = df.select(
        F.col(id_col).alias("id"),
        *[F.col(g) for g in grp],
        F.explode(F.split(normalize_for_fingerprint(F.col(text_col)), " ")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    tf = (
        toks.groupBy("id", *grp, "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        tf.groupBy(*grp, "term")
        .agg(F.sum("tf").alias("c"))
        .localCheckpoint(eager=False)
    )
    if grp:
        totals = vocab.groupBy(*grp).agg(
            F.sum("c").alias("_total"), F.count("*").alias("_vocab")
        )
        logp_src = vocab.join(F.broadcast(totals), grp)
    else:
        totals = vocab.agg(F.sum("c").alias("_total"), F.count("*").alias("_vocab"))
        logp_src = vocab.crossJoin(F.broadcast(totals))
    logp = logp_src.select(
        *grp,
        "term",
        F.round(
            F.log((F.col("c") + 1.0) / (F.col("_total") + F.col("_vocab"))), 6
        )
        .cast("decimal(18,6)")
        .alias("_logp"),
    )
    scored = tf.join(F.broadcast(logp), [*grp, "term"]).groupBy("id", *grp).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("_logp")).alias("_sum_lp"),
    )
    return (
        df.select(F.col(id_col).alias("id"), *[F.col(g) for g in grp])
        .join(scored.drop(*grp), "id", "left")
        .select(
            F.col("id").alias(id_col),
            *grp,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            _avg_logprob_expr("_sum_lp", "n_tokens").alias("avg_logprob"),
        )
    )


def _avg_logprob_expr(sum_col: str, n_col: str):
    """Half-away-rounded mean of a DECIMAL(x,6) log-prob sum over n terms,
    computed in EXACT INTEGER arithmetic: micros = sum * 1e6 (exact),
    mean-micros = (2*|micros| + n) div (2*n) (half-away for the always-
    negative sum), back to double.  A plain ROUND(sum/n, 6) lands on exact
    half-micro boundaries CONSTANTLY (scale-6 decimal over a small integer
    n) and Spark/DuckDB disagree there — Spark rounds the binary double's
    exact expansion, DuckDB its shortest decimal repr; seen live at sf0.1
    (doc 361: -3.3883295 -> -3.388329 vs -3.38833).  The +0.0 normalizes
    a would-be -0.0."""
    return F.expr(
        f"-CAST((2 * CAST({sum_col} * -1000000 AS BIGINT) + {n_col})"
        f" DIV (2 * {n_col}) AS DOUBLE) / 1000000 + 0.0"
    )


# --------------------------------------------------------------------------
def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-self-trained BIGRAM language-model score — one order up from
    unigram_logprob, catching what a unigram model cannot: shuffled-word
    salad scores exactly like fluent text under a unigram model but
    collapses under a bigram one (local word order is the signal).  Every
    document is scored by the mean conditional log-probability of its
    bigram positions under the corpus's own add-one-smoothed model

        logp(w | v) = ln((c(v,w) + 1) / (c(v) + V))

    where c(v) is v's CONTEXT count (sum of c(v,*) — the proper
    conditional denominator) and V is the participating-token vocabulary
    size (distinct tokens appearing in any bigram; the smoothing constant
    only shifts the scale, the choice is pinned for the oracle).  Returns
    (id, n_bigrams, avg_logprob); docs with < 2 tokens get NULL.

    Cross-engine determinism: the unigram_logprob discipline — per-bigram
    logp rounded to 6 dp and cast DECIMAL(18,6) BEFORE the per-doc sum
    (exact, associative), one double division + 6-dp round at the end.

    Scale shape (100 TB): one corpus scan into the (id, v, w) bigram-tf
    shuffle (lazily checkpointed — it feeds the model branch AND the probe
    side); the model table is bigram-vocabulary-sized, joined back by
    (v, w) hash — unlike the unigram case it is NOT broadcast (bigram
    vocab at web scale is 10^9+ rows), so the probe pays one more
    vocab-keyed shuffle of the doc-bigram tf rows; context totals and V
    fold from the model table (no extra corpus pass)."""
    # r6 shape: the bigram stream explodes an array of (v, w) STRUCTS zipped
    # from the token array and its own 1-shifted slice, so Generate emits
    # only (id, v, w) — the r5 element_at form dragged the whole token array
    # through the explode and gathered per OUTPUT row.
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    arr = F.split(normalize_for_fingerprint(F.col("_txt")), " ")
    pairs = F.when(
        F.size(arr) >= 2,
        F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.struct(a.alias("v"), b.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<v:string,w:string>>"))
    bigrams = src.select("id", F.explode(pairs).alias("_p")).select(
        "id", F.col("_p.v").alias("v"), F.col("_p.w").alias("w")
    )
    tf = (
        bigrams.groupBy("id", "v", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    model = (
        tf.groupBy("v", "w").agg(F.sum("tf").alias("cvw")).localCheckpoint(eager=False)
    )
    ctx = model.groupBy("v").agg(F.sum("cvw").alias("cv"))
    vocab = model.select(F.col("v").alias("t")).union(
        model.select(F.col("w").alias("t"))
    )
    vtot = vocab.distinct().agg(F.count("*").alias("_V"))
    logp = (
        model.join(ctx, "v")
        .crossJoin(F.broadcast(vtot))
        .select(
            "v",
            "w",
            F.round(F.log((F.col("cvw") + 1.0) / (F.col("cv") + F.col("_V"))), 6)
            .cast("decimal(18,6)")
            .alias("_logp"),
        )
    )
    scored = tf.join(logp, ["v", "w"]).groupBy("id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("_logp")).alias("_sum_lp"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            _avg_logprob_expr("_sum_lp", "n_bigrams").alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
def token_budget_select(
    df: DataFrame,
    budget: int,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy per-domain token-budget selection — the data-mixing
    primitive that turns "20% web, 10% code, ..." token recipes into a
    concrete document set: within each domain, documents are ranked by
    (quality_score DESC, id ASC) and kept while the running token total
    stays within `budget`.  Deterministic (frozen quality formula, id
    tiebreak), so re-runs and resumes select the identical set.  Returns
    (id, domain, n_tokens).

    Scale shape (100 TB): mirrors domain_cap's under/over split — one
    light per-domain token-total aggregate finds the over-budget domain
    list (small, broadcast); UNDER-budget domains keep everything and
    bypass the expensive per-domain quality sort entirely; only the
    over-budget slice pays the window, and its running sum is a single
    streaming pass per domain partition.  A hot mega-domain ships its
    rows through one window partition — at 10^9-doc domains, pre-filter
    with an approximate quality threshold from a sample before the exact
    window."""
    from .textstats import quality_score, token_count

    scored = df.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        token_count(F.col(text_col)).alias("n_tokens"),
        quality_score(F.col(text_col)).alias("_q"),
    )
    totals = scored.groupBy("domain").agg(F.sum("n_tokens").alias("_tot"))
    over = totals.filter(F.col("_tot") > budget).select("domain")
    under_rows = scored.join(F.broadcast(over), "domain", "left_anti")
    w = (
        Window.partitionBy("domain")
        .orderBy(F.col("_q").desc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    capped = (
        scored.join(F.broadcast(over), "domain", "left_semi")
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .filter(F.col("_cum") <= budget)
    )
    return under_rows.unionByName(capped.drop("_cum")).select(
        F.col("id").alias(id_col),
        F.col("domain").alias(domain_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
def intra_doc_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repeated-line removal — the RefinedWeb/MassiveText
    within-document rule the two cross-document passes don't express:
    inside EACH document, only the first occurrence of a line (by
    canonical fingerprint) survives; later repeats are dropped.  Unlike
    line_dedup (global first occurrence) and boilerplate_strip (per-domain
    template kill) this needs no information from any other document.
    Returns (id, text, n_kept, n_dropped); blank lines never participate
    (all kept in place).

    Scale shape (100 TB): ZERO shuffles — the whole operator is one
    narrow projection using an `aggregate` fold over the line array
    (seen-fingerprint set + surviving-line list per document), so it
    pipelines inside the scan stage and costs no exchange at any corpus
    size.  The fold's accumulator arrays are document-sized; for
    pathological mega-documents (10^5+ lines) the O(L) seen-set probe per
    line degrades to O(L^2) string compares — at that shape switch to the
    explode + Window.partitionBy(id, lfp) form, which trades one id-hash
    shuffle for linear work.  Reference parity: the reference has no
    corpus- or document-level dedup at all (each Lambda invocation sees
    one page); this is training-data plumbing the north_star needs."""
    lines = F.split(F.col(text_col), "\n")

    def _fp(x):
        return F.md5(normalize_for_fingerprint(x))

    def _blank(x):
        return F.length(F.trim(x)) == 0

    init = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("out"),
    )

    def _merge(acc, x):
        keep_blank = F.struct(
            acc["seen"].alias("seen"),
            F.concat(acc["out"], F.array(x)).alias("out"),
        )
        keep_new = F.struct(
            F.concat(acc["seen"], F.array(_fp(x))).alias("seen"),
            F.concat(acc["out"], F.array(x)).alias("out"),
        )
        return (
            F.when(_blank(x), keep_blank)
            .when(F.array_contains(acc["seen"], _fp(x)), acc)
            .otherwise(keep_new)
        )

    return df.select(
        F.col(id_col),
        F.aggregate(lines, init, _merge).alias("_acc"),
        F.size(lines).alias("_n"),
    ).select(
        F.col(id_col),
        F.array_join(F.col("_acc.out"), "\n").alias("text"),
        F.size(F.col("_acc.out")).cast("long").alias("n_kept"),
        (F.col("_n") - F.size(F.col("_acc.out"))).cast("long").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): each corpus document is
    scored by the mean per-token log importance ratio between a TARGET
    sample's unigram distribution and the raw corpus's own —

        delta(t) = ln((c_t(t)+1) / (T_t+V)) - ln((c_r(t)+1) / (T_r+V))

    with add-one smoothing and V = |vocab(target) ∪ vocab(corpus)|.
    High avg_logratio = "looks like the target domain"; sampling
    proportional to exp(weight) is the paper's resampling step (see
    mixture_sample for the frozen-coin sampler).  Returns
    (id, n_tokens, avg_logratio); empty docs get NULL.

    Cross-engine determinism: like unigram_logprob, per-term delta is
    rounded to 6 dp and cast DECIMAL(18,6) BEFORE the per-doc sum so both
    engines accumulate exactly regardless of partition order.

    Scale shape (100 TB): one corpus scan into the (id, term) tf shuffle
    (lazily checkpointed — it feeds both the raw-vocab branch and the
    scoring join); the target sample is orders of magnitude smaller and
    aggregates to a vocabulary-sized table; raw and target vocabularies
    FULL-OUTER join term-to-term (both vocabulary-sized, not corpus-
    sized), their totals fold to one broadcast row, and the finished
    delta table broadcasts back onto tf.  No second corpus-wide
    shuffle."""

    def _terms(d):
        return d.select(
            F.explode(
                F.split(normalize_for_fingerprint(F.col(text_col)), " ")
            ).alias("term")
        ).filter(F.col("term") != "")

    tf = (
        _terms_with_id(df, text_col, id_col)
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    vocab_r = tf.groupBy("term").agg(F.sum("tf").alias("c_r"))
    vocab_t = _terms(target).groupBy("term").agg(F.count("*").alias("c_t"))
    vocab = (
        vocab_r.join(vocab_t, "term", "full_outer")
        .select(
            "term",
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
        )
        .localCheckpoint(eager=False)
    )
    totals = vocab.agg(
        F.sum("c_r").alias("_tr"), F.sum("c_t").alias("_tt"), F.count("*").alias("_v")
    )
    delta = vocab.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(
            F.log((F.col("c_t") + 1.0) / (F.col("_tt") + F.col("_v")))
            - F.log((F.col("c_r") + 1.0) / (F.col("_tr") + F.col("_v"))),
            6,
        )
        .cast("decimal(18,6)")
        .alias("_delta"),
    )
    scored = tf.join(F.broadcast(delta), "term").groupBy("id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("_delta")).alias("_sum_d"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            # sign-aware EXACT integer half-away mean — round(sum/n, 6) on a
            # scale-6 decimal over a small n lands on half-micro boundaries
            # constantly and the engines disagree there (the same class
            # _avg_logprob_expr closed for the always-negative LM sums; a
            # DSIR delta sum can be either sign, hence the SIGN factor)
            F.expr(
                "CASE WHEN n_tokens > 0 THEN"
                " CAST((CASE WHEN _sum_d < 0 THEN -1 ELSE 1 END)"
                " * ((2 * ABS(CAST(_sum_d * 1000000 AS BIGINT)) + n_tokens)"
                " DIV (2 * n_tokens)) AS DOUBLE) / 1000000 + 0.0 END"
            ).alias("avg_logratio"),
        )
    )


def _terms_with_id(d: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return d.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_for_fingerprint(F.col(text_col)), " ")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")


# --------------------------------------------------------------------------
def dup_ngram_frac(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """FineWeb-style duplicated-n-gram fraction: for each document, the
    fraction of its word n-gram POSITIONS (with multiplicity, unlike the
    distinct shingle sets minhash consumes) whose gram also occurs in at
    least one OTHER document.  A high fraction marks templated / scraped
    /near-copied text that survived whole-document dedup.  Returns
    (id, n_grams, dup_grams, dup_frac); docs shorter than n tokens have
    zero grams and NULL dup_frac.

    Scale shape (100 TB): the token array is materialized once and grams
    gather by O(1) element_at (the winnowing lesson); the shared-gram set
    comes from ONE gfp-keyed aggregate — min(id) != max(id) encodes
    ">= 2 distinct docs" with map-side partial combine, where the r5 form
    paid a full (id, gfp) distinct shuffle of the gram stream first (one
    corpus-stream exchange deleted); per-doc totals are a NARROW
    projection off the token array (n_grams is a pure function of the
    text — the r5 form shuffled the whole gram stream a second time to
    count it).  The shared set is NOT broadcast: at web scale it is
    corpus-sized (every boilerplate gram), unlike boilerplate_strip's
    above-threshold template set."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_for_fingerprint(F.col(text_col)), " ").alias("_t"),
    )
    k = F.size(F.col("_t")) - (n - 1)
    # one row per doc regardless of gram count — totals need no shuffle
    totals = toks.select(
        "id",
        F.when(k <= 0, F.lit(0)).otherwise(k).cast("long").alias("n_grams"),
    )
    grams = toks.select(
        "id",
        F.explode(
            F.when(k <= 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), k - 1),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", *[F.element_at(F.col("_t"), i + j + 1) for j in range(n)]
                        )
                    ),
                )
            )
        ).alias("gfp"),
    ).localCheckpoint(eager=False)
    shared = (
        grams.groupBy("gfp")
        .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gfp")
    )
    per_doc = grams.join(shared, "gfp", "left_semi").groupBy("id").agg(
        F.count("*").alias("dup_grams")
    )
    return (
        totals.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.coalesce("dup_grams", F.lit(0)).cast("double") / F.col("n_grams"),
                    6,
                ),
            ).alias("dup_frac"),
        )
    )


# --------------------------------------------------------------------------
def span_dedup(
    df: DataFrame, n: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring span dedup (the ExactSubstr rule of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), at word-
    token granularity over the canonical form: every n-token window that
    occurred anywhere earlier in the corpus — INCLUDING earlier in the same
    document — is removed from the later position; only the globally first
    occurrence (min (id, start)) of each distinct n-gram keeps its tokens.
    A token survives iff no duplicated window covers it; documents are
    rebuilt as the space-join of surviving canonical tokens.  Returns
    (id, text, n_tokens, n_removed); text is '' when a document is a full
    repeat of earlier text.  Docs with fewer than n tokens pass through
    (canonicalized) — they contribute no windows.

    The reference pipeline has no corpus-level pass at all (one document
    per Lambda invocation, src/handlers/document_processor/app.py); this is
    the Spark-native analog of the suffix-array dedup step every modern
    LLM-corpus pipeline runs.

    Scale shape (100 TB): the gram stream is the known, irreducible cost of
    exact-substring dedup (~tokens-per-corpus rows, same as the suffix
    array's input); it flows through ONE hash-shuffle on the gram
    fingerprint for the global first-occurrence window (payload: fp + id +
    int position — no text), and the duplicated STARTS (|dups|-sized, tiny
    for a mostly-unique corpus) shuffle back by id.  The rebuild is
    in-doc array work: token i is kept iff no duplicated start s satisfies
    s <= i < s+n, an O(tokens x starts)-per-doc scan bounded by document
    length — no corpus-sized state, no driver collect.  A pathological
    gram shared by millions of docs lands in one fp partition but carries
    only (id, pos) rows, and the window computes a single min."""
    from .textstats import normalize_for_fingerprint

    norm = normalize_for_fingerprint(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(norm, " ").alias("tk"),
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .alias("n_tokens"),
    )
    grams = toks.filter(F.col("n_tokens") >= n).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                lambda i: F.md5(F.array_join(F.slice(F.col("tk"), i, n), " ")),
            )
        ).alias("pos0", "gfp"),
    )
    w = Window.partitionBy("gfp")
    starts = (
        grams.withColumn("pos", F.col("pos0") + 1)
        .withColumn("_winner", F.min(F.struct("id", "pos")).over(w))
        .filter(
            (F.col("_winner.id") != F.col("id"))
            | (F.col("_winner.pos") != F.col("pos"))
        )
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_ss"))
    )
    joined = toks.join(starts, "id", "left").withColumn(
        "_ss", F.coalesce("_ss", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("tk"),
        lambda x, i: ~F.exists(
            F.col("_ss"), lambda s: (s <= i + 1) & (i + 1 <= s + (n - 1))
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.when(F.col("n_tokens") == 0, F.lit(""))
        .otherwise(F.array_join(kept, " "))
        .alias("text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(F.col("n_tokens") - F.size(kept))
        .cast("long")
        .alias("n_removed"),
    )


# --------------------------------------------------------------------------
def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing: per language, score
    every document with the corpus-self-trained unigram LM (per-lang model,
    the KenLM-perplexity proxy), then split the language into score
    TERTILES — 'head' = most fluent third, 'tail' = least.  CCNet keeps
    head+middle for LM training; the bucket label is the dataset-curation
    primitive.  Returns (id, lang, n_tokens, avg_logprob, bucket); docs the
    LM cannot score (empty text) land in 'tail'.

    No global sort: tertile boundaries come from a per-(lang, cell)
    HISTOGRAM where cell = the score quantized to 3 decimals (scores are
    bounded — avg log-prob lives in roughly [-30, 0] — so the histogram is
    <= ~30k cells per language REGARDLESS of corpus size).  The cumulative
    window runs over that tiny table only; docs get their bucket by a
    broadcast join on (lang, cell).  A whole score-cell shares one bucket,
    which makes the rule deterministic under ties by construction.

    Bucket rule (exact integer arithmetic): with n scored docs in the
    language and start(cell) = docs in strictly-better cells,
    bucket = head if start*3 < n, middle if start*3 < 2n, else tail.

    Cross-engine determinism: the cell is floor(round(score*1e6)/1000) —
    round-to-integer first (score is micro-exact by construction, so the
    *1e6 product sits within ~1e-9 of an integer, never near a half
    boundary), then a floor whose argument is >= one ulp*1e6 away from the
    nearest integer crossing; both engines run the identical IEEE ops.

    Scale shape (100 TB): the unigram pipeline's one corpus scan + one
    (id, term) shuffle, then one (lang, cell) partial-aggregated shuffle of
    id-sized rows into the bounded histogram; the boundary table broadcasts
    back.  No sort of the corpus, no per-lang skew (the window partitions
    a <= 30k-row table)."""
    # scored feeds TWO consumers (the histogram/bounds branch and the final
    # probe join) — without the lazy checkpoint Spark re-runs the corpus
    # scan and the whole per-(id, lang) scoring tree per consumer
    scored = unigram_logprob(df, text_col, id_col, group_col=lang_col).localCheckpoint(
        eager=False
    )
    cell = F.when(
        F.col("avg_logprob").isNotNull(),
        F.floor(F.round(F.col("avg_logprob") * 1e6, 0) / F.lit(1000.0)).cast(
            "long"
        ),
    )
    s = scored.withColumn("_cell", cell)
    hist = (
        s.filter(F.col("_cell").isNotNull())
        .groupBy(lang_col, "_cell")
        .agg(F.count("*").alias("_cnt"))
    )
    w_lang = Window.partitionBy(lang_col)
    w_cum = w_lang.orderBy(F.col("_cell").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bounds = hist.select(
        lang_col,
        "_cell",
        F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0)).alias("_start"),
        F.sum("_cnt").over(w_lang).alias("_n"),
    ).select(
        lang_col,
        "_cell",
        F.when(F.col("_start") * 3 < F.col("_n"), F.lit("head"))
        .when(F.col("_start") * 3 < 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("_bucket"),
    )
    return s.join(F.broadcast(bounds), [lang_col, "_cell"], "left").select(
        id_col,
        lang_col,
        "n_tokens",
        "avg_logprob",
        F.coalesce("_bucket", F.lit("tail")).alias("bucket"),
    )


def pack_shards(
    df: DataFrame,
    seq_len: int = 512,
    num_parts: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col=None,
) -> DataFrame:
    """MATERIALIZED packed bins — the step pack_assignments describes, done:
    each stream's token sequence (docs concatenated in the frozen md5(id)
    order) cut into seq_len blocks, with every block's actual text
    assembled.  Returns (part_id, bin_id, n_frags, n_tokens, text) where
    text is the block's space-joined tokens — EXACTLY seq_len tokens per
    bin except each stream's final partial bin, and a document spanning a
    block boundary is split across bins mid-document (the GPT-style packing
    contract; n_frags counts the doc fragments touching the bin, which is
    >= pack_sequences' n_docs-starting-here).

    Scale shape (100 TB): the token arrays ride the stream window's ONE
    per-part shuffle as extra payload (cheaper than a narrow window plus a
    second corpus-wide join shuffle to re-attach text), each doc then
    explodes to its >= 1 touched bins with a SLICED fragment (narrow; a
    doc touches ceil(n_toks/seq_len)+1 bins at most, so the fanout carries
    each token at most once plus block-boundary overlap of zero — slices
    partition the doc), and one (part, bin)-keyed shuffle of fragment rows
    assembles blocks.  Fragment assembly is an ordered fold of <= n_frags
    short strings per bin — bounded by seq_len tokens total."""
    from .textstats import tokens as _tokens

    binned = _pack_binned(
        df,
        seq_len,
        num_parts,
        text_col,
        id_col,
        part_col,
        extra={"_tk": _tokens(F.col(text_col))},
    )
    e = binned.filter(F.col("n_toks") > 0).withColumn(
        "_s", F.col("_cum") - F.col("n_toks")
    )
    x = e.select(
        "part_id",
        "_s",
        "_cum",
        "_tk",
        F.explode(
            F.sequence(
                F.col("bin_id"),
                F.floor((F.col("_cum") - 1) / F.lit(seq_len)).cast("long"),
            )
        ).alias("_b"),
    )
    lo = F.greatest(F.col("_s"), F.col("_b") * seq_len)
    hi = F.least(F.col("_cum"), (F.col("_b") + 1) * seq_len)
    g = x.select(
        "part_id",
        F.col("_b").alias("bin_id"),
        "_s",
        (hi - lo).alias("_n"),
        F.array_join(
            F.slice(
                F.col("_tk"),
                (lo - F.col("_s") + 1).cast("int"),
                (hi - lo).cast("int"),
            ),
            " ",
        ).alias("_frag"),
    )
    return g.groupBy("part_id", "bin_id").agg(
        F.count("*").cast("long").alias("n_frags"),
        F.sum("_n").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_s").alias("s"), F.col("_frag").alias("f"))
                    )
                ),
                lambda r: r["f"],
            ),
            " ",
        ).alias("text"),
    )


def write_packed_shards(df, out_dir: str, **kwargs) -> None:
    """Shard-writer sink: pack_shards materialized as parquet partitioned
    by part_id — one directory per training shard stream.

    Two sink disciplines carried over from pipeline/job.py's measured
    lessons: (1) dynamic partition overwrite is set ON THE WRITER (not
    assumed from session config) so a resume run that writes a subset of
    part_ids replaces only those directories — the default static mode
    would wipe every completed shard; (2) rows are repartitioned to one
    task per part_id before the partitioned write — without it every
    shuffle task holds rows of every part and writes M x P tiny files
    (job.py measured 44 s -> 7 s on exactly this shape)."""
    from pyspark.sql import functions as _F

    num_parts = kwargs.get("num_parts", 8)
    packed = pack_shards(df, **kwargs).repartition(
        num_parts, _F.col("part_id")
    )
    (
        packed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(out_dir)
    )


def ccnet_mixture(
    df: DataFrame,
    weights: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's downstream sampling recipe composed end-to-end: bucket every
    document into per-language LM-score tertiles (ccnet_buckets), then
    keep each doc with the bucket's probability via the frozen md5 coin
    (mixture_sample over the computed bucket column).  The default
    weights {head: 1.0, middle: 0.5, tail: 0.1} mirror the
    keep-fluent/downsample-middling/mostly-drop-tail shape CCNet-style
    corpora use.  Returns the sampled (id, lang, n_tokens, avg_logprob,
    bucket) rows — deterministic, resume-stable.

    Scale shape: ccnet_buckets' bounded-histogram plan plus a narrow
    coin filter — sampling adds NO shuffle."""
    weights = {"head": 1.0, "middle": 0.5, "tail": 0.1} if weights is None else weights
    return mixture_sample(
        ccnet_buckets(df, text_col, id_col, lang_col),
        weights,
        domain_col="bucket",
        id_col=id_col,
    )
