"""Web-graph operators over Common-Crawl-style pages: anchor/link
extraction from raw html, host-level link-graph edges and degree rollups,
UT1-style domain blocklist filtering, and the latest-snapshot variant of
canonical-url dedup.

Why these belong in a web-scale training-data engine: the crawl-curation
pipelines the north_star targets (CCNet / RefinedWeb / FineWeb) all consume
the link structure — outlink density feeds quality scoring, anchor text is a
retrieval-training dataset in its own right, host in/out-degree drives seed
selection and spam demotion, and domain blocklists (the UT1 adult/malware
lists) are the first filter a crawl passes through.  The reference pipeline
has no corpus-level pass at all (one document per Lambda invocation,
src/document_processor/app.py) — these are the Spark-native corpus analogs,
like operators/curation.py.

Scale shape (100 TB): link extraction is a pure-codegen regexp over the
html column (JVM, whole-stage codegen — the scan IS the job) followed by
one explode; the only shuffles are host-keyed aggregates whose output
cardinality is the number of HOSTS, with map-side partial aggregation
absorbing hot hosts.  No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Double-quoted, plain-text-anchor contract: matches <a ... href="...">text</a>
# where the anchor body contains no nested tags.  Single-quoted hrefs and
# nested markup are out of contract (documented; see test_webgraph).  The
# pattern is RE2-safe (no backreferences/lookaround) so the DuckDB oracle
# twin runs the IDENTICAL pattern.
LINK_RE = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'

# scheme://host — host stops at /, ?, # (RFC 3986 authority, port kept).
_ABS_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PROTO_REL_HOST_RE = r"^//([^/?#]+)"


def host_of(url: Column) -> Column:
    """Lowercased authority of an absolute URL ('' when not absolute)."""
    return F.lower(F.regexp_extract(url, _ABS_HOST_RE, 1))


def _classify_href(href: Column, src_host: Column) -> tuple[Column, Column]:
    """(kind, dst_host) for one href, resolved against the page's host.

    kinds: fragment (empty/#...), special (mailto:/javascript:/tel:),
    absolute (http/https), other_scheme (ftp: etc — no host emitted),
    proto_relative (//host/...), relative (everything else -> src host)."""
    low = F.lower(href)
    abs_host = F.lower(F.regexp_extract(href, _ABS_HOST_RE, 1))
    scheme = F.lower(F.regexp_extract(href, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    kind = (
        F.when((href == "") | low.startswith("#"), "fragment")
        .when(scheme.isin("mailto", "javascript", "tel", "data"), "special")
        .when(scheme.isin("http", "https"), "absolute")
        .when(low.startswith("//"), "proto_relative")
        .when(scheme != "", "other_scheme")
        .otherwise("relative")
    )
    dst = (
        F.when(kind == "absolute", F.nullif(abs_host, F.lit("")))
        .when(
            kind == "proto_relative",
            F.nullif(F.lower(F.regexp_extract(href, _PROTO_REL_HOST_RE, 1)), F.lit("")),
        )
        .when(kind == "relative", F.nullif(src_host, F.lit("")))
        .otherwise(F.lit(None).cast("string"))
    )
    return kind, dst


def extract_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """One row per <a href="...">anchor</a> occurrence:
    (url, link_no, href, anchor, kind, dst_host).  link_no is the 0-based
    occurrence index within the page (document order — the anchor-text
    dataset shape keeps provenance).

    Scale: regexp_extract_all + arrays_zip + posexplode, all inside
    whole-stage codegen — narrow, no shuffle, html read once.  The two
    regexp_extract_all calls share the scan (one pass over the html bytes
    per call is the upper bound; both are JVM-side).  A link farm page is
    bounded by its own html size — no cross-row skew possible before the
    (optional) downstream host aggregate."""
    s = F.col(html_col).cast("string")
    base = df.select(
        F.col(url_col).alias("url"),
        host_of(F.col(url_col)).alias("_src_host"),
        F.regexp_extract_all(s, F.lit(LINK_RE), F.lit(1)).alias("_h"),
        F.regexp_extract_all(s, F.lit(LINK_RE), F.lit(2)).alias("_a"),
    )
    z = base.select(
        "url",
        "_src_host",
        F.posexplode(F.arrays_zip("_h", "_a")).alias("link_no", "_z"),
    )
    href = F.col("_z._h")
    kind, dst = _classify_href(href, F.col("_src_host"))
    return z.select(
        "url",
        "link_no",
        href.alias("href"),
        F.col("_z._a").alias("anchor"),
        kind.alias("kind"),
        dst.alias("dst_host"),
    )


def host_edges(links: DataFrame) -> DataFrame:
    """Host-level link graph from extract_links output:
    (src_host, dst_host, n_links, external).  Only kinds that resolve to a
    host participate (absolute / proto_relative / relative).

    Scale: ONE hash-shuffle on (src_host, dst_host) with map-side partial
    counts; output cardinality is edge-of-host-graph (~10^8 at web scale),
    not links (~10^12).  A hot edge (every page of a mega-host linking its
    CDN) collapses into per-task partials before the shuffle."""
    ok = links.filter(
        F.col("kind").isin("absolute", "proto_relative", "relative")
        & F.col("dst_host").isNotNull()
    )
    return (
        ok.select(
            F.nullif(host_of(F.col("url")), F.lit("")).alias("src_host"), "dst_host"
        )
        .filter(F.col("src_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
        .withColumn("external", F.col("src_host") != F.col("dst_host"))
    )


def host_degrees(edges: DataFrame) -> DataFrame:
    """Per-host degree rollup over host_edges output:
    (host, out_hosts, out_links, in_hosts, in_links) — the seed-selection /
    spam-demotion features.  Self-links count on both sides (a host that
    links itself is its own neighbor), matching the plain SQL twin.

    Scale: two host-keyed aggregates over the (already host-cardinality)
    edge list + one full outer join on host — all small next to the link
    scan that produced the edges."""
    out = edges.groupBy(F.col("src_host").alias("host")).agg(
        F.count("*").alias("out_hosts"), F.sum("n_links").alias("out_links")
    )
    inn = edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.count("*").alias("in_hosts"), F.sum("n_links").alias("in_links")
    )
    return (
        out.join(inn, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
        )
    )


def domain_suffixes(host: Column, max_labels: int = 6) -> Column:
    """Dot-suffixes of a host: the SHORTEST suffixes (lengths 2..max_labels,
    counted from the registrable end) plus the full host, e.g. a.b.c.d ->
    [c.d, b.c.d, a.b.c.d].  Keeping the SHORT end is load-bearing for
    blocklist semantics: UT1-style entries are 2-3 labels, and a cap that
    kept the LONGEST suffixes instead would let any host evade the list by
    nesting max_labels+ subdomain labels — 'a.b.c.d.e.f.bad.example' must
    still emit 'bad.example'.  The split array is materialized once; each
    suffix is a slice+join over it — no repeated per-element re-parse
    (HOF-lambda cost rule)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.array_distinct(
        F.filter(
            F.array(
                *[
                    F.when(
                        n >= F.lit(max(ln, 2)),
                        F.array_join(
                            F.slice(labels, n - F.lit(ln) + 1, F.lit(ln)), "."
                        ),
                    )
                    for ln in range(2, max_labels + 1)
                ],
                # the full host itself (exact-match entries of any depth)
                F.when(n >= 2, host),
            ),
            lambda x: x.isNotNull(),
        )
    )


def blocklist_hits(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    key_col: str = "url",
    max_labels: int = 6,
) -> DataFrame:
    """`key_col` of the pages whose url host, or any parent domain of it,
    appears in `blocked` (one column `domain`, matched lower-cased): the
    <= max_labels suffixes are generated in codegen, exploded, and probed
    against the BROADCAST blocklist (UT1 is ~4M rows / tens of MB) with a
    LEFT SEMI join.  A host can hit via several suffixes, so a key can
    repeat."""
    probe = df.select(
        F.col(key_col),
        F.explode(domain_suffixes(host_of(F.col(url_col)), max_labels)).alias("_sfx"),
    )
    return probe.join(
        F.broadcast(blocked.select(F.lower("domain").alias("_sfx"))),
        "_sfx",
        "left_semi",
    ).select(key_col)


def blocklist_filter(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_labels: int = 6,
) -> DataFrame:
    """UT1-style domain blocklist: drop pages whose host OR ANY parent
    domain appears in `blocked` (one column `domain`).  'ads.bad.example'
    is blocked by an entry 'bad.example' — suffix semantics, like the UT1
    lists every CCNet/RefinedWeb derivative consumes.  Pages with no
    parseable host pass (no suffixes -> no hit).

    Scale: the corpus is scanned once and NEVER shuffled — the hit-id set
    of `blocklist_hits` (dropped pages only, tiny under any sane blocklist)
    is broadcast back for the LEFT ANTI join: zero Exchange on the corpus
    side.  A hostile blocklist that matches half the crawl would make the
    hit set corpus-sized — then flip this join to a regular anti-join on
    id; the default wiring optimizes the real regime (<1% drop rate)."""
    hits = blocklist_hits(df, blocked, url_col, id_col, max_labels)
    # no distinct: LEFT ANTI ignores build-side duplicates, and a distinct
    # here would be the only non-broadcast Exchange in the whole plan
    return df.join(F.broadcast(hits), id_col, "left_anti")


def latest_snapshot_dedup(
    df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-url dedup keeping the LATEST snapshot (max warc_ts, id
    tiebreak) — the re-crawl freshness convention, vs url_dedup's min-id
    (first-crawl provenance) convention.  Returns
    (canonical_url, keep_id, keep_ts, n_snapshots).

    argmax as MAX(struct(ts, -id)) — single aggregate, no window, same
    shape as dedup.quality_canonical.  One hash-shuffle on canonical url
    with map-side partials; no text read."""
    from .curation import canonical_url

    return (
        df.select(
            F.col(id_col),
            F.col(ts_col),
            canonical_url(F.col(url_col)).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.max(F.struct(F.col(ts_col), (-F.col(id_col)).alias("_nid"))).alias("_w"),
            F.count("*").alias("n_snapshots"),
        )
        .select(
            "canonical_url",
            (-F.col("_w._nid")).alias("keep_id"),
            F.col("_w")[ts_col].alias("keep_ts"),
            "n_snapshots",
        )
    )


def host_rank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    n_hosts: int | None = None,
) -> DataFrame:
    """Weighted PageRank over the host graph (fixed iterations, no dangling
    -mass redistribution — lost mass is the standard simplification and is
    mirrored exactly by the SQL twin).  Edge weight = n_links / total
    outlinks of the source host.  Returns (host, rank).

    The crawl-side use: host rank drives seed scheduling and spam demotion
    (a host cited by many well-cited hosts outranks a link farm that only
    cites itself) — the reference has no corpus pass at all, and Spark's
    GraphX is RDD/Scala-only, so this is the DataFrame-native rebuild.

    Determinism contract (same discipline as kmeans_fit): per-edge
    contributions are computed in float64 in a FIXED expression order
    (rank * (n_links / out_total)), rounded to 12 dp, summed as
    DECIMAL(28,12) — associative, so partition order cannot change the sum
    — and the new rank is rounded to 12 dp.  Every arithmetic site is
    bit-identical in DuckDB, so even this iterative algorithm has an exact
    oracle (unrolled CTEs).

    Scale shape (10^8 hosts): the weighted edge list is computed ONCE and
    lazily checkpointed (it is consumed every iteration — without the
    checkpoint Spark re-derives it per iteration, the shared-subtree trap);
    each iteration is one src-keyed join + one dst-keyed partial-agg
    shuffle + one left join back to the node set, all host-cardinality
    (edges, not links).  Ranks are checkpointed per round to keep the plan
    tree bounded (the resolve_clusters pattern).  n_hosts lets ingest pass
    the known node count and skip the count() job."""
    # the edge list feeds nodes, the out-total aggregate AND the weighted
    # join — without this checkpoint the subtree that produced it (at bench:
    # the whole link-extraction regex pass) re-ran once per consumer (r6)
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=False)  # consumed every iteration
    )
    n = n_hosts if n_hosts is not None else nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(None).cast("double"))
    out = edges.groupBy("src_host").agg(F.sum("n_links").alias("_out"))
    ew = (
        edges.join(out, "src_host")
        .select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            (F.col("n_links").cast("double") / F.col("_out").cast("double")).alias("w"),
        )
        .localCheckpoint(eager=False)  # consumed every iteration
    )
    base = (1.0 - damping) / n
    ranks = nodes.select("host", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["host"])
            .select(
                "dst",
                F.round(F.col("rank") * F.col("w"), 12)
                .cast("decimal(28,12)")
                .alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contrib, nodes["host"] == contrib["dst"], "left")
            .select(
                "host",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("_s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)  # bound the per-round plan tree
        )
    return ranks


# --------------------------------------------------------------------------
# WET conversion: html -> main text.  The single most-executed operator in
# any web corpus pipeline (Common Crawl's WARC->WET step; CCNet/RefinedWeb/
# FineWeb all start from it).  The reference consumes pre-extracted PDF text
# one document at a time (src/handlers/document_processor/app.py) and has no
# html path at all; this is the corpus-scale Spark analog.
# RE2-safe pattern bank (no backreferences, no lookaround) so the DuckDB
# oracle twin runs the IDENTICAL patterns.
_COMMENT_RE = r"(?s)<!--.*?-->"
_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
# block-level elements become line breaks (both open and close tags: a
# break on either side of the element's content is idempotent after the
# empty-line filter).
_BLOCK_TAG_RE = (
    r"(?i)</?(p|br|hr|div|li|ul|ol|dl|dt|dd|h[1-6]|tr|td|th|table|thead|"
    r"tbody|blockquote|pre|section|article|aside|nav|header|footer|form|"
    r"figure|figcaption|main)\b[^>]*>"
)
_ANY_TAG_RE = r"<[^>]*>"
# minimal entity bank, decoded in FIXED order with &amp; LAST so a
# double-escaped '&amp;lt;' single-decodes to '&lt;' (never to '<').
_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def html_text(col: Column) -> Column:
    """Main-text extraction from raw html as ONE codegen expression chain:
    strip comments/script/style, collapse source whitespace (html collapses
    it; raw newlines are NOT breaks), turn block-level tags into line
    breaks, drop inline tags, decode the common entities, then trim /
    collapse / drop-empty per line.  Returns the text with '\\n' line
    separators — the WET shape.

    Contract (documented, tested): well-formed tags only (a literal '<'
    in text that never closes eats to end — same contract as LINK_RE's
    double-quote rule); entity bank is the common 7, numeric references
    other than &#39; pass through."""
    s = col.cast("string")
    s = F.regexp_replace(s, _COMMENT_RE, " ")
    s = F.regexp_replace(s, _SCRIPT_RE, " ")
    s = F.regexp_replace(s, _STYLE_RE, " ")
    s = F.regexp_replace(s, r"\s+", " ")
    s = F.regexp_replace(s, _BLOCK_TAG_RE, "\n")
    s = F.regexp_replace(s, _ANY_TAG_RE, "")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    lines = F.transform(
        F.split(s, "\n"),
        lambda x: F.trim(F.regexp_replace(x, r" +", " ")),
    )
    kept = F.filter(lines, lambda x: x != "")
    return F.array_join(kept, "\n")


def html_to_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """WET conversion over a pages table: every column except the html
    passes through; html is replaced by the extracted main text plus
    (n_lines, n_chars) stats the downstream quality gates key on.

    Scale shape (100 TB of WARC): a pure-codegen narrow map — the scan IS
    the job; zero shuffles, zero Python, no per-row state.  Pages differ
    wildly in size but each row's cost is bounded by its own html bytes
    (regex passes are linear — the pattern bank is backtracking-safe:
    every '.*?' is bounded by a required literal terminator), so skew =
    input skew, which the parquet split planner already handles."""
    text = html_text(F.col(html_col))
    keep = [c for c in df.columns if c != html_col]
    return df.select(
        *keep,
        text.alias(out_col),
    ).select(
        *keep,
        out_col,
        F.when(F.col(out_col) == "", F.lit(0))
        .otherwise(F.size(F.split(F.col(out_col), "\n")))
        .cast("int")
        .alias("n_lines"),
        F.length(out_col).cast("int").alias("n_chars"),
    )


def crawl_diff(
    prev: DataFrame,
    curr: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CDX-style diff between two crawl snapshots, keyed by canonical url:
    status 'new' (url only in curr), 'gone' (only in prev), 'changed'
    (both sides, content fingerprint differs), 'unchanged'.  Each side is
    first reduced to one row per canonical url (min-id provenance
    convention, same as url_dedup).  Returns
    (canonical_url, status, prev_id, curr_id).

    The crawl-ops use: the 'new'+'changed' set IS the incremental work
    list for the next pipeline run, 'gone' drives tombstoning, and the
    status counts are the crawl-health dashboard.  Scale shape: one
    url-keyed aggregate shuffle PER SIDE carrying (url, fp, id) — never
    text — then a full outer join on the same key, which reuses the
    aggregates' partitioning (no third shuffle).  Output cardinality =
    distinct urls."""
    from .curation import canonical_url
    from .textstats import normalize_for_fingerprint

    def _side(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(
                canonical_url(F.col(url_col)).alias("canonical_url"),
                F.struct(
                    F.col(id_col).cast("long").alias("id"),
                    F.md5(normalize_for_fingerprint(F.col(text_col))).alias("fp"),
                ).alias("_r"),
            )
            .groupBy("canonical_url")
            .agg(F.min("_r").alias(f"_{tag}"))
        )
    p, c = _side(prev, "p"), _side(curr, "c")
    joined = p.join(c, "canonical_url", "full_outer")
    status = (
        F.when(F.col("_p").isNull(), "new")
        .when(F.col("_c").isNull(), "gone")
        # null-SAFE: a side with NULL text (fetch failure) has a NULL fp,
        # and a plain != would evaluate NULL and fall through to
        # 'unchanged' — silently dropping the page from the incremental
        # work list ('new'+'changed') forever
        .when(~F.col("_p.fp").eqNullSafe(F.col("_c.fp")), "changed")
        .otherwise("unchanged")
    )
    return joined.select(
        "canonical_url",
        status.alias("status"),
        F.col("_p.id").alias("prev_id"),
        F.col("_c.id").alias("curr_id"),
    )


# --------------------------------------------------------------------------
def anchor_topk(links: DataFrame, k: int = 3) -> DataFrame:
    """Top-k anchor texts per DESTINATION host — the anchor-text dataset
    primitive (anchor text describing a target is retrieval/ranking
    training signal; DORIS-MAE / MS MARCO-style weak labels are built from
    exactly this rollup).  Input is extract_links output; only link kinds
    that resolve to a host participate, anchors compare in canonical form
    (lowercased, ws-collapsed) and empty anchors drop.  Returns
    (dst_host, rank, anchor, n_links) with rank 1..k by count desc,
    anchor asc on ties — fully deterministic.

    Scale shape (100 TB): one (dst_host, anchor)-keyed shuffle with
    map-side partial counts (a mega-host's identical boilerplate anchors
    collapse per map task before shuffling), then the per-host top-k
    window over host-cardinality rows — Spark 4 inserts a partial
    WindowGroupLimit before the exchange, so at most k rows per
    (host, map task) reach the final rank.  No text payload anywhere:
    anchors are short strings, html never shuffles."""
    from pyspark.sql import Window

    from .textstats import normalize_for_fingerprint

    ok = links.filter(
        F.col("kind").isin("absolute", "proto_relative", "relative")
        & F.col("dst_host").isNotNull()
    ).select(
        "dst_host", normalize_for_fingerprint(F.col("anchor")).alias("anchor")
    ).filter(F.col("anchor") != "")
    counts = ok.groupBy("dst_host", "anchor").agg(F.count("*").alias("n_links"))
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_links").desc(), F.col("anchor").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("dst_host", F.col("rank").cast("int").alias("rank"), "anchor",
                "n_links")
    )


# --------------------------------------------------------------------------
def host_dup_ratio(
    df: DataFrame, text_col: str = "text", url_col: str = "url"
) -> DataFrame:
    """Per-host exact-duplicate ratio — the spam/mirror signal crawl
    curation demotes hosts by (a host whose pages are mostly copies of each
    other is boilerplate spam, a mirror, or a calendar trap).  Returns
    (host, n_pages, n_distinct, dup_ratio) where dup_ratio =
    (n_pages - n_distinct) / n_pages rounded half-away to 6 dp in EXACT
    integer arithmetic (the quotient of two small integers lands on exact
    half-micro boundaries constantly; float ROUND diverges across engines
    there — same discipline as the LM mean scores).

    Scale shape (100 TB): two shuffles, both with map-side partials and
    both SMALLER than the input — (host, fp) distinct pairs first (the
    payload is a 32-char fp, never text), then host-cardinality rollup.
    A mega-host skews one partition of the first shuffle but carries
    fp-sized rows only."""
    from .textstats import fingerprint

    pairs = df.select(
        F.nullif(host_of(F.col(url_col)), F.lit("")).alias("host"),
        fingerprint(F.col(text_col)).alias("_fp"),
    ).filter(F.col("host").isNotNull())
    per_fp = pairs.groupBy("host", "_fp").agg(F.count("*").alias("_c"))
    rolled = per_fp.groupBy("host").agg(
        F.sum("_c").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    dup_micro = F.expr(
        "CAST((2 * (n_pages - n_distinct) * 1000000 + n_pages)"
        " DIV (2 * n_pages) AS DOUBLE) / 1000000 + 0.0"
    )
    return rolled.select(
        "host", "n_pages", "n_distinct", dup_micro.alias("dup_ratio")
    )


# --------------------------------------------------------------------------
def parse_robots(
    robots: DataFrame, host_col: str = "host", txt_col: str = "robots_txt"
) -> DataFrame:
    """Parse per-host robots.txt bodies into a rule table
    (host, allow, prefix).  Contract (documented subset of REP/RFC 9309):
    one effective user-agent-* section per body (section headers are not
    tracked), `Allow:`/`Disallow:` lines case-insensitive, literal path
    prefixes only (no * or $ wildcards), an empty Disallow (allow-all per
    the spec) parses to no rule at all.  Pure codegen: split lines ->
    one regexp per line -> filter; no shuffle."""
    m = F.regexp_extract(
        F.col("_line"), r"(?i)^\s*(allow|disallow)\s*:\s*(\S+)", 1
    )
    p = F.regexp_extract(
        F.col("_line"), r"(?i)^\s*(allow|disallow)\s*:\s*(\S+)", 2
    )
    return (
        robots.select(
            F.col(host_col).alias("host"),
            F.explode(F.split(F.col(txt_col), "\n")).alias("_line"),
        )
        .select(
            "host",
            (F.lower(m) == "allow").alias("allow"),
            p.alias("prefix"),
            m.alias("_m"),
        )
        .filter((F.col("_m") != "") & (F.col("prefix") != ""))
        .drop("_m")
    )


def robots_filter(
    pages: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Robots admission verdict per page: the LONGEST rule prefix matching
    the url path wins; on a length tie Allow wins; a host with no matching
    rule (or no rules at all) admits the page — the REP precedence rule.
    Returns the pages columns plus `allowed` boolean.

    The winner is found WITHOUT a struct argmax: each matching rule scores
    len(prefix)*2 + (1 if allow) — the MAX of that integer encodes
    (longest, tie->allow) and the verdict is just the winner's parity.  No
    matching rule leaves the MAX null, and null admits.

    One narrow pass over the pages: the rules are grouped once into a
    per-host `array<struct<prefix, allow>>` (one small aggregate over the
    rules table), left-joined onto the pages by host, and each row scores
    its own host's list in codegen; no url is grouped, joined back or
    unioned.  Scale shape (100 TB pages): a host-keyed left join of
    per-host rule lists — broadcast while the rule table is small; past
    the broadcast cap the planner picks a shuffle join on host, where
    AQE's skew join splits a mega-host's pages."""
    path = F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1)
    host_rules = rules.groupBy(F.col("host").alias("_host")).agg(
        F.collect_list(F.struct("prefix", "allow")).alias("_rules")
    )
    win = F.array_max(F.transform(
        F.filter("_rules", lambda r: F.col("_path").startswith(r["prefix"])),
        lambda r: F.length(r["prefix"]) * 2 + r["allow"].cast("int"),
    ))
    return (
        pages.withColumn("_host", F.nullif(host_of(F.col(url_col)), F.lit("")))
        # the path rides the join as a column: computed past it, the
        # optimizer would inline its regexp into the per-rule lambda
        .withColumn("_path", F.coalesce(F.nullif(path, F.lit("")), F.lit("/")))
        .join(host_rules, "_host", "left")
        .select(*pages.columns, F.coalesce(win % 2 == 1, F.lit(True)).alias("allowed"))
    )
