"""Web-graph operators: link extraction, host edges/degrees, blocklist
filter, latest-snapshot url dedup."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ocr_sam_project_spark.operators.webgraph import (
    blocklist_filter,
    domain_suffixes,
    extract_links,
    host_degrees,
    host_edges,
    host_of,
    latest_snapshot_dedup,
)

HTML = (
    '<html><body><header><a href="/nav">Inicio</a></header>'
    '<p>cuerpo</p>'
    '<a href="https://Other.Example.com/x?a=1">Artículo Uno</a>'
    '<a href="//cdn.example.net/lib.js">cdn</a>'
    '<a href="mailto:a@b.com">correo</a>'
    '<a href="#top">subir</a>'
    '<a href="ftp://files.example.org/f">ftp</a>'
    "<a href='single.html'>single-quoted (out of contract)</a>"
    '<a href="rel/page.html">relativo</a>'
    "</body></html>"
)


def _one_page(spark):
    return spark.createDataFrame(
        [("https://WWW.Site.example/path/a", bytearray(HTML.encode("utf-8")))],
        "url string, html binary",
    )


def test_extract_links_kinds_and_hosts(spark):
    rows = {
        r["href"]: r
        for r in extract_links(_one_page(spark)).collect()
    }
    # single-quoted href is out of contract: 7 double-quoted anchors
    assert len(rows) == 7
    assert rows["/nav"]["kind"] == "relative"
    assert rows["/nav"]["dst_host"] == "www.site.example"
    art = rows["https://Other.Example.com/x?a=1"]
    assert art["kind"] == "absolute"
    assert art["dst_host"] == "other.example.com"  # lowered, path stripped
    assert art["anchor"] == "Artículo Uno"
    assert rows["//cdn.example.net/lib.js"]["kind"] == "proto_relative"
    assert rows["//cdn.example.net/lib.js"]["dst_host"] == "cdn.example.net"
    assert rows["mailto:a@b.com"]["kind"] == "special"
    assert rows["mailto:a@b.com"]["dst_host"] is None
    assert rows["#top"]["kind"] == "fragment"
    assert rows["ftp://files.example.org/f"]["kind"] == "other_scheme"
    assert rows["ftp://files.example.org/f"]["dst_host"] is None
    # document order preserved
    assert rows["/nav"]["link_no"] == 0
    assert rows["rel/page.html"]["link_no"] == 6


def test_host_edges_and_degrees(spark):
    links = extract_links(_one_page(spark))
    edges = {
        (r["src_host"], r["dst_host"]): r for r in host_edges(links).collect()
    }
    # relative links (x2) self-edge + two external hosts
    assert edges[("www.site.example", "www.site.example")]["n_links"] == 2
    assert edges[("www.site.example", "www.site.example")]["external"] is False
    assert edges[("www.site.example", "other.example.com")]["external"] is True
    assert len(edges) == 3
    deg = {r["host"]: r for r in host_degrees(host_edges(links)).collect()}
    assert deg["www.site.example"]["out_hosts"] == 3
    assert deg["www.site.example"]["out_links"] == 4
    assert deg["www.site.example"]["in_hosts"] == 1  # its own self-edge
    assert deg["cdn.example.net"]["out_hosts"] == 0
    assert deg["cdn.example.net"]["in_links"] == 1


def test_domain_suffixes(spark):
    out = (
        spark.range(1)
        .select(domain_suffixes(F.lit("ads.tracker.bad.example")).alias("s"))
        .first()["s"]
    )
    # SHORTEST-first since the deep-host fix: the cap must keep the
    # registrable end, or max_labels+ nesting evades the blocklist
    assert out == [
        "bad.example",
        "tracker.bad.example",
        "ads.tracker.bad.example",
    ]
    deep = (
        spark.range(1)
        .select(domain_suffixes(F.lit("a.b.c.d.e.f.g.bad.example")).alias("s"))
        .first()["s"]
    )
    assert "bad.example" in deep  # the registrable suffix always emits
    assert "a.b.c.d.e.f.g.bad.example" in deep  # and the exact host too
    # single-label and empty hosts produce no suffixes
    assert (
        spark.range(1).select(domain_suffixes(F.lit("localhost")).alias("s")).first()["s"]
        == []
    )
    assert (
        spark.range(1).select(domain_suffixes(F.lit("")).alias("s")).first()["s"] == []
    )


def test_blocklist_filter_suffix_semantics(spark):
    pages = spark.createDataFrame(
        [
            (1, "https://ads.bad.example/x"),  # blocked via parent domain
            (2, "https://bad.example/y"),  # blocked exactly
            (3, "https://good.example/z"),  # kept
            (4, "https://notbad.example/w"),  # kept — label, not substring, match
            (5, "relative-no-host"),  # kept — no parseable host
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("bad.example",)], "domain string")
    kept = sorted(
        r["doc_id"] for r in blocklist_filter(pages, blocked).collect()
    )
    assert kept == [3, 4, 5]


def test_blocklist_filter_no_corpus_exchange(spark):
    pages = spark.createDataFrame(
        [(1, "https://a.example/x")], "doc_id long, url string"
    )
    blocked = spark.createDataFrame([("bad.example",)], "domain string")
    plan = blocklist_filter(pages, blocked)._jdf.queryExecution().executedPlan().toString()
    # both joins broadcast: the only allowed exchanges are broadcast ones
    import re

    assert not re.search(r"Exchange (hash|range|SinglePartition)", plan), plan


def test_latest_snapshot_dedup_keeps_max_ts(spark):
    t = dt.datetime(2025, 1, 1)
    pages = spark.createDataFrame(
        [
            (1, "https://a.example/p?utm_source=x", t),
            (2, "https://a.example/p", t + dt.timedelta(days=3)),
            (3, "https://A.example/p#frag", t + dt.timedelta(days=3)),  # ts tie -> min id
            (4, "https://b.example/q", t),
        ],
        "doc_id long, url string, warc_ts timestamp",
    )
    out = {r["canonical_url"]: r for r in latest_snapshot_dedup(pages).collect()}
    a = out["https://a.example/p"]
    assert a["keep_id"] == 2 and a["n_snapshots"] == 3
    assert a["keep_ts"] == t + dt.timedelta(days=3)
    assert out["https://b.example/q"]["keep_id"] == 4


def test_host_rank_matches_pure_python_reference(spark):
    """host_rank's determinism contract re-implemented in pure Python
    (floats + exact Decimal sums, 12-dp half-up rounding): the Spark result
    must match to the last digit, and the hub of a star graph must outrank
    its leaves."""
    from decimal import ROUND_HALF_UP, Decimal

    from ocr_sam_project_spark.operators.webgraph import host_rank

    raw = [
        ("a", "b", 2), ("a", "c", 1), ("b", "a", 1),
        ("c", "a", 3), ("d", "a", 1), ("d", "c", 1),
    ]
    edges = spark.createDataFrame(
        raw, "src_host string, dst_host string, n_links long"
    )
    got = {r.host: r.rank for r in host_rank(edges, iters=3).collect()}

    def r12(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("1e-12"), ROUND_HALF_UP))

    nodes = sorted({s for s, _, _ in raw} | {t for _, t, _ in raw})
    n = len(nodes)
    outt = {}
    for s, _, w in raw:
        outt[s] = outt.get(s, 0) + w
    ew = [(s, t, float(w) / float(outt[s])) for s, t, w in raw]
    d, base = 0.85, (1.0 - 0.85) / n
    rank = {h: 1.0 / n for h in nodes}
    for _ in range(3):
        sums = {h: Decimal(0) for h in nodes}
        for s, t, w in ew:
            sums[t] += Decimal(repr(r12(rank[s] * w)))
        rank = {h: r12(base + d * float(sums[h])) for h in nodes}

    assert got == rank
    assert max(got, key=got.get) == "a"  # the star hub wins
    assert sum(got.values()) <= 1.0 + 1e-9  # dangling mass only leaks out


def test_host_rank_empty_and_param_n(spark):
    from ocr_sam_project_spark.operators.webgraph import host_rank

    empty = spark.createDataFrame(
        [], "src_host string, dst_host string, n_links long"
    )
    assert host_rank(empty).count() == 0
    two = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src_host string, dst_host string, n_links long"
    )
    # n_hosts passed by ingest must equal the computed path
    auto = {r.host: r.rank for r in host_rank(two, iters=2).collect()}
    given = {r.host: r.rank for r in host_rank(two, iters=2, n_hosts=2).collect()}
    assert auto == given
    assert auto["a"] == auto["b"]  # symmetric 2-cycle


def test_host_of_ports_and_case(spark):
    vals = (
        spark.createDataFrame(
            [("HTTPS://Host.Example:8443/p?q#f",), ("no-scheme/path",)], "u string"
        )
        .select(host_of(F.col("u")).alias("h"))
        .collect()
    )
    assert vals[0]["h"] == "host.example:8443"
    assert vals[1]["h"] == ""


def test_host_components_two_islands(spark):
    """Two disjoint link rings resolve to two components; every member of
    a ring shares its component id, and the two ids differ."""
    from ocr_sam_project_spark.operators.dedup import resolve_clusters
    from ocr_sam_project_spark.operators.textstats import hash64

    def page(u, hrefs):
        html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (u, bytearray(html.encode()))

    pages = spark.createDataFrame(
        [
            page("https://a1.test/", ["https://a2.test/"]),
            page("https://a2.test/", ["https://a3.test/"]),
            page("https://a3.test/", ["https://a1.test/"]),
            page("https://b1.test/", ["https://b2.test/"]),
            page("https://b2.test/", ["https://b1.test/"]),
        ],
        "url string, html binary",
    )
    edges = host_edges(extract_links(pages))
    comp = resolve_clusters(
        edges.select(
            hash64(F.col("src_host")).alias("id_a"),
            hash64(F.col("dst_host")).alias("id_b"),
        )
    )
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .withColumn("_h", hash64(F.col("host")))
    )
    got = {
        r["host"]: r["canonical_id"]
        for r in hosts.join(comp, hosts["_h"] == comp["doc_id"]).collect()
    }
    assert set(got) == {"a1.test", "a2.test", "a3.test", "b1.test", "b2.test"}
    a_ids = {got["a1.test"], got["a2.test"], got["a3.test"]}
    b_ids = {got["b1.test"], got["b2.test"]}
    assert len(a_ids) == 1 and len(b_ids) == 1 and a_ids != b_ids


def test_html_to_text_wet_semantics(spark):
    """WET conversion pinning: script/style/comment stripped (script body
    with a fake '<p>' inside never leaks), block tags break lines, inline
    tags vanish without inserting spaces, raw source newlines are NOT
    breaks (html collapses whitespace), the entity bank decodes with &amp;
    last (double-escaped '&amp;lt;' single-decodes to '&lt;'), and empty /
    script-only pages yield ('', 0, 0)."""
    from ocr_sam_project_spark.operators.webgraph import html_to_text

    df = spark.createDataFrame(
        [
            (1, '<head><style>p {c:1}</style><script>var a="<p>hi</p>";'
                '</script></head><body><h1>T&amp;1</h1><p>a  b</p>'
                '<div>c&nbsp;d</div><!-- zz --></body>'),
            (2, "raw\ntext\nnewlines"),            # one line, not three
            (3, "x &amp;lt; y &#39;q&apos; in<b>line</b>"),
            (4, "<ul><li>one</li><li>two</li></ul>tail"),
            (5, ""),
            (6, "<script>only</script>"),
            (7, "a<br/>b<br >c"),
        ],
        "doc_id int, html string",
    )
    got = {r.doc_id: (r.text, r.n_lines, r.n_chars)
           for r in html_to_text(df).collect()}
    assert got[1] == ("T&1\na b\nc d", 3, 11)
    assert got[2] == ("raw text newlines", 1, 17)
    assert got[3] == ("x &lt; y 'q' inline", 1, 19)
    assert got[4] == ("one\ntwo\ntail", 3, 12)
    assert got[5] == ("", 0, 0)
    assert got[6] == ("", 0, 0)
    assert got[7] == ("a\nb\nc", 3, 5)


def test_html_to_text_passthrough_columns(spark):
    """Every non-html column survives; html itself is dropped."""
    from ocr_sam_project_spark.operators.webgraph import html_to_text

    df = spark.createDataFrame(
        [(1, "u1", "<p>x</p>")], "doc_id int, url string, html string"
    )
    out = html_to_text(df)
    assert out.columns == ["doc_id", "url", "text", "n_lines", "n_chars"]
    assert out.collect()[0].url == "u1"


def test_crawl_diff_all_statuses(spark):
    """Diff semantics pinning: new / gone / changed / unchanged, with the
    min-id reduce per side and url variants collapsing via the
    canonicalizer before comparison."""
    from ocr_sam_project_spark.operators.webgraph import crawl_diff

    prev = spark.createDataFrame(
        [
            (1, "https://a.com/x", "alpha"),
            (2, "https://a.com/y", "beta"),
            (3, "https://a.com/z", "gamma"),
            (4, "https://a.com/z#frag", "gamma dup variant"),  # collapses to /z
        ],
        "doc_id int, url string, text string",
    )
    curr = spark.createDataFrame(
        [
            (11, "https://a.com/x", "alpha"),            # unchanged
            (12, "https://a.com/y", "beta REVISED"),     # changed
            (13, "https://a.com/new", "fresh"),          # new
        ],
        "doc_id int, url string, text string",
    )
    got = {r.canonical_url: r for r in crawl_diff(prev, curr).collect()}
    assert got["https://a.com/x"].status == "unchanged"
    assert got["https://a.com/y"].status == "changed"
    assert got["https://a.com/new"].status == "new"
    assert got["https://a.com/new"].prev_id is None
    assert got["https://a.com/z"].status == "gone"
    assert got["https://a.com/z"].prev_id == 3  # min-id reduce kept doc 3
    assert got["https://a.com/z"].curr_id is None
    assert len(got) == 4


# --------------------------------------------------------------------------
def test_anchor_topk_rank_and_ties(spark):
    from ocr_sam_project_spark.operators.webgraph import anchor_topk

    links = spark.createDataFrame(
        [
            # t.example: "alpha" x3, "beta" x2, "gamma" x2, "delta" x1
            *[("u%d" % i, 0, "/a", "Alpha", "relative", "t.example") for i in range(3)],
            *[("u%d" % i, 1, "/b", "beta", "relative", "t.example") for i in range(2)],
            *[("u%d" % i, 2, "/c", "  Gamma ", "relative", "t.example") for i in range(2)],
            ("u9", 3, "/d", "delta", "relative", "t.example"),
            # non-resolving kinds and empty anchors never participate
            ("u9", 4, "mailto:x", "mail-me", "special", None),
            ("u9", 5, "#top", "", "fragment", None),
            ("u9", 6, "/e", "   ", "relative", "t.example"),
        ],
        "url string, link_no int, href string, anchor string, kind string, dst_host string",
    )
    rows = anchor_topk(links, k=3).orderBy("rank").collect()
    # beta/gamma tie at 2 -> anchor asc; delta (1) is cut by k=3
    assert [(r.rank, r.anchor, r.n_links) for r in rows] == [
        (1, "alpha", 3),
        (2, "beta", 2),
        (3, "gamma", 2),
    ]


def test_host_dup_ratio_exact(spark):
    from ocr_sam_project_spark.operators.webgraph import host_dup_ratio

    pages = spark.createDataFrame(
        [
            # a.example: 4 pages, 2 distinct texts (case/ws variants dedup)
            ("https://a.example/1", "Hello  World"),
            ("https://a.example/2", "hello world"),
            ("https://a.example/3", "other"),
            ("https://a.example/4", "OTHER"),
            # b.example: 3 pages, 2 distinct -> 1/3 half-away = 0.333333
            ("https://b.example/1", "x"),
            ("https://b.example/2", "x"),
            ("https://b.example/3", "y"),
            # non-absolute url rows drop
            ("not-a-url", "x"),
        ],
        "url string, text string",
    )
    got = {r.host: r for r in host_dup_ratio(pages).collect()}
    assert set(got) == {"a.example", "b.example"}
    assert (got["a.example"].n_pages, got["a.example"].n_distinct) == (4, 2)
    assert got["a.example"].dup_ratio == 0.5
    assert got["b.example"].dup_ratio == 0.333333


def test_robots_filter_rep_precedence(spark):
    from ocr_sam_project_spark.operators.webgraph import parse_robots, robots_filter

    robots = spark.createDataFrame(
        [
            (
                "a.example",
                "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
                "Disallow: /private/ok\n# comment",
            ),
            # only an empty Disallow (allow-all per REP) -> parses to NO
            # rule, so the host takes the rule-less bypass
            ("b.example", "User-agent: *\nDisallow:\n"),
        ],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    assert sorted(
        (r.host, r.allow, r.prefix) for r in rules.collect()
    ) == [
        ("a.example", False, "/private"),
        ("a.example", False, "/private/ok"),
        ("a.example", True, "/private/ok"),
    ]
    pages = spark.createDataFrame(
        [
            ("https://a.example/private/x",),
            ("https://a.example/private/okay",),
            ("https://a.example/public",),
            ("https://a.example",),
            ("https://b.example/anything",),
            ("https://c.example/x",),
        ],
        "url string",
    )
    got = {r.url: r.allowed for r in robots_filter(pages, rules).collect()}
    assert got["https://a.example/private/x"] is False  # longest = /private
    # /private/ok allow vs /private/ok disallow: equal length -> Allow wins
    assert got["https://a.example/private/okay"] is True
    assert got["https://a.example/public"] is True  # no matching rule
    assert got["https://a.example"] is True  # bare host -> path '/'
    assert got["https://b.example/anything"] is True  # rule-less bypass
    assert got["https://c.example/x"] is True  # host never published robots


def _rep_reference(url, rules_by_host):
    """Pure-Python REP verdict: the longest matching prefix wins, Allow
    wins a length tie, and a url with no matching rule is admitted."""
    import re

    host = (re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", url or "") or [None, ""])[1]
    path = (re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)?", url or "")
            or [None, None])[1] or "/"
    hits = [(len(p), a) for p, a in rules_by_host.get(host.lower(), ()) if path.startswith(p)]
    if not hits:
        return True
    longest = max(n for n, _ in hits)
    return any(a for n, a in hits if n == longest)


def test_robots_filter_matches_rep_reference_fuzz(spark):
    """Seeded fuzz against `_rep_reference`: duplicate urls, null and
    empty hosts, scheme-less urls, upper-case hosts, query strings and
    fragments, duplicate rules, allow-only hosts, rule-less hosts, and (in
    the last trial) an empty rules table.  Compared as a multiset of
    (url, allowed)."""
    import random
    from collections import Counter

    from ocr_sam_project_spark.operators.webgraph import robots_filter

    segs = ["p", "pr", "private", "ok", "x", "a", "d7"]

    def _path(rng):
        return "/" + "/".join(rng.choice(segs) for _ in range(rng.randint(0, 3)))

    for trial in range(6):
        rng = random.Random(trial)
        rules = []
        if trial < 5:
            for h in ("a.example", "b.example", "c.example"):
                rules += [(h, rng.random() < 0.4, _path(rng)) for _ in range(rng.randint(1, 6))]
            rules += [("allow.example", True, _path(rng)) for _ in range(3)]  # allow-only
            rules += rules[:3]  # duplicate rules
        urls = []
        for _ in range(300):
            host = rng.choice(["a.example", "b.example", "c.example", "allow.example",
                               "free.example", ""])
            host = host.upper() if rng.random() < 0.2 else host
            scheme = rng.choice(["https://", "http://", "HTTP://", "", "//"])
            tail = rng.choice(["", "?q=/private", "#private", "?a=1#x"])
            path = _path(rng) if rng.random() < 0.8 else ""
            urls.append(None if rng.random() < 0.03 else f"{scheme}{host}{path}{tail}")
        urls += urls[:40]  # duplicate urls
        by_host: dict = {}
        for h, a, p in rules:
            by_host.setdefault(h, []).append((p, a))
        want = Counter((u, _rep_reference(u, by_host)) for u in urls)
        pages = spark.createDataFrame([(u,) for u in urls], "url string")
        rdf = spark.createDataFrame(rules, "host string, allow boolean, prefix string")
        got = Counter((r.url, r.allowed) for r in robots_filter(pages, rdf).collect())
        assert got == want, (trial, (got - want).most_common(3), (want - got).most_common(3))
        assert trial == 5 or any(not a for _, a in want), trial  # some refusals
