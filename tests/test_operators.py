"""Unit tests for the training-data operators: dedup, similarity, textstats,
multimodal plumbing — semantics checks beyond the DuckDB parity gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (4, "completely different text about spark and arrow batches", "en"),
        (5, "el juzgado ordena el embargo de las cuentas del demandado", "es"),
        (6, "  the   quick brown fox jumps over the lazy dog  ", "en"),  # ws-variant dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_groups_whitespace_variants(docs):
    from ocr_sam_project_spark.operators.dedup import exact_dedup

    d = exact_dedup(docs).collect()
    groups = {r.keep_id: r.n_copies for r in d}
    assert groups[1] == 3  # docs 1, 2, 6 collapse
    assert groups[3] == 1 and groups[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    from ocr_sam_project_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 6)] == 1.0
    assert 0.4 <= pairs[(1, 3)] < 1.0  # one-word change
    assert (1, 4) not in pairs


def test_minhash_lsh_recalls_exact_dups(docs):
    from ocr_sam_project_spark.operators.dedup import minhash_near_dups

    pairs = {(r.id_a, r.id_b) for r in minhash_near_dups(docs, threshold=0.4).collect()}
    assert (1, 2) in pairs and (1, 6) in pairs and (2, 6) in pairs
    assert (1, 4) not in pairs


def test_with_shingle_hashes_semantics(spark):
    """The integer shingle-hash fast path must mirror with_shingles'
    semantics: whitespace-normalized, position-sensitive 3-grams, distinct,
    with a whole-text fallback when the doc has fewer than n tokens."""
    from ocr_sam_project_spark.operators.dedup import with_shingle_hashes

    rows = [
        (1, "a b c d"),
        (2, "  a   b c d  "),  # ws-variant of 1 -> identical gram set
        (3, "d c b a"),  # same tokens reversed -> disjoint gram set
        (4, "a b"),  # < n tokens -> single fallback hash
        (5, "x y x y x y"),  # repeating grams -> deduplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["_shh"] for r in with_shingle_hashes(df).collect()}
    assert got[1] == got[2]  # normalization
    assert len(got[1]) == 2  # 4 tokens -> 2 distinct 3-grams
    assert set(got[1]).isdisjoint(got[3])  # position sensitivity
    assert len(got[4]) == 1  # short-text fallback
    assert len(got[5]) == 2  # 'x y x' and 'y x y' only, deduped


def test_minhash_fast_and_portable_agree_on_planted_dups(docs):
    """fast=True (int grams + xxhash64) and fast=False (string shingles +
    md5 portable) are different hash families but must agree on the
    planted exact/ws-variant duplicate pairs at a mid threshold."""
    from ocr_sam_project_spark.operators.dedup import minhash_near_dups

    want = {(1, 2), (1, 6), (2, 6)}
    for fast in (True, False):
        pairs = {
            (r.id_a, r.id_b)
            for r in minhash_near_dups(docs, threshold=0.4, fast=fast).collect()
        }
        assert want <= pairs, f"fast={fast} missed {want - pairs}"
        assert (1, 4) not in pairs


def test_resolve_clusters_chain_collapses(spark):
    """A-B, B-C (no direct A-C edge) must collapse into ONE cluster with the
    smallest id canonical; a disjoint pair forms its own cluster."""
    from ocr_sam_project_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a bigint, id_b bigint"
    )
    got = {(r.doc_id, r.canonical_id) for r in resolve_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}


def test_resolve_clusters_string_ids(spark):
    """String ids (the job passes urls) resolve like numeric ones: the
    lexicographically smallest id of each component is canonical."""
    from ocr_sam_project_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [("https://b/1", "https://a/1"), ("https://c/1", "https://b/1"), ("x://2", "x://1")],
        "id_a string, id_b string",
    )
    got = {(r.doc_id, r.canonical_id) for r in resolve_clusters(pairs).collect()}
    assert got == {("https://a/1", "https://a/1"), ("https://b/1", "https://a/1"),
                   ("https://c/1", "https://a/1"), ("x://1", "x://1"), ("x://2", "x://1")}


def test_resolve_clusters_long_path_converges(spark):
    """A 40-node path graph — worst diameter shape — converges within the
    default pointer-jumping round budget to a single min-id cluster."""
    from ocr_sam_project_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    rows = resolve_clusters(pairs).collect()
    assert {r.canonical_id for r in rows} == {0}
    assert len(rows) == 41


def test_minhash_recall_on_planted_near_dups(spark):
    """End-to-end dedup recall check: plant K edit-perturbed copies of base
    documents in a background of distinct docs; the LSH path must (a) recall
    every planted pair at threshold 0.5 and (b) collapse each family to ONE
    canonical keep-id via resolve_clusters."""
    from ocr_sam_project_spark.operators.dedup import (
        dedup_keep,
        minhash_near_dups,
        resolve_clusters,
    )

    # five genuinely distinct family bases (cross-family 3-gram Jaccard ~ 0;
    # a shared template differing in one word would itself be a near-dup)
    bases = [
        "en la ciudad de panama el juzgado tercero de circuito civil ordena "
        "el embargo formal de las cuentas bancarias del demandado hasta "
        "la suma de quinientos balboas con cargo al proceso ejecutivo",
        "the crawler fetched thousands of web pages from distinct domains "
        "and stored the raw bytes in the warc archive for later extraction "
        "by the distributed spark pipeline running on the cluster",
        "receta tradicional de sancocho requiere pollo culantro name otoe "
        "mazorca y yuca hervidos lentamente en caldo durante varias horas "
        "hasta lograr la consistencia espesa caracteristica del plato",
        "quarterly financial results exceeded analyst expectations with "
        "revenue growing across every segment while operating expenses "
        "declined for the third consecutive reporting period this year",
        "el torneo de ajedrez escolar reunio a doscientos estudiantes de "
        "todas las provincias quienes compitieron durante tres jornadas "
        "por el titulo nacional y una beca universitaria completa",
    ]
    rows = []
    doc_id = 0
    planted_families = []
    for fam in range(5):
        fam_ids = []
        text = bases[fam]
        for copy in range(3):  # original + 2 near-copies (small edits)
            words = text.split()
            if copy:  # perturb one word mid-document
                words[10] = f"{words[10]}x{copy}"
            t = " ".join(words)
            rows.append((doc_id, t, "es"))
            fam_ids.append(doc_id)
            doc_id += 1
        planted_families.append(fam_ids)
    for i in range(30):  # background docs: varying tokens interleaved every
        # 1-2 words so no two share 3-gram shingles (Jaccard ~ 0)
        rows.append((doc_id, f"doc{i} fondo n{i * 3} tema t{i * 7} serie s{i * 11} "
                             f"clave k{i * 13} pieza p{i * 17} cierre c{i * 23}", "es"))
        doc_id += 1
    docs2 = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # bands=8 (r=2): at the planted Jaccard (~0.8 after a one-word edit)
    # per-pair recall is 1-(1-j^2)^8 ~ 0.9997; with 4 bands of r=4 it is
    # only ~0.88 and a 15-pair test would probabilistically miss one.
    nd = lambda: minhash_near_dups(docs2, threshold=0.5, bands=8)  # noqa: E731
    pairs = {(r.id_a, r.id_b) for r in nd().collect()}
    for fam in planted_families:
        a, b, c = fam
        assert {(a, b), (a, c), (b, c)} <= pairs, f"family {fam} not fully recalled"
    planted = {(x, y) for fam in planted_families for x in fam for y in fam if x < y}
    assert pairs == planted  # and NO false positives across families/background

    clusters = {r.doc_id: r.canonical_id for r in resolve_clusters(nd()).collect()}
    for fam in planted_families:
        assert {clusters[d] for d in fam} == {fam[0]}

    kept = {r.doc_id for r in dedup_keep(docs2, "minhash", threshold=0.5, bands=8).collect()}
    assert len(kept) == 5 + 30  # one per family + all background


def test_dedup_keep_minhash_keeps_one_per_cluster(docs):
    """dedup_keep drops every non-canonical near-dup member and keeps all
    docs that are in no duplicate relation (the training-corpus keep-one)."""
    from ocr_sam_project_spark.operators.dedup import dedup_keep, minhash_near_dups, resolve_clusters

    pairs = minhash_near_dups(docs, threshold=0.4)
    clusters = resolve_clusters(pairs)
    losers = {r.doc_id for r in clusters.collect() if r.doc_id != r.canonical_id}
    kept = {r.doc_id for r in dedup_keep(docs, "minhash", threshold=0.4).collect()}
    everyone = {r.doc_id for r in docs.collect()}
    assert kept == everyone - losers
    assert 1 in kept and {2, 6}.isdisjoint(kept)  # 1≡2≡6 cluster -> keep 1


def test_simhash_hamming(docs):
    from ocr_sam_project_spark.operators.dedup import simhash_near_dups

    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(docs, max_hamming=16).collect()}
    assert pairs.get((1, 2)) == 0 and pairs.get((1, 6)) == 0
    if (1, 3) in pairs and (1, 4) in pairs:
        assert pairs[(1, 3)] <= pairs[(1, 4)]


def test_simhash_all_pairs_band_bypasses_bucket_cap(docs):
    """max_hamming >= bits means every pair qualifies (one constant band);
    the bucket cap must be BYPASSED there — otherwise a corpus larger than
    max_bucket lands in the single bucket, gets cap-dropped, and the call
    silently returns zero pairs although all of them qualify."""
    import warnings

    from ocr_sam_project_spark.operators.dedup import simhash_near_dups

    n = docs.count()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the deliberate O(n^2) warning
        got = simhash_near_dups(docs, max_hamming=16, max_bucket=2).count()
    assert got == n * (n - 1) // 2


def test_line_dedup_keeps_first_occurrence(spark):
    """C4 rule: a repeated line survives only at its first (doc, pos)
    occurrence corpus-wide; blank lines never participate; a doc that was
    all boilerplate rebuilds to ''."""
    from ocr_sam_project_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique one\nCopyright Notice\nunique two"),
            (2, "copyright   notice\n\nunique three"),  # ws/case variant + blank
            (3, "Copyright Notice"),  # all boilerplate
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert out[1].text == "unique one\nCopyright Notice\nunique two"
    assert out[2].text == "\nunique three"  # blank line kept in place
    assert out[3].text == "" and out[3].n_kept == 0 and out[3].n_dropped == 1
    assert out[2].n_dropped == 1 and out[2].n_kept == 2


def test_decontaminate_drops_ngram_overlap(spark):
    from ocr_sam_project_spark.operators.curation import decontaminate

    probe = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "we all know The Capital of France is a lovely place"),  # 5-gram hit
            (2, "paris is lovely in the spring season every year"),  # no 5-gram overlap
            (3, "tiny doc"),  # < n tokens: no grams, survives
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in decontaminate(corpus, probe, n=5).collect()}
    assert kept == {2, 3}


def test_domain_cap_deterministic_sample(spark):
    from ocr_sam_project_spark.operators.curation import domain_cap

    rows = [(i, "big.com" if i < 30 else "small.org") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap(docs, cap=10, domain_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src["big.com"]) == 10  # capped
    assert by_src["small.org"] == set(range(30, 40))  # under cap: untouched
    # frozen sample: same input -> same kept set
    again = {
        r.doc_id
        for r in domain_cap(docs, cap=10, domain_col="source").collect()
        if r.source == "big.com"
    }
    assert again == by_src["big.com"]


def test_dedup_against_store_drops_recrawled_dups(spark, tmp_path):
    """Cross-run incremental dedup: duplicates of COMPLETED runs are
    dropped on the next crawl, in-batch dups keep-one, empties pass, and
    after appending the survivors' fps a replay of the same crawl drops
    everything (idempotent keyed-store semantics)."""
    from ocr_sam_project_spark.operators.dedup import (
        corpus_fingerprints,
        dedup_against_store,
    )

    run1 = spark.createDataFrame(
        [("u1", "first page text"), ("u2", "second page text"), ("u3", "")],
        "url string, text string",
    )
    store_path = str(tmp_path / "fp_store")
    corpus_fingerprints(run1, id_col="url").write.parquet(store_path)

    run2 = spark.createDataFrame(
        [
            ("u4", "brand new text"),
            ("u5", "first  PAGE   text"),  # ws/case variant of run1's u1
            ("u6", "another new text"),
            ("u7", "another new text"),  # in-batch dup of u6 -> keep u6
            ("u8", ""),  # empty: bypasses dedup
        ],
        "url string, text string",
    )
    store = spark.read.parquet(store_path)
    survivors = {r.url for r in dedup_against_store(run2, store, id_col="url").collect()}
    assert survivors == {"u4", "u6", "u8"}

    # append survivors' fps; replaying the same crawl drops every non-empty
    kept = dedup_against_store(run2, store, id_col="url")
    corpus_fingerprints(kept, id_col="url").write.mode("append").parquet(store_path)
    replay = {
        r.url
        for r in dedup_against_store(
            run2, spark.read.parquet(store_path), id_col="url"
        ).collect()
    }
    assert replay == {"u8"}  # empties always pass with their own provenance


def test_near_dedup_against_store_catches_drifted_recrawl(spark, tmp_path):
    """The near-dup store tier catches what the exact-fp tier CANNOT: a
    re-crawled page whose text drifted (one token changed), while genuinely
    new text passes.  Also: appending the survivors' signatures makes a
    replay of the drifted page drop (incremental store semantics)."""
    from ocr_sam_project_spark.operators.dedup import (
        dedup_against_store,
        corpus_fingerprints,
        minhash_signatures,
        near_dedup_against_store,
    )

    base = " ".join(f"palabra{i} contenido{i % 7} judicial{i % 5}" for i in range(40))
    run1 = spark.createDataFrame(
        [(1, base), (2, "otro documento totalmente distinto con su propio texto")],
        "doc_id long, text string",
    )
    sig_path = str(tmp_path / "sig_store")
    minhash_signatures(run1, k=8, fast=False).write.parquet(sig_path)

    drifted = base.replace("palabra3 ", "PALABRA3-editada ")  # exactly 1 token
    run2 = spark.createDataFrame(
        [
            (10, drifted),  # near-dup of run1's doc 1 — exact fp differs
            (11, "texto fresco sin parecido alguno con la tienda previa "
                 "ni con nada anterior en el corpus de prueba"),
        ],
        "doc_id long, text string",
    )
    # exact tier does NOT catch the drift
    fp_store = corpus_fingerprints(run1)
    exact_kept = {r.doc_id for r in dedup_against_store(run2, fp_store).collect()}
    assert exact_kept == {10, 11}
    # near tier does
    kept = {
        r.doc_id
        for r in near_dedup_against_store(
            run2, spark.read.parquet(sig_path), k=8, bands=4,
            sim_threshold=0.5, fast=False,
        ).collect()
    }
    assert kept == {11}
    # append survivors' signatures; replay drops the fresh doc too
    minhash_signatures(
        run2.filter(F.col("doc_id").isin(list(kept))), k=8, fast=False
    ).write.mode("append").parquet(sig_path)
    replay = {
        r.doc_id
        for r in near_dedup_against_store(
            run2, spark.read.parquet(sig_path), k=8, bands=4,
            sim_threshold=0.5, fast=False,
        ).collect()
    }
    assert replay == set()


def test_near_store_matches_bucket_cap_bounds_fanout(spark):
    """A degenerate store (hundreds of identical docs -> one bucket per
    band) must NOT fan a probe row out store-wide: with the bucket over the
    cap the probe returns zero matches instead of n_store candidates."""
    from ocr_sam_project_spark.operators.dedup import (
        minhash_signatures,
        near_store_matches,
    )

    same = "texto repetido de plantilla judicial identica en cada pagina"
    store_docs = spark.createDataFrame(
        [(i, same) for i in range(100)], "doc_id long, text string"
    )
    probe = spark.createDataFrame([(1000, same)], "doc_id long, text string")
    sigs = minhash_signatures(store_docs, k=8, fast=False)
    capped = near_store_matches(
        probe, sigs, k=8, bands=4, sim_threshold=0.5, max_bucket=64, fast=False
    )
    assert capped.count() == 0
    uncapped = near_store_matches(
        probe, sigs, k=8, bands=4, sim_threshold=0.5, max_bucket=1000, fast=False
    )
    assert uncapped.count() == 100


def test_simhash_banding_exact_recall(spark):
    """Pigeonhole banding must find EVERY hamming<=k pair — including pairs
    whose differing bits sit in the top byte, which the old single-high-byte
    blocker silently missed.  Ground truth: brute-force all-pairs hamming
    over the collected simhashes."""
    from ocr_sam_project_spark.operators.dedup import simhash_near_dups, with_simhash

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    toks = base.split()
    rows = [(0, base, "en")]
    # one-token perturbations -> many small-hamming pairs with differing
    # bits scattered across the whole 16-bit hash
    for i in range(1, 60):
        t = list(toks)
        t[i % len(t)] = f"w{i}"
        rows.append((i, " ".join(t), "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    sh = {r.doc_id: r.sh for r in with_simhash(docs).select("doc_id", "sh").collect()}
    truth = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 2
    }
    # the planted set must actually exercise the old blocker's blind spot:
    # at least one true pair whose xor touches the top 8 bits
    assert any((sh[a] ^ sh[b]) >> 8 != 0 for a, b in truth), "vacuous planted set"

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups(docs, bits=16, max_hamming=2).collect()
    }
    assert got == truth  # exact recall AND no false positives post-verify


def test_pack_sequences_partition_local_bins(spark):
    """Every bin holds consecutive docs of ONE salt stream; bin token
    sums reconstruct the stream's total; a doc longer than seq_len still
    lands in exactly one bin (its first-token block)."""
    from ocr_sam_project_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["tok"] * (20 + i % 30))) for i in range(100)]
    rows.append((100, " ".join(["tok"] * 300)))  # longer than seq_len
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, seq_len=128, num_parts=4).collect()
    assert all(r.n_docs >= 1 for r in out)
    total = sum(r.n_tokens for r in out)
    assert total == sum(20 + i % 30 for i in range(100)) + 300
    # deterministic: re-run gives the identical binning
    again = pack_sequences(df, seq_len=128, num_parts=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # every stream starts at bin 0; a bin never holds more tokens than one
    # block unless a single long doc owns it (first-token rule)
    by_part = {}
    for r in out:
        by_part.setdefault(r.part_id, []).append(r)
    for rs in by_part.values():
        assert min(r.bin_id for r in rs) == 0
        for r in rs:
            assert r.n_tokens < 128 + 300  # bounded by block + one long doc


def test_mixture_sample_deterministic_weights(spark):
    """Weight 0 drops everything, weight 1 keeps everything, fractional
    weights are frozen (same kept set on every call) and roughly
    proportional; unknown domains keep everything."""
    from ocr_sam_project_spark.operators.curation import mixture_sample

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = {"a": 0.0, "b": 1.0, "c": 0.5}
    kept = [(r.doc_id, r.source) for r in mixture_sample(df, w, "source").collect()]
    by_src = {}
    for i, s in kept:
        by_src.setdefault(s, set()).add(i)
    assert "a" not in by_src  # w=0
    assert len(by_src["b"]) == 100  # w=1
    assert 20 <= len(by_src["c"]) <= 80  # w=0.5, 100 candidates
    assert len(by_src["d"]) == 100  # unlisted -> keep
    again = {r.doc_id for r in mixture_sample(df, w, "source").collect() if r.source == "c"}
    assert again == by_src["c"]  # frozen coin


def test_canonical_url_rules(spark):
    from ocr_sam_project_spark.operators.curation import canonical_url

    cases = [
        ("HTTP://WWW.Example.COM/Path/A", "http://www.example.com/Path/A"),
        ("https://a.com/x?utm_source=f&id=3&utm_campaign=c", "https://a.com/x?id=3"),
        ("https://a.com/x?utm_source=f&utm_campaign=c", "https://a.com/x"),
        ("https://a.com/x#frag", "https://a.com/x"),
        ("https://a.com/x/", "https://a.com/x"),
        ("https://a.com/x?fbclid=zz&b=1#f", "https://a.com/x?b=1"),
        ("https://a.com/", "https://a.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_pii_scrub_redacts_and_counts(spark):
    from ocr_sam_project_spark.operators.curation import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "escriba a ana.perez@correo.example.org o juan@x.co hoy"),
            (2, "llamar al +507 123-4567 cedula 8-123-456 del cliente"),
            (3, "texto limpio sin datos personales"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[1].n_emails == 2 and "<EMAIL>" in out[1].text
    assert "ana.perez@" not in out[1].text and "juan@x.co" not in out[1].text
    assert out[2].n_phones == 1 and out[2].n_ids == 1
    assert out[2].text == "llamar al <PHONE> cedula <ID> del cliente"
    assert out[3].text == "texto limpio sin datos personales"
    assert out[3].n_emails == out[3].n_phones == out[3].n_ids == 0


def test_semantic_dedup_keeps_one_per_embedding_cluster(spark):
    """Near-identical vectors in the same IVF cluster collapse to the
    min-id member; distinct directions all survive."""
    from ocr_sam_project_spark.operators.similarity import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    rows = [(1, base), (2, near), (3, other), (4, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in semantic_dedup(df, tau=0.95, n_centroids=2).collect()}
    assert 1 in kept and 2 not in kept  # 1≈2 -> keep min id
    assert {3, 4} <= kept


def test_pack_assignments_consistent_with_rollup(spark):
    """The per-doc assignment table aggregated by (part, bin) must equal the
    pack_sequences rollup exactly, offsets are in [0, seq_len), and a doc's
    bin is its first-token block."""
    from ocr_sam_project_spark.operators.curation import (
        pack_assignments,
        pack_sequences,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    asg = pack_assignments(docs, seq_len=512, num_parts=8)
    roll = pack_sequences(docs, seq_len=512, num_parts=8)
    re_roll = asg.groupBy("part_id", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    assert re_roll.exceptAll(roll).count() == 0
    assert roll.exceptAll(re_roll).count() == 0
    bad = asg.filter((F.col("offset") < 0) | (F.col("offset") >= 512)).count()
    assert bad == 0
    assert asg.count() == docs.count()


def test_near_dup_cosine_degenerate_corpus_bounded(spark):
    """A corpus of THOUSANDS of identical embeddings (the common dedup
    degenerate — boilerplate pages embed identically) must complete with a
    BOUNDED pair count: the salted bucket cap splits the one hot bucket
    into ceil(n/cap) subgroups, so pairs ~ ceil(n/cap) * cap^2 / 2 instead
    of n^2/2."""
    from ocr_sam_project_spark.operators.similarity import near_dup_cosine

    n, cap = 2000, 64
    vec = [1.0, 0.5, -0.25, 0.125]
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    )
    pairs = near_dup_cosine(df, tau=0.95, max_bucket=cap, n_rows=n)
    got = pairs.count()
    # unbounded would be n*(n-1)/2 = 1,999,000; the cap bounds it near
    # ceil(n/cap)*cap^2/2 = 32*2048 = 65,536 (salt groups are ~uniform)
    assert 0 < got < 150_000
    # every pair is a true near-dup (identical vectors -> sim == 1.0)
    assert pairs.filter(F.col("sim") < 0.999999).count() == 0


def test_near_dup_cosine_leading_null_embedding(spark):
    """A null embedding read first must not hide the corpus dimension: the
    signature UDF reads the dimension from the non-null vectors (with or
    without n_rows), so the pair set is the one found without the null
    row."""
    from ocr_sam_project_spark.operators.similarity import near_dup_cosine

    vec = [1.0, 0.5, -0.25, 0.125]
    df = spark.createDataFrame(
        [(0, None), (1, vec), (2, vec), (3, [-1.0, 0.5, 0.25, 0.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    for kw in ({}, {"n_rows": 4}):
        pairs = [(r.id_a, r.id_b) for r in near_dup_cosine(df, tau=0.95, **kw).collect()]
        assert pairs == [(1, 2)], kw


def test_salted_group_cap_boundaries(spark):
    """Groups AT the cap keep salt 0 (no split); a group of cap+1 splits
    into exactly ceil((cap+1)/cap) = 2 salt values; salts are stable
    (pure md5 function of id)."""
    from ocr_sam_project_spark.operators.similarity import salted_group_cap

    cap = 8
    rows = [(i, "at") for i in range(cap)] + [(100 + i, "over") for i in range(cap + 1)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = salted_group_cap(df, ["g"], cap, "id")
    at = out.filter(F.col("g") == "at").select("_salt").distinct().collect()
    assert [r._salt for r in at] == [0]
    over = {r._salt for r in out.filter(F.col("g") == "over").collect()}
    assert over <= {0, 1} and len(over) == 2
    # determinism: same input -> same salts
    again = {(r.id, r._salt) for r in salted_group_cap(df, ["g"], cap, "id").collect()}
    first = {(r.id, r._salt) for r in out.collect()}
    assert again == first


def test_near_dup_cosine_auto_plane_scaling(spark):
    """n_planes=None sizes the signature from the corpus: small corpora get
    the 8-plane floor; a 10^9-row corpus sizes to 24 planes (2^planes
    buckets >> corpus/cap) — checked via the documented formula without
    materializing the big corpus."""
    import math

    from ocr_sam_project_spark.operators.similarity import MAX_RHP_BUCKET

    f = lambda n: max(8, math.ceil(math.log2(max(8.0 * n / MAX_RHP_BUCKET, 2.0))))
    assert f(500) == 8
    assert f(10**6) == 14
    assert 16 <= f(10**8) <= 24 and 16 <= f(10**9) <= 24


def test_semantic_dedup_cluster_guard_bounds_hot_cluster(spark):
    """max_cluster bounds the in-cluster pair join under centroid skew:
    a hot cluster of identical embeddings salt-splits, each subgroup still
    collapses to one canonical (bounded survivors, not bounded-at-1), and
    under-cap behavior is untouched (sub=0, salt=0)."""
    from ocr_sam_project_spark.operators.similarity import semantic_dedup

    n, cap = 600, 64
    hot = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, hot) for i in range(n)] + [
        (n + 1, [0.0, 1.0, 0.0, 0.0]),
        (n + 2, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in
            semantic_dedup(df, tau=0.95, n_centroids=3, max_cluster=cap)
            .select("vec_id").collect()}
    # the two distinct directions always survive
    assert {n + 1, n + 2} <= kept
    hot_survivors = len(kept - {n + 1, n + 2})
    # unguarded keeps exactly 1; the guard keeps at most ~2^sub_planes *
    # ceil(n_cell/cap) subgroup canonicals — bounded, far below n
    assert 1 <= hot_survivors <= 40
    # and identical vectors in the same subgroup did collapse
    assert hot_survivors < n // 4


def test_semantic_dedup_guard_dormant_under_cap(spark):
    """With every cluster under max_cluster the guarded result is IDENTICAL
    to the unguarded one (sub=0, salt=0 keys are inert)."""
    from ocr_sam_project_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plain = {r.vec_id for r in semantic_dedup(emb, tau=0.9, n_centroids=8)
             .select("vec_id").collect()}
    guarded = {r.vec_id for r in
               semantic_dedup(emb, tau=0.9, n_centroids=8, max_cluster=10**6)
               .select("vec_id").collect()}
    assert plain == guarded


def test_query_probe_sigs_cover_hamming_ball(spark):
    """The probe set must be exactly {s : bit_count(s^qsig) <= multiprobe}
    — the set the DuckDB oracle models — at every multiprobe, not just 1."""
    from ocr_sam_project_spark.operators.similarity import query_probe_sigs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]
    n_planes = 6
    qsig = query_probe_sigs(q, n_planes, multiprobe=0)[0:1]
    assert len(query_probe_sigs(q, n_planes, multiprobe=0)) == 1
    for m in (1, 2, 3):
        got = set(query_probe_sigs(q, n_planes, multiprobe=m))
        want = {
            s for s in range(1 << n_planes) if bin(s ^ qsig[0]).count("1") <= m
        }
        assert got == want, (m, got ^ want)


def test_ivf_search_probes_posting_lists(spark):
    """ivf_search touches only the nprobe nearest posting lists; with the
    query's own centroid probed it must return the query itself first, and
    the stored-assignment path (centroid_id materialized at ingest) must
    give identical results to the fused path."""
    from ocr_sam_project_spark.operators.similarity import ivf_assign, ivf_search

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]

    fused = [(r.vec_id, r.sim) for r in ivf_search(emb, q, k=5, nprobe=2, n_centroids=8).collect()]
    assert fused[0][0] == 0 and fused[0][1] == 1.0  # self in its own list

    from ocr_sam_project_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(emb, n_centroids=8)  # persisted at ingest
    stored = ivf_assign(emb, n_centroids=8, centroids=cents)
    probed = [
        (r.vec_id, r.sim)
        for r in ivf_search(
            stored, q, k=5, nprobe=2, n_centroids=8,
            assigned_col="centroid_id", centroids=cents,
        ).collect()
    ]
    assert probed == fused

    # nprobe = all centroids degenerates to exact brute-force top-k
    from ocr_sam_project_spark.operators.similarity import topk_cosine

    full = [(r.vec_id, r.sim) for r in ivf_search(emb, q, k=5, nprobe=8, n_centroids=8).collect()]
    brute = [(r.vec_id, r.sim) for r in topk_cosine(emb, q, k=5).collect()]
    assert full == brute


def test_topk_cosine_exact_vs_lsh(spark):
    from ocr_sam_project_spark.operators.similarity import topk_cosine, topk_cosine_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = [r.vec_id for r in topk_cosine(emb, q, k=10).collect()]
    assert exact[0] == 0  # self is most similar
    approx = [r.vec_id for r in topk_cosine_lsh(emb, q, k=10, n_planes=4).collect()]
    # the LSH candidates are a subset; recall of top-1 must hold
    assert approx and approx[0] == 0
    assert set(approx) <= set(exact) or len(set(approx) & set(exact)) >= 5


def test_bigram_logprob_penalizes_word_salad(spark):
    """Unigram blind spot: a shuffled-token doc has the SAME unigram score
    as its fluent source but must score strictly lower under the bigram
    model; docs with < 2 tokens get NULL with n_bigrams=0."""
    from ocr_sam_project_spark.operators.curation import (
        bigram_logprob,
        unigram_logprob,
    )

    fluent = "el juzgado ordena el embargo " * 10
    toks = fluent.split()
    salad = " ".join(toks[1::2] + toks[0::2][::-1])  # same multiset, broken order
    df = spark.createDataFrame(
        [(1, fluent), (2, salad), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.avg_logprob for r in unigram_logprob(df).collect()}
    assert uni[1] == uni[2]  # unigram cannot tell them apart
    bi = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert bi[1].avg_logprob > bi[2].avg_logprob  # bigram can
    assert bi[3].n_bigrams == 0 and bi[3].avg_logprob is None
    assert bi[4].n_bigrams == 0 and bi[4].avg_logprob is None
    assert bi[1].n_bigrams == len(toks) - 1


def test_kmeans_separates_planted_clusters(spark):
    """Three well-separated direction clusters, k=3: every member lands
    with its plant-mates, and the fitted centroid points into its cluster's
    cone (cosine to the plant direction ~1)."""
    import numpy as np

    from ocr_sam_project_spark.operators.similarity import kmeans_fit

    rng = np.random.RandomState(7)
    dirs = np.eye(3)
    rows = []
    for g in range(3):
        for j in range(20):
            v = dirs[g] * 10 + rng.rand(3)  # tight cone around axis g
            rows.append((g * 100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cent = kmeans_fit(df, k=3, iters=2)
    got = assigned.collect()
    by_plant = {}
    for r in got:
        by_plant.setdefault(r.vec_id // 100, set()).add(r.cluster_id)
    # each planted group maps to exactly one fitted cluster, all distinct
    assert all(len(s) == 1 for s in by_plant.values())
    assert len({next(iter(s)) for s in by_plant.values()}) == 3
    # centroids point into their cones
    for plant, cl in by_plant.items():
        c = np.asarray(cent[next(iter(cl))])
        cos = c @ dirs[plant] / np.linalg.norm(c)
        assert cos > 0.99
    # sims are high and rounded to 6 dp
    assert all(r.sim > 0.95 and r.sim == round(r.sim, 6) for r in got)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """If an initial centroid wins no members, its centroid must survive
    unchanged (deterministic Lloyd fallback), not crash or go null."""
    from ocr_sam_project_spark.operators.similarity import ivf_centroids, kmeans_fit

    # two identical far points + many clustered ones: with k=2 one centroid
    # may capture everything depending on the hash sample; force the
    # degenerate case via k > number of distinct directions
    rows = [(i, [1.0, 0.0]) for i in range(10)] + [(100, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    init = {int(r.cid) for r in ivf_centroids(df, 3)}
    assigned, cent = kmeans_fit(df, k=3, iters=2)
    assert set(cent) == init
    assert assigned.count() == 11
    # every centroid is a finite 2-vector
    assert all(len(v) == 2 and all(x == x for x in v) for v in cent.values())


def test_lang_id_and_quality(spark, docs):
    from ocr_sam_project_spark.operators.textstats import with_textstats

    out = {r.doc_id: r for r in with_textstats(docs).collect()}
    assert out[1].lang_guess == "en"
    assert out[5].lang_guess == "es"
    assert out[1].n_tokens == 9
    assert 0.0 <= out[1].quality <= 1.0
    assert out[1].fp == out[2].fp == out[6].fp  # fingerprint normalizes ws


def test_media_features_fake_decode(spark):
    from ocr_sam_project_spark.operators.multimodal import media_features

    rows = [(1, b"fake-image-bytes-1"), (2, b"fake-image-bytes-2"), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    out = {r.media_id: r for r in media_features(df, "media_id", "media").collect()}
    assert out["1"].n_bytes == 18 and out["1"].error is None
    assert out["1"].width and out["1"].height and len(out["1"].feature) == 8
    assert out["3"].error == "empty_media"
    # deterministic: same bytes -> same features
    out2 = {r.media_id: r for r in media_features(df, "media_id", "media").collect()}
    assert out["1"].feature == out2["1"].feature


def test_media_decode_stub_raises_without_fake():
    from ocr_sam_project_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"bytes", fake=False)


def test_frame_sample_plan(spark):
    from ocr_sam_project_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame([(1, 95), (2, 10)], "media_id long, n_frames int")
    rows = frame_sample_plan(df, "media_id", "n_frames", every_k=30).collect()
    got = {(r.media_id, r.frame_idx) for r in rows}
    assert got == {("1", 0), ("1", 30), ("1", 60), ("1", 90), ("2", 0)}


def test_winnow_fingerprints_matches_reference_algorithm(spark):
    """Pin winnowing (Schleimer et al. 2003): char k-gram rolling hashes,
    min per w-window, distinct — vs a direct Python reference."""
    import hashlib
    import re

    from ocr_sam_project_spark.operators.textstats import with_winnow_fingerprints

    texts = [
        "El Juzgado Primero de lo Civil decreta formal embargo sobre las cuentas",
        "short",                       # < k chars -> single-gram fallback
        "  Espacios   multiples\ty  MAYUSCULAS normalizadas  ",
        "abcdefghijkl",                # n_grams=5 < ... exercises small-n path
    ]
    k, w = 8, 4

    def ref(text):
        s = re.sub(r"\s+", " ", text.lower()).strip()
        h64 = lambda x: int(hashlib.md5(x.encode()).hexdigest()[:14], 16)  # noqa: E731
        n = max(len(s) - (k - 1), 1)
        hs = [h64(s[i:i + k]) for i in range(n)]
        if len(hs) - (w - 1) <= 0:
            return sorted({min(hs)})
        return sorted({min(hs[j:j + w]) for j in range(len(hs) - (w - 1))})

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {
        r.i: sorted(r.winnow_fps)
        for r in with_winnow_fingerprints(df, "text", k=k, w=w).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref(t), f"fingerprint drift on text {i}"


def test_boilerplate_strip_per_domain(spark):
    """Site-template rule: a line in >= min_docs DISTINCT docs of the SAME
    domain is stripped everywhere (including its first occurrence, unlike
    line_dedup); the same line under another domain is untouched; blank
    lines never participate."""
    from ocr_sam_project_spark.operators.curation import boilerplate_strip

    docs = spark.createDataFrame(
        [
            (1, "a.com", "cookie banner\nunique one"),
            (2, "a.com", "Cookie   Banner\n\nunique two"),  # ws/case variant + blank
            (3, "a.com", "cookie banner"),  # pure template -> ''
            (4, "b.org", "cookie banner\nother site"),  # same line, other domain
        ],
        "doc_id long, source string, text string",
    )
    out = {r.doc_id: r for r in boilerplate_strip(docs, min_docs=2).collect()}
    assert out[1].text == "unique one" and out[1].n_dropped == 1
    assert out[2].text == "\nunique two"  # blank kept in place
    assert out[3].text == "" and out[3].n_kept == 0 and out[3].n_dropped == 1
    assert out[4].text == "cookie banner\nother site" and out[4].n_dropped == 0


def test_unigram_logprob_orders_by_typicality(spark):
    """Docs made of corpus-frequent tokens score higher (closer to 0) than
    docs of hapaxes; token counts are exact; score is resume-stable."""
    from ocr_sam_project_spark.operators.curation import unigram_logprob

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, "zyx qwv gibberish")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert out[1].n_tokens == 6 and out[4].n_tokens == 3
    assert out[1].avg_logprob == out[2].avg_logprob == out[3].avg_logprob
    assert out[1].avg_logprob > out[4].avg_logprob  # typical >> gibberish
    again = {r.doc_id: r.avg_logprob for r in unigram_logprob(docs).collect()}
    assert again == {d: r.avg_logprob for d, r in out.items()}


def test_token_budget_select_greedy_by_quality(spark):
    """Over-budget domains keep the highest-quality prefix whose running
    token total fits; under-budget domains pass through whole."""
    from ocr_sam_project_spark.operators.curation import token_budget_select
    from ocr_sam_project_spark.operators.textstats import quality_score
    from pyspark.sql import functions as F

    # big.com: 6 docs x 10 tokens, varying quality; small.org: 2 docs
    rows = []
    for i in range(6):
        # longer text => higher quality length band; doc 0 longest
        rows.append((i, "big.com", ("palabra de texto con la que el un es no " * (6 - i)).strip()))
    rows += [(10, "small.org", "uno dos tres"), (11, "small.org", "cuatro cinco")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    q = {
        r.doc_id: r.q
        for r in docs.select("doc_id", quality_score(F.col("text")).alias("q")).collect()
    }
    ntok = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n")
        ).collect()
    }
    budget = 25
    out = token_budget_select(docs, budget=budget)
    kept = {r.doc_id for r in out.collect()}
    # expected: greedy over big.com by (quality desc, id), cumsum <= 25
    order = sorted((d for d in q if d < 10), key=lambda d: (-q[d], d))
    cum, expect = 0, set()
    for d in order:
        cum += ntok[d]
        if cum <= budget:
            expect.add(d)
    assert kept == expect | {10, 11}  # small.org under budget: all kept


def test_intra_doc_dedup_within_doc_only(spark):
    """Repeats WITHIN a doc collapse to the first occurrence (normalization
    variants too); the same line in ANOTHER doc is untouched; blank lines
    all survive in place."""
    from ocr_sam_project_spark.operators.curation import intra_doc_dedup

    docs = spark.createDataFrame(
        [
            (1, "hello world\nmiddle\nHello   World\nend"),  # variant repeat
            (2, "hello world\nother"),  # cross-doc repeat: kept
            (3, "a\n\n\na"),  # blanks kept, second 'a' dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in intra_doc_dedup(docs).collect()}
    assert out[1].text == "hello world\nmiddle\nend"
    assert out[1].n_kept == 3 and out[1].n_dropped == 1
    assert out[2].text == "hello world\nother" and out[2].n_dropped == 0
    assert out[3].text == "a\n\n" and out[3].n_kept == 3 and out[3].n_dropped == 1


def test_dsir_weights_ranks_target_like_docs_higher(spark):
    """Docs written in the target's vocabulary get a higher importance
    ratio than docs in the out-of-target vocabulary; token counts exact;
    deterministic across re-runs."""
    from ocr_sam_project_spark.operators.curation import dsir_weights

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),  # target-like
            (2, "zeta eta theta iota"),  # out-of-target
            (3, ""),  # empty -> NULL score
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dsir_weights(corpus, target).collect()}
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4
    assert out[1].avg_logratio > out[2].avg_logratio
    assert out[3].n_tokens == 0 and out[3].avg_logratio is None
    again = {r.doc_id: r.avg_logratio for r in dsir_weights(corpus, target).collect()}
    assert again == {d: r.avg_logratio for d, r in out.items()}


def test_quality_canonical_elects_best_member(spark):
    """Per cluster the max-quality member wins (not the min id); exact
    quality ties break by id ascending."""
    from ocr_sam_project_spark.operators.dedup import quality_canonical

    rich = (
        "the quick brown fox and the lazy dog are in the house with a good plan "
        * 4
    ).strip()
    docs = spark.createDataFrame(
        [
            (1, "xq zv!!!"),  # low quality
            (2, rich),  # best of cluster {1,2,3}
            (3, "kj pq!!!"),
            (10, "same text here"),  # tie pair: identical -> keep 10
            (11, "same text here"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r.cluster_id: r for r in quality_canonical(docs, pairs).collect()}
    assert set(out) == {1, 10}
    assert out[1].keep_id == 2 and out[1].n_members == 3
    assert out[10].keep_id == 10 and out[10].n_members == 2
    assert out[1].keep_quality > out[10].keep_quality >= 0.0


def test_gopher_rules_thresholds(spark):
    """Composite verdict flips on each published rule: a clean 50+-word doc
    passes; bullet-dominated, symbol-heavy, and sub-50-word docs fail on
    their respective rule."""
    from ocr_sam_project_spark.operators.textstats import gopher_rules

    clean = (
        "the quick brown fox jumps over that lazy dog and runs off to have "
        "a rest with some friends be they near or far " * 3
    ).strip()
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = "the " + "### " * 30 + "end to be have with that of and"
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, bullets),
            (3, symbols),
            (4, "too short to have the words"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert out[1].passes_gopher and out[1].n_words >= 50
    assert out[1].stopword_hits >= 2 and 3.0 <= out[1].mean_word_len <= 10.0
    assert not out[2].passes_gopher and out[2].bullet_line_frac == 1.0
    assert not out[3].passes_gopher and out[3].symbol_word_ratio > 0.1
    assert not out[4].passes_gopher  # word-count band
    assert out[5].n_words == 0 and out[5].mean_word_len is None
    assert not out[5].passes_gopher


def test_dup_ngram_frac_counts_positions_with_multiplicity(spark):
    """A 5-gram shared across docs marks each of its POSITIONS (repeats in
    the same doc count per occurrence); unique docs score 0; short docs
    have no grams and a NULL frac."""
    from ocr_sam_project_spark.operators.curation import dup_ngram_frac

    shared = "uno dos tres cuatro cinco"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} seis"),  # grams: [1-5], [2-6] -> 1 shared
            (2, f"{shared} {shared}"),  # 6 grams, incl. shared at 2 positions
            (3, "alpha beta gamma delta epsilon zeta"),  # unique
            (4, "too few"),  # < 5 tokens
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_ngram_frac(docs, n=5).collect()}
    assert out[1].n_grams == 2 and out[1].dup_grams == 1
    assert out[1].dup_frac == 0.5
    assert out[2].n_grams == 6 and out[2].dup_grams >= 2  # both copies counted
    assert out[3].dup_grams == 0 and out[3].dup_frac == 0.0
    assert out[4].n_grams == 0 and out[4].dup_frac is None


def test_span_dedup_semantics(spark):
    """ExactSubstr pinning: cross-doc span removal with coverage merge,
    full-copy wipeout, sub-n passthrough, and in-doc self-repetition."""
    from ocr_sam_project_spark.operators.curation import span_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # first occurrence: untouched
            (2, "x y a b c d e z"),        # shares the 5-gram "a b c d e"
            (3, "a b c d e f g h"),        # exact copy -> fully removed
            (4, "p q r"),                  # < n tokens: passthrough
            (5, "m n o p q m n o p q m"),  # self-repetition removes tail
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in span_dedup(df, n=5).collect()}
    assert got[1]["text"] == "a b c d e f g h" and got[1]["n_removed"] == 0
    assert got[2]["text"] == "x y z" and got[2]["n_removed"] == 5
    assert got[3]["text"] == "" and got[3]["n_removed"] == 8
    assert got[4]["text"] == "p q r" and got[4]["n_removed"] == 0
    assert got[5]["text"] == "m n o p q" and got[5]["n_removed"] == 6
    assert all(r["n_tokens"] >= r["n_removed"] for r in got.values())


def test_span_dedup_canonicalizes_and_handles_empty(spark):
    """Formatting variants dedup together (canonical tokens) and empty /
    whitespace-only docs report zero tokens."""
    from ocr_sam_project_spark.operators.curation import span_dedup

    df = spark.createDataFrame(
        [
            (1, "Alpha  Beta\tGamma Delta Epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # canonical twin of 1
            (3, "   "),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in span_dedup(df, n=5).collect()}
    assert got[1]["text"] == "alpha beta gamma delta epsilon"
    assert got[2]["text"] == "" and got[2]["n_removed"] == 5
    for d in (3, 4):
        assert got[d]["text"] == "" and got[d]["n_tokens"] == 0
        assert got[d]["n_removed"] == 0


def test_bloom_dedup_no_false_negatives_and_exact_equivalence(spark):
    """The Bloom admission tier must produce the IDENTICAL survivor set as
    the exact anti-join (verify removes false positives; false negatives
    are structurally impossible), even with a deliberately undersized
    filter where most probes are false positives."""
    from ocr_sam_project_spark.operators.dedup import (
        bloom_build, bloom_probe_table, corpus_fingerprints,
        dedup_against_store, dedup_against_store_bloom)
    import pyspark.sql.functions as F

    prior = spark.createDataFrame(
        [(i, f"stored text number {i}") for i in range(40)],
        "doc_id int, text string",
    )
    store = corpus_fingerprints(prior).select("fp")
    new = spark.createDataFrame(
        [(100 + i, f"fresh text number {i}") for i in range(40)]
        + [(200 + i, f"stored text number {i}") for i in range(0, 40, 5)]
        + [(300, ""), (301, "   ")],  # empty texts keep their provenance
        "doc_id int, text string",
    )
    for m in (64, 1 << 16):  # undersized (FP-heavy) and production-sized
        words = bloom_build(store, m_bits=m, k=4)
        probe = bloom_probe_table(new.filter("doc_id < 300"), words, store, m, 4)
        fn = probe.filter(F.col("is_dup") & ~F.col("bloom_hit")).count()
        assert fn == 0  # no false negatives, ever
        a = sorted(r.doc_id for r in dedup_against_store(new, store).collect())
        b = sorted(
            r.doc_id
            for r in dedup_against_store_bloom(new, store, m_bits=m, k=4).collect()
        )
        assert a == b
        assert 300 in b and 301 in b  # empty-text provenance bypass
    # undersized filter really does fire false positives (the trade exists)
    words = bloom_build(store, m_bits=64, k=4)
    fp_rows = (
        bloom_probe_table(new.filter("doc_id < 300"), words, store, 64, 4)
        .filter(F.col("bloom_hit") & ~F.col("is_dup"))
        .count()
    )
    assert fp_rows > 0


def test_bloom_precomputed_words_skip_store_build(spark):
    """Ingest can persist the word list; passing it skips the build job —
    the store is then touched ONLY by the residual anti-join."""
    from ocr_sam_project_spark.operators.dedup import (
        bloom_build, corpus_fingerprints, dedup_against_store_bloom)

    prior = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id int, text string"
    )
    store = corpus_fingerprints(prior).select("fp")
    new = spark.createDataFrame(
        [(100, "doc 3"), (101, "brand new")], "doc_id int, text string"
    )
    words = bloom_build(store, m_bits=4096, k=4)
    out = dedup_against_store_bloom(
        new, store, m_bits=4096, k=4, words=words
    )
    assert sorted(r.doc_id for r in out.collect()) == [101]


@pytest.mark.parametrize("m_bits", [256, 1 << 20])
def test_bloom_hit_agrees_with_python_twin(spark, m_bits):
    """The binary-literal probe must give, row for row, the verdicts of the
    pure-Python hash twin — at the production filter size and at an
    undersized one where false positives occur — and bloom_build's words
    must equal a pure-Python build of the same store."""
    from test_properties import _bloom_positions_py

    from ocr_sam_project_spark.operators.dedup import (
        bloom_build, bloom_hit, corpus_fingerprints)

    docs = spark.createDataFrame(
        [(i, f"bloom batch text {i}") for i in range(300)], "doc_id int, text string"
    )
    fps = corpus_fingerprints(docs).withColumnRenamed("fp", "_fp")
    store = fps.filter("doc_id % 3 = 0").select(F.col("_fp").alias("fp"))
    store_fps = {r.fp for r in store.collect()}
    words = bloom_build(store, m_bits=m_bits, k=4)
    py_words = [0] * (m_bits // 64)
    for fp in store_fps:
        for p in _bloom_positions_py(fp, m_bits, 4):
            py_words[p >> 6] |= 1 << (p & 63)
    assert [w & ((1 << 64) - 1) for w in words] == py_words

    lit = {
        r.doc_id: r.hit
        for r in fps.select(
            "doc_id", "_fp", bloom_hit(F.col("_fp"), words, m_bits, 4).alias("hit")
        ).collect()
    }
    fp_of = {r.doc_id: r._fp for r in fps.collect()}
    twin = {
        i: all((py_words[p >> 6] >> (p & 63)) & 1 for p in _bloom_positions_py(fp, m_bits, 4))
        for i, fp in fp_of.items()
    }
    assert lit == twin
    assert all(lit[i] for i in lit if i % 3 == 0)  # every true member hits
    false_pos = [i for i in lit if lit[i] and fp_of[i] not in store_fps]
    if m_bits == 256:
        assert false_pos  # the undersized filter really fires false positives
    else:
        assert not false_pos


def test_quantize_embeddings_semantics(spark):
    """int8 quantization pinning: range bound |q| <= 127, the max-|x|
    component hits exactly +/-127, zero vectors quantize to all-zero with
    scale 0, and cosine over the int arrays reproduces the float ranking
    on well-separated vectors (scales cancel)."""
    import pyspark.sql.functions as F
    from ocr_sam_project_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [0.0, 0.0, 0.0]),
            (3, [-0.25, 0.125, 0.25]),
        ],
        "vec_id int, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert got[1].scale == 2.0 and list(got[1].qemb) == [64, -127, 32]
    assert got[2].scale == 0.0 and list(got[2].qemb) == [0, 0, 0]
    assert got[3].scale == 0.25 and list(got[3].qemb) == [-127, 64, 127]
    out = quantize_embeddings(df)
    assert dict(out.dtypes)["qemb"] == "array<tinyint>"  # the 4x claim
    mx = out.select(
        F.max(F.array_max(F.transform("qemb", lambda x: F.abs(x)))).alias("m")
    ).collect()[0].m
    assert mx <= 127


# --------------------------------------------------------------------------
def test_ccnet_buckets_tertiles(spark):
    from ocr_sam_project_spark.operators.curation import ccnet_buckets

    # lang A: 6 docs in three clearly separated fluency tiers (repeated
    # common words score high under the corpus's own unigram LM; rare-token
    # salad scores low).  lang B: a single doc -> everything is 'head'.
    common = "the cat sat on the mat " * 5
    docs = spark.createDataFrame(
        [
            (1, "A", common + "the cat sat"),
            (2, "A", common + "on the mat"),
            (3, "A", common + "zq1 vv2"),
            (4, "A", common + "qk9 xj3"),
            (5, "A", "zzq8 wwk3 vvp1 qqm9 xxj2 rrn4"),
            (6, "A", "yyt7 uui5 ooh6 ppg3 llf8 kkd2"),
            (7, "B", "solo documento"),
            (8, "A", ""),  # unscorable -> tail
        ],
        "doc_id long, lang string, text string",
    )
    got = {r.doc_id: r.bucket for r in ccnet_buckets(docs).collect()}
    assert got[8] == "tail"
    assert got[7] == "head"
    scored = [got[i] for i in (1, 2, 3, 4, 5, 6)]
    # tertile rule over 7 scored lang-A docs... lang A has 7 scored docs?
    assert scored.count("head") + scored.count("middle") + scored.count("tail") == 6
    # the two fluent docs are head, the two salad docs are tail
    assert got[1] == "head" and got[2] == "head"
    assert got[5] == "tail" and got[6] == "tail"


def test_ccnet_buckets_per_lang_model(spark):
    from ocr_sam_project_spark.operators.curation import ccnet_buckets

    # the same text is head in a lang where it is typical and tail where it
    # is alien — proof the model trains per-language, not globally
    rep = "uno dos tres cuatro cinco " * 4
    eng = "one two three four five " * 4
    docs = spark.createDataFrame(
        [
            (1, "es", rep),
            (2, "es", rep + "uno dos"),
            (3, "es", rep + "tres cuatro"),
            (4, "es", "one two three xq9"),
            (5, "en", eng),
            (6, "en", eng + "one two"),
            (7, "en", eng + "three four"),
            (8, "en", "uno dos tres xq9"),
        ],
        "doc_id long, lang string, text string",
    )
    got = {r.doc_id: r.bucket for r in ccnet_buckets(docs).collect()}
    assert got[4] == "tail"  # English words are alien under the es model
    assert got[8] == "tail"  # and vice versa
    # docs 2/3 tie one cell above doc 1 (two extra high-freq tokens), so the
    # 4-doc langs split head=3-tied-at-two-cells? no: cells are (2,3) then 1
    # then 4 -> start 0 head, start 2 middle, start 3 tail
    assert got[2] == "head" and got[3] == "head"
    assert got[1] == "middle" and got[5] == "middle"


def test_hll_registers_merge_and_accuracy(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    n = 3000
    df = spark.range(n).select(
        F.concat(F.lit("item-"), (F.col("id") % 2000).cast("string")).alias("v")
    )
    est = hll_distinct(df, F.col("v"), p=12).first()
    assert est.m_registers == 4096
    # deterministic sketch; exact distinct is 2000 — linear-counting regime
    assert abs(est.est_distinct - 2000) / 2000 < 0.05, est.est_distinct

    # mergeability: sketch(A) merged with sketch(B) == sketch(A union B)
    a = df.filter(F.col("v") < "item-5")
    b = df.filter(F.col("v") >= "item-5")
    merged = (
        hll_registers(a, F.col("v"))
        .unionByName(hll_registers(b, F.col("v")))
        .groupBy("bucket")
        .agg(F.max("m").alias("m"))
    )
    whole = hll_registers(df, F.col("v"))
    assert (
        hll_estimate(merged).first().est_distinct
        == hll_estimate(whole).first().est_distinct
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cm_sketch_overestimates_and_merges(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.sketches import cm_estimate, cm_sketch

    # deliberately tiny w forces collisions — the one-sided guarantee
    # (est >= true, always) must hold anyway
    n = 500
    df = spark.range(n).select(
        F.concat(F.lit("t"), (F.col("id") % 37).cast("string")).alias("v")
    )
    sk = cm_sketch(df, F.col("v"), d=3, w=16)
    probes = df.distinct()
    est = {r.item: r.est_n for r in cm_estimate(sk, probes, "v", d=3, w=16).collect()}
    true = {r.v: r.n for r in df.groupBy("v").agg(F.count("*").alias("n")).collect()}
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true), {
        k: (est[k], true[k]) for k in true if est[k] < true[k]
    }
    # total mass conservation: every row of the sketch sums to n
    mass = {
        r.row: r.s
        for r in sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect()
    }
    assert mass == {0: n, 1: n, 2: n}

    # mergeability: cellwise SUM of two halves == sketch of the union
    a = df.filter(F.col("id") < 250)
    b = df.filter(F.col("id") >= 250)
    merged = (
        cm_sketch(a, F.col("v"), d=3, w=16)
        .unionByName(cm_sketch(b, F.col("v"), d=3, w=16))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    whole = cm_sketch(df, F.col("v"), d=3, w=16)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0

    # an absent item estimates from whatever collides — never negative,
    # and 0 when its cells are untouched (w large enough to have gaps)
    sk_big = cm_sketch(df, F.col("v"), d=3, w=4096)
    ghost = spark.createDataFrame([("never-seen-xq9",)], "v string")
    g = cm_estimate(sk_big, ghost, "v", d=3, w=4096).first()
    assert g.est_n >= 0


def test_pack_shards_materializes_blocks(spark, tmp_path):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.curation import (
        pack_assignments,
        pack_shards,
        write_packed_shards,
    )

    # one stream, seq_len 8: docs of 5/6/4 tokens -> stream of 15 tokens
    # cut into [8, 7] with doc B split across the boundary
    docs = spark.createDataFrame(
        [
            (0, "a1 a2 a3 a4 a5"),
            (8, "b1 b2 b3 b4 b5 b6"),
            (16, "c1 c2 c3 c4"),
            (24, ""),  # empty doc contributes nothing
        ],
        "doc_id long, text string",
    )
    bins = {
        (r.part_id, r.bin_id): r
        for r in pack_shards(docs, seq_len=8, num_parts=1).collect()
    }
    assert set(bins) == {(0, 0), (0, 1)}
    # frozen md5(id) order decides the stream; recover it from assignments
    order = [
        r.doc_id
        for r in pack_assignments(docs, seq_len=8, num_parts=1)
        .filter(F.col("n_toks") > 0)
        .orderBy("bin_id", "offset")
        .collect()
    ]
    texts = {0: "a1 a2 a3 a4 a5", 8: "b1 b2 b3 b4 b5 b6", 16: "c1 c2 c3 c4"}
    stream = " ".join(texts[i] for i in order).split()
    assert bins[(0, 0)].text == " ".join(stream[:8])
    assert bins[(0, 0)].n_tokens == 8
    assert bins[(0, 1)].text == " ".join(stream[8:])
    assert bins[(0, 1)].n_tokens == 7
    # the boundary-spanning doc is counted as a fragment in BOTH bins
    assert bins[(0, 0)].n_frags + bins[(0, 1)].n_frags == 4

    # sink: partitioned parquet round-trips and every non-final bin is full
    out = str(tmp_path / "shards")
    write_packed_shards(docs, out, seq_len=8, num_parts=1)
    back = spark.read.parquet(out)
    got = {(r.part_id, r.bin_id): r.text for r in back.collect()}
    assert got[(0, 0)] == bins[(0, 0)].text and got[(0, 1)] == bins[(0, 1)].text


def test_pack_shards_full_bins_at_scale(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.curation import pack_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    shards = pack_shards(docs, seq_len=512, num_parts=8)
    # every bin except each part's max-bin holds exactly seq_len tokens,
    # and the text token count agrees with n_tokens
    from pyspark.sql import Window as W

    maxb = W.partitionBy("part_id")
    bad = (
        shards.withColumn("_mx", F.max("bin_id").over(maxb))
        .filter(
            (F.col("bin_id") < F.col("_mx")) & (F.col("n_tokens") != 512)
            | (F.size(F.split(F.col("text"), " ")) != F.col("n_tokens"))
        )
        .count()
    )
    assert bad == 0


def test_inverted_postings_cap_and_df(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.indexing import inverted_postings

    # 'common' in 10 docs, 'rare' in docs 3 and 7 only
    docs = spark.createDataFrame(
        [(i, "common " + ("rare" if i in (3, 7) else "filler%d" % i)) for i in range(10)],
        "doc_id long, text string",
    )
    got = {r.term: r for r in inverted_postings(docs, max_postings=4).collect()}
    c = got["common"]
    assert c.n_docs == 10 and c.truncated is True
    assert c.postings == [0, 1, 2, 3]  # the cap SMALLEST ids, ascending
    r = got["rare"]
    assert r.n_docs == 2 and r.truncated is False and r.postings == [3, 7]


def test_inverted_postings_zero_cap_keeps_every_term(spark):
    """max_postings < 1 caps every posting list to empty; the term must
    still be listed with its true df and truncated = true, not dropped."""
    from ocr_sam_project_spark.operators.indexing import inverted_postings

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha")], "doc_id long, text string"
    )
    got = {r.term: r for r in inverted_postings(docs, max_postings=0).collect()}
    assert set(got) == {"alpha", "beta"}
    assert got["alpha"].n_docs == 2 and got["beta"].n_docs == 1
    assert all(r.postings == [] and r.truncated is True for r in got.values())


def test_bm25_ranking_semantics(spark):
    from ocr_sam_project_spark.operators.indexing import bm25_topk

    # 'zebra' is rare (high idf), 'data' is everywhere (low idf); doc 1
    # hits both query terms, doc 2 only the rare one, doc 3 only the
    # common one, doc 4 neither
    docs = spark.createDataFrame(
        [
            (1, "zebra data data words words"),
            (2, "zebra words words words words"),
            (3, "data words words words words"),
            (4, "words words words words words"),
            (5, "data words"),
        ] + [(10 + i, "filler%d words" % i) for i in range(10)],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["zebra", "data"], k=4).collect()
    ids = [r.doc_id for r in rows]
    assert ids[0] == 1  # both terms beats either alone
    assert set(ids[1:3]) >= {2}  # the rare-term doc ranks above common-only
    assert 4 not in ids  # no hit, no row
    assert rows[0].n_terms_hit == 2
    # scores strictly ordered, desc
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    z2 = [r for r in rows if r.doc_id == 2][0]
    d3 = [r for r in rows if r.doc_id == 3][0]
    assert z2.score > d3.score  # idf: rare term outweighs common term


def test_contrastive_pairs_classes_disjoint_and_banded(spark):
    from ocr_sam_project_spark.operators.similarity import contrastive_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = contrastive_pairs(
        emb, tau_pos=0.35, neg_lo=0.1, neg_hi=0.3, n_centroids=4,
        max_cluster=32, n_planes=4, max_bucket=16,
    ).collect()
    pos = [(r.id_a, r.id_b) for r in rows if r.label == 1]
    neg = [(r.id_a, r.id_b) for r in rows if r.label == 0]
    assert pos and neg, (len(pos), len(neg))
    # a pair belongs to at most one class (the ambiguity band separates)
    assert not set(pos) & set(neg)
    for r in rows:
        assert r.id_a < r.id_b
        if r.label == 1:
            assert r.sim >= 0.35
        else:
            assert 0.1 <= r.sim < 0.3


def test_hll_rejects_degenerate_p(spark):
    import pyspark.sql.functions as F
    import pytest as _pt

    from ocr_sam_project_spark.operators.sketches import hll_registers

    df = spark.range(10).select(F.col("id").cast("string").alias("v"))
    with _pt.raises(ValueError, match=r"\[4, 24\]"):
        hll_registers(df, F.col("v"), p=3)


def test_write_packed_shards_resume_preserves_other_parts(spark, tmp_path):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.curation import write_packed_shards

    out = str(tmp_path / "shards")
    docs = spark.createDataFrame(
        [(i, "w%d a b c" % i) for i in range(20)], "doc_id long, text string"
    )
    evens = docs.filter(F.col("doc_id") % 2 == 0)  # -> part_id 0 only
    odds = docs.filter(F.col("doc_id") % 2 == 1)  # -> part_id 1 only
    write_packed_shards(evens, out, seq_len=8, num_parts=2)
    before = spark.read.parquet(out).filter(F.col("part_id") == 0).count()
    assert before > 0
    # a resume run writing ONLY part 1 must not wipe part 0 (dynamic
    # partition overwrite is set on the writer, not assumed from session)
    write_packed_shards(odds, out, seq_len=8, num_parts=2)
    after = spark.read.parquet(out)
    assert after.filter(F.col("part_id") == 0).count() == before
    assert after.filter(F.col("part_id") == 1).count() > 0


def test_ccnet_mixture_rates(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.curation import (
        ccnet_buckets,
        ccnet_mixture,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    buckets = ccnet_buckets(docs)
    kept = ccnet_mixture(docs)
    nb = {r.bucket: r.n for r in buckets.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    nk = {r.bucket: r.n for r in kept.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert nk["head"] == nb["head"]  # weight 1.0 keeps everything
    # frozen-coin keeps track the configured rates within binomial slack
    assert 0.3 <= nk["middle"] / nb["middle"] <= 0.7
    assert nk.get("tail", 0) / nb["tail"] <= 0.25
    # determinism: the same call returns the identical set
    again = ccnet_mixture(docs).select("doc_id")
    assert kept.select("doc_id").exceptAll(again).count() == 0


def test_near_store_matches_prebanded_identical(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.dedup import (
        minhash_signatures,
        near_store_matches,
        store_banded_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store_docs = docs.filter(F.col("doc_id") % 3 == 0)
    new_docs = docs.filter(F.col("doc_id") % 3 != 0).limit(50)
    store_sigs = minhash_signatures(store_docs).select("id", "sig")
    inline = near_store_matches(new_docs, store_sigs, sim_threshold=0.2)
    pre = near_store_matches(
        new_docs,
        store_sigs,
        sim_threshold=0.2,
        store_banded=store_banded_table(store_sigs),
    )
    assert inline.exceptAll(pre).count() == 0
    assert pre.exceptAll(inline).count() == 0


def test_blocklist_deep_subdomain_cannot_evade(spark):
    from ocr_sam_project_spark.operators.webgraph import blocklist_filter

    pages = spark.createDataFrame(
        [
            (1, "https://a.b.c.d.e.f.g.bad.example/x"),  # 9 labels deep
            (2, "https://ok.example/y"),
            (3, "https://bad.example/z"),  # exact match
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("bad.example",)], "domain string")
    kept = {r.doc_id for r in blocklist_filter(pages, blocked).collect()}
    # the registrable-domain suffix must be generated no matter how many
    # subdomain labels an adversarial host nests
    assert kept == {2}


def test_crawl_diff_null_text_is_changed(spark):
    from ocr_sam_project_spark.operators.webgraph import crawl_diff

    prev = spark.createDataFrame(
        [(1, "https://h.example/a", None), (2, "https://h.example/b", "same")],
        "doc_id long, url string, text string",
    )
    curr = spark.createDataFrame(
        [(1, "https://h.example/a", "now fetched"), (2, "https://h.example/b", "same")],
        "doc_id long, url string, text string",
    )
    got = {r.canonical_url: r.status for r in crawl_diff(prev, curr).collect()}
    # a NULL-text side (fetch failure) must read as CHANGED, not silently
    # 'unchanged' via NULL-propagating fp comparison
    assert got["https://h.example/a"] == "changed"
    assert got["https://h.example/b"] == "unchanged"


def test_quantize_near_zero_vector_clamps(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.4e-9, -1.4e-9, 0.0]), (2, [0.0, 0.0, 0.0]), (3, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    # scale under-representation (1.4e-9 -> 1e-9) would push the quant to
    # 178 and WRAP the tinyint; the clamp pins it at the int8 extreme
    assert list(got[1].qemb) == [127, -127, 0]
    assert list(got[2].qemb) == [0, 0, 0] and got[2].scale == 0.0
    assert list(got[3].qemb) == [64, -127, 32]


def test_embedding_ops_empty_input(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.similarity import (
        near_dup_cosine,
        rhp_signature_table,
        semantic_dedup,
    )

    empty = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 0)
    )
    assert near_dup_cosine(empty).count() == 0
    assert semantic_dedup(empty, max_cluster=8).count() == 0
    assert rhp_signature_table(empty).count() == 0


def test_topk_cosine_quantized_symmetry(spark):
    import pyspark.sql.functions as F

    from ocr_sam_project_spark.operators.similarity import topk_cosine_quantized

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    got = topk_cosine_quantized(emb, qv, k=5).collect()
    # the query quantizes with the ENGINES' HALF_UP rounding — symmetric
    # with the corpus path, so the query's own row is its best match
    assert got[0].vec_id == 0 and abs(got[0].qsim - 1.0) < 1e-6
    sims = [r.qsim for r in got]
    assert sims == sorted(sims, reverse=True)
