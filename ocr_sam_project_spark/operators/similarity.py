"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exactness baseline: broadcast the query
  vector, one narrow pass computing dot/norms via F.zip_with/F.aggregate
  (JVM-side, no Python), then a global top-k (takeOrdered-style sort+limit,
  which Spark executes as a per-partition top-k + driver merge — no full
  sort shuffle of the corpus).
* LSH-bucketed (random-hyperplane sign bits) — the scale path: candidates
  share a signature bucket, brute-force only inside the bucket.  At 10^9+
  vectors this is the difference between scanning everything per query and
  touching ~1/2^bits of it.
* IVF-style coarse quantization — kmeans-lite with deterministic seed
  centroids picked from the data (no Date.now/random), probe nearest
  `nprobe` centroids.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import hash64


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine vs a literal query vector.
    Deterministic tie-break: (sim DESC, id ASC).  Returns (vec_id, sim)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def topk_cosine_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch ANN serving shape: exact top-k for EVERY query in a query table
    in one job.  Returns (query_id, vec_id, sim, rank).

    Plan: corpus x broadcast(queries) — a narrow scored pass (the query
    table is small by definition; forced broadcast keeps the corpus
    unshuffled THROUGH scoring) — then ONE hash-shuffle on query_id for the
    per-query top-k window.  The shuffle carries only (query_id, vec_id,
    sim) triples, never vectors.  Per-query cost equals brute topk_cosine;
    batching amortizes the corpus scan over all queries — at 100 TB the scan
    IS the cost, so B queries per scan is a ~B-fold win over query-at-a-time.
    Deterministic: sim rounded 6 dp, ties broken on vec_id ASC."""
    from pyspark.sql import Window

    scored = (
        df
        .crossJoin(F.broadcast(queries.select(query_id_col, query_vec_col)))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def rhp_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign signature: bit_i = (vec . plane_i) >= 0.
    Planes are fixed literals (deterministic).

    Single pass: one Arrow-batched pandas UDF computing ALL plane dots as a
    (batch x dim) @ (dim x planes) NumPy matmul.  The previous form — one
    nested F.aggregate expression tree per plane — was O(planes x dim)
    lambda-expression evaluations per row and codegenned poorly (the 11x
    LSH-slower-than-brute anomaly in BENCH_r01)."""
    P = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    return _sign_signature(vec_col, P.shape[1], lambda dim: P)


def rhp_signature_by_dim(vec_col: Column, n_planes: int) -> Column:
    """rhp_signature over deterministic_planes(dim, n_planes), with dim read
    from each batch's vectors inside the UDF: the caller builds it without
    a driver-side dimension probe (a Spark job over its input).  Same
    planes, so the same bits."""
    return _sign_signature(vec_col, n_planes, lambda dim: _plane_matrix(dim, n_planes))


def _sign_signature(vec_col: Column, n_planes: int, planes_for) -> Column:
    from pyspark.sql.functions import pandas_udf

    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        m = np.vstack(v.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (m @ planes_for(m.shape[1])) >= 0.0
        return pd.Series(bits @ weights)

    return _sig(vec_col)


@functools.lru_cache(maxsize=8)
def _plane_matrix(dim: int, n_planes: int) -> np.ndarray:
    return np.asarray(deterministic_planes(dim, n_planes), dtype=np.float64).T


def deterministic_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Pseudo-random-but-frozen hyperplanes derived from md5 of (i,j) —
    reproducible across engines and runs, no RNG state."""
    import hashlib

    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"plane:{i}:{j}".encode()).hexdigest()
            # map first 8 hex chars to [-1, 1)
            row.append(int(h[:8], 16) / float(2**31) - 1.0)
        planes.append(row)
    return planes


def rhp_signature_table(
    df: DataFrame,
    n_planes: int = 6,
    dim: int | None = None,
    vec_col: str = "embedding",
    sig_col: str = "_sig",
) -> DataFrame:
    """df + RHP sign-signature column — the INGEST half of the scale
    deployment: signatures are computed once and stored (e.g. a parquet /
    Iceberg column, ideally partitioned or z-ordered by signature), so each
    query probe reads only matching buckets instead of re-hashing 10^9+
    vectors per query.  Without `dim` the planes follow the vectors'
    dimension inside the UDF, so building the table runs no job."""
    if dim is None:
        return df.withColumn(sig_col, rhp_signature_by_dim(F.col(vec_col), n_planes))
    planes = deterministic_planes(dim, n_planes)
    return df.withColumn(sig_col, rhp_signature(F.col(vec_col), planes))


def query_probe_sigs(query_vec: list[float], n_planes: int = 6, multiprobe: int = 1) -> list[int]:
    """Signature bucket(s) a query probes: every bucket within hamming
    distance `multiprobe` of the query's own sign bits — i.e. all
    combinations of up to `multiprobe` bit flips (driver-side arithmetic,
    no Spark; C(n_planes, <=m) buckets, 22 at n_planes=6, m=2).  This is
    exactly the set {s : bit_count(s XOR qsig) <= multiprobe} the DuckDB
    oracle models, at ANY multiprobe (the r3 form only flipped single bits,
    so it silently under-probed for multiprobe >= 2).

    The sign bits use the SAME NumPy matmul arithmetic as rhp_signature —
    a sequential Python sum can round a near-zero plane dot to the opposite
    sign and silently probe a bucket that disagrees with the stored
    signature (losing candidates beyond the modeled LSH recall)."""
    from itertools import combinations

    planes = deterministic_planes(len(query_vec), n_planes)
    P = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes) — as rhp_signature
    bits = (np.asarray(query_vec, dtype=np.float64) @ P) >= 0.0
    qsig = int(bits @ (1 << np.arange(P.shape[1])).astype(np.int64))
    probe = {qsig}
    for m in range(1, min(multiprobe, n_planes) + 1):
        for flips in combinations(range(n_planes), m):
            s = qsig
            for b in flips:
                s ^= 1 << b
            probe.add(s)
    return sorted(probe)


def topk_cosine_lsh_probe(
    sig_df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    multiprobe: int = 1,
    sig_col: str = "_sig",
) -> DataFrame:
    """QUERY half over a materialized signature table: filter to the probe
    buckets (a pushdown-able equality-set predicate on a stored column),
    exact cosine top-k inside the ~(multiprobe+1)/2^planes slice."""
    probe = query_probe_sigs(query_vec, n_planes, multiprobe)
    cand = sig_df.filter(F.col(sig_col).isin(probe))
    return topk_cosine(cand.drop(sig_col), query_vec, k, id_col, vec_col)


def topk_cosine_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    multiprobe: int = 1,
) -> DataFrame:
    """Scale path, single-shot form (signature pass fused into the query):
    restrict the brute-force scan to vectors whose RHP signature is within
    `multiprobe` bit flips of the query's, then exact top-k inside the
    candidate set.  Recall < 1.0 by construction; raise n_planes/multiprobe
    to trade cost for recall.  For many queries over one corpus, materialize
    rhp_signature_table once and use topk_cosine_lsh_probe instead."""
    sig_df = rhp_signature_table(df, n_planes, len(query_vec), vec_col)
    return topk_cosine_lsh_probe(
        sig_df, query_vec, k, id_col, vec_col, n_planes, multiprobe
    )


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic centroid rows (cid, cvec): the vectors whose
    hash64(id) is smallest — a frozen pseudo-random sample, no RNG state.
    Driver-side by design: the centroid table is tiny at any corpus size."""
    return (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("_h", hash64(F.col("cid").cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .drop("_h")
        .collect()
    )


def _round6_half_away(x):
    """6-dp round-half-AWAY-FROM-ZERO (numpy array or scalar) — the same
    rounding mode as Spark's F.round (HALF_UP) and DuckDB's ROUND, unlike
    np.round/Python round (half-to-even).  Exact half boundaries are
    essentially unreachable for float64 cosines, but using one mode
    everywhere closes the cross-engine rounding hole."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _cos_py(u, v) -> float:
    """Driver-side cosine with SEQUENTIAL float64 sums — the same fold order
    as F.aggregate and DuckDB list_dot_product, so centroid rankings agree
    across engines; rounded to 6 dp half-away-from-zero like every stored
    sim (F.round / DuckDB ROUND)."""
    d = nu = nv = 0.0
    for a, b in zip(u, v):
        a, b = float(a), float(b)
        d += a * b
        nu += a * a
        nv += b * b
    return float(_round6_half_away(d / ((nu**0.5) * (nv**0.5))))


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """IVF coarse assignment with deterministic centroids: the centroid set
    is the vectors whose hash64(id) is smallest (a frozen pseudo-random
    sample — no RNG).  Returns df + `centroid_id`.

    Plan shape: the centroid table is tiny, so it is collected to the driver
    (n_centroids rows) and closed over by ONE Arrow-batched pandas UDF that
    computes every centroid cosine as a (batch x dim) @ (dim x k) matmul and
    takes the argmax — a single narrow pass: no crossJoin, no window (a
    full-sort shuffle), no re-join of the input.  The r2 form paid a
    row_number() window plus a second join of the full df; an intermediate
    rewrite inlined the centroids as literal-array HOF expressions, which
    was narrow but codegen-compiled an enormous expression tree (~3x slower
    at bench scale than this matmul).

    Deterministic argmax for cross-engine parity: sims rounded to 6 dp, ties
    broken on smallest cid (columns scanned in ascending-cid order, argmax
    takes the first max)."""
    from pyspark.sql.functions import pandas_udf

    cent_rows = (
        centroids
        if centroids is not None
        else ivf_centroids(df, n_centroids, id_col, vec_col)
    )
    if not cent_rows:  # empty corpus: no centroids, nothing to assign
        return df.withColumn("centroid_id", F.lit(None).cast("bigint"))
    order = sorted(range(len(cent_rows)), key=lambda i: int(cent_rows[i].cid))
    C = np.vstack(
        [np.asarray(cent_rows[i].cvec, dtype=np.float64) for i in order]
    ).T  # (dim, k), ascending cid
    cnorm = np.sqrt((C * C).sum(axis=0))
    cids = np.asarray([int(cent_rows[i].cid) for i in order], dtype=np.int64)

    @pandas_udf("long")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        m = np.vstack(v.to_numpy()).astype(np.float64)  # (batch, dim)
        vnorm = np.sqrt((m * m).sum(axis=1))
        sims = _round6_half_away((m @ C) / (vnorm[:, None] * cnorm[None, :]))
        return pd.Series(cids[np.argmax(sims, axis=1)])

    return df.withColumn("centroid_id", _assign(F.col(vec_col)))


def ivf_search(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned_col: str | None = None,
    centroids: list | None = None,
) -> DataFrame:
    """QUERY half of IVF (the half a user actually calls): rank centroids by
    query cosine, scan ONLY the `nprobe` nearest centroids' posting lists,
    exact cosine top-k inside.  Recall < 1.0 by construction (a true
    neighbor assigned to an unprobed centroid is missed); raise nprobe to
    trade cost for recall.

    Deployment shape at scale: run ivf_assign once at ingest, store
    `centroid_id` (ideally as a partition/cluster key, so the probe filter
    below becomes partition PRUNING, not even a scan+filter) AND persist the
    tiny centroid list next to it (ivf_centroids — n_centroids rows) — then
    pass the stored table with assigned_col="centroid_id" and
    centroids=<that list>.  The stored path touches NOTHING but the probed
    posting lists: centroid ranking is a driver-side loop over the passed
    rows, never a corpus scan (passing assigned_col without centroids is an
    error precisely so a per-query full-table centroid rescan cannot creep
    back in).  Called with neither, the assignment pass is fused in
    (bench/small-corpus convenience) and the centroid sample is computed
    exactly once, shared by assignment and ranking."""
    if centroids is None:
        if assigned_col is not None:
            raise ValueError(
                "ivf_search(assigned_col=...) requires the centroids persisted "
                "at ivf_assign time — recomputing them would rescan the corpus "
                "per query"
            )
        centroids = ivf_centroids(df, n_centroids, id_col, vec_col)
    if assigned_col is None:
        adf = ivf_assign(df, n_centroids, id_col, vec_col, centroids=centroids)
        assigned_col = "centroid_id"
    else:
        adf = df
    ranked = sorted(
        centroids, key=lambda r: (-_cos_py(query_vec, r.cvec), int(r.cid))
    )
    probe = [int(r.cid) for r in ranked[:nprobe]]
    cand = adf.filter(F.col(assigned_col).isin(probe)).drop(assigned_col)
    return topk_cosine(cand, query_vec, k, id_col, vec_col)


# Per-bucket cap for the embedding near-dup family — same cap^2-memory /
# pair-explosion reasoning as dedup.MAX_SIMHASH_BUCKET: the in-bucket
# self-join emits O(n_b^2) candidate rows, so an uncapped bucket of
# identical embeddings (the COMMON case in a dedup workload — boilerplate
# pages embed identically) is an O(n^2) job hiding inside one key.
MAX_RHP_BUCKET = 512


def salted_group_cap(
    s: DataFrame, group_cols: list[str], cap: int, id_col: str = "id"
) -> DataFrame:
    """Append a `_salt` column that bounds every (group_cols) group at ~cap
    rows: groups over the cap are split into ceil(n/cap) id-hash subgroups
    (portable md5 hash — exact DuckDB twin expressible).  Downstream joins
    add `_salt` to their equi-key, so per-group pair cost drops from
    O(n^2) to O(ceil(n/cap) * cap^2).

    The trade: pairs ACROSS subgroups are lost.  A salt (not secondary
    hyperplanes) is deliberate — equal vectors produce equal sign bits, so
    no plane count can split the identical-embedding degenerate; an id hash
    is the only HARD bound.  For near-dup dedup the loss is benign: each
    subgroup still collapses to one canonical, leaving ceil(n/cap) survivors
    of a mega-cluster instead of 1.

    One light aggregation (group sizes — #groups rows, tiny vs the corpus)
    joined back; at bench scale AQE broadcasts it."""
    sizes = s.groupBy(*group_cols).agg(F.count("*").alias("_gn"))
    n_sub = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.col("_gn") / F.lit(float(cap))))
    return (
        s.join(sizes, group_cols)
        .withColumn(
            "_salt",
            F.pmod(hash64(F.col(id_col).cast("string")), n_sub).cast("int"),
        )
        .drop("_gn")
    )


def near_dup_cosine(
    df: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    max_bucket: int = MAX_RHP_BUCKET,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cos >= tau): bucket by RHP
    signature, exact cosine inside buckets only (high-tau near-dups almost
    surely share all sign bits).

    Scale guards (the two r4 findings, both closed here):

    * **Plane count scales with the corpus.**  2^planes buckets must be >>
      corpus/cap or average buckets are quadratic; when n_planes is None it
      is sized as max(8, ceil(log2(8*n/max_bucket))) — 8 at bench scale,
      16-24 at 10^8-10^9 vectors.  Pass n_rows (known at ingest/lineage)
      to avoid the count() fallback scan, same contract as tfidf_topk's
      n_docs.
    * **Buckets are hard-capped at ~max_bucket** via salted_group_cap:
      a degenerate corpus (many identical embeddings) salt-splits into
      ceil(n_b/cap) subgroups instead of exploding O(n_b^2)."""
    import math

    # the planes follow the vectors' dimension inside the signature UDF,
    # so no driver-side dim probe runs; only the plane-count fallback needs
    # the corpus size, and an EMPTY input (e.g. every doc dropped by an
    # upstream tier) then returns the empty pair set straight away
    if n_planes is None:
        n = n_rows if n_rows is not None else df.count()
        if n == 0:
            return df.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("sim"),
            ).limit(0)
        n_planes = max(8, math.ceil(math.log2(max(8.0 * n / max_bucket, 2.0))))
    # norms precomputed ONCE per row, not per pair: cosine(a,b) inline would
    # re-run three O(dim) HOF aggregates per candidate pair; carrying the
    # scalar norm leaves one dot per pair (identical arithmetic — the norm
    # value is the same computation, so 6-dp rounding parity is preserved)
    # lazy localCheckpoint: `s` feeds the cap's size aggregate AND both
    # sides of the self-join — without it the signature pandas-UDF pass
    # re-executes once per consumer (3x the Arrow matmul work, measured).
    # A null vector has no cosine with anything: it pairs with nothing.
    s = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
        rhp_signature_by_dim(F.col(vec_col), n_planes).alias("sig"),
    ).localCheckpoint(eager=False)
    s = salted_group_cap(s, ["sig"], max_bucket, "id")
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn(
            "sim",
            F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6),
        )
        .filter(F.col("sim") >= tau)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "sim")
    )


def rhp_subsig_seq(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature via SEQUENTIAL-fold dots (F.aggregate) — the same
    fold order as DuckDB list_dot_product (see _cos_py), so an oracle twin
    reproduces the bits with literal plane arrays.  Costlier per row than
    the matmul UDF (rhp_signature); used only for the SMALL secondary-split
    plane counts where oracle parity matters — production can swap in the
    matmul form when no cross-engine check is needed."""
    out = F.lit(0)
    for i, p in enumerate(planes):
        pl = F.array(*[F.lit(float(x)) for x in p])
        out = out + F.when(dot(vec_col, pl) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return out


def semantic_dedup(
    df: DataFrame,
    tau: float = 0.9,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
    max_cluster: int | None = None,
    sub_planes: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    IVF-cluster the embeddings, compare pairs ONLY within a cluster, resolve
    the cos>=tau pair graph into connected components, keep the min-id
    member of each — the embedding-space analog of text near-dup keep-one.

    Scale shape (10^9+ vectors): the O(n^2) pair space collapses to
    sum over clusters of (n_c^2) — with k chosen ~sqrt(n) the comparison
    volume is ~n^1.5 and each cluster's block self-join is an equi-join on
    centroid_id (one shuffle); component resolution runs on the (small)
    pair graph only.  Cross-cluster near-dups are missed by construction —
    the SemDeDup trade; raise n_centroids for cheaper blocks, lower for
    higher recall.

    **Cluster-size guard** (r4 What's-wrong #2 — a hot centroid, e.g.
    boilerplate embeddings, makes one n_c^2 block THE job): with
    max_cluster set, clusters over the cap are sub-split in two bounded
    stages, and the pair join keys on (cluster, sub, salt):

    1. secondary-RHP sub-split — `sub_planes` extra hyperplane sign bits
       (sequential-fold dots, oracle-expressible) carve an oversized
       cluster into up to 2^sub_planes locality-preserving cells: true
       near-dups (cos>=tau) agree on each extra bit with probability
       1 - acos(tau)/pi (~0.86 at tau=0.9), so most qualifying pairs stay
       co-located — unlike a random split.
    2. id-hash salt cap — any cell STILL over the cap (identical
       embeddings defeat any plane split) is salt-split into ceil(n/cap)
       subgroups via salted_group_cap: the hard bound.

    Both stages are light count-aggregations over (cluster[, sub]) keys —
    tiny tables joined back — and the recall loss is confined to the
    oversized clusters (under-cap clusters key on sub=0, salt=0 and behave
    exactly as the unguarded form)."""
    from .dedup import resolve_clusters

    # centroids computed HERE and passed down (r6): the sample doubles as
    # the dim probe (cvec length), deleting the separate first() job the
    # guard path paid, and ivf_assign skips its own collect
    if centroids is None:
        centroids = ivf_centroids(df, n_centroids, id_col, vec_col)
    assigned = ivf_assign(df, n_centroids, id_col, vec_col, centroids=centroids)
    # norm precomputed once per row (see near_dup_cosine): one dot per pair
    # instead of three HOF aggregates, identical arithmetic at 6 dp.
    # lazy localCheckpoint: `s` feeds the guard's two size aggregates AND
    # both sides of the pair self-join — without it the IVF-assignment
    # pandas-UDF pass re-executes once per consumer (up to 5x, measured)
    s = assigned.select(
        F.col("centroid_id").alias("c"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
    ).localCheckpoint(eager=False)
    if max_cluster is not None:
        if not centroids:  # empty input: nothing to dedup, return it as-is
            return df
        planes = deterministic_planes(len(centroids[0].cvec), sub_planes)
        csizes = s.groupBy("c").agg(F.count("*").alias("_cn"))
        s = (
            s.join(csizes, "c")
            .withColumn(
                "sub",
                F.when(
                    F.col("_cn") > max_cluster, rhp_subsig_seq(F.col("v"), planes)
                ).otherwise(F.lit(0)),
            )
            .drop("_cn")
        )
        s = salted_group_cap(s, ["c", "sub"], max_cluster, "id")
    else:
        s = s.withColumn("sub", F.lit(0)).withColumn("_salt", F.lit(0))
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn(
            "sim",
            F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6),
        )
        .filter(F.col("sim") >= tau)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    losers = (
        resolve_clusters(pairs)
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    # no explicit broadcast hint (r6 A/B): AQE re-plans this anti-join from
    # real runtime sizes within the query job; the hint's extra driver
    # collect job measured a small net loss (see dedup_keep's note)
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
def _kmeans_assign(
    df: DataFrame,
    cids: "np.ndarray",
    C: "np.ndarray",
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One Lloyd assignment pass: (id, cluster_id, sim) — argmax ROUNDED
    cosine against the centroid matrix C (dim x k, columns in ascending-cid
    order), smallest cid wins ties (argmax takes the first max).  Same
    narrow Arrow-matmul shape as ivf_assign: no join, no window."""
    from pyspark.sql.functions import pandas_udf

    cnorm = np.sqrt((C * C).sum(axis=0))

    @pandas_udf("cluster_id long, sim double")
    def _assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cluster_id": [], "sim": []})
        m = np.vstack(v.to_numpy()).astype(np.float64)
        vnorm = np.sqrt((m * m).sum(axis=1))
        sims = _round6_half_away((m @ C) / (vnorm[:, None] * cnorm[None, :]))
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {"cluster_id": cids[best], "sim": sims[np.arange(len(best)), best]}
        )

    out = df.withColumn("_a", _assign(F.col(vec_col)))
    return out.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_a.cluster_id").alias("cluster_id"),
        F.col("_a.sim").alias("sim"),
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means (Lloyd) with DETERMINISTIC everything — the
    corpus-clustering primitive under SemDeDup / cluster-balanced mixture
    sampling, and the iterative-algorithm showcase (the reference has no
    corpus pass at all; Spark MLlib's KMeans is RNG-seeded and RDD-based,
    so this is the DataFrame-native, oracle-checkable rebuild).

    * init: ivf_centroids — the k vectors with smallest md5-hash64(id), a
      frozen sample; cluster identity = the INITIAL centroid's vec_id and
      stays stable across iterations.
    * assign: argmax 6-dp-rounded cosine, smallest-cid tie-break (exactly
      ivf_assign's parity contract).
    * update: per-dimension mean with elements ROUND(x,6)::DECIMAL(18,6)
      summed EXACTLY (associative — partition order cannot change the
      result) then CAST(sum AS DOUBLE)/count.  Spherical: the mean is NOT
      renormalized — cosine is scale-invariant, so normalization would buy
      nothing and cost one more rounding site.
    * empty cluster: keeps its previous centroid (standard Lloyd fallback),
      deterministic on both engines.

    Scale shape (10^9+ vectors): per iteration ONE narrow Arrow pass for
    assignment plus ONE groupBy(cluster) with dim partial-SUM aggregates —
    map-side combine reduces the shuffle to k x P partial rows (k*dim
    decimals each), and the driver materializes only the k x dim centroid
    matrix (the same bounded-metadata collect MLlib does).  iters is fixed
    (no data-dependent convergence test) so the plan is a static chain —
    resumable and oracle-expressible.

    Returns (assignments DataFrame (id, cluster_id, sim), centroids dict
    cid -> list[float])."""
    # lazy localCheckpoint of the slim (id, vec) projection: Lloyd runs
    # iters+2 jobs over the same input (centroid sample, one aggregate per
    # iteration, the final assignment) — the checkpoint materializes the
    # scan+decode once and every later job reads executor-local blocks
    # instead of re-scanning the source (r6; the iterative-input analog of
    # host_rank's checkpointed edge list)
    df = df.select(F.col(id_col), F.col(vec_col)).localCheckpoint(eager=False)
    cent_rows = ivf_centroids(df, k, id_col, vec_col)
    if not cent_rows:
        empty = df.select(
            F.col(id_col),
            F.lit(None).cast("bigint").alias("cluster_id"),
            F.lit(None).cast("double").alias("sim"),
        )
        return empty, {}
    order = sorted(range(len(cent_rows)), key=lambda i: int(cent_rows[i].cid))
    cids = np.asarray([int(cent_rows[i].cid) for i in order], dtype=np.int64)
    cent = {
        int(r.cid): [float(x) for x in r.cvec] for r in cent_rows
    }
    dim = len(next(iter(cent.values())))

    for _ in range(iters):
        C = np.vstack([cent[int(c)] for c in cids]).T  # (dim, k)
        assigned = _kmeans_assign(df, cids, C, id_col, vec_col)
        sums = (
            assigned.groupBy("cluster_id")
            .agg(
                F.count("*").alias("_n"),
                *[
                    F.sum(
                        F.round(F.element_at(F.col(vec_col), i + 1).cast("double"), 6)
                        .cast("decimal(18,6)")
                    ).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            .collect()  # k rows — bounded metadata, like ivf_centroids
        )
        for r in sums:
            n = int(r["_n"])
            cent[int(r["cluster_id"])] = [
                float(r[f"_s{i}"]) / n for i in range(dim)
            ]

    C = np.vstack([cent[int(c)] for c in cids]).T
    final = _kmeans_assign(df, cids, C, id_col, vec_col).select(
        id_col, "cluster_id", "sim"
    )
    return final, cent


# --------------------------------------------------------------------------
def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the ANN memory-scale path:
    scale = round(max|x|, 9), q_i = round(x_i * 127 / scale) as TINYINT.
    4x smaller than float32 at rest and in shuffle payloads (the
    join-payload-width lesson: byte arrays through an Exchange cost a
    quarter of float arrays), and cosine over the int arrays needs NO
    dequantization — cosine is scale-invariant, so the per-vector scale
    cancels and is carried only for dot-product reconstruction.

    Zero vectors quantize to all-zero with scale 0 (no division).  All
    arithmetic is double-precision with fixed rounding (scale 9 dp, HALF_UP
    on the quant step — identical in DuckDB), so the quantization itself is
    oracle-exact.  Narrow codegen: no shuffle, no Python.

    Returns (id, scale, qemb array<tinyint>)."""
    a = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # scale materialized as its OWN projection first: referencing the
    # array_max subtree inside the quant lambda would re-evaluate it per
    # element (the HOF capture trap — O(d^2) per row)
    staged = df.select(
        F.col(id_col),
        a.alias("_a"),
        F.round(F.array_max(F.transform(a, F.abs)), 9).alias("scale"),
    )
    # clamp BEFORE the tinyint cast: scale = round(max|x|, 9) can
    # under-represent max|x| for near-zero vectors (max|x| 1.4e-9 rounds
    # to scale 1e-9), pushing round(x*127/scale) to ±128+ — which WRAPS in
    # Spark's non-ANSI cast (sign-flipped garbage) and ERRORS in DuckDB's
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("_a"), lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            F.col("_a"),
            lambda x: F.least(
                F.lit(127.0),
                F.greatest(F.lit(-127.0), F.round(x * 127.0 / F.col("scale"), 0)),
            ).cast("tinyint"),
        )
    )
    return staged.select(F.col(id_col), F.col("scale"), q.alias("qemb"))


def topk_cosine_quantized(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over the int8-quantized corpus: quantize both
    sides (the query with ITS own scale — scales cancel in cosine), integer
    dot/norms in codegen, (sim DESC, id ASC) tie-break — the exactness
    shape of topk_cosine at a quarter of the memory-bandwidth.  The
    rounded-cosine ranking differs from the float path only by the
    quantization error (~1/254 per component), which is the documented
    trade; the ORACLE is exact because DuckDB quantizes identically.
    Returns (vec_id, qsim)."""
    from decimal import ROUND_HALF_UP, Decimal

    # query quantized with the ENGINES' rounding (HALF_UP), not Python's
    # round() (HALF_EVEN — 2.5 would quantize to 2 here but 3 in the
    # corpus path, breaking quantize-both-sides symmetry), and clamped to
    # [-127, 127] like quantize_embeddings
    mx = max(abs(float(x)) for x in query_vec) or 1.0
    scale = float(Decimal(repr(mx)).quantize(Decimal("1e-9"), ROUND_HALF_UP))
    qq = [
        max(
            -127,
            min(
                127,
                int(
                    Decimal(repr(float(x) * 127.0 / scale)).quantize(
                        Decimal("1"), ROUND_HALF_UP
                    )
                ),
            ),
        )
        for x in query_vec
    ]
    qlit = F.array(*[F.lit(int(v)).cast("double") for v in qq])
    quant = quantize_embeddings(df, id_col=id_col, vec_col=vec_col)
    scored = quant.select(
        F.col(id_col),
        F.round(
            cosine(F.transform(F.col("qemb"), lambda x: x.cast("double")), qlit), 6
        ).alias("qsim"),
    )
    return scored.orderBy(F.col("qsim").desc(), F.col(id_col).asc()).limit(k)


def contrastive_pairs(
    df: DataFrame,
    tau_pos: float = 0.35,
    neg_lo: float = 0.1,
    neg_hi: float = 0.3,
    n_centroids: int = 8,
    max_cluster: int = 64,
    n_planes: int | None = None,
    max_bucket: int = MAX_RHP_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive training-pair mining — the embedding-model dataset
    constructor, composed from this module's own blocking structures:

    * POSITIVES (label 1): RHP-bucketed near-dup pairs, cos >= tau_pos
      (near_dup_cosine — bucket-capped, plane-scaled).
    * HARD NEGATIVES (label 0): pairs sharing an IVF coarse cell whose
      cosine lands in [neg_lo, neg_hi) — same region of space, provably
      not near-dups; the band's upper edge keeps them HARD (closest
      non-positives) and the lower edge keeps the pair count bounded.
    * The ambiguous band [neg_hi, tau_pos) is emitted to neither class —
      disjoint by construction (requires neg_hi <= tau_pos).

    Returns (id_a, id_b, sim, label), a < b.

    Scale shape: both sides inherit their generators' guards — the
    positive join is RHP-bucketed + salt-capped, the negative join is
    IVF-cell-keyed + salt-capped (max_cluster), so Σ n_c² stays bounded
    under centroid skew exactly as in semantic_dedup.  Norms precompute
    once per row; one dot per candidate pair."""
    assert neg_hi <= tau_pos, "ambiguity band must separate the classes"
    pos = near_dup_cosine(
        df,
        tau=tau_pos,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        max_bucket=max_bucket,
    ).withColumn("label", F.lit(1))
    assigned = ivf_assign(df, n_centroids, id_col=id_col, vec_col=vec_col)
    # lazy localCheckpoint: same multi-consumer reuse as semantic_dedup
    s = assigned.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
        "centroid_id",
    ).localCheckpoint(eager=False)
    s = salted_group_cap(s, ["centroid_id"], max_cluster, "id")
    a, b = s.alias("a"), s.alias("b")
    sim = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
    )
    neg = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("sim", sim)
        .filter((F.col("sim") >= neg_lo) & (F.col("sim") < neg_hi))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "sim",
            F.lit(0).alias("label"),
        )
    )
    return pos.unionByName(neg)
