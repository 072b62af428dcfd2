"""Semantic deduplication over embeddings (SemDeDup-style).

Near-duplicate text dedup (MinHash, SimHash, n-gram Jaccard —
operators/dedup.py) keys on surface overlap; SEMANTIC dedup (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication") removes documents that say the same thing in
different words by clustering their embeddings and thresholding cosine
similarity WITHIN each cluster — the cluster boundary is what bounds
the otherwise-quadratic pair search.

100 TB design:
- **k-means is the "aggregate distributed, iterate on metadata"
  pattern** (BPE / IVF / the logreg classifier here): each Lloyd
  iteration is one Arrow scan that assigns every vector (centroids
  ride in the closure — no join) and emits per-cluster partial sums,
  so k × (dim + 2) numbers reach the driver. Centroid count k
  scales with corpus size (SemDeDup used ~100k clusters for web
  scale), so the within-cluster pair join stays bounded: expected
  cluster size = N/k documents, and the self-join on the cluster id
  never degenerates into a corpus cross-product. The gemm scorer
  additionally TILES every cluster into <= block_size sub-blocks
  (dedup.py's block-bundle pattern), so per-task memory is two tiles
  even when the clustering is skewed or under-k'd — cluster skew can
  cost flops, never executor memory.
- **Everything is engine-reproducible by construction** — this is the
  deliberate twist vs the IVF/PQ lanes (rows-only + recall floors):
  seeds are the k lowest ``md5(salt || id)`` vectors (portable SQL,
  not xxhash), every assignment compares dot products ROUNDED to
  ``round_digits`` with ties broken toward the lower centroid index,
  and every recomputed centroid coordinate is rounded the same way.
  Distributed double addition is order-sensitive at ~1e-16; the
  rounding grid (1e-9) is far coarser than that noise and far finer
  than the signal, so Spark and the DuckDB oracle
  (:func:`semantic_dedup_sql` — chained MATERIALIZED CTEs re-deriving
  every Lloyd step) land on identical clusters, pairs, and survivors:
  a VALUE oracle for the whole pipeline.
- Empty clusters keep their previous centroid (both lanes), so k
  never silently shrinks.

The reference engine has no vector surface at all (SURVEY §2.2); this
is LLM-pipeline extension surface.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_lake_experiment_spark.functions.guards import null_checked
from delta_lake_experiment_spark.operators.similarity import l2_normalize


def _norm_checked(vec_col: str) -> Column:
    """l2-normalized vector with a NULL guard: a NULL embedding would
    otherwise ride the whole pipeline with a NULL cluster — silently
    unclustered, silently never paired, silently canonical. Raising
    mirrors the sampling/lm lanes' NULL-key contract."""
    return l2_normalize(
        null_checked(F.col(vec_col), "semantic_dedup", f"vector {vec_col!r}")
    )


def _dot_lit(vec: Column, c: Sequence[float]) -> Column:
    """Dot product of an array column with a literal centroid — one
    zip_with + left-to-right fold (the same fold order DuckDB's
    list_dot_product uses; existing embedding oracles hash-match at
    round-9, which certifies the two agree on this data).

    Measured alternative, rejected: unrolling to a k x dim
    element_at sum chain IS whole-stage-codegen-able (HOF lambdas are
    CodegenFallback) and bit-identical, but the 4096-term tree (k=8,
    dim=64) cost MORE in Catalyst analysis/codegen than the
    interpreter dispatches it saved (isolated sf0.1 run: construct
    5.7 s -> 10-15 s). The fold keeps the plan tree O(1) per
    centroid; bulk centroid assignment runs through
    :func:`_fold_argmax` instead of this expression."""
    return F.aggregate(
        F.zip_with(vec, F.lit([float(x) for x in c]), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_argmax(mat, C, round_digits: int, cc=None):
    """Index of the nearest centroid row of ``C`` for every row of
    ``mat`` (numpy float64) — THE certified assignment kernel, shared
    by every k-means / PQ pass here and value-identical to the DuckDB
    oracles' ``ORDER BY round(score) DESC, j ASC`` by construction:

    - dot products accumulate column-by-column over the dimension
      (``acc = acc + prod[:, d]``, vectorized across rows) — the exact
      left-to-right association of DuckDB's list_dot_product, NOT a
      BLAS gemm (pairwise summation order);
    - with ``cc`` (the euclidean lane: per-centroid self-dots) the
      score is ``2*dot - cc[j]``, else the plain dot;
    - rounding is the vectorized DuckDB replication
      (functions/rounding.py's scale/half-away/divide, applied with
      numpy primitives), so scores equal the ORACLE's to the bit;
    - ``np.argmax`` returns the FIRST maximum — the oracle's
      lower-index tie-break."""
    import numpy as np

    from delta_lake_experiment_spark.functions.rounding import (
        round_like_sql_np,
    )

    n = mat.shape[0]
    scores = np.empty((n, C.shape[0]), dtype=np.float64)
    for j in range(C.shape[0]):
        prod = mat * C[j]
        acc = np.zeros(n, dtype=np.float64)
        for d in range(prod.shape[1]):
            # in-place: identical left-to-right fold, no per-step
            # temporary (k x dim of them otherwise)
            np.add(acc, prod[:, d], out=acc)
        scores[:, j] = acc if cc is None else acc * 2.0 - cc[j]
    return np.argmax(round_like_sql_np(scores, int(round_digits)), axis=1)


def _assign_arrow(
    norm: DataFrame,
    vec_field: str,
    centroids: Sequence[Sequence[float]],
    round_digits: int,
) -> DataFrame:
    """The centroid assignment as one Arrow batch scan: same columns as
    ``norm`` plus ``__c`` (:func:`_fold_argmax`). An interpreted JVM
    higher-order fold would dispatch rows x k x dim lambda calls per
    pass (CodegenFallback — measured seconds per pass at sf0.1 across
    the four k-means consumers)."""
    import numpy as np

    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(list(pdf[vec_field]), dtype=np.float64)
            out = pdf.copy()
            out["__c"] = _fold_argmax(mat, C, round_digits).astype("int32")
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in norm.schema.fields
    )
    return norm.mapInPandas(run, f"{schema}, __c int")


def _seed_cached(frame: DataFrame, k: int, salt: str) -> list:
    """:func:`seed_centroids` over an already-prepared cached
    ``(i, v)`` frame (r17): the ordering expression is identical —
    ``md5(salt || i)`` ties by id — but the seed job reads the frame
    the Lloyd loop caches anyway instead of re-scanning and
    re-normalizing the source, so it doubles as the cache
    materializer (one fewer source pass per training call)."""
    if k < 1:
        raise ValueError(f"k={k!r} must be >= 1")
    rows = (
        frame.orderBy(
            F.md5(F.concat(F.lit(salt), F.col("i").cast("string"))), F.col("i")
        )
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def _lloyd_means_arrow(
    norm: DataFrame,
    vec_field: str,
    centroids: Sequence[Sequence[float]],
    round_digits: int,
) -> dict:
    """One FUSED Lloyd iteration (r17, guide §2.3 — aggregate before
    you shuffle, taken to its limit): assignment AND per-cluster
    partial sums in a single Arrow scan, combined driver-side with
    ``fsum`` — replacing the assignment pass PLUS a (dim+1)-column
    groupBy/collect per iteration with ONE job whose output is
    k×(dim+2) numbers. Assignments are :func:`_fold_argmax`'s, as in
    :func:`_assign_arrow`; the per-cluster MEANS differ from the
    oracle's ``AVG()`` only in summation association — ~1e-16 noise
    against the 1e-9 centroid grid, the module's standing
    partitioning-independence argument.
    Returns ``{cluster: [unrounded mean]}``; empty clusters are
    absent (callers keep the previous centroid)."""
    import math

    import numpy as np
    import pandas as pd

    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(list(pdf[vec_field]), dtype=np.float64)
            cl = _fold_argmax(mat, C, round_digits)
            cs, ns, ss = [], [], []
            for j in np.unique(cl):
                rows_j = mat[cl == j]
                cs.append(int(j))
                ns.append(int(rows_j.shape[0]))
                ss.append(rows_j.sum(axis=0).tolist())
            yield pd.DataFrame(
                {
                    "c": pd.Series(cs, dtype="int32"),
                    "n": pd.Series(ns, dtype="int64"),
                    "s": ss,
                }
            )

    parts = norm.mapInPandas(run, "c int, n long, s array<double>").collect()
    by_c: dict = {}
    for r in parts:
        by_c.setdefault(int(r["c"]), []).append((int(r["n"]), r["s"]))
    out = {}
    for c0, ps in by_c.items():
        ntot = sum(n for n, _ in ps)
        dim = len(ps[0][1])
        out[c0] = [
            math.fsum(float(s[d]) for _, s in ps) / ntot for d in range(dim)
        ]
    return out


def seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int, salt: str,
    normalize: bool = True,
) -> list:
    """The k vectors with the smallest ``md5(salt || id)`` (ties by
    id) — a deterministic uniform sample ANY engine can reproduce
    (unlike the xxhash64 IVF seeds). With ``normalize`` (the cosine
    lane) vectors are l2-normalized here — the whole lane works on
    the unit sphere (dot == cosine); the euclidean lane seeds raw
    vectors."""
    if k < 1:
        raise ValueError(f"k={k!r} must be >= 1")
    vec = (
        _norm_checked(vec_col)
        if normalize
        else null_checked(
            F.col(vec_col).cast("array<double>"),
            "seed_centroids",
            f"vector {vec_col!r}",
        )
    )
    rows = (
        df.select(F.col(id_col).alias("i"), vec.alias("v"))
        .orderBy(
            F.md5(F.concat(F.lit(salt), F.col("i").cast("string"))), F.col("i")
        )
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def deterministic_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    salt: str = "sem",
    round_digits: int = 9,
) -> list:
    """Lloyd's k-means with rounded, engine-reproducible steps; returns
    the final centroid list (each coordinate rounded). One distributed
    job per iteration: the fused Arrow scan of
    :func:`_lloyd_means_arrow` (assignment + per-cluster partial sums,
    k x (dim+2) numbers back)."""
    # normalize ONCE and keep the unit vectors cached across Lloyd
    # iterations (each iteration otherwise re-reads and re-normalizes
    # the source); fully consumed inside this call, so eagerly
    # released — the try/finally exception to the functions/cache.py
    # consumer-releases contract. Seeds come FROM the cached frame
    # (r17): same md5 ordering, one fewer source scan, and the seed
    # job doubles as the cache materializer.
    from delta_lake_experiment_spark.functions.rounding import round_like_sql

    norm = df.select(
        F.col(id_col).alias("i"), _norm_checked(vec_col).alias("v")
    ).persist()
    try:
        cents = _seed_cached(norm, k, salt)
        if not cents:
            raise ValueError("deterministic_kmeans: empty input")
        for _ in range(iters):
            means = _lloyd_means_arrow(norm, "v", cents, round_digits)
            # round_like_sql, not Python round: the one driver-side
            # rounding in this loop compared against DuckDB round
            # (functions/rounding.py contract; means are generic so
            # the two rarely split, but rarely is not never).
            # Empty clusters keep their previous centroid.
            cents = [
                [round_like_sql(x, round_digits) for x in means[j]]
                if j in means
                else cents[j]
                for j in range(len(cents))
            ]
    finally:
        norm.unpersist()
    return cents


def kmeans_assignments(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    salt: str = "sem",
    round_digits: int = 9,
) -> DataFrame:
    """(id_col, cluster) — just the deterministic k-means assignment,
    for consumers that want the CLUSTERING without the dedup pair
    search (topic reports, stratified sampling by semantic cluster,
    per-cluster routing). Same seeds/rounding/tie-breaks as
    :func:`semantic_dedup`; the oracle fragment is
    :func:`semantic_pair_ctes`'s ``sfinal``."""
    cents = deterministic_kmeans(
        df, id_col, vec_col, k=k, iters=iters, salt=salt,
        round_digits=round_digits,
    )
    return assign_to_centroids(
        df, id_col, vec_col, cents, round_digits=round_digits
    )


def assign_to_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "Sequence[Sequence[float]]",
    round_digits: int = 9,
) -> DataFrame:
    """(id_col, cluster) — assignment of each (l2-normalized) vector
    to its nearest centroid under the certified rounded-dot +
    lower-index tie-break semantics, for consumers that already HOLD
    a trained centroid list (the ANN recall report probes a
    deterministic_kmeans model whose centroids it also needs
    driver-side for probe selection — retraining inside
    kmeans_assignments would double the Lloyd work). Same oracle
    fragment as :func:`kmeans_assignments` (semantic_pair_ctes'
    ``sfinal``)."""
    norm = df.select(F.col(id_col), _norm_checked(vec_col).alias("__v"))
    return _assign_arrow(norm, "__v", centroids, round_digits).select(
        F.col(id_col), F.col("__c").alias("cluster")
    )


# -- certified EUCLIDEAN k-means (the PQ-subspace lane) -----------------
#
# Product quantization trains per-subspace codebooks under euclidean
# distance on raw (non-normalized) subvectors. argmin ||x - c_j||^2 ==
# argmax (2*dot(x, c_j) - dot(c_j, c_j)) — the ||x||^2 term is constant
# per row — so the engine-reproducible form is the cosine lane's
# rounded-argmax with a per-centroid self-dot adjustment. Every
# summation stays the pinned left-to-right fold; the adjustment is
# computed by each engine from the SAME grid-rounded centroid values
# (bit-equal by the fold contract), never shipped across.


def _pq_books_np(books: Sequence[Sequence[Sequence[float]]]):
    """``(Cs, ccs, sub)``: each codebook as a float64 matrix, its
    per-codeword self-dots (the pinned :func:`_fold_dot`, computed from
    the same grid-rounded values the oracle reads) and the subspace
    width — the euclidean inputs of :func:`_fold_argmax`."""
    import numpy as np

    from delta_lake_experiment_spark.operators.pca import _fold_dot

    Cs = [
        np.asarray([[float(x) for x in c] for c in book], dtype=np.float64)
        for book in books
    ]
    ccs = [
        np.asarray([_fold_dot(c, c) for c in book], dtype=np.float64)
        for book in books
    ]
    return Cs, ccs, Cs[0].shape[1]


def pq_assign_codes(
    df: DataFrame,
    vec_field: str,
    books: Sequence[Sequence[Sequence[float]]],
    round_digits: int,
) -> DataFrame:
    """Arrow pass computing ALL m subspace codes in one scan —
    :func:`_fold_argmax` with the euclidean ``2*dot - cc`` score per
    subspace. Adds ``__c0..__c{m-1}``."""
    import numpy as np

    Cs, ccs, sub = _pq_books_np(books)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(list(pdf[vec_field]), dtype=np.float64)
            out = pdf.copy()
            for s, (C, cc) in enumerate(zip(Cs, ccs)):
                sm = mat[:, s * sub:(s + 1) * sub]
                out[f"__c{s}"] = _fold_argmax(
                    sm, C, round_digits, cc
                ).astype("int32")
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    codes = ", ".join(f"__c{s} int" for s in range(len(books)))
    return df.mapInPandas(run, f"{schema}, {codes}")


def _pq_lloyd_means_arrow(
    raw: DataFrame,
    vec_field: str,
    books: Sequence[Sequence[Sequence[float]]],
    round_digits: int,
) -> dict:
    """The euclidean/subspace twin of :func:`_lloyd_means_arrow`
    (r17): ONE Arrow scan computes every subspace's codes (the
    ``2*dot − cc`` :func:`_fold_argmax` of :func:`pq_assign_codes`) AND
    the per-(subspace, codeword) partial sums — one job per iteration,
    no persisted code frame and no per-subspace ``groupBy``. Returns
    ``{(s, j): [unrounded mean over the s-slice]}``; empty codewords
    are absent. Same summation-association argument as the cosine
    twin."""
    import math

    import numpy as np
    import pandas as pd

    Cs, ccs, sub = _pq_books_np(books)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(list(pdf[vec_field]), dtype=np.float64)
            out_s, out_j, out_n, out_v = [], [], [], []
            for s, (C, cc) in enumerate(zip(Cs, ccs)):
                sm = mat[:, s * sub:(s + 1) * sub]
                cl = _fold_argmax(sm, C, round_digits, cc)
                for j in np.unique(cl):
                    rows_j = sm[cl == j]
                    out_s.append(int(s))
                    out_j.append(int(j))
                    out_n.append(int(rows_j.shape[0]))
                    out_v.append(rows_j.sum(axis=0).tolist())
            yield pd.DataFrame(
                {
                    "s": pd.Series(out_s, dtype="int32"),
                    "j": pd.Series(out_j, dtype="int32"),
                    "n": pd.Series(out_n, dtype="int64"),
                    "v": out_v,
                }
            )

    parts = raw.mapInPandas(run, "s int, j int, n long, v array<double>").collect()
    by_key: dict = {}
    for r in parts:
        by_key.setdefault((int(r["s"]), int(r["j"])), []).append(
            (int(r["n"]), r["v"])
        )
    out = {}
    for key, ps in by_key.items():
        ntot = sum(n for n, _ in ps)
        out[key] = [
            math.fsum(float(v[d]) for _, v in ps) / ntot for d in range(sub)
        ]
    return out


def deterministic_pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int = 16,
    iters: int = 1,
    salt: str = "pq",
    round_digits: int = 9,
) -> list:
    """``m`` product-quantization codebooks (each ``k`` codewords over
    the s-th equal slice of ``vec_col``) by EUCLIDEAN Lloyd iterations
    — :func:`deterministic_kmeans`'s engine-reproducibility contract
    (md5 seeds, grid-rounded means, empty-cluster carryover, rounded
    ``2*dot − cc`` argmax with lower-index ties) lifted to subspaces.
    Returns ``books[s][j] = codeword vector``. ``m=1`` degenerates to
    a plain certified euclidean k-means.

    One seed collect serves every subspace (the k lowest
    ``md5(salt || id)`` FULL vectors, sliced driver-side — standard PQ
    init: sample k training points); each iteration is ONE fused
    Arrow scan (:func:`_pq_lloyd_means_arrow`) that assigns all m
    subspaces and emits every per-(subspace, codeword) partial sum.
    The oracle fragment is :func:`pq_codebook_ctes` (one s-keyed
    chain, not m chains — the flat shape keeps DuckDB's planner linear
    in m)."""
    if m < 1:
        raise ValueError(f"m={m!r} must be >= 1")
    from delta_lake_experiment_spark.functions.rounding import round_like_sql

    raw = df.select(
        F.col(id_col).alias("i"),
        null_checked(
            F.col(vec_col).cast("array<double>"),
            "deterministic_pq_codebooks",
            f"vector {vec_col!r}",
        ).alias("v"),
    ).persist()
    try:
        # seeds from the cached frame (r17): same md5 ordering as
        # seed_centroids(normalize=False), one fewer source scan, and
        # the seed job materializes the cache the loop reuses
        seeds = _seed_cached(raw, k, salt)
        if not seeds:
            raise ValueError("deterministic_pq_codebooks: empty input")
        dim = len(seeds[0])
        if dim % m:
            raise ValueError(f"vector dim {dim} not divisible by m={m}")
        sub = dim // m
        books = [
            [list(s[sp * sub:(sp + 1) * sub]) for s in seeds]
            for sp in range(m)
        ]
        for _ in range(iters):
            # fused (r17): every subspace's codes + per-(s, j) sums in
            # ONE scan — no persisted code frame, no m groupBy jobs
            means = _pq_lloyd_means_arrow(raw, "v", books, round_digits)
            for s in range(m):
                books[s] = [
                    [round_like_sql(x, round_digits) for x in means[(s, j)]]
                    if (s, j) in means
                    else books[s][j]
                    for j in range(len(books[s]))
                ]
    finally:
        raw.unpersist()
    return books


def pq_codebook_ctes(
    src: str,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    iters: int,
    salt: str,
    round_digits: int = 9,
    prefix: str = "pq",
) -> str:
    """DuckDB chain re-deriving :func:`deterministic_pq_codebooks` —
    one FLAT s-keyed chain for all m subspaces (seeds, every Lloyd
    step, final codes), over ``src`` rows ``(id_col, vec_col
    DOUBLE[])``. Ends at ``{prefix}final`` (s, i, j) and
    ``{prefix}c{iters}`` (s, j, v). A per-subspace chain quadrupled
    DuckDB's PLANNING time (execution was 0.2 s while the wall was
    15-25 s — measured); the s-keyed shape keeps the CTE count
    constant in m."""
    if m < 1 or k < 1:
        raise ValueError(f"m={m!r} / k={k!r} must be >= 1")
    if iters < 0:
        raise ValueError(f"iters={iters!r} must be >= 0")
    p = prefix
    rd = int(round_digits)
    salt_lit = "'" + salt.replace("'", "''") + "'"
    score = (
        f"round(2 * list_dot_product(e.sv, c.v)"
        f" - list_dot_product(c.v, c.v), {rd})"
    )
    sub_expr = (
        f"v[CAST(t.s * (len(v) / {m}) + 1 AS INT)"
        f":CAST((t.s + 1) * (len(v) / {m}) AS INT)]"
    )
    ctes = [
        f"""{p}e AS MATERIALIZED (
  SELECT CAST(t.s AS INT) AS s, i, {sub_expr} AS sv
  FROM (SELECT {id_col} AS i, CAST({vec_col} AS DOUBLE[]) AS v FROM {src}),
       range({m}) t(s)
), {p}c0 AS MATERIALIZED (
  SELECT s, CAST(rn - 1 AS INT) AS j, sv AS v FROM (
    SELECT s, sv, ROW_NUMBER() OVER (
      PARTITION BY s ORDER BY md5({salt_lit} || CAST(i AS VARCHAR)), i
    ) AS rn FROM {p}e
  ) WHERE rn <= {k}
)"""
    ]
    for it in range(iters):
        ctes.append(
            f"""{p}a{it} AS MATERIALIZED (
  SELECT s, i, j FROM (
    SELECT e.s, e.i, c.j, ROW_NUMBER() OVER (
      PARTITION BY e.s, e.i ORDER BY {score} DESC, c.j ASC
    ) AS rn
    FROM {p}e e JOIN {p}c{it} c ON c.s = e.s
  ) WHERE rn = 1
), {p}m{it} AS MATERIALIZED (
  SELECT s, j, list(mv ORDER BY pos) AS v FROM (
    SELECT s, j, pos, round(AVG(val), {rd}) AS mv FROM (
      SELECT a.s AS s, a.j AS j,
             unnest(generate_series(1, len(e.sv))) AS pos,
             unnest(e.sv) AS val
      FROM {p}a{it} a JOIN {p}e e ON e.s = a.s AND e.i = a.i
    ) GROUP BY s, j, pos
  ) GROUP BY s, j
), {p}c{it + 1} AS MATERIALIZED (
  SELECT c.s, c.j, COALESCE(mm.v, c.v) AS v
  FROM {p}c{it} c LEFT JOIN {p}m{it} mm ON mm.s = c.s AND mm.j = c.j
)"""
        )
    ctes.append(
        f"""{p}final AS MATERIALIZED (
  SELECT s, i, j FROM (
    SELECT e.s, e.i, c.j, ROW_NUMBER() OVER (
      PARTITION BY e.s, e.i ORDER BY {score} DESC, c.j ASC
    ) AS rn
    FROM {p}e e JOIN {p}c{iters} c ON c.s = e.s
  ) WHERE rn = 1
)"""
    )
    return ",\n".join(ctes)


def _assigned_and_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    threshold: float,
    salt: str,
    round_digits: int,
    sim_digits: int,
    block_size: int = 4096,
) -> "tuple[DataFrame, DataFrame]":
    """Shared core: (assigned, pairs) where ``assigned`` is the
    persisted (``__i``, ``__v`` normalized, ``__c`` cluster) table and
    ``pairs`` the within-cluster cosine matches (id_a < id_b) at the
    ``sim_digits`` rounding grid.

    Clusters are TILED into sub-blocks of at most ~``block_size``
    vectors (``pmod(xxhash64(id), ceil(|c| / block_size))`` — the
    block-bundle pattern of
    operators/dedup.py::embedding_near_duplicates), each sub-block
    becomes one bundle row (``collect_list``), and every unordered
    sub-block pair within a cluster is scored with one numpy
    ``mat_a @ mat_b.T`` — BLAS throughput instead of one interpreted
    higher-order fold per candidate pair (CodegenFallback; measured
    ~3x on the sf0.1 fixture). Peak per-task memory is two bundles
    (~``block_size`` · dim · 8 B each) REGARDLESS of cluster skew — a
    degenerate k-means (under-k'd corpus, one giant cluster) costs
    quadratic flops, as SemDeDup inherently does, but never
    materializes more than two tiles in one Arrow row. BLAS sums
    pairwise vs the oracle's sequential fold: at the 1e-6 grid a
    discrepancy crossing a rounding boundary is astronomically rare
    (and the DuckDB oracle, :func:`semantic_pair_ctes`' ``sem_pairs``,
    re-certifies every run; tiled == single-tile is pytest-pinned).
    """
    import numpy as np
    import pandas as pd

    if block_size < 1:
        raise ValueError(f"block_size={block_size!r} must be >= 1")
    cents = deterministic_kmeans(
        df, id_col, vec_col, k=k, iters=iters, salt=salt,
        round_digits=round_digits,
    )
    base = df.select(
        F.col(id_col).alias("__i"), _norm_checked(vec_col).alias("__v")
    )
    # the assigned table feeds both sides of the pair join and the
    # final output; persist so normalization + assignment run once
    norm = _assign_arrow(base, "__v", cents, round_digits).persist()
    thr, rd = float(threshold), int(sim_digits)
    id_dt = df.schema[id_col].dataType.simpleString()
    # Per-cluster tile count: O(k) rows, broadcast back onto the
    # assigned table so the sub-block id is a map-side column.
    sizes = norm.groupBy("__c").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(int(block_size)))
        .cast("int")
        .alias("__nb")
    )
    bundles = (
        norm.join(F.broadcast(sizes), "__c")
        .withColumn(
            "__b",
            F.pmod(F.xxhash64(F.col("__i")), F.col("__nb")).cast("int"),
        )
        .groupBy("__c", "__nb", "__b")
        .agg(
            F.collect_list(
                F.struct(F.col("__i").alias("id"), F.col("__v").alias("v"))
            ).alias("bundle")
        )
    )
    # Every unordered sub-block pair (b, q), b <= q, within a cluster:
    # explode sequence(b, nb-1) on the left, equi-join the right bundle
    # on (cluster, q) — the P(P+1)/2 tile-pair plan.
    left = bundles.withColumnRenamed("bundle", "bundle_a").withColumn(
        "__q", F.explode(F.sequence(F.col("__b"), F.col("__nb") - 1))
    )
    right = bundles.select(
        "__c", F.col("__b").alias("__q"), F.col("bundle").alias("bundle_b")
    )
    joined = left.join(right, ["__c", "__q"])

    def _score(batches):
        for pdf in batches:
            parts = []
            for blk_b, blk_q, ba, bb in zip(
                pdf["__b"], pdf["__q"], pdf["bundle_a"], pdf["bundle_b"]
            ):
                ids_a = np.asarray([e["id"] for e in ba])
                ids_b = np.asarray([e["id"] for e in bb])
                mat_a = np.asarray([e["v"] for e in ba], dtype=np.float64)
                mat_b = np.asarray([e["v"] for e in bb], dtype=np.float64)
                cos = np.round(mat_a @ mat_b.T, rd)
                mask = cos >= thr
                if blk_b == blk_q:
                    mask &= ids_a[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(mask)
                if not len(ii):
                    continue
                ia, ib = ids_a[ii], ids_b[jj]
                # np.where, not np.minimum/maximum: the min/max
                # ufuncs have no string loops on numpy 1.x, and
                # id_dt is derived generically so string ids are
                # in-contract ('<' comparisons do support strings)
                lo = np.where(ia < ib, ia, ib)
                hi = np.where(ia < ib, ib, ia)
                parts.append(pd.DataFrame({"id_a": lo, "id_b": hi}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    pairs = joined.mapInPandas(_score, f"id_a {id_dt}, id_b {id_dt}")
    return norm, pairs


def semantic_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    salt: str = "sem",
    round_digits: int = 9,
    sim_digits: int = 6,
    block_size: int = 4096,
) -> DataFrame:
    """Just the (id_a, id_b) semantic near-duplicate edges — for
    composing with other pair generators (e.g. an ensemble dedup that
    unions lexical and semantic edges before ONE component
    resolution)."""
    _, pairs = _assigned_and_pairs(
        df, id_col, vec_col, k, iters, threshold, salt, round_digits,
        sim_digits, block_size,
    )
    return pairs


def semantic_index_ddl(id_col: str = "id") -> str:
    """Engine DDL for the persisted semantic-dedup index: one row per
    admitted document carrying its L2-NORMALIZED embedding and its
    cluster under the stored centroids (``cluster_by=["cluster"]`` or
    ``bucket_by=(["cluster"], n)`` makes the incremental probe prune
    to the touched clusters)."""
    return f"{id_col} bigint, cluster int, v array<double>"


def incremental_semantic_near_duplicates(
    index_vectors: DataFrame,
    new_vecs: DataFrame,
    centroids: "Sequence[Sequence[float]]",
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    round_digits: int = 9,
    sim_digits: int = 6,
    validate_new_ids: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """Ingest-time SEMANTIC dedup against a persisted embedding index
    — the embedding-space sibling of the lexical
    ``operators/dedup.py::incremental_verified_near_duplicates``
    family, completing the triad (shingle postings / LSH bands /
    embedding clusters). The admitted corpus is represented by
    ``index_vectors`` (:func:`semantic_index_ddl`: id, cluster,
    NORMALIZED vector — what this function returns for appending, so
    corpus text/embeddings are never re-read or re-normalized); only
    the incoming batch ``new_vecs`` (id_col, vec_col raw) is
    normalized and assigned, under the STORED ``centroids``
    (:func:`~delta_lake_experiment_spark.operators.ann_index.load_centroids`
    — the fixed-model half of the build/ingest split;
    ``build_ann_index``-style periodic retrains handle drift).

    Semantics: exactly the one-shot SemDeDup pairing over
    (corpus ∪ batch) under the FIXED centroids, restricted to pairs
    touching the batch — same-cluster candidates, exact rounded-dot
    cosine at the ``sim_digits`` grid, id_a < id_b, self-pairs
    structurally excluded (the lexical lane's ``__lid != __rid``
    discipline). A doc has ONE cluster, so each candidate pair arises
    exactly once — no dedup pass. Batch ids must be NEW (the family's
    ingest-not-update contract; the caller's admission anti-join
    guarantees it, as in streaming/ingest.py) — self-pairs are
    structurally excluded either way, and ``validate_new_ids=True``
    anti-join-asserts the disjointness up front exactly as the
    lexical lanes do (one O(index id column) job; one-off batch
    callers should run it). Stale entries of corpus-purged docs are
    removed with the family's shared
    :func:`~delta_lake_experiment_spark.operators.dedup.prune_table_by_live_ids`
    (one index table here, so call it directly inside a
    transaction).

    Returns ``(pairs, new_index_rows)``: ``pairs`` is (id_a, id_b,
    cosine); ``new_index_rows`` is the batch's (id, cluster, v) to
    append in the SAME transaction as the corpus admit. Candidate
    verification joins touch only the candidate clusters — with the
    index table clustered or bucketed on ``cluster``, the probe
    prunes to the batch's clusters and never scans the corpus.

    100 TB shape: cluster cells bound candidates the way band cells do
    in the LSH lane — and like there, a flood of identical embeddings
    degenerates one cell to K²; run exact dedup first, and retrain
    (re-shard clusters) when cells grow hot. ``pairs._cached_inputs``
    carries the batch-sized persist for the caller to release after
    commit (the family's cleanup contract)."""
    if not centroids:
        raise ValueError(
            "centroids must be non-empty — load them from the stored"
            " model (ann_index.load_centroids); an empty model would"
            " assign nothing and silently admit everything"
        )
    if validate_new_ids:
        dup_ids = (
            new_vecs.select(F.col(id_col))
            .distinct()
            .join(
                index_vectors.select(F.col(id_col)).distinct(),
                id_col,
                "left_semi",
            )
            .limit(5)
            .collect()
        )
        if dup_ids:
            raise ValueError(
                "batch ids must be disjoint from indexed ids (this is"
                " an ingest, not an update) — already-indexed id(s)"
                f" {sorted(r[0] for r in dup_ids)} found in the batch;"
                " anti-join the batch against the index first (the"
                " streaming sink's admission gate does)"
            )
    base = new_vecs.select(
        F.col(id_col), _norm_checked(vec_col).alias("__v")
    )
    assigned = _assign_arrow(base, "__v", centroids, round_digits)
    new_rows = assigned.select(
        F.col(id_col),
        F.col("__c").alias("cluster"),
        F.col("__v").alias("v"),
    ).persist()
    idx = index_vectors.select(F.col(id_col), F.col("cluster"), F.col("v"))
    nr = new_rows.select(
        F.col(id_col).alias("__rid"), "cluster", F.col("v").alias("__vb")
    )
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("__va"), F.col("__vb"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        sim_digits,
    )
    old_new = (
        idx.select(
            F.col(id_col).alias("__lid"), "cluster",
            F.col("v").alias("__va"),
        )
        .join(nr, "cluster")
        .filter(F.col("__lid") != F.col("__rid"))
    )
    new_new = (
        new_rows.select(
            F.col(id_col).alias("__lid"), "cluster",
            F.col("v").alias("__va"),
        )
        .join(nr, "cluster")
        .filter(F.col("__lid") < F.col("__rid"))
    )
    pairs = (
        old_new.unionByName(new_new)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least("__lid", "__rid").alias("id_a"),
            F.greatest("__lid", "__rid").alias("id_b"),
            "cosine",
        )
    )
    pairs._cached_inputs = (new_rows,)
    return pairs, new_rows


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    salt: str = "sem",
    round_digits: int = 9,
    sim_digits: int = 6,
    block_size: int = 4096,
) -> DataFrame:
    """(id_col, cluster, component, is_canonical) — the SemDeDup
    pipeline: deterministic k-means, within-cluster cosine pairs at
    ``>= threshold`` (rounded to ``sim_digits``), connected components
    over the pair graph, min-id canonical per duplicate group.
    ``filter(is_canonical)`` is the semantically deduplicated corpus.

    The pair search never leaves a cluster (pairs straddling a cluster
    boundary are missed — the SemDeDup trade by construction; raise
    ``k`` for tighter clusters or lower recall loss), so the join cost
    is sum over clusters of |cluster|^2, not N^2."""
    from delta_lake_experiment_spark.operators.cluster import assign_components

    norm, pairs = _assigned_and_pairs(
        df, id_col, vec_col, k, iters, threshold, salt, round_digits,
        sim_digits, block_size,
    )
    out = assign_components(
        norm.select(F.col("__i").alias(id_col), F.col("__c").alias("cluster")),
        pairs,
        id_col,
    )
    return out.select(
        id_col,
        "cluster",
        "component",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def semantic_pair_ctes(
    src: str,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    salt: str = "sem",
    round_digits: int = 9,
    sim_digits: int = 6,
) -> str:
    """The CTE fragment of the DuckDB twin, ending in ``sem_pairs``
    (id_a, id_b) plus ``sfinal`` (i, j cluster assignment) — for
    composing into larger oracles (semantic_dedup_sql, the ensemble
    dedup). Chained MATERIALIZED stages re-derive seed selection and
    every Lloyd step from the same hyperparameters as the operator
    (double-referenced chained CTEs inline exponentially otherwise —
    the BPE-oracle lesson)."""

    salt_lit = "'" + salt.replace("'", "''") + "'"
    norm = (
        f"CASE WHEN sqrt(list_dot_product(dv, dv)) > 0 THEN "
        f"list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv))) "
        f"ELSE dv END"
    )
    ctes = [
        f"""se AS MATERIALIZED (
  SELECT {id_col} AS i, {norm} AS v
  FROM (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS dv FROM {src})
), sc0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5({salt_lit} || CAST(i AS VARCHAR)), i) AS INT) - 1 AS j, v
  FROM (SELECT i, v FROM se ORDER BY md5({salt_lit} || CAST(i AS VARCHAR)), i LIMIT {k})
)"""
    ]
    for it in range(iters):
        ctes.append(
            f"""sa{it} AS MATERIALIZED (
  SELECT i, j FROM (
    SELECT se.i, c.j, ROW_NUMBER() OVER (
      PARTITION BY se.i
      ORDER BY round(list_dot_product(se.v, c.v), {round_digits}) DESC, c.j ASC
    ) AS rn
    FROM se, sc{it} c
  ) WHERE rn = 1
), sm{it} AS MATERIALIZED (
  SELECT j, list(m ORDER BY pos) AS v FROM (
    SELECT j, pos, round(AVG(val), {round_digits}) AS m FROM (
      SELECT a.j AS j,
             unnest(generate_series(1, len(se.v))) AS pos,
             unnest(se.v) AS val
      FROM sa{it} a JOIN se ON se.i = a.i
    ) GROUP BY j, pos
  ) GROUP BY j
), sc{it + 1} AS MATERIALIZED (
  SELECT c.j, COALESCE(m.v, c.v) AS v
  FROM sc{it} c LEFT JOIN sm{it} m ON m.j = c.j
)"""
        )
    ctes.append(
        f"""sfinal AS MATERIALIZED (
  SELECT i, j FROM (
    SELECT se.i, c.j, ROW_NUMBER() OVER (
      PARTITION BY se.i
      ORDER BY round(list_dot_product(se.v, c.v), {round_digits}) DESC, c.j ASC
    ) AS rn
    FROM se, sc{iters} c
  ) WHERE rn = 1
), sem_pairs AS MATERIALIZED (
  SELECT a.i AS id_a, b.i AS id_b
  FROM sfinal a JOIN sfinal b ON a.j = b.j AND a.i < b.i
  JOIN se ea ON ea.i = a.i JOIN se eb ON eb.i = b.i
  WHERE round(list_dot_product(ea.v, eb.v), {sim_digits}) >= {threshold}
)"""
    )
    return ",\n".join(ctes)


def semantic_dedup_sql(
    src: str,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    salt: str = "sem",
    round_digits: int = 9,
    sim_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` — machine-generated from
    the same hyperparameters: :func:`semantic_pair_ctes` (seeds, every
    Lloyd step, assignment, within-cluster pairs) plus the component
    fixpoint. Emits a complete query returning
    (id, cluster, component, is_canonical)."""
    comps = """edges AS (
  SELECT id_a AS a, id_b AS b FROM sem_pairs
  UNION ALL
  SELECT id_b, id_a FROM sem_pairs
), reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, w.r FROM edges e JOIN reach w ON w.id = e.b
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
)"""
    return (
        "WITH RECURSIVE "
        + semantic_pair_ctes(
            src, id_col, vec_col, k=k, iters=iters, threshold=threshold,
            salt=salt, round_digits=round_digits, sim_digits=sim_digits,
        )
        + ",\n"
        + comps
        + f"""
SELECT f.i AS {id_col}, f.j AS cluster,
  COALESCE(c.component, f.i) AS component,
  f.i = COALESCE(c.component, f.i) AS is_canonical
FROM sfinal f LEFT JOIN comp c ON c.id = f.i
"""
    )
