"""Word embeddings from corpus co-occurrence: PPMI + distributed
truncated eigendecomposition.

Levy & Goldberg 2014 ("Neural Word Embedding as Implicit Matrix
Factorization") showed word2vec's SGNS objective implicitly factorizes
the corpus PPMI matrix — so the classical pipeline (count co-occurrence
within a token window, transform to positive pointwise mutual
information, take the top-r spectral factors, scale rows by sqrt(λ))
produces embeddings of the same family, with every step expressible as
aggregations + linear algebra. This module builds that pipeline
Spark-first AND value-oracled:

- **Co-occurrence** is one bounded self-join (same doc, position
  distance <= window — never a corpus cross product) + a hash
  aggregation; **PPMI** is a map-only transform over the count table
  joined with two marginals.
- **The eigensolve is the NEW distributed-iteration pattern here**:
  unlike operators/pca.py (dim² covariance fits on the driver), the
  PPMI matrix is V×V and lives in a TABLE of (i, j, value) rows. Above
  a small vocabulary each power-iteration step is a DISTRIBUTED matvec
  — one map pass over the row-partitioned, cached matrix with the
  iterate in the closure — and only O(V) vector state ever reaches the
  driver (gated by ``max_vocab``, the repo's loud collect-gate
  convention). Deflation for components beyond the first
  NEVER densifies the matrix: ``M' v = M v − Σ_k λ_k u_k (u_k·v)``,
  and the correction terms are driver-side scalar×vector ops.
- **Engine reproducibility is the operators/pca.py discipline**, which
  this lane NEEDS, not just inherits: matvec inputs are grid-rounded
  (PPMI at 1e-6, iterate at 1e-9), i.e. grid-ALIGNED sums landing near
  decimal rounding midpoints — the exact regime where "close + rounded"
  fails. So every per-row dot folds the row's nonzeros in ascending-j
  order on BOTH engines (Spark: plain IEEE-double adds over each row's
  (i, j)-sorted entries; DuckDB: list_dot_product over two ``ORDER BY
  j`` lists — bit-identical fold), and every driver-side rounding is
  ``round_like_sql`` (DuckDB's scale/half-away/divide, bit-replicated).

The reference engine has no vector or functions surface (SURVEY §2.2);
this is LLM-pipeline extension surface (corpus-derived representations
for the similarity/analysis lanes).
"""

from __future__ import annotations

import math
from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_experiment_spark.functions.rounding import round_like_sql
from delta_lake_experiment_spark.operators.pca import _fold_dot


def tokenize_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, pos, word) — lowercase whitespace tokens with 0-based
    positions (the repo's standard tokenization; NULL text raises via
    the text-lane contract)."""
    toks = F.split(
        F.lower(
            F.trim(
                F.when(F.col(text_col).isNotNull(), F.col(text_col)).otherwise(
                    F.raise_error(
                        F.lit(
                            f"embeddings: {text_col} is NULL - must be"
                            " non-NULL (filter or coalesce upstream)"
                        )
                    )
                )
            )
        ),
        r"\s+",
    )
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(toks).alias("pos", "word"),
    )


def vocab_ids(
    tokens: DataFrame, max_vocab: int = 4096
) -> "list[tuple[str, int]]":
    """[(word, wid)] — dense ids 0..V-1 by (count DESC, word ASC): the
    deterministic rank both engines reproduce. One aggregation, one
    O(V) collect behind the ``max_vocab`` loud gate (the max_words
    convention: silently truncating the vocabulary would silently
    change every downstream matrix)."""
    counts = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("__c"))
    n = counts.count()
    if n > max_vocab:
        raise ValueError(
            f"vocabulary has {n} words > max_vocab={max_vocab} - raise"
            " the cap explicitly or filter the corpus (min-count) first"
        )
    rows = counts.orderBy(F.desc("__c"), F.asc("word")).collect()
    return [(r["word"], i) for i, r in enumerate(rows)]


def cooccurrence_counts(
    tokens: DataFrame, vocab: "list[tuple[str, int]]", window: int = 2
) -> DataFrame:
    """(i, j, cnt) — symmetric co-occurrence counts: every ordered
    token pair of the SAME document within ``window`` positions
    (excluding self-position), so cnt(i,j) == cnt(j,i) and each
    marginal is a plain row sum. The self-join is bounded by the
    window (|pairs| <= |tokens|·2·window), joined on the doc key —
    never quadratic in the corpus."""
    if window < 1:
        raise ValueError(f"window={window!r} must be >= 1")
    spark = tokens.sparkSession
    vdf = F.broadcast(
        spark.createDataFrame(list(vocab), "word string, wid int")
    )
    t = tokens.join(vdf, "word").select("doc", "pos", "wid")
    a = t.select(
        F.col("doc"), F.col("pos").alias("pa"), F.col("wid").alias("i")
    )
    b = t.select(
        F.col("doc"), F.col("pos").alias("pb"), F.col("wid").alias("j")
    )
    return (
        a.join(b, "doc")
        .filter(
            (F.col("pa") != F.col("pb"))
            & (F.abs(F.col("pa") - F.col("pb")) <= window)
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ppmi_matrix(cooc: DataFrame, ppmi_digits: int = 6) -> DataFrame:
    """(i, j, m) — positive pointwise mutual information
    ``max(0, ln(cnt·N / (c_i·c_j)))`` rounded to the matrix grid;
    zero entries are DROPPED (the matrix stays sparse — PPMI's point).
    Marginals are one aggregation each; N is their sum (symmetric
    counts make the row sum the marginal)."""
    ci = cooc.groupBy("i").agg(F.sum("cnt").alias("ci"))
    cj = cooc.groupBy("j").agg(F.sum("cnt").alias("cj"))
    n = cooc.agg(F.sum("cnt").alias("n"))
    pm = F.round(
        F.greatest(
            F.log(
                F.col("cnt").cast("double") * F.col("n")
                / (F.col("ci").cast("double") * F.col("cj"))
            ),
            F.lit(0.0),
        ),
        ppmi_digits,
    )
    return (
        cooc.join(ci, "i")
        .join(cj, "j")
        .crossJoin(F.broadcast(n))
        .select("i", "j", pm.alias("m"))
        .filter(F.col("m") > 0)
    )


def _matvec_arrow(matp: DataFrame, v: "list[float]") -> "dict[int, float]":
    """Distributed ``(M v)`` with the iterate in the CLOSURE instead of
    a V-element array literal (r17, guide §4 — the train_hashed_logreg
    treatment): a literal spelling re-ran Catalyst analysis + codegen
    over a 4096-element constant EVERY power-iteration step.
    ``matp`` must be hash-partitioned by ``i`` and sorted by (i, j)
    within partitions (prepared once, cached, by the caller), so each
    task streams its groups in order and folds each row's nonzeros in
    ascending-j sequence with plain IEEE-double adds — bit-identical
    to :func:`_matvec_local` and to DuckDB's ``list_dot_product`` over
    ``ORDER BY j`` lists (NO fsum/pairwise reassociation: PPMI sums are
    grid-aligned near rounding midpoints, the regime where "close +
    rounded" breaks — module docstring). One cache-local map job per
    step, no shuffle, constant plan."""
    import pandas as pd

    vv = [float(x) for x in v]

    def run(batches):
        cur = None
        acc = 0.0
        out_i: list = []
        out_d: list = []
        for pdf in batches:
            ii = pdf["i"].tolist()
            jj = pdf["j"].tolist()
            mm = pdf["m"].tolist()
            for r in range(len(ii)):
                i = ii[r]
                if i != cur:
                    if cur is not None:
                        out_i.append(cur)
                        out_d.append(acc)
                    cur = i
                    acc = 0.0
                acc = acc + mm[r] * vv[jj[r]]
        if cur is not None:
            out_i.append(cur)
            out_d.append(acc)
        yield pd.DataFrame(
            {
                "i": pd.Series(out_i, dtype="int64"),
                "d": pd.Series(out_d, dtype="float64"),
            }
        )

    out = matp.mapInPandas(run, "i long, d double").collect()
    return {int(r["i"]): float(r["d"]) for r in out}


# measured crossover (r17): below this vocabulary size the whole
# matrix is at most V² ≤ 65k entries — collect it ONCE and run every
# power-iteration step driver-side (identical ascending-j fold, zero
# per-step Spark jobs); above it, per-step literal planning grows
# with V while the Arrow closure pass stays flat, so the iteration
# stays distributed with the iterate in the closure
_MATVEC_ARROW_MIN_V = 256


def _matvec_local(by_i: "dict[int, list]", v: "list[float]") -> "dict[int, float]":
    """Driver-side ``(M v)`` over a pre-collected, ascending-j-sorted
    sparse matrix (r17): for V ≤ _MATVEC_ARROW_MIN_V the matrix is at
    most V² ≤ 65k entries (~1.5 MB) — far cheaper to fold in-process
    than to pay a Spark job per step (~0.2-0.3 s × r·(p_iters+1)
    steps on a cached KB-sized table, pure scheduling overhead).
    Python floats are IEEE doubles and the fold is the same
    left-to-right ascending-j sequence, so the result is bit-identical
    to :func:`_matvec_arrow` (pytest-pinned)."""
    out = {}
    for i, row in by_i.items():
        acc = 0.0
        for j, m in row:
            acc = acc + m * v[j]
        out[i] = acc
    return out


def _sign_fixed(v: "list[float]") -> "list[float]":
    am = max(range(len(v)), key=lambda i: (abs(v[i]), -i))
    return [-x for x in v] if v[am] < 0 else list(v)


def ppmi_topk_eigs(
    mat: DataFrame,
    size: int,
    r: int = 2,
    p_iters: int = 6,
    round_digits: int = 9,
) -> "list[tuple[float, list[float]]]":
    """Top-``r`` (eigenvalue, eigenvector) of the symmetric PPMI table
    by DISTRIBUTED power iteration with driver-side deflation
    corrections (never densifies the matrix). Every iterate coordinate
    is grid-rounded with the DuckDB-replicated rounding; the start
    vector is uniform round(1/sqrt(V)). Raises on a zero matvec
    (rank < r).

    The matvec tier is picked from the vocabulary size: at V <=
    ``_MATVEC_ARROW_MIN_V`` the (<= 65k entry) matrix is collected ONCE
    and every step folds driver-side — zero per-step Spark jobs, where
    job scheduling dominated (measured ~0.25 s/step of pure overhead);
    above it the matrix is partitioned by row ONCE and each step
    streams the iterate through a closure (:func:`_matvec_arrow`) —
    constant plan, no per-step Catalyst/codegen over a V-element
    literal (a literal fold's planning grew with V: 0.95 s/step at
    V=1024, 2.7 s at V=4096; the Arrow pass is flat ~0.4 s and the
    matrix no longer belongs on the driver). Both tiers run the
    identical ascending-j sequential fold (pytest-pinned equal
    trajectories; requires unique (i, j) entries, which an aggregated
    co-occurrence matrix has by construction)."""
    if not 1 <= r:
        raise ValueError(f"r={r!r} must be >= 1")
    if p_iters < 1:
        raise ValueError(f"p_iters={p_iters!r} must be >= 1")
    rd = int(round_digits)
    V = int(size)
    if V <= _MATVEC_ARROW_MIN_V:
        by_i: dict = {}
        for row in mat.select("i", "j", "m").collect():
            by_i.setdefault(int(row["i"]), []).append(
                (int(row["j"]), float(row["m"]))
            )
        for entries in by_i.values():
            entries.sort()
        return _power_iterate(
            lambda v: _matvec_local(by_i, v), V, r, p_iters, rd
        )
    # one shuffle + per-partition sort, cached for ALL r*(p_iters+1)
    # matvec steps: each group's rows sit contiguous and ascending-j in
    # one partition, so every step is a cache-local map job
    mat = mat.repartition("i").sortWithinPartitions("i", "j").persist()
    try:
        return _power_iterate(
            lambda v: _matvec_arrow(mat, v), V, r, p_iters, rd
        )
    finally:
        mat.unpersist()


def _power_iterate(
    step, V: int, r: int, p_iters: int, rd: int
) -> "list[tuple[float, list[float]]]":
    """The tier-independent power-iteration/deflation loop of
    :func:`ppmi_topk_eigs`: ``step(v) -> {i: (M v)_i}`` is whichever
    matvec tier the vocabulary size picked; everything driver-side here
    (deflation, rounding, normalization, sign fixing) is one spelling
    for both tiers, so they cannot drift."""
    out: List[Tuple[float, List[float]]] = []
    v0 = round_like_sql(1.0 / math.sqrt(V), rd)
    for _ in range(r):
        v = [v0] * V
        for _ in range(p_iters):
            mv = step(v)
            w = [mv.get(i, 0.0) for i in range(V)]
            # deflation: w -= sum_k lam_k * u_k * (u_k . v); the
            # scalar is the pinned ascending-j fold, the update a
            # driver-side O(V) op — each coordinate rounded like
            # every other matvec coordinate
            for lam, u in out:
                s = _fold_dot(u, v)
                w = [w[i] - lam * u[i] * s for i in range(V)]
            w = [round_like_sql(x, rd) for x in w]
            n2 = round_like_sql(_fold_dot(w, w), rd)
            nrm = round_like_sql(math.sqrt(n2), rd)
            if nrm == 0:
                raise ValueError(
                    "ppmi_topk_eigs: zero matvec - matrix rank is"
                    " below r; lower r"
                )
            v = [round_like_sql(x / nrm, rd) for x in w]
        mv = step(v)
        u = [mv.get(i, 0.0) for i in range(V)]
        for lam0, uk in out:
            s = _fold_dot(uk, v)
            u = [u[i] - lam0 * uk[i] * s for i in range(V)]
        u = [round_like_sql(x, rd) for x in u]
        lam = round_like_sql(_fold_dot(v, u), rd)
        out.append((lam, _sign_fixed(v)))
    return out


def word_vectors(
    vocab: "list[tuple[str, int]]",
    eigs: "list[tuple[float, list[float]]]",
    out_digits: int = 6,
) -> "list[tuple]":
    """[(word, e1..er)] — the Levy–Goldberg symmetric factorization:
    row i of the embedding is ``sqrt(max(λ_k, 0)) · u_k[i]`` per
    component, rounded to the report grid."""
    rows = []
    for word, wid in vocab:
        vec = []
        for lam, u in eigs:
            s = math.sqrt(lam) if lam > 0 else 0.0
            vec.append(round_like_sql(s * u[wid], out_digits))
        rows.append((word, *vec))
    return rows


# ---------------------------------------------------------------------------
# DuckDB value-oracle twin — machine-generated from the same
# hyperparameters (the pca.py chain pattern, with TABLE vectors:
# every matvec is a JOIN + ordered-list fold instead of a literal
# matrix, mirroring the Spark side's distributed shape).
# ---------------------------------------------------------------------------


def word_vectors_sql(
    src: str,
    id_col: str,
    text_col: str,
    window: int = 2,
    r: int = 2,
    p_iters: int = 6,
    max_vocab: int = 4096,
    ppmi_digits: int = 6,
    round_digits: int = 9,
    out_digits: int = 6,
) -> str:
    """Full twin: tokenize → vocab ranks (with the max_vocab error()
    gate) → windowed co-occurrence → PPMI → every distributed-matvec
    power-iteration step (ordered-list folds) → deflation → sqrt(λ)
    scaling. Emits (word, e1..e{r})."""
    if window < 1:
        raise ValueError(f"window={window!r} must be >= 1")
    if r < 1 or p_iters < 1:
        raise ValueError(f"r={r!r} / p_iters={p_iters!r} must be >= 1")
    rd = int(round_digits)
    ctes = [
        rf"""wet AS MATERIALIZED (
  SELECT {id_col} AS doc,
    unnest(generate_series(0, len(t) - 1)) AS pos,
    unnest(t) AS word
  FROM (
    SELECT {id_col},
      string_split_regex(lower(trim(
        CASE WHEN {text_col} IS NULL THEN CAST(error('embeddings:'
          || ' {text_col} is NULL - must be non-NULL (filter or'
          || ' coalesce upstream)') AS VARCHAR)
        ELSE {text_col} END)), '\s+') AS t
    FROM {src}
  )
)""",
        f"""wev AS MATERIALIZED (
  SELECT word,
    CAST(CASE WHEN vtot > {int(max_vocab)}
      THEN error('embeddings oracle: vocabulary exceeds max_vocab={int(max_vocab)}'
                 || ' - raise the cap explicitly or filter the corpus first')
      ELSE rn END AS INT) - 1 AS wid
  FROM (
    SELECT word, ROW_NUMBER() OVER (ORDER BY c DESC, word ASC) AS rn,
           COUNT(*) OVER () AS vtot
    FROM (SELECT word, COUNT(*) AS c FROM wet GROUP BY word)
  )
)""",
        f"""wevn AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS INT) AS vn FROM wev
)""",
        f"""wec AS MATERIALIZED (
  SELECT a.wid AS i, b.wid AS j, COUNT(*) AS cnt
  FROM (SELECT t.doc, t.pos, v.wid FROM wet t JOIN wev v USING (word)) a
  JOIN (SELECT t.doc, t.pos, v.wid FROM wet t JOIN wev v USING (word)) b
    ON a.doc = b.doc AND a.pos <> b.pos AND abs(a.pos - b.pos) <= {int(window)}
  GROUP BY 1, 2
)""",
        f"""wem AS MATERIALIZED (
  SELECT i, j, m FROM (
    SELECT c.i, c.j,
      round(greatest(ln(CAST(c.cnt AS DOUBLE) * n.n
                        / (CAST(ci.ci AS DOUBLE) * cj.cj)), 0.0),
            {int(ppmi_digits)}) AS m
    FROM wec c
    JOIN (SELECT i, SUM(cnt) AS ci FROM wec GROUP BY i) ci ON ci.i = c.i
    JOIN (SELECT j, SUM(cnt) AS cj FROM wec GROUP BY j) cj ON cj.j = c.j
    CROSS JOIN (SELECT SUM(cnt) AS n FROM wec) n
  ) WHERE m > 0
)""",
        # dense index domain 0..V-1 (matvec rows with no nonzeros are 0)
        """weidx AS MATERIALIZED (
  SELECT CAST(unnest(generate_series(0, (SELECT vn FROM wevn) - 1)) AS INT) AS i
)""",
    ]
    # start vector: uniform round(1/sqrt(V)) — V resolved in-query
    ctes.append(
        f"""wv0 AS MATERIALIZED (
  SELECT i, round(1.0 / sqrt(CAST((SELECT vn FROM wevn) AS DOUBLE)), {rd}) AS val
  FROM weidx
)"""
    )

    def matvec(dst: str, vec: str, comp: int) -> str:
        """dst(i, val) = M @ vec - deflation corrections, UNROUNDED."""
        corrections = ""
        for kk in range(comp):
            corrections += (
                f"\n    - we{kk}lam.l * COALESCE(uk{kk}.val, 0.0) *"
                f" (SELECT list_dot_product(list(u.val ORDER BY u.i),"
                f" list(vv.val ORDER BY vv.i))"
                f" FROM weu{kk} u JOIN {vec} vv ON vv.i = u.i)"
            )
        joins = "".join(
            f"\n  LEFT JOIN weu{kk} uk{kk} ON uk{kk}.i = d.i, we{kk}lam"
            for kk in range(comp)
        )
        return f"""{dst} AS MATERIALIZED (
  SELECT d.i, COALESCE(mv.d, 0.0){corrections} AS val
  FROM weidx d
  LEFT JOIN (
    SELECT m.i, list_dot_product(list(m.m ORDER BY m.j),
                                 list(v.val ORDER BY m.j)) AS d
    FROM wem m JOIN {vec} v ON v.i = m.j
    GROUP BY m.i
  ) mv ON mv.i = d.i{joins}
)"""

    for comp in range(r):
        cur = f"wv{comp}_0"
        ctes.append(
            f"""{cur} AS MATERIALIZED (SELECT i, val FROM wv0)"""
        )
        for t in range(p_iters):
            wname = f"ww{comp}_{t}"
            wr = f"wwr{comp}_{t}"
            nn = f"wn{comp}_{t}"
            nxt = f"wv{comp}_{t + 1}"
            ctes.append(matvec(wname, cur, comp))
            ctes.append(
                f"""{wr} AS MATERIALIZED (
  SELECT i, round(val, {rd}) AS val FROM {wname}
), {nn} AS MATERIALIZED (
  SELECT round(sqrt(round((SELECT list_dot_product(list(val ORDER BY i),
                                                   list(val ORDER BY i))
                           FROM {wr}), {rd})), {rd}) AS nrm
), {nxt} AS MATERIALIZED (
  SELECT w.i,
    CASE WHEN n.nrm = 0
      THEN error('ppmi_topk_eigs oracle: zero matvec - rank below r')
      ELSE round(w.val / n.nrm, {rd}) END AS val
  FROM {wr} w, {nn} n
)"""
            )
            cur = nxt
        uname = f"weu{comp}_raw"
        ctes.append(matvec(uname, cur, comp))
        ctes.append(
            f"""weu{comp}_r AS MATERIALIZED (
  SELECT i, round(val, {rd}) AS val FROM {uname}
), we{comp}lam AS MATERIALIZED (
  SELECT round((SELECT list_dot_product(list(v.val ORDER BY v.i),
                                        list(u.val ORDER BY v.i))
                FROM {cur} v JOIN weu{comp}_r u ON u.i = v.i), {rd}) AS l
), we{comp}sgn AS MATERIALIZED (
  SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS sg
  FROM {cur} ORDER BY abs(val) DESC, i ASC LIMIT 1
), weu{comp} AS MATERIALIZED (
  SELECT v.i, v.val * s.sg AS val FROM {cur} v, we{comp}sgn s
)"""
        )
    scale_cols = ", ".join(
        f"""round(CASE WHEN we{k}lam.l > 0 THEN sqrt(we{k}lam.l) ELSE 0.0 END
        * u{k}.val, {int(out_digits)}) AS e{k + 1}"""
        for k in range(r)
    )
    lam_joins = "".join(
        f"\n  JOIN weu{k} u{k} ON u{k}.i = v.wid, we{k}lam" for k in range(r)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v.word, {scale_cols}
FROM wev v{lam_joins}
"""
    )
