"""Hashed-feature logistic-regression document classifier.

The quality-filter step real LLM-data pipelines run after heuristics:
train a cheap linear classifier (fastText-style — hashing-trick bag of
words, logistic loss) on weak labels, then score the whole corpus and
gate on the probability. Heuristics (operators/text.py) are the usual
weak-label source: the classifier generalizes them (it can pass a doc
the length heuristic would reject because its vocabulary matches the
positive class) and costs one map-only pass to apply at 100 TB.

100 TB design — the "aggregate distributed, iterate on metadata"
pattern (same as BPE training and IVF centroid refinement here):
- **Featurize** is pure JVM columns: tokenize, md5-hash each token to
  one of ``dim`` buckets, keep the DISTINCT bucket set per doc (binary
  bag-of-words; presence, not counts — bounded per-doc work and the
  standard hashing-trick classifier input).
- **Each training iteration** is ONE distributed job: one Arrow scan
  scores every doc against the current weights (weights ride in the
  closure — no join, and the plan is identical across iterations;
  ``dim`` is small by construction) and emits one partial gradient of
  ``dim + 1`` numbers per batch; the O(batches) partials are collected
  and ``fsum``-combined on the driver. Full-batch gradient descent:
  deterministic given the corpus — no sampling, no per-partition RNG.
- **The weight update runs on the driver** over O(dim) floats, and
  weights are ROUNDED to ``round_digits`` each iteration: distributed
  double addition is order-sensitive at ~1e-16, and rounding to a grid
  far coarser than that noise (but far finer than the signal) pins the
  whole trajectory — the DuckDB oracle that re-derives every iteration
  as chained CTEs (workloads/extensions.py) lands on identical
  weights, so TRAINING is value-certified, not just scoring.
- **Scoring** is map-only with literal weights; no shuffle at all.

The reference engine has no functions surface (SURVEY §2.2); this is
LLM-pipeline extension surface.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_lake_experiment_spark.functions.guards import null_checked

#: bias lives in the weight table under this pseudo-feature id
BIAS_FEATURE = -1


def _bucket(tok: Column, dim: int) -> Column:
    """md5-derived feature bucket in [0, dim) — engine-portable: the
    same 15-hex-digit prefix -> integer -> mod idiom as the simhash and
    shard lanes (``('0x' || substr(md5(tok), 1, 15))::BIGINT % dim`` in
    DuckDB; both sides are non-negative so ``%`` == ``pmod``)."""
    h = F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(dim))


def hashed_feature_sets(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """(id_col, feats: array<long>) — the DISTINCT hashed token buckets
    per document (binary hashing-trick features). NULL text is treated
    as empty text (one bucket: md5 of the empty token)."""
    if dim < 2:
        raise ValueError(f"dim={dim!r} must be >= 2")
    toks = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    feats = F.array_distinct(F.transform(toks, lambda t: _bucket(t, dim)))
    return df.select(F.col(id_col), feats.alias("feats"))


def _margin(weights: Sequence[float], bias: float) -> Column:
    """bias + sum of weights over the doc's ``feats`` bucket set, as a
    flat conditional sum ``bias + Σ_f (feats contains f ? w_f : 0)``
    — whole-stage-codegen'd (array_contains + Add), where the
    equivalent fold over the feats array is an interpreted
    CodegenFallback lambda per element (measured: the fold dominated
    each GD job at sf0.1). Summation runs in bucket order instead of
    the feats array's order; the difference is ~1e-16 reassociation
    noise per doc, immaterial against the 1e-9 training grid and the
    1e-6 scoring grid (the module's engine-reproducibility argument —
    the DuckDB twin already sums in its own order).

    Zero-weight terms are skipped — exact, not an approximation:
    adding 0.0 to a finite double is the identity, and buckets keep
    w=0 only while untouched by every update. (An array-literal
    spelling — one codegen reference object instead of ``dim`` inlined
    scalars — was tried in the r16 optimization round to stabilize the
    generated source across GD iterations; ConstantFolding folds
    ``literal_array[literal_idx]`` straight back to inlined scalars,
    so training avoids per-iteration recompiles via the Arrow gradient
    pass instead, and this scoring-side expression compiles
    once per model either way.)"""
    expr: Column = F.lit(float(bias))
    for f, w in enumerate(weights):
        if float(w) != 0.0:
            expr = expr + F.when(
                F.array_contains(F.col("feats"), F.lit(f).cast("long")),
                F.lit(float(w)),
            ).otherwise(F.lit(0.0))
    return expr


def train_hashed_logreg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    dim: int = 64,
    iters: int = 8,
    lr: float = 0.5,
    round_digits: int = 9,
    feature_sets: "DataFrame | None" = None,
) -> "tuple[list[float], float]":
    """Full-batch gradient-descent logistic regression on hashed binary
    features; returns ``(weights, bias)`` — ``weights[f]`` for buckets
    ``0..dim-1``, plus the intercept.

    Each iteration is ONE job, as in :func:`train_hashed_softmax`:
    :func:`_logreg_grad_arrow` computes per-batch numpy partial
    gradients in one mapInPandas scan, fsum-combined on the driver —
    the plan is identical across iterations, so Catalyst analysis +
    codegen run once instead of once PER ITERATION (a flat conditional
    aggregation re-inlines each iteration's weights as literals;
    measured ~1–2 s of planning/compile per step at sf0.1,
    data-size-independent). The pure-Python and DuckDB
    (:func:`hashed_logreg_sql`) references land on the same rounded
    trajectory (pytest-pinned; the module's 1e-9-grid reassociation
    argument).

    ``label_col`` must be 0/1 (weak labels — e.g. a heuristic quality
    gate); NULL labels raise (a silently-dropped row would make the
    trained model partition-dependent). Gradient of the mean logistic
    loss: ``g_f = sum over docs containing f of (p - y) / N`` and
    ``g_bias = sum over all docs of (p - y) / N``; update
    ``w <- round(w - lr * g, round_digits)`` (the rounding grid is what
    makes the trajectory engine-reproducible — see module docstring).

    ``feature_sets`` optionally supplies a prebuilt
    :func:`hashed_feature_sets` result (``(id_col, feats)``, same
    ``dim``) so a pipeline that trains AND scores over one corpus
    tokenizes+hashes it once — the caller owns that frame's cache
    lifecycle; the label join and the loop's own persist are
    unchanged.
    """
    if iters < 1:
        raise ValueError(f"iters={iters!r} must be >= 1")
    fsets = (
        feature_sets
        if feature_sets is not None
        else hashed_feature_sets(df, id_col, text_col, dim)
    )
    feats = fsets.join(
        df.select(
            F.col(id_col),
            null_checked(
                F.col(label_col), "train_hashed_logreg", f"label {label_col!r}"
            )
            .cast("double")
            .alias("__y"),
        ),
        id_col,
    )
    # the featurized corpus feeds every iteration; persist it so the
    # tokenize+hash work runs once, not ``iters`` times (at true 100 TB
    # scale one would instead write it to a table — the recompute-vs-
    # cache call belongs to the caller's storage budget, the loop only
    # needs SOME materialization of this one intermediate)
    feats = feats.persist()
    n = feats.count()  # also materializes the persist
    if n == 0:
        raise ValueError("train_hashed_logreg: empty input")
    w = [0.0] * dim
    bias = 0.0
    try:
        for _ in range(iters):
            gb, g = _logreg_grad_arrow(feats, w, bias, n, dim)
            bias = round(bias - lr * gb, round_digits)
            for f in range(dim):
                # an untouched bucket has an exact-zero gradient:
                # w - lr*0 == w, already on the grid
                w[f] = round(w[f] - lr * g[f], round_digits)
    finally:
        feats.unpersist()
    return w, bias


def score_hashed_logreg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: Sequence[float],
    bias: float,
    prob_digits: int = 6,
    feature_sets: "DataFrame | None" = None,
) -> DataFrame:
    """(id_col, prob, keep) — sigmoid score under a trained model and
    the >= 0.5 gate, map-only (weights are a literal array; no join,
    no shuffle). ``prob`` is rounded for oracle comparability.
    ``feature_sets`` reuses a prebuilt featurization (the
    train-then-score pipeline shape — see train_hashed_logreg)."""
    feats = (
        feature_sets
        if feature_sets is not None
        else hashed_feature_sets(df, id_col, text_col, len(weights))
    )
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(weights, bias))),
        prob_digits,
    )
    return feats.select(
        F.col(id_col),
        prob.alias("prob"),
        (prob >= 0.5).alias("keep"),
    )


def _class_checked(label: Column, classes: Sequence[str]) -> Column:
    """``label``, or an execution-time raise when NULL or outside
    ``classes`` — an unknown label would otherwise train as
    all-negative (every indicator 0), silently biasing every class
    toward "not this" instead of failing loudly (the NULL-label
    contract, extended to the closed class set)."""
    return F.when(label.isin(*[str(c) for c in classes]), label).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "train_hashed_softmax: label must be one of "
                    f"{list(classes)!r}, got "
                ),
                F.coalesce(label.cast("string"), F.lit("NULL")),
            )
        )
    )


def _logreg_grad_arrow(
    feats: DataFrame,
    w: "list[float]",
    bias: float,
    n: int,
    dim: int,
) -> "tuple[float, list[float]]":
    """One full-batch LOGISTIC gradient via a single Arrow pass — the
    binary sibling of :func:`_softmax_grad_arrow`, added in the r16
    optimization round for the same reason the softmax lane grew one:
    the flat (dim+1)-column conditional aggregation re-inlines the
    iteration's weights as scalar literals, so EVERY GD step paid a
    fresh Catalyst-plan + janino compile (~1–2 s/iteration at sf0.1,
    data-size-independent — the cost was planning, not data). Here the
    weights live in the closure, the plan is identical across
    iterations, and the per-batch math is one numpy indicator gemm.
    Partials are combined on the driver with ``math.fsum`` (exact,
    hence batch-order-independent); the result differs from the JVM
    aggregation only in summation order — ~1e-15 noise against the
    1e-9 update grid, the module's standing partitioning-independence
    argument (trajectory equality vs the pure-Python reference is
    pytest-pinned, and the DuckDB oracle re-derives the full
    trajectory per run)."""
    import math

    import numpy as np
    import pandas as pd

    W = np.asarray(w, dtype=np.float64)
    b = float(bias)

    def run(batches):
        for pdf in batches:
            nb = len(pdf)
            if not nb:
                continue
            ind = np.zeros((nb, dim), dtype=np.float64)
            for r, fl in enumerate(pdf["feats"]):
                ind[r, np.asarray(fl, dtype=np.int64)] = 1.0
            z = ind @ W + b
            p = 1.0 / (1.0 + np.exp(-z))
            resid = (p - pdf["__y"].to_numpy(dtype=np.float64)) / float(n)
            yield pd.DataFrame(
                {"gb": [float(resid.sum())], "g": [(resid @ ind).tolist()]}
            )

    # project to exactly the two columns the kernel reads — an opaque
    # function over extra columns would ship (and cache-scan) them all
    # (guide §4: pass only what the function needs)
    rows = (
        feats.select("feats", "__y")
        .mapInPandas(run, "gb double, g array<double>")
        .collect()
    )
    gb = math.fsum(float(r["gb"]) for r in rows)
    g = [math.fsum(float(r["g"][f]) for r in rows) for f in range(dim)]
    return gb, g


def _softmax_grad_arrow(
    feats: DataFrame,
    w: "list[list[float]]",
    bias: "list[float]",
    n: int,
    dim: int,
) -> "tuple[list[float], list[list[float]]]":
    """One full-batch softmax gradient via a single Arrow pass:
    per-batch numpy partials (indicator gemm), combined on the driver
    with ``math.fsum`` (exact, hence batch-order-independent). The
    per-doc arithmetic differs from the JVM margin expressions only in
    summation order — ~1e-15 noise against the 1e-9 update grid, the
    module's standing partitioning-independence argument. Exists
    because the K·(dim+1)-column conditional aggregation is
    CATALYST-PLANNING-bound at K=5 (sf0.001 was as slow as sf0.1 —
    ~2.3 s of analysis/codegen per iteration for a ~500-expression
    tree); this pass plans in constant time."""
    import math

    import numpy as np
    import pandas as pd

    K = len(bias)
    W = np.asarray(w, dtype=np.float64)
    B = np.asarray(bias, dtype=np.float64)
    ycols = [f"__y{c}" for c in range(K)]

    def run(batches):
        for pdf in batches:
            nb = len(pdf)
            if not nb:
                continue
            ind = np.zeros((nb, W.shape[1]), dtype=np.float64)
            for r, fl in enumerate(pdf["feats"]):
                ind[r, np.asarray(fl, dtype=np.int64)] = 1.0
            Z = ind @ W.T + B
            P = np.exp(Z)
            P /= P.sum(axis=1, keepdims=True)
            Y = pdf[ycols].to_numpy(dtype=np.float64)
            R = (P - Y) / float(n)
            G = R.T @ ind
            yield pd.DataFrame(
                {"gb": [R.sum(axis=0).tolist()], "g": [G.ravel().tolist()]}
            )

    # project to exactly the columns the kernel reads (guide §4)
    rows = (
        feats.select("feats", *ycols)
        .mapInPandas(run, "gb array<double>, g array<double>")
        .collect()
    )
    gb = [math.fsum(float(r["gb"][c]) for r in rows) for c in range(K)]
    g = [
        [
            math.fsum(float(r["g"][c * dim + f]) for r in rows)
            for f in range(dim)
        ]
        for c in range(K)
    ]
    return gb, g


def train_hashed_softmax(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    classes: Sequence[str],
    dim: int = 64,
    iters: int = 8,
    lr: float = 0.5,
    round_digits: int = 9,
    feature_sets: "DataFrame | None" = None,
) -> "tuple[list[list[float]], list[float]]":
    """Full-batch gradient-descent SOFTMAX (multinomial logistic)
    regression on hashed binary features — the K-class extension of
    :func:`train_hashed_logreg`, and the fastText-style language
    identifier every per-language pipeline gate needs when the crawl
    has no ground-truth ``lang`` column. Returns ``(weights, biases)``
    with ``weights[c][f]`` / ``biases[c]`` in ``classes`` order.

    Math (mean cross-entropy): ``z_c = b_c + Σ_{f∈doc} w_{c,f}``,
    ``p_c = exp(z_c) / Σ_c' exp(z_c')``, gradient
    ``g_{c,f} = Σ_{docs∋f} (p_c − 1[y=c]) / N``; update
    ``w ← round(w − lr·g, round_digits)``.

    Engine reproducibility inherits the binary lane's argument with
    one addition: the softmax denominator is an EXPLICIT left-to-right
    ``exp(z_0) + exp(z_1) + …`` chain in ``classes`` order on both
    engines (the oracle folds an ORDER BY c list the same way), so the
    only cross-engine noise is the per-class margin's ~1e-16
    reassociation — absorbed by the 1e-9 update grid exactly as in
    :func:`train_hashed_logreg`.

    Plan shape per iteration: ONE distributed job —
    :func:`_softmax_grad_arrow` computes per-batch numpy partial
    gradients in one mapInPandas scan, fsum-combined on the driver —
    constant plan size, so Catalyst analysis cost does not scale with
    K·dim (a flat K·(dim+1)-column conditional aggregation measured
    ~2.3 s of planning PER ITERATION at K=5·dim=32 —
    data-size-independent). The update runs driver-side on O(K·dim)
    floats. Labels outside ``classes`` (or NULL) raise in-plan
    (:func:`_class_checked`)."""
    if iters < 1:
        raise ValueError(f"iters={iters!r} must be >= 1")
    cls = [str(c) for c in classes]
    if len(cls) < 2:
        raise ValueError(f"classes={classes!r} must have >= 2 entries")
    if len(set(cls)) != len(cls):
        raise ValueError(f"classes={classes!r} must be unique")
    K = len(cls)
    fsets = (
        feature_sets
        if feature_sets is not None
        else hashed_feature_sets(df, id_col, text_col, dim)
    )
    lab = _class_checked(F.col(label_col), cls)
    feats = fsets.join(
        df.select(
            F.col(id_col),
            *[
                F.when(lab == c, F.lit(1.0)).otherwise(F.lit(0.0)).alias(f"__y{j}")
                for j, c in enumerate(cls)
            ],
        ),
        id_col,
    ).persist()
    n = feats.count()
    if n == 0:
        raise ValueError("train_hashed_softmax: empty input")
    w = [[0.0] * dim for _ in range(K)]
    bias = [0.0] * K
    try:
        for _ in range(iters):
            gbs, gs = _softmax_grad_arrow(feats, w, bias, n, dim)
            for c in range(K):
                bias[c] = round(bias[c] - lr * gbs[c], round_digits)
                for f in range(dim):
                    # an untouched bucket has an exact-zero gradient:
                    # w - lr*0 == w, already on the grid
                    w[c][f] = round(w[c][f] - lr * gs[c][f], round_digits)
    finally:
        feats.unpersist()
    return w, bias


def score_hashed_softmax(
    df: DataFrame,
    id_col: str,
    text_col: str,
    classes: Sequence[str],
    weights: Sequence[Sequence[float]],
    biases: Sequence[float],
    prob_digits: int = 6,
    feature_sets: "DataFrame | None" = None,
) -> DataFrame:
    """(id_col, pred, prob) — argmax class under a trained softmax
    model and its rounded probability, map-only (all K weight vectors
    are literals; no join, no shuffle — a 100 TB corpus classifies in
    one codegen'd scan). The argmax runs over ROUNDED probabilities
    with ties to the earlier ``classes`` entry (max over (p, −c)
    structs — the semdedup assignment's lower-index tie convention), so
    the predicted label is engine-reproducible even on knife-edge docs."""
    cls = [str(c) for c in classes]
    K = len(cls)
    if not (K == len(weights) == len(biases)):
        raise ValueError("classes/weights/biases lengths must match")
    feats = (
        feature_sets
        if feature_sets is not None
        else hashed_feature_sets(df, id_col, text_col, len(weights[0]))
    )
    zs = [_margin(weights[c], float(biases[c])) for c in range(K)]
    den: Column = F.exp(zs[0])
    for c in range(1, K):
        den = den + F.exp(zs[c])
    scored = F.array(
        *[
            F.struct(
                F.round(F.exp(zs[c]) / den, prob_digits).alias("p"),
                F.lit(-c).alias("nc"),
            )
            for c in range(K)
        ]
    )
    best = F.array_max(scored)
    label = F.element_at(
        F.array(*[F.lit(c) for c in cls]), (-best["nc"] + 1).cast("int")
    )
    return feats.select(
        F.col(id_col), label.alias("pred"), best["p"].alias("prob")
    )


def hashed_softmax_sql(
    src: str,
    id_col: str,
    label_sql: str,
    classes: Sequence[str],
    dim: int = 64,
    iters: int = 8,
    lr: float = 0.5,
    round_digits: int = 9,
) -> str:
    """DuckDB CTE chain re-deriving the ENTIRE
    :func:`train_hashed_softmax` run — machine-generated from the same
    hyperparameters (the hashed_logreg_sql pattern, classed). Emits
    ``sxc`` (c, lab), ``sxfeats`` (doc_id, f), ``sxdocs`` (doc_id, c,
    y), and one ``sw{i}`` (c, f, w) relation per iteration (``f = -1``
    is the bias), ending at ``sw{iters}``; plus ``sxp{iters}``
    (doc_id, c, p) — final-model probabilities for scoring consumers.
    The softmax denominator folds an ``ORDER BY c`` exp list with an
    explicit ``l[1] + l[2] + …`` chain — the operator's class-order
    summation, not an order-free SUM. ``label_sql`` must evaluate to
    one of ``classes``; anything else raises via ``error()``
    (mirroring ``_class_checked``)."""
    cls = [str(c) for c in classes]
    if len(cls) < 2 or len(set(cls)) != len(cls):
        raise ValueError(f"classes={classes!r} must be >= 2 unique entries")
    K = len(cls)
    bucket = "('0x' || substring(md5(tok), 1, 15))::BIGINT % " + str(dim)
    cvals = ", ".join(
        f"({j}, '" + c.replace("'", "''") + "')" for j, c in enumerate(cls)
    )
    lab_list = ", ".join("'" + c.replace("'", "''") + "'" for c in cls)
    ctes = [
        rf"""sxc AS MATERIALIZED (
  SELECT * FROM (VALUES {cvals}) v(c, lab)
), sxtoks AS MATERIALIZED (
  SELECT {id_col} AS doc_id,
         CASE WHEN {label_sql} IN ({lab_list}) THEN {label_sql}
              ELSE error('train_hashed_softmax: label must be one of the'
                         || ' configured classes (got ' ||
                         COALESCE(CAST({label_sql} AS VARCHAR), 'NULL') || ')')
         END AS lab,
         string_split_regex(lower(trim(COALESCE(text, ''))), '\s+') AS t
  FROM {src}
), sxfeats AS MATERIALIZED (
  SELECT DISTINCT doc_id, {bucket} AS f
  FROM (SELECT doc_id, unnest(t) AS tok FROM sxtoks)
), sxdocs AS MATERIALIZED (
  SELECT t.doc_id, c.c, CASE WHEN c.lab = t.lab THEN 1.0 ELSE 0.0 END AS y
  FROM sxtoks t, sxc c
), sxn AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sxtoks
), sw0 AS MATERIALIZED (
  SELECT c.c, CAST(unnest(generate_series(-1, {dim - 1})) AS BIGINT) AS f,
         0.0::DOUBLE AS w
  FROM sxc c
)"""
    ]
    den = " + ".join(f"ez[{j + 1}]" for j in range(K))
    for i in range(iters):
        ctes.append(
            f"""sz{i} AS MATERIALIZED (
  SELECT d.doc_id, d.c, d.y,
    (SELECT w FROM sw{i} WHERE f = -1 AND c = d.c)
    + COALESCE((SELECT SUM(wi.w) FROM sxfeats lf JOIN sw{i} wi
                ON wi.f = lf.f AND wi.c = d.c
                WHERE lf.doc_id = d.doc_id), 0.0) AS z
  FROM sxdocs d
), sd{i} AS MATERIALIZED (
  SELECT doc_id, {den} AS den
  FROM (SELECT doc_id, list(exp(z) ORDER BY c) AS ez FROM sz{i} GROUP BY doc_id)
), sxp{i} AS MATERIALIZED (
  SELECT z.doc_id, z.c, z.y, exp(z.z) / d.den AS p
  FROM sz{i} z JOIN sd{i} d ON d.doc_id = z.doc_id
), sg{i} AS MATERIALIZED (
  SELECT p.c, lf.f, SUM((p.p - p.y) / sxn.n) AS g
  FROM sxp{i} p JOIN sxfeats lf ON lf.doc_id = p.doc_id, sxn
  GROUP BY p.c, lf.f
  UNION ALL
  SELECT p.c, -1::BIGINT AS f, SUM((p.p - p.y) / sxn.n) AS g
  FROM sxp{i} p, sxn GROUP BY p.c
), sw{i + 1} AS MATERIALIZED (
  SELECT w.c, w.f, round(w.w - {lr} * COALESCE(g.g, 0.0), {round_digits}) AS w
  FROM sw{i} w LEFT JOIN sg{i} g ON g.c = w.c AND g.f = w.f
)"""
        )
    # final-model probabilities for scoring consumers (one more forward
    # pass under sw{iters} — unreferenced and pruned when the consumer
    # only reads the weights)
    ctes.append(
        f"""szf AS MATERIALIZED (
  SELECT d.doc_id, d.c,
    (SELECT w FROM sw{iters} WHERE f = -1 AND c = d.c)
    + COALESCE((SELECT SUM(wi.w) FROM sxfeats lf JOIN sw{iters} wi
                ON wi.f = lf.f AND wi.c = d.c
                WHERE lf.doc_id = d.doc_id), 0.0) AS z
  FROM sxdocs d
), sdf AS MATERIALIZED (
  SELECT doc_id, {den} AS den
  FROM (SELECT doc_id, list(exp(z) ORDER BY c) AS ez FROM szf GROUP BY doc_id)
), sxp{iters} AS MATERIALIZED (
  SELECT z.doc_id, z.c, exp(z.z) / d.den AS p
  FROM szf z JOIN sdf d ON d.doc_id = z.doc_id
)"""
    )
    return ",\n".join(ctes)


def hashed_logreg_sql(
    src: str,
    id_col: str,
    label_sql: str,
    dim: int = 64,
    iters: int = 8,
    lr: float = 0.5,
    round_digits: int = 9,
) -> str:
    """DuckDB CTE chain re-deriving the ENTIRE training loop of
    :func:`train_hashed_logreg` — machine-generated from the same
    hyperparameters so oracle and operator cannot drift (the BPE-oracle
    pattern: a VALUE oracle for an iterative algorithm).

    Emits CTEs ``lrfeats`` (doc_id, f), ``lrdocs`` (doc_id, y), and one
    ``w{i}`` weight relation (f, w) per iteration — ``f = -1`` is the
    bias — ending at ``w{iters}``. Compose the final SELECT over
    ``w{iters}`` (weights) or join it back for scoring. ``label_sql``
    is a 0/1 expression over ``{src}``'s columns."""
    bucket = "('0x' || substring(md5(tok), 1, 15))::BIGINT % " + str(dim)
    ctes = [
        rf"""lrtoks AS MATERIALIZED (
  SELECT {id_col} AS doc_id, {label_sql} AS y,
         string_split_regex(lower(trim(COALESCE(text, ''))), '\s+') AS t
  FROM {src}
), lrfeats AS MATERIALIZED (
  SELECT DISTINCT doc_id, {bucket} AS f
  FROM (SELECT doc_id, unnest(t) AS tok FROM lrtoks)
), lrdocs AS MATERIALIZED (
  SELECT doc_id, CAST(y AS DOUBLE) AS y FROM lrtoks
), lrn AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lrdocs
), w0 AS MATERIALIZED (
  SELECT CAST(unnest(generate_series(-1, {dim - 1})) AS BIGINT) AS f,
         0.0::DOUBLE AS w
)"""
    ]
    for i in range(iters):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT d.doc_id, d.y,
    1.0 / (1.0 + exp(-(
      (SELECT w FROM w{i} WHERE f = -1)
      + COALESCE((SELECT SUM(wi.w) FROM lrfeats lf JOIN w{i} wi ON wi.f = lf.f
                  WHERE lf.doc_id = d.doc_id), 0.0)
    ))) AS p
  FROM lrdocs d
), g{i} AS MATERIALIZED (
  SELECT lf.f, SUM((p.p - p.y) / lrn.n) AS g
  FROM p{i} p JOIN lrfeats lf ON lf.doc_id = p.doc_id, lrn
  GROUP BY lf.f
  UNION ALL
  SELECT -1::BIGINT AS f, SUM((p.p - p.y) / lrn.n) AS g FROM p{i} p, lrn
), w{i + 1} AS MATERIALIZED (
  SELECT w.f, round(w.w - {lr} * COALESCE(g.g, 0.0), {round_digits}) AS w
  FROM w{i} w LEFT JOIN g{i} g ON g.f = w.f
)"""
        )
    return ",\n".join(ctes)
