"""Corpus language-model scoring: unigram log-probability per document
— the perplexity-proxy quality filter.

CCNet/RefinedWeb-style pipelines score every document against a
language model and drop the tails (gibberish scores far below the
corpus mode; boilerplate far above). The full KenLM n-gram model needs
external artifacts; the SELF-scored unigram model — each document's
mean log P(token) under the corpus's own unigram distribution — is the
deterministic, external-artifact-free core of that filter, and shares
its distributed shape:

1. tokenize + explode (map-side),
2. build the model: one groupBy(token) count — a partial-agg shuffle
   producing O(vocab) rows,
3. score: join tokens back to their log-probs (vocab is orders of
   magnitude smaller than the corpus: AQE broadcasts it at test scale,
   and even a 10^8-type vocab shuffle-joins fine — the join key is the
   token, uniformly distributed by construction of language), then one
   groupBy(doc) average.

Natural-language token frequencies are Zipfian — the few hot tokens
("the") dominate the exploded join's key distribution. That skew lives
on the BUILD side aggregate (handled by partial aggregation: each task
pre-counts its own "the"s) and on the score-side join ONLY if the
vocab side is shuffled; when the vocab broadcasts (the common case —
even web-scale vocabs are GBs, not TBs) the scoring plan has no
skew-sensitive shuffle at all.

Deterministic up to floating addition order: token counts are exact
integers, log is evaluated once per vocab entry, and the per-document
mean is rounded to 6 digits — far coarser than the ~1e-15 relative
reassociation noise (the embedding-dedup rounding argument,
operators/dedup.py).

The reference has no text surface (SURVEY.md §2.2); this is part of
the LLM-pipeline extension lane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(df: DataFrame, text_col: str, *keep) -> DataFrame:
    """(keep..., token) rows: case-folded whitespace tokens, one row
    per occurrence. NULL texts raise (the packing/chunking contract: a
    silently unscored document would pass every score filter)."""
    text = F.when(F.col(text_col).isNotNull(), F.col(text_col)).otherwise(
        F.raise_error(
            F.lit(f"lm: {text_col} is NULL - a NULL text would silently"
                  " skip scoring (filter upstream)")
        )
    )
    return df.select(
        *keep, F.explode(F.split(F.lower(F.trim(text)), r"\s+")).alias("token")
    )


def build_unigram_model(df: DataFrame, text_col: str) -> DataFrame:
    """The model: one row per distinct token with its MLE natural-log
    probability — ``(token string, logprob double)``. One partial-agg
    shuffle to O(vocab); persist or write the result once and score
    many corpora against it (the frozen-model flow)."""
    vocab = _tokens(df, text_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    total = vocab.agg(F.sum("__cnt").alias("__total"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "token",
        (
            F.log(F.col("__cnt").cast("double"))
            - F.log(F.col("__total").cast("double"))
        ).alias("logprob"),
    )


def score_against_model(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    unseen_logprob: float,
    round_digits: int = 6,
) -> DataFrame:
    """Score ``df`` against a FROZEN model (``build_unigram_model``
    output, possibly from a different corpus): one row per document
    with ``n_tokens`` and ``avg_logprob``.

    ``unseen_logprob`` is the explicit floor for tokens absent from
    the model — cross-corpus scoring ALWAYS meets unseen tokens, and
    any implicit default would silently decide the filter's tail
    behavior; callers own that number (a common choice: the model's
    minimum logprob minus ``ln(10)``)."""
    toks = _tokens(df, text_col, F.col(id_col))
    scored = toks.join(model, "token", "left").withColumn(
        "__lp", F.coalesce(F.col("logprob"), F.lit(float(unseen_logprob)))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.round(F.avg("__lp"), round_digits).alias("avg_logprob"),
    )


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """One row per document: ``id_col``, ``n_tokens`` (int), and
    ``avg_logprob`` (double, rounded) — the mean natural-log
    probability of the document's tokens under the corpus unigram MLE
    distribution (case-folded, whitespace-tokenized). ``exp(-avg)`` is
    the unigram perplexity.

    MLE (no smoothing) is exact here because the model is built from
    the SAME corpus being scored — every scored token has count >= 1.
    Scoring a DIFFERENT corpus uses :func:`build_unigram_model` +
    :func:`score_against_model` with an explicit unseen-token floor.

    NULL texts raise at execution time (the packing/chunking NULL
    contract: a silently unscored document would pass every
    score-based filter).
    """
    # self-scored: every token is in the model by construction, so the
    # unseen floor is unreachable; NaN makes any future violation loud
    # (a poisoned average) instead of silently shifting scores.
    return score_against_model(
        df, id_col, text_col,
        build_unigram_model(df, text_col),
        unseen_logprob=float("nan"),
        round_digits=round_digits,
    )


def unigram_logprob_sql(
    src: str, id_sql: str, text_sql: str, round_digits: int = 6
) -> str:
    """DuckDB twin of :func:`unigram_logprob_scores` over relation
    ``src`` — same tokenization, same MLE, same rounding."""
    return rf"""
WITH __lm_toks AS (
  SELECT {id_sql} AS id,
         unnest(string_split_regex(lower(trim({text_sql})), '\s+')) AS tok
  FROM {src}
), __lm_vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM __lm_toks GROUP BY tok
), __lm_model AS (
  SELECT tok, ln(CAST(cnt AS DOUBLE)) - ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM __lm_vocab))
           AS logprob
  FROM __lm_vocab
)
SELECT t.id, CAST(COUNT(*) AS INT) AS n_tokens,
       round(AVG(m.logprob), {int(round_digits)}) AS avg_logprob
FROM __lm_toks t JOIN __lm_model m ON m.tok = t.tok
GROUP BY t.id
"""


def calibrated_score_filter(
    scores: DataFrame,
    score_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """The filter step the scores exist for: keep rows whose
    ``score_col`` lies inside the corpus's own [lo_q, hi_q] percentile
    band — gibberish below, boilerplate above (the CCNet two-sided
    cut). Bounds are computed from the data, broadcast as one row, and
    applied as a plain filter; rows pass through otherwise unchanged.

    Bounds are exact ``percentile()`` values — a sort-based aggregate
    whose single group concentrates every value in ONE aggregation
    buffer, so oracle-checkable but memory-bounded only at fixture
    scale — rounded to 6 digits, matching the scores' own rounding, so
    the comparison is over the same value grid on every engine.
    """
    if not 0.0 <= lo_q < hi_q <= 1.0:
        raise ValueError(f"need 0 <= lo_q < hi_q <= 1, got {lo_q!r}, {hi_q!r}")
    # backtick-quote: score_col may not be a bare identifier, and the
    # rest of the function handles such names via F.col just fine
    qcol = "`" + score_col.replace("`", "``") + "`"
    lo = F.expr(f"percentile({qcol}, {lo_q})")
    hi = F.expr(f"percentile({qcol}, {hi_q})")
    # the scores DAG feeds BOTH the bounds aggregate and the filter
    # scan; persist so the (often expensive) scoring pipeline runs
    # once and both jobs see one evaluation — the deterministic_shuffle
    # lifecycle convention: the consumer releases the cached blocks
    scores = scores.persist()
    bounds = scores.agg(
        F.round(lo, 6).alias("__lo"), F.round(hi, 6).alias("__hi")
    )
    return (
        scores.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col(score_col) >= F.col("__lo")) & (F.col(score_col) <= F.col("__hi"))
        )
        .drop("__lo", "__hi")
    )


# -- DSIR importance weighting ------------------------------------------


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    unseen_target_logprob: float,
    round_digits: int = 6,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW
    document by the mean log-likelihood *ratio* of its tokens under a
    model of the TARGET distribution (the high-quality corpus you want
    more of) vs a model of the raw distribution itself —
    ``avg(log p_target(tok) - log p_raw(tok))``. High weight = the
    document "sounds like" the target; selecting the top weights (e.g.
    via :func:`calibrated_score_filter` on this column) is the
    importance-resampling data-selection step. Output: one row per raw
    document — ``(id_col, n_tokens int, dsir_weight double)``.

    The paper hashes n-gram features; this is the unigram instance of
    the same estimator (the n-gram variant is a tokenizer swap — the
    shingle machinery in operators/dedup.py slots in unchanged), kept
    word-exact here so the weights are engine-reproducible and the
    DuckDB oracle can certify them.

    ``unseen_target_logprob`` is mandatory: raw corpora ALWAYS contain
    tokens the target has never seen, and that floor decides how hard
    out-of-domain vocabulary is penalized — callers own it (a common
    choice: the target model's minimum logprob minus ``ln(10)``). The
    raw-side model is built from ``raw`` itself, so every scored token
    is present in it by construction (the self-scoring MLE argument of
    :func:`unigram_logprob_scores`) and needs no floor.

    100 TB design: two O(vocab) partial-agg model builds + one scoring
    join per token occurrence — the Zipf-skew analysis in the module
    docstring applies verbatim (skew lives on the partial-agg build
    side; the broadcast vocab join has no skewed shuffle). Rounding to
    ``round_digits`` grids away cross-engine float-summation-order
    noise (~1e-15 relative), the lm-lane determinism argument.
    """
    model_t = build_unigram_model(target, text_col).withColumnRenamed(
        "logprob", "__lp_target"
    )
    model_r = build_unigram_model(raw, text_col).withColumnRenamed(
        "logprob", "__lp_raw"
    )
    toks = _tokens(raw, text_col, F.col(id_col))
    scored = (
        # inner join: every raw token exists in the raw-built model
        toks.join(model_r, "token")
        .join(model_t, "token", "left")
        .withColumn(
            "__llr",
            F.coalesce(
                F.col("__lp_target"), F.lit(float(unseen_target_logprob))
            )
            - F.col("__lp_raw"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.round(F.avg("__llr"), round_digits).alias("dsir_weight"),
    )


def dsir_sql(
    raw_src: str,
    target_src: str,
    id_sql: str,
    text_sql: str,
    unseen_target_logprob: float,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`dsir_importance_weights` —
    same tokenization, same two MLE models, same floor, same rounding.
    ``target_src`` may be any relation expression (e.g.
    ``(SELECT * FROM documents WHERE lang = 'en')``)."""
    return rf"""
WITH __ds_toks AS (
  SELECT {id_sql} AS id,
         unnest(string_split_regex(lower(trim({text_sql})), '\s+')) AS tok
  FROM {raw_src}
), __ds_raw_vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM __ds_toks GROUP BY tok
), __ds_raw_model AS (
  SELECT tok, ln(CAST(cnt AS DOUBLE))
           - ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM __ds_raw_vocab)) AS logprob
  FROM __ds_raw_vocab
), __ds_t_toks AS (
  SELECT unnest(string_split_regex(lower(trim({text_sql})), '\s+')) AS tok
  FROM {target_src}
), __ds_t_vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM __ds_t_toks GROUP BY tok
), __ds_t_model AS (
  SELECT tok, ln(CAST(cnt AS DOUBLE))
           - ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM __ds_t_vocab)) AS logprob
  FROM __ds_t_vocab
)
SELECT t.id, CAST(COUNT(*) AS INT) AS n_tokens,
       round(AVG(COALESCE(mt.logprob, {float(unseen_target_logprob)!r}) - mr.logprob),
             {int(round_digits)}) AS dsir_weight
FROM __ds_toks t
JOIN __ds_raw_model mr ON mr.tok = t.tok
LEFT JOIN __ds_t_model mt ON mt.tok = t.tok
GROUP BY t.id
"""


def stratified_score_filter(
    scores: DataFrame,
    score_col: str,
    strata_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-stratum :func:`calibrated_score_filter`: keep rows inside
    their OWN stratum's [lo_q, hi_q] score band. The global cut is
    wrong for mixed corpora — a multilingual corpus scored by one
    model systematically ranks whole languages below others, and a
    global percentile gate silently deletes the low-resource tail;
    CCNet applies its perplexity cut per language for exactly this
    reason.

    Exact percentiles as in the global filter, which concentrates each
    stratum (not the corpus) in one aggregation buffer — fine when every
    stratum fits, and oracle-checkable. Bounds are an O(strata)
    aggregate joined back (AQE broadcasts it); rows pass through
    otherwise unchanged. Rounding to 6 digits matches the score grid
    (the lm-lane determinism argument)."""
    if not 0.0 <= lo_q < hi_q <= 1.0:
        raise ValueError(f"need 0 <= lo_q < hi_q <= 1, got {lo_q!r}, {hi_q!r}")
    qcol = "`" + score_col.replace("`", "``") + "`"
    lo = F.expr(f"percentile({qcol}, {lo_q})")
    hi = F.expr(f"percentile({qcol}, {hi_q})")
    from delta_lake_experiment_spark.functions.guards import null_checked

    scores = scores.persist()  # feeds bounds agg AND the filter scan
    # NULL strata raise (the shared guard): a NULL-stratum row would
    # silently fall out of the bounds equi-join below
    strata = null_checked(F.col(strata_col), "lm", strata_col)
    bounds = scores.groupBy(strata.alias(strata_col)).agg(
        F.round(lo, 6).alias("__lo"), F.round(hi, 6).alias("__hi")
    )
    return (
        scores.join(F.broadcast(bounds), strata_col)
        .filter(
            (F.col(score_col) >= F.col("__lo"))
            & (F.col(score_col) <= F.col("__hi"))
        )
        .select(*scores.columns)
    )


def stratified_score_filter_sql(
    src: str,
    score_sql: str,
    strata_sql: str,
    lo_q: float,
    hi_q: float,
) -> str:
    """DuckDB twin of :func:`stratified_score_filter`:
    per-stratum quantile_cont bounds, same 6-digit rounding."""
    return f"""
SELECT d.* FROM {src} d
JOIN (
  SELECT {strata_sql} AS stratum,
         round(quantile_cont({score_sql}, {float(lo_q)!r}), 6) AS lo,
         round(quantile_cont({score_sql}, {float(hi_q)!r}), 6) AS hi
  FROM {src} GROUP BY 1
) b ON {strata_sql} = b.stratum
WHERE {score_sql} >= b.lo AND {score_sql} <= b.hi
"""


def unigram_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str,
    alpha: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """One-row corpus-drift report between two corpus slices:
    ``(vocab_size, tokens_a, tokens_b, kl_ab, kl_ba, js_div)`` —
    KL(A||B), KL(B||A) and the symmetric Jensen-Shannon divergence of
    their additive-smoothed unigram distributions (natural log).

    This is the dataset-drift number a pipeline monitors: new crawl
    batch vs the standing corpus (sudden vocabulary shift = scraper
    breakage or spam flood), train vs held-out split (should be ~0 —
    a high value means the split is skewed), domain vs domain (how far
    apart two sources really are before mixing).

    Distributions are smoothed over the UNION vocabulary
    (``p_t = (count_t + alpha) / (total + alpha * V)``) so both are
    strictly positive and every divergence is finite — without
    smoothing one token unique to A makes KL(A||B) infinite by
    definition.

    Plan: two O(vocab) token-count aggregations (partial agg absorbs
    the Zipf head), one full-outer join on token, one broadcast of the
    1-row totals, one final 1-row aggregate. Nothing is ever larger
    than the union vocabulary after the first shuffle. Deterministic up
    to summation order; every output is rounded to ``round_digits``
    (far coarser than the ~1e-15 reassociation noise), so the DuckDB
    twin (:func:`unigram_divergence_sql`) hash-matches.
    """
    if alpha <= 0:
        raise ValueError(f"alpha={alpha!r} must be > 0 (smoothing keeps"
                         " every divergence finite)")
    ca = _tokens(df_a, text_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("__ca")
    )
    cb = _tokens(df_b, text_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("__cb")
    )
    u = (
        ca.join(cb, "token", "full_outer")
        .select(
            F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
            F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
        )
    )
    tot = u.agg(
        F.count(F.lit(1)).alias("__v"),
        F.sum("__ca").alias("__ta"),
        F.sum("__cb").alias("__tb"),
    )
    j = u.crossJoin(F.broadcast(tot))
    p = (F.col("__ca") + F.lit(alpha)) / (
        F.col("__ta") + F.lit(alpha) * F.col("__v")
    )
    q = (F.col("__cb") + F.lit(alpha)) / (
        F.col("__tb") + F.lit(alpha) * F.col("__v")
    )
    m = (p + q) / F.lit(2.0)
    return j.agg(
        F.max("__v").cast("long").alias("vocab_size"),
        F.max("__ta").cast("long").alias("tokens_a"),
        F.max("__tb").cast("long").alias("tokens_b"),
        F.round(F.sum(p * F.log(p / q)), round_digits).alias("kl_ab"),
        F.round(F.sum(q * F.log(q / p)), round_digits).alias("kl_ba"),
        F.round(
            F.lit(0.5) * F.sum(p * F.log(p / m) + q * F.log(q / m)),
            round_digits,
        ).alias("js_div"),
    )


def unigram_divergence_sql(
    src_a: str,
    src_b: str,
    alpha: float = 0.5,
    round_digits: int = 6,
    prelude_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`unigram_divergence` over relations
    ``src_a`` / ``src_b`` carrying a ``text`` column — generated from
    the same smoothing parameter so the two lanes cannot drift.
    ``prelude_ctes`` splices caller CTEs (e.g. a split assignment the
    two sources select from) into the WITH clause."""
    if alpha <= 0:
        raise ValueError(f"alpha={alpha!r} must be > 0")

    def counts(src: str, col: str) -> str:
        return rf"""(
  SELECT token, COUNT(*) AS {col} FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
    FROM {src}
  ) GROUP BY token
)"""

    prelude = f"{prelude_ctes},\n" if prelude_ctes else ""
    return rf"""
WITH {prelude}dva AS {counts(src_a, "ca")}, dvb AS {counts(src_b, "cb")},
dvu AS (
  SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM dva FULL OUTER JOIN dvb USING (token)
), dvt AS (
  SELECT COUNT(*) AS v, SUM(ca) AS ta, SUM(cb) AS tb FROM dvu
), dvpq AS (
  SELECT (ca + {alpha}) / (ta + {alpha} * v) AS p,
         (cb + {alpha}) / (tb + {alpha} * v) AS q,
         v, ta, tb
  FROM dvu, dvt
)
SELECT CAST(MAX(v) AS BIGINT) AS vocab_size,
  CAST(MAX(ta) AS BIGINT) AS tokens_a,
  CAST(MAX(tb) AS BIGINT) AS tokens_b,
  round(SUM(p * ln(p / q)), {round_digits}) AS kl_ab,
  round(SUM(q * ln(q / p)), {round_digits}) AS kl_ba,
  round(0.5 * SUM(p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0))),
        {round_digits}) AS js_div
FROM dvpq
"""


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document mean INTERPOLATED bigram log-probability —
    ``(id_col, n_tokens, avg_logprob)`` — one step from the unigram
    proxy (:func:`unigram_logprob_scores`) toward KenLM semantics:
    each token at position i >= 2 scores
    ``ln(lam * P(t_i | t_{i-1}) + (1 - lam) * P(t_i))`` under the
    corpus's own MLE models (Jelinek-Mercer interpolation — the
    context-aware term catches word-salad documents whose unigram
    frequencies look normal but whose transitions are noise).

    Semantics pinned for the oracle: the first token of a document has
    no context and is NOT scored (no BOS sentinel to keep both lanes
    trivially identical); documents with fewer than 2 tokens have no
    scoreable positions and return NULL ``avg_logprob`` — explicitly
    NULL, never a silent 0.0 that would pass a score filter.
    Self-scored, every corpus bigram is in the model by construction;
    the conditional still rides a left join + coalesce(0) so a frozen
    -model variant cannot silently drop unseen transitions.

    Plan shape: one bigram explode (map-only sliding zip — the
    shingle builder's idiom), a bigram-count aggregate O(distinct
    bigrams) and a context-count aggregate O(vocab) (both absorb the
    Zipf head map-side), the unigram model, then one probe join per
    model and a per-document average. The model sides broadcast at
    test scale; at web scale they shuffle-join on uniform-ish hash
    keys — never anything quadratic.
    """
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam={lam!r} must be in (0, 1) — at the"
                         " endpoints one model silently vanishes")
    toks = F.split(
        F.lower(
            F.trim(
                F.when(F.col(text_col).isNotNull(), F.col(text_col)).otherwise(
                    F.raise_error(
                        F.lit(
                            f"lm: {text_col} is NULL - a NULL text would"
                            " silently skip scoring (filter upstream)"
                        )
                    )
                )
            )
        ),
        r"\s+",
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__t"),
        F.size(toks).alias("n_tokens"),
    )
    # sliding (prev, cur) pairs: zip the array with itself shifted by
    # one — pure array expressions, no shuffle
    pairs = base.select(
        "__id",
        "n_tokens",
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice(
                    F.col("__t"),
                    2,
                    F.greatest(F.size("__t") - 1, F.lit(0)),
                ),
                lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
            )
        ).alias("__bg"),
    ).select("__id", "n_tokens", F.col("__bg.prev").alias("__prev"), F.col("__bg.cur").alias("__cur"))

    big = pairs.groupBy("__prev", "__cur").agg(F.count(F.lit(1)).alias("__cbg"))
    ctx = pairs.groupBy("__prev").agg(F.count(F.lit(1)).alias("__cctx"))
    uni = _tokens(df, text_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("__cu")
    )
    tot = uni.agg(F.sum("__cu").alias("__tu"))
    uni = uni.crossJoin(F.broadcast(tot)).select(
        F.col("token").alias("__cur"),
        (F.col("__cu").cast("double") / F.col("__tu")).alias("__pu"),
    )
    scored = (
        pairs.join(big, ["__prev", "__cur"], "left")
        .join(ctx, "__prev", "left")
        .join(uni, "__cur")
        .withColumn(
            "__p",
            F.lit(lam)
            * F.coalesce(
                F.col("__cbg").cast("double") / F.col("__cctx"), F.lit(0.0)
            )
            + F.lit(1.0 - lam) * F.col("__pu"),
        )
    )
    per_doc = scored.groupBy("__id", "n_tokens").agg(
        F.round(F.avg(F.log("__p")), round_digits).alias("avg_logprob")
    )
    # docs with < 2 tokens produced no pairs: re-attach with NULL score
    return (
        base.select("__id", "n_tokens")
        .join(per_doc.select("__id", "avg_logprob"), "__id", "left")
        .select(
            F.col("__id").alias(id_col), "n_tokens", "avg_logprob"
        )
    )


def bigram_logprob_sql(
    src: str, id_col: str, lam: float = 0.7, round_digits: int = 6
) -> str:
    """DuckDB twin of :func:`bigram_logprob_scores` over ``src``
    carrying (id_col, text) — generated from the same interpolation
    weight."""
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam={lam!r} must be in (0, 1)")
    return rf"""
WITH bgt AS (
  SELECT {id_col} AS id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM {src}
), bgp AS (
  SELECT id, len(t) AS n_tokens,
    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS prev,
    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i+1])) AS cur
  FROM bgt
), bgc AS (
  SELECT prev, cur, COUNT(*) AS cbg FROM bgp GROUP BY 1, 2
), bgx AS (
  SELECT prev, COUNT(*) AS cctx FROM bgp GROUP BY 1
), bgu AS (
  SELECT tok AS cur, CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS pu
  FROM (SELECT unnest(t) AS tok FROM bgt) GROUP BY tok
), bgs AS (
  SELECT p.id, p.n_tokens,
    {lam} * COALESCE(CAST(c.cbg AS DOUBLE) / x.cctx, 0.0)
      + {1.0 - lam} * u.pu AS pr
  FROM bgp p
  LEFT JOIN bgc c ON c.prev = p.prev AND c.cur = p.cur
  LEFT JOIN bgx x ON x.prev = p.prev
  JOIN bgu u ON u.cur = p.cur
), bga AS (
  SELECT id, n_tokens, round(AVG(ln(pr)), {round_digits}) AS avg_logprob
  FROM bgs GROUP BY 1, 2
)
SELECT b.id AS {id_col}, CAST(b.n_tokens AS INT) AS n_tokens, a.avg_logprob
FROM (SELECT id, n_tokens FROM bgp GROUP BY 1, 2
      UNION
      SELECT id, len(t) FROM bgt WHERE len(t) < 2) b
LEFT JOIN bga a ON a.id = b.id
"""


def kn_discount_estimate(
    big_counts: DataFrame,
    round_digits: int = 9,
    fallback: "float | None" = None,
) -> float:
    """The Chen–Goodman absolute-discount estimate ``D = n1 / (n1 +
    2·n2)`` from the bigram count-of-counts (n1/n2 = number of bigram
    TYPES seen exactly once/twice) — exact integer counts, one tiny
    aggregate, rounded so both engines hold the identical literal.

    The estimate is UNUSABLE on saturated corpora: undefined when no
    bigram occurs once or twice (n1 = n2 = 0 — every type repeats
    3+ times, ordinary for small vocabularies at scale: the sf0.1
    fixture), D = 1 when nothing occurs exactly twice, D = 0 when
    nothing occurs exactly once. ``fallback`` (validated in (0, 1);
    the textbook 0.75 is the usual choice) is returned for ALL of
    those; without it this raises."""
    from delta_lake_experiment_spark.functions.rounding import round_like_sql

    if fallback is not None and not 0.0 < float(fallback) < 1.0:
        raise ValueError(f"fallback={fallback!r} must be in (0, 1)")
    row = big_counts.agg(
        F.sum(F.when(F.col("__cbg") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("__cbg") == 2, 1).otherwise(0)).alias("n2"),
    ).collect()[0]
    n1, n2 = int(row["n1"] or 0), int(row["n2"] or 0)
    if n1 + 2 * n2 > 0:
        # round_like_sql, not round: the ratio of exact integer counts
        # can sit exactly on a decimal midpoint (functions/rounding.py)
        d = round_like_sql(n1 / (n1 + 2 * n2), round_digits)
        if 0.0 < d < 1.0:
            return d
    if fallback is not None:
        return float(fallback)
    raise ValueError(
        f"kn_discount_estimate: count-of-counts estimate unusable"
        f" (n1={n1}, n2={n2}) - pass discount= explicitly or a"
        " fallback="
    )


def kn_bigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: "float | None" = None,
    round_digits: int = 6,
    estimate_fallback: "float | None" = None,
) -> DataFrame:
    """Per-document mean INTERPOLATED KNESER-NEY bigram
    log-probability — ``(id_col, n_tokens, avg_logprob)`` — the
    next rung above Jelinek-Mercer (:func:`bigram_logprob_scores`)
    toward KenLM semantics, and the smoothing every production n-gram
    LM actually ships (Chen & Goodman 1999):

      ``P(w|v) = max(c(v,w) - D, 0)/c(v)
                 + (D · N1+(v,·)/c(v)) · P_cont(w)``
      ``P_cont(w) = N1+(·,w) / |distinct bigram types|``

    The continuation probability is KN's insight: a word's backoff
    mass follows how many distinct CONTEXTS it completes, not its raw
    frequency — "francisco" is frequent but predictable (one
    context), so its continuation probability is tiny. ``discount``
    defaults to the count-of-counts estimate
    (:func:`kn_discount_estimate`).

    Same pinned semantics as the JM lane: first token unscored (no
    BOS), < 2-token documents return explicit NULL, NULL text raises.
    The certified contract is SELF-SCORED: the model tables are
    derived from the scored corpus itself, so every context and every
    continuation word is in the model by construction. The
    continuation join is row-preserving (left + coalesce(ncont, 0))
    so a hypothetical frozen-model reuse would not silently drop
    bigrams — but an unseen continuation word then has P_cont = 0,
    and if the bigram is also unseen the probability is exactly zero,
    which RAISES on both engines (two different silent behaviors —
    Spark's NULL-skipping AVG vs DuckDB's -inf — are exactly what the
    guard convention exists to prevent). Frozen-model scoring needs
    an explicit unseen floor — that lane exists as
    :func:`frozen_lm_score` / the ``frozen_lm_transfer_score`` query,
    not here.

    Plan shape: the same map-only sliding-pair explode, then FOUR
    O(model) aggregates (bigram counts, context counts, distinct
    -successor counts per context, distinct-context counts per word —
    the last two are the KN-specific tables) + one scalar type count,
    probe-joined back and averaged per document. All model sides
    broadcast at test scale and shuffle-join on hash keys at web
    scale — nothing quadratic."""
    toks = F.split(
        F.lower(
            F.trim(
                F.when(F.col(text_col).isNotNull(), F.col(text_col)).otherwise(
                    F.raise_error(
                        F.lit(
                            f"lm: {text_col} is NULL - a NULL text would"
                            " silently skip scoring (filter upstream)"
                        )
                    )
                )
            )
        ),
        r"\s+",
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__t"),
        F.size(toks).alias("n_tokens"),
    )
    pairs = base.select(
        "__id",
        "n_tokens",
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice(F.col("__t"), 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
            )
        ).alias("__bg"),
    ).select(
        "__id",
        "n_tokens",
        F.col("__bg.prev").alias("__prev"),
        F.col("__bg.cur").alias("__cur"),
    )
    big = pairs.groupBy("__prev", "__cur").agg(F.count(F.lit(1)).alias("__cbg"))
    if discount is None:
        discount = kn_discount_estimate(big, fallback=estimate_fallback)
    if not 0.0 < float(discount) < 1.0:
        raise ValueError(
            f"discount={discount!r} must be in (0, 1) - 0 disables"
            " smoothing, 1 erases every observed count"
        )
    d = float(discount)
    ctx = pairs.groupBy("__prev").agg(F.count(F.lit(1)).alias("__cctx"))
    succ = big.groupBy("__prev").agg(F.count(F.lit(1)).alias("__nsucc"))
    cont = big.groupBy("__cur").agg(F.count(F.lit(1)).alias("__ncont"))
    types = big.agg(F.count(F.lit(1)).alias("__ntypes"))
    scored = (
        pairs.join(big, ["__prev", "__cur"], "left")
        .join(ctx, "__prev", "left")
        .join(succ, "__prev", "left")
        .join(cont, "__cur", "left")
        .crossJoin(F.broadcast(types))
        .withColumn(
            "__pcont",
            F.coalesce(F.col("__ncont"), F.lit(0)).cast("double")
            / F.col("__ntypes"),
        )
        .withColumn(
            "__p",
            F.coalesce(
                F.greatest(
                    F.col("__cbg").cast("double") - F.lit(d), F.lit(0.0)
                )
                / F.col("__cctx"),
                F.lit(0.0),
            )
            + F.coalesce(
                (F.lit(d) * F.col("__nsucc")).cast("double") / F.col("__cctx"),
                F.lit(1.0),
            )
            * F.col("__pcont"),
        )
    )
    # P == 0 is unreachable self-scored (every observed bigram keeps
    # positive discounted mass) but reachable under a frozen-model
    # reuse (unseen bigram AND unseen continuation word) — where
    # Spark's log(0) = NULL would silently SKIP the pair inside AVG
    # while DuckDB's ln(0) = -inf poisons the mean: two different
    # silent behaviors (review catch). Raise loudly on both engines;
    # the floor-carrying frozen lane is frozen_lm_score.
    logp = F.when(F.col("__p") > 0, F.log("__p")).otherwise(
        F.raise_error(
            F.lit(
                "kn_bigram_logprob_scores: zero probability (unseen"
                " bigram with unseen continuation word) - frozen-model"
                " scoring needs an explicit unseen floor"
                " (frozen_lm_score)"
            )
        )
    )
    per_doc = scored.groupBy("__id", "n_tokens").agg(
        F.round(F.avg(logp), round_digits).alias("avg_logprob")
    )
    return (
        base.select("__id", "n_tokens")
        .join(per_doc.select("__id", "avg_logprob"), "__id", "left")
        .select(F.col("__id").alias(id_col), "n_tokens", "avg_logprob")
    )


def kn_bigram_logprob_sql(
    src: str, id_col: str, discount: "float | None" = None,
    round_digits: int = 6,
    estimate_fallback: "float | None" = None,
) -> str:
    """DuckDB twin of :func:`kn_bigram_logprob_scores`. With an
    explicit ``discount`` the same validated literal is embedded;
    with ``None`` the twin re-derives the count-of-counts estimate
    in-query (:func:`kn_discount_sql`) — the Spark side's Python
    ``round(n1/(n1+2·n2), 9)`` and DuckDB's round agree on the
    generic integer ratio (the standard grid argument), so both
    engines hold the identical D."""
    if discount is not None:
        if not 0.0 < float(discount) < 1.0:
            raise ValueError(f"discount={discount!r} must be in (0, 1)")
        d = repr(float(discount))
    else:
        d = kn_discount_sql(src, fallback=estimate_fallback)
    return rf"""
WITH knt AS (
  SELECT {id_col} AS id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM {src}
), knp AS (
  SELECT id, len(t) AS n_tokens,
    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS prev,
    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i+1])) AS cur
  FROM knt
), knc AS (
  SELECT prev, cur, COUNT(*) AS cbg FROM knp GROUP BY 1, 2
), knx AS (
  SELECT prev, COUNT(*) AS cctx FROM knp GROUP BY 1
), kns AS (
  SELECT prev, COUNT(*) AS nsucc FROM knc GROUP BY 1
), knw AS (
  SELECT cur, COUNT(*) AS ncont FROM knc GROUP BY 1
), knn AS (
  SELECT COUNT(*) AS ntypes FROM knc
), knsc AS (
  SELECT p.id, p.n_tokens,
    COALESCE(greatest(CAST(c.cbg AS DOUBLE) - {d}, 0.0) / x.cctx, 0.0)
    + COALESCE(CAST({d} * s.nsucc AS DOUBLE) / x.cctx, 1.0)
      * (CAST(COALESCE(w.ncont, 0) AS DOUBLE) / n.ntypes) AS pr
  FROM knp p
  LEFT JOIN knc c ON c.prev = p.prev AND c.cur = p.cur
  LEFT JOIN knx x ON x.prev = p.prev
  LEFT JOIN kns s ON s.prev = p.prev
  LEFT JOIN knw w ON w.cur = p.cur, knn n
), kna AS (
  SELECT id, n_tokens,
    round(AVG(CASE WHEN pr > 0 THEN ln(pr)
              ELSE error('kn_bigram_logprob_scores: zero probability'
                         || ' (unseen bigram with unseen continuation'
                         || ' word) - frozen-model scoring needs an'
                         || ' explicit unseen floor (frozen_lm_score)')
              END), {int(round_digits)}) AS avg_logprob
  FROM knsc GROUP BY 1, 2
)
SELECT b.id AS {id_col}, CAST(b.n_tokens AS INT) AS n_tokens, a.avg_logprob
FROM (SELECT id, n_tokens FROM knp GROUP BY 1, 2
      UNION
      SELECT id, len(t) FROM knt WHERE len(t) < 2) b
LEFT JOIN kna a ON a.id = b.id
"""


def kn_discount_sql(src: str, fallback: "float | None" = None) -> str:
    """DuckDB scalar expression for :func:`kn_discount_estimate` over
    ``src`` carrying (id, text), mirroring the OPERATOR's exact
    semantics: an unusable count-of-counts estimate (undefined
    denominator, or an endpoint D that disabling/total discounting
    the operator rejects) resolves to the same validated ``fallback``
    when given, and raises via ``error()`` otherwise — a twin that
    silently ran with D = 0/1/NULL would accept what the operator
    rejects. A NULL d (zero denominator) fails the range test and
    falls through with the endpoints."""
    if fallback is not None:
        if not 0.0 < float(fallback) < 1.0:
            raise ValueError(f"fallback={fallback!r} must be in (0, 1)")
        bad = f"CAST({float(fallback)!r} AS DOUBLE)"
    else:
        bad = (
            "CAST(error('kn oracle: count-of-counts discount estimate is"
            " unusable (undefined or outside (0, 1)) - pass discount="
            " explicitly or a fallback') AS DOUBLE)"
        )
    return rf"""(
  SELECT CASE
    WHEN d > 0.0 AND d < 1.0 THEN d
    ELSE {bad} END
  FROM (
  SELECT round(
    CAST(SUM(CASE WHEN cbg = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / (CASE WHEN SUM(CASE WHEN cbg = 1 THEN 1 ELSE 0 END)
            + 2 * SUM(CASE WHEN cbg = 2 THEN 1 ELSE 0 END) = 0
       THEN NULL
       ELSE SUM(CASE WHEN cbg = 1 THEN 1 ELSE 0 END)
            + 2 * SUM(CASE WHEN cbg = 2 THEN 1 ELSE 0 END) END), 9) AS d
  FROM (
    SELECT prev, cur, COUNT(*) AS cbg FROM (
      SELECT
        unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS prev,
        unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i+1])) AS cur
      FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM {src})
    ) GROUP BY 1, 2
  )
  )
)"""
