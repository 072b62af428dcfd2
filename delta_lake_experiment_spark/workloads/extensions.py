"""LLM-data-pipeline workload: text analysis, dedup, similarity search
over the documents/embeddings tables (the 100 TB-pipeline extensions —
SURVEY.md §7.2 M5).

Queries with exactly-reproducible semantics carry DuckDB oracles; the
approximate ones (MinHash/LSH) are checked by their own pytest oracles
(operator-level invariants) and run here as rows-only entries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_experiment_spark.operators.cluster import assign_components
from delta_lake_experiment_spark.operators.dedup import (
    cross_split_contamination,
    decontaminate_split,
    embedding_near_duplicates,
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    verified_near_duplicates,
)
from delta_lake_experiment_spark.operators.packing import (
    pack_sequences,
    pack_utilization,
)
from delta_lake_experiment_spark.operators.sampling import (
    hash_sample,
    hash_split,
    sample_predicate_sql,
    split_thresholds_sql,
    stratified_hash_sample,
    stratified_predicate_sql,
)
from delta_lake_experiment_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from delta_lake_experiment_spark.operators.text import token_count, with_text_stats
from delta_lake_experiment_spark.sources.tables import load_table


# -- text analysis ------------------------------------------------------


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "n_chars_calc",
        "punct_ratio",
        "stopword_ratio",
        "lang_pred",
        "quality",
        "fp",
        # Gopher/C4-style repetition signals (operators/text.py) —
        # driver-gated since r5 so a regression in either is visible in
        # CORRECTNESS, not just pytest
        "dup_line_frac",
        "rep3_ratio",
    )


# -- shared oracle-SQL fragments ---------------------------------------
# Single edit site for every heuristic/CTE that appears in more than one
# oracle below (text stats, jaccard pairs, cluster assignment, the
# curation funnel). A parameter change that misses one hand-copied
# duplicate would surface as a baffling check_oracle hash-mismatch, so
# there are no duplicates: consumers compose these fragments.

#: whitespace token count and punctuation ratio — the two
#: sub-expressions every text heuristic composes (single edit site;
#: a tokenizer or PUNCT_CLASS change propagates to every oracle)
_NTOKENS_SQL = r"""len(string_split_regex(trim(text), '\s+'))"""
_PUNCT_RATIO_SQL = r"""CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)"""

_LANG_SQL = rf"""CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|is|in|to)\b')) AS DOUBLE)
    / {_NTOKENS_SQL} > 0.05 THEN 'en' ELSE 'unk' END"""

_QUALITY_SQL = rf"""least(1.0, CAST({_NTOKENS_SQL} AS DOUBLE) / 100.0)
    * (1.0 - {_PUNCT_RATIO_SQL})
    * (CASE WHEN CAST(length(text) AS DOUBLE) / {_NTOKENS_SQL}
              BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END)"""

_FP_SQL = r"""md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"""

# Repetition signals (operators/text.py::dup_line_fraction /
# ngram_repetition_ratio). The list-valued intermediates (__lines,
# __grams3) are computed once in TEXT_STATS_SQL's inner subquery; the
# fragments below only do the (n - n_distinct)/n arithmetic. Lines are
# regexp-trimmed (ALL whitespace, incl. \r for CRLF corpora) and blank
# lines dropped before counting duplicates; grams reuse the jaccard
# word-3-gram construction.
_LINES_LIST_SQL = r"""list_filter(list_transform(string_split(text, chr(10)),
    l -> regexp_replace(l, '^\s+|\s+$', '', 'g')), l -> l <> '')"""

_GRAMS3_LIST_SQL = r"""list_transform(generate_series(1,
    greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 1)),
    i -> concat_ws(' ', string_split_regex(lower(trim(text)), '\s+')[i],
                        string_split_regex(lower(trim(text)), '\s+')[i+1],
                        string_split_regex(lower(trim(text)), '\s+')[i+2]))"""


def _repeat_frac_sql(lst: str) -> str:
    """(len - len_distinct) / len over list column ``lst``, 0.0 when
    empty — the shared shape of both repetition ratios."""
    return (
        f"CASE WHEN len({lst}) > 0 THEN "
        f"CAST(len({lst}) - len(list_distinct({lst})) AS DOUBLE) / len({lst}) "
        "ELSE 0.0 END"
    )


def _jaccard_pairs_ctes(
    src: str,
    max_postings: int | None = None,
    metric: str = "jaccard",
    threshold: float = 0.5,
) -> str:
    """toks/grams/sizes/inter/pairs CTE chain: exact word-3-gram
    set-overlap pairs (id_a < id_b, with the measure value) over
    relation ``src`` carrying (doc_id, text). ``metric`` picks the
    ratio — ``"jaccard"`` (|∩|/|∪|) or ``"containment"`` (Broder's
    |∩|/min — the asymmetric measure); the pairs CTE's value column is
    named after it.

    ``max_postings`` mirrors the operator's hot-shingle document-
    frequency cap (ngram_jaccard_pairs): shingles appearing in more
    documents are dropped before sizes/intersections, so the capped
    Spark plan and this oracle compute the same well-defined
    "Jaccard over discriminative shingles" on ANY corpus — the cap is
    value-checked, not just trusted to be inert."""
    measures = {
        "jaccard": "CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)",
        "containment": "CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh)",
    }
    if metric not in measures:
        raise ValueError(f"unknown metric {metric!r}")
    if max_postings is None:
        capped = "grams AS (SELECT * FROM grams0)"
    else:
        capped = f"""gdf AS (
  SELECT shingle FROM grams0 GROUP BY shingle
  HAVING COUNT(*) <= {int(max_postings)}
), grams AS (
  SELECT g.doc_id, g.shingle FROM grams0 g JOIN gdf USING (shingle)
)"""
    return rf"""toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM {src}
), grams0 AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
  FROM toks
), {capped}, sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT * FROM (
    SELECT id_a, id_b,
      {measures[metric]} AS {metric}
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
  ) WHERE {metric} >= {threshold}
)"""


# edges/reach/comp: connected components over `pairs` as a recursive-CTE
# fixpoint — label every node with the min id it can reach.
_COMPONENTS_CTES = r"""edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, w.r FROM edges e JOIN reach w ON w.id = e.b
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
)"""


TEXT_STATS_SQL = rf"""
SELECT doc_id,
  CAST({_NTOKENS_SQL} AS INT) AS n_tokens,
  CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS INT)
    AS n_bpe_tokens,
  CAST(length(text) AS INT) AS n_chars_calc,
  {_PUNCT_RATIO_SQL} AS punct_ratio,
  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|is|in|to)\b')) AS DOUBLE)
    / {_NTOKENS_SQL} AS stopword_ratio,
  {_LANG_SQL} AS lang_pred,
  {_QUALITY_SQL} AS quality,
  {_FP_SQL} AS fp,
  {_repeat_frac_sql("__lines")} AS dup_line_frac,
  {_repeat_frac_sql("__grams3")} AS rep3_ratio
FROM (
  SELECT *, {_LINES_LIST_SQL} AS __lines, {_GRAMS3_LIST_SQL} AS __grams3
  FROM documents
)
"""


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprint sets per document — the
    MOSS partial-overlap detector. Deterministic md5-prefix gram
    hashes, so the full pipeline is SQL-oracled."""
    from delta_lake_experiment_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=3, window=4).select(
        F.col("__id").alias("doc_id"), "pos", "fp"
    )


WINNOW_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
  FROM toks
), grams AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
  FROM idx
), hashed AS (
  SELECT doc_id, pos, ('0x' || substring(md5(g), 1, 15))::BIGINT AS h FROM grams
), m AS (
  SELECT doc_id, pos, h,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
    COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM hashed
)
SELECT doc_id, CAST(MIN(pos) AS INT) AS pos, wmin AS fp
FROM m WHERE pos <= n - 4 OR n < 4
GROUP BY doc_id, wmin
"""


# -- dedup --------------------------------------------------------------


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint, deterministic
    survivor = lowest doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    from delta_lake_experiment_spark.operators.text import fingerprint

    with_fp = docs.withColumn("fp", fingerprint(F.col("text")))
    return exact_dedup(with_fp, ["fp"], "doc_id").select("doc_id", "fp", "lang", "source")


DEDUP_EXACT_SQL = r"""
SELECT doc_id, fp, lang, source FROM (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs (approximate — no SQL oracle;
    operator invariants are pytest-checked against exact Jaccard)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, num_bands=4, threshold=0.5
    ).orderBy("id_a", "id_b")


# Hot-shingle document-frequency cap, ON by default in every driver
# query on the exact-Jaccard lane (near_dup_jaccard,
# dedup_cluster_assignment, corpus_curation_funnel) and mirrored in
# their oracles, so the capped semantics are value-checked — not
# trusted. 64 is inert on the synthetic corpora (measured max 3-gram
# df: 9 at sf0.001, 7 at sf0.01, 25 at sf0.1 — a pytest proves
# capped == uncapped) while killing the O(df²) hot-gram blowup the
# uncapped inverted index has at 100 TB.
_NEAR_DUP_CAP = 64

# driver-collect cap for the incremental lanes' verified pair sets
# (VERDICT r16 item 7, guide §5): the sets are batch-bounded by
# design, but a pathological batch — a flood of near-identical
# documents — makes them quadratic in the flood; 2M pair rows is
# ~100 MB on the driver, far above any legitimate batch and far below
# an OOM
_PAIR_COLLECT_CAP = 2_000_000


def _collect_pairs_bounded(df, what: str, cap: int = _PAIR_COLLECT_CAP):
    """Loud bounded driver-collect: ``limit(cap+1)`` bounds the fetch
    itself (orderBy+limit plans as TakeOrdered — the probe can never
    pull more than cap+1 rows), so an index-flood batch fails as a
    NAMED error instead of a driver OOM."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"{what}: verified pair set exceeds the {cap}-row"
            " driver-collect cap - the batch floods the index with"
            " near-identical documents; split the batch or dedup it"
            " upstream"
        )
    return rows


def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs at >= 0.5 — deterministic
    (posting-capped; see _NEAR_DUP_CAP)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5,
        max_postings=_NEAR_DUP_CAP,
    )


# Exact-Jaccard oracle: same inverted-index construction in SQL,
# including the posting cap.
NGRAM_JACCARD_SQL = f"""
WITH {_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP)}
SELECT id_a, id_b, jaccard FROM pairs
"""


def near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-then-verify fuzzy dedup (r14;
    operators/dedup.py::verified_near_duplicates): posting-capped
    exact-Jaccard candidates at a recall-oriented 0.3 gate, each pair
    CONFIRMED by a character-level Levenshtein bound over the first
    400 characters (edit_dist <= floor(0.2 * max prefix length)) —
    the production two-stage fuzzy-dedup shape, value-oracled exactly
    on this corpus (all-ASCII, so Spark's codepoint levenshtein and
    DuckDB's byte levenshtein agree; see the operator docstring for
    the non-ASCII edge)."""
    docs = load_table(spark, sf_dir, "documents")
    return verified_near_duplicates(
        docs, "doc_id", "text",
        shingle_n=3, candidate_threshold=0.3,
        max_postings=_NEAR_DUP_CAP, prefix_chars=400, max_edit_ratio=0.2,
    )


_VERIFIED_PAIRS_CTES = f"""{_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP, threshold=0.3)},
pfx AS (
  SELECT doc_id, substr(text, 1, 400) AS pfx FROM documents
),
vpairs AS (
  SELECT p.id_a, p.id_b, p.jaccard,
         levenshtein(a.pfx, b.pfx) AS edit_dist
  FROM pairs p
  JOIN pfx a ON p.id_a = a.doc_id
  JOIN pfx b ON p.id_b = b.doc_id
  WHERE levenshtein(a.pfx, b.pfx)
        <= floor(0.2 * greatest(length(a.pfx), length(b.pfx)))
)"""

NEAR_DUP_VERIFIED_SQL = f"""
WITH {_VERIFIED_PAIRS_CTES}
SELECT id_a, id_b, jaccard, edit_dist FROM vpairs
"""


def dedup_verified_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the VERIFIED near-dup pairs (r14):
    the two-stage fuzzy dedup's keep/drop decision — every document
    gets its cluster id (min doc_id reachable through verified edges)
    and a canonical flag, exactly dedup_cluster_assignment's contract
    with the precision-verified edge set. Because the verifier prunes
    candidate edges, chains that only existed through unverified
    candidates break apart — the behavioral difference a two-stage
    pipeline buys."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = verified_near_duplicates(
        docs, "doc_id", "text",
        shingle_n=3, candidate_threshold=0.3,
        max_postings=_NEAR_DUP_CAP, prefix_chars=400, max_edit_ratio=0.2,
    )
    out = assign_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id"
    )
    return out.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# the same recursive fixpoint as _COMPONENTS_CTES, over the VERIFIED
# edge set (that builder is hardwired to a CTE named ``pairs``; the
# verified lane's pairs live in ``vpairs``)
DEDUP_VERIFIED_CLUSTERS_SQL = f"""
WITH RECURSIVE {_VERIFIED_PAIRS_CTES},
vedges AS (
  SELECT id_a AS a, id_b AS b FROM vpairs
  UNION ALL
  SELECT id_b, id_a FROM vpairs
), vreach(id, r) AS (
  SELECT DISTINCT a, a FROM vedges
  UNION
  SELECT e.a, w.r FROM vedges e JOIN vreach w ON w.id = e.b
), vcomp AS (
  SELECT id, MIN(r) AS component FROM vreach GROUP BY id
)
SELECT d.doc_id,
  COALESCE(c.component, d.doc_id) AS component,
  d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN vcomp c ON c.id = d.doc_id
"""


def incremental_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time fuzzy dedup against a PERSISTED posting index (r15;
    operators/dedup.py::incremental_verified_near_duplicates): the
    corpus' word-3-gram posting index and 400-char prefixes live as
    ACID engine tables — the postings BUCKETED BY sh, so the candidate
    join probes the index with NO index-side Exchange — and an
    incoming batch (doc_id % 5 == 4) is deduped against corpus∪batch
    WITHOUT re-shingling the corpus: only the batch's text is read.
    The batch's postings and prefixes are appended in the same
    transaction (index and corpus stay consistent by commit); an
    in-query invariant asserts the updated index carries exactly
    corpus+batch postings.

    Value-oracled end to end: the DuckDB twin recomputes the one-shot
    pipeline over ALL documents from STRINGS (df cap and set sizes
    over the union — exactly what the incremental df fold computes)
    restricted to pairs touching the batch, then verifies with the
    same levenshtein budget — so a stale index, a missed batch-
    internal pair, a double-counted new×new candidate, or a df cap
    drifting from one-shot semantics all hash-diverge."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.operators.dedup import (
        incremental_verified_near_duplicates,
        shingle_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_incdedup_"))
    c.new_tx()
    c.create_table(
        "dedup_postings", "doc_id BIGINT, sh BIGINT",
        bucket_by=(["sh"], 8),
    )
    c.create_table("dedup_prefixes", "doc_id BIGINT, pfx STRING")
    corpus_postings = (
        shingle_hashes(corpus, "doc_id", "text", n=3)
        .distinct()
        .select(F.col("__id").alias("doc_id"), "sh")
    )
    c.write_dataframe("dedup_postings", corpus_postings)
    c.write_dataframe(
        "dedup_prefixes",
        corpus.select(
            "doc_id", F.substring("text", 1, 400).alias("pfx")
        ),
    )
    c.commit_tx()
    c.new_tx()
    # count the COMMITTED table, not corpus_postings — re-counting the
    # unpersisted source would re-run the whole corpus shingle pass
    # the lane exists to avoid (r15 review catch). Metadata-only count
    # (r16 optimization round): the log's per-object num_rows answers
    # without a scan job.
    n_corpus = c.table_row_count("dedup_postings")
    idx = c.scan_bucketed("dedup_postings", with_stamps=False)
    pfx = c.scan("dedup_prefixes", with_stamps=False)
    pairs, new_postings, new_prefixes = incremental_verified_near_duplicates(
        idx, pfx, batch, "doc_id", "text",
        shingle_n=3, candidate_threshold=0.3,
        max_postings=_NEAR_DUP_CAP, prefix_chars=400, max_edit_ratio=0.2,
    )
    # the index update rides the SAME transaction as the ingest; the
    # pairs scan's file list was pinned when scan_bucketed ran, so the
    # append cannot leak into the candidate join
    c.write_dataframe("dedup_postings", new_postings)
    c.write_dataframe("dedup_prefixes", new_prefixes)
    n_batch = new_postings.count()
    c.commit_tx()
    c.new_tx()
    n_index = c.table_row_count("dedup_postings")
    c.abort_tx()
    if n_index != n_corpus + n_batch:
        raise AssertionError(
            f"index update lost rows: {n_index} != {n_corpus} +"
            f" {n_batch}"
        )
    # ONE execution of the pipeline (r16 optimization round, the
    # sibling lanes' pattern): materialize the tiny pair set BEFORE
    # releasing the operator's batch-sized persists — returning the
    # lazy frame made the consumer's action re-run the whole
    # candidate+verify pipeline (including re-shingling the batch)
    # against cold caches, doubling the query.
    pair_rows = _collect_pairs_bounded(
        pairs.orderBy("id_a", "id_b"), "incremental_near_dup_ingest"
    )
    # honor the operator's cleanup contract (r15 advisor note): the
    # batch-sized internal persists must not outlive the batch —
    # release them now that the writes are committed
    for cached in pairs._cached_inputs:
        cached.unpersist()
    return spark.createDataFrame(pair_rows, pairs.schema)


INCREMENTAL_NEAR_DUP_SQL = f"""
WITH {_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP, threshold=0.3)},
bpairs AS (
  SELECT * FROM pairs WHERE id_a % 5 = 4 OR id_b % 5 = 4
),
ipfx AS (
  SELECT doc_id, substr(text, 1, 400) AS pfx FROM documents
)
SELECT p.id_a, p.id_b, p.jaccard,
       levenshtein(a.pfx, b.pfx) AS edit_dist
FROM bpairs p
JOIN ipfx a ON p.id_a = a.doc_id
JOIN ipfx b ON p.id_b = b.doc_id
WHERE levenshtein(a.pfx, b.pfx)
      <= floor(0.2 * greatest(length(a.pfx), length(b.pfx)))
ORDER BY p.id_a, p.id_b
"""


def incremental_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16: the LSH-SIGNATURE variant of the persisted fuzzy-dedup
    index (operators/dedup.py::incremental_verified_near_duplicates
    with ``index_kind="lsh"``, VERDICT r15 item 5): the corpus lives
    as banded MinHash signatures in an engine table BUCKETED BY
    (band, bh) — 8 index rows per document instead of O(shingles),
    the ~10× smaller 100 TB index shape — and the incoming batch
    (doc_id % 5 == 4) probes it without re-reading corpus text; every
    candidate is confirmed by the same bounded Levenshtein budget as
    the exact lane, and the batch's bands + prefixes append in the
    SAME transaction.

    Approximate by design (xxhash64 banding is not SQL-expressible)
    → rows-only driver check, hardened in-query three ways (the ANN
    lanes' recall-floor discipline): (1) an overlap floor — the LSH
    survivors must recover ≥90% of the EXACT incremental lane's
    verified pairs on this corpus; (2) a size assertion — the bands
    index is exactly num_bands rows/doc and strictly smaller than the
    posting index it replaces; (3) the index-update invariant — the
    post-commit band count equals (corpus + batch) × num_bands.

    Cost profile (deliberate, like the other lifecycle certification
    queries): this is a DUAL-LANE run — the exact incremental lane
    executes alongside the LSH lane to feed the floor, plus two index
    builds and three commits — and it is fixed-overhead-bound, not
    data-bound (≈21 s at sf0.01 vs ≈26 s at sf0.1: near-flat in data
    size; the production probe-only slice is the ~3 s stage). The
    corpus text is shingled exactly once (``shingle_hash_df=`` reuse)
    and the tiny pair set is returned materialized so a later collect
    cannot re-run the pipeline after the caches release."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.operators.dedup import (
        document_lsh_bands,
        incremental_verified_near_duplicates,
        shingle_hashes,
    )

    NH, NB = 32, 8
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    # ONE shingle pass over the corpus text, reused three ways (the
    # band build, the posting-size comparison, and the exact-lane
    # overlap floor) — without this the corpus would be re-shingled
    # per consumer, tripling the dominant cost of the query
    corpus_sh = (
        shingle_hashes(corpus, "doc_id", "text", n=3).distinct().persist()
    )
    c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_lshdedup_"))
    c.new_tx()
    c.create_table(
        "lsh_bands", "doc_id BIGINT, band INT, bh BIGINT",
        bucket_by=(["band", "bh"], 8),
    )
    c.create_table("lsh_prefixes", "doc_id BIGINT, pfx STRING")
    c.write_dataframe(
        "lsh_bands",
        document_lsh_bands(
            corpus, "doc_id", "text",
            shingle_n=3, num_hashes=NH, num_bands=NB,
            shingle_hash_df=corpus_sh,
        ),
    )
    c.write_dataframe(
        "lsh_prefixes",
        corpus.select(
            "doc_id", F.substring("text", 1, 400).alias("pfx")
        ),
    )
    c.commit_tx()
    c.new_tx()
    # metadata-only count (r16 optimization round; table_row_count)
    n_corpus_bands = c.table_row_count("lsh_bands")
    n_corpus = corpus.count()
    # size claim: O(num_bands)/doc, strictly under the posting index
    if n_corpus_bands != n_corpus * NB:
        raise AssertionError(
            f"bands index: {n_corpus_bands} != {n_corpus} * {NB}"
        )
    n_postings = corpus_sh.count()
    if n_corpus_bands >= n_postings:
        raise AssertionError(
            f"bands index ({n_corpus_bands}) not smaller than the"
            f" posting index it replaces ({n_postings})"
        )
    idx = c.scan_bucketed("lsh_bands", with_stamps=False)
    pfx = c.scan("lsh_prefixes", with_stamps=False)
    pairs, new_bands, new_pfx = incremental_verified_near_duplicates(
        idx, pfx, batch, "doc_id", "text",
        index_kind="lsh", shingle_n=3, num_hashes=NH, num_bands=NB,
        prefix_chars=400, max_edit_ratio=0.2,
    )
    # ONE execution of the probe: the collected rows feed the floor
    # check AND the returned frame (tiny pair set — materializing it
    # means the driver's later collect cannot re-run the whole
    # candidate+verify pipeline after the caches release below)
    pair_rows = _collect_pairs_bounded(
        pairs.orderBy("id_a", "id_b"), "incremental_lsh_ingest"
    )
    got = {(r.id_a, r.id_b) for r in pair_rows}
    # overlap floor vs the EXACT incremental lane (test-scale guard,
    # the _check_recall discipline; a production ingest skips it).
    # The per-shingle document frequencies are precomputed ONCE from
    # the cached shingle frame and handed in as the df_counts sidecar
    # (r16 optimization round): the floor lane's index side is a cache,
    # not a bucketed table, so the operator's in-plan df fold would
    # re-aggregate it on every evaluation of the capped-index subtree
    # (candidates AND sizes) — the sidecar form pins that aggregate to
    # one pass, exactly the maintained-sidecar shape the operator
    # documents for production.
    corpus_df = (
        corpus_sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).persist()
    )
    exact_pairs, _, _ = incremental_verified_near_duplicates(
        corpus_sh.select(F.col("__id").alias("doc_id"), "sh"),
        pfx, batch, "doc_id", "text",
        shingle_n=3, candidate_threshold=0.3,
        max_postings=_NEAR_DUP_CAP, prefix_chars=400, max_edit_ratio=0.2,
        df_counts=corpus_df,
    )
    exact = {
        (r.id_a, r.id_b)
        for r in _collect_pairs_bounded(
            exact_pairs, "incremental_lsh_ingest (exact floor lane)"
        )
    }
    corpus_df.unpersist()
    if len(got & exact) < 0.9 * len(exact):
        raise AssertionError(
            f"LSH lane recovered {len(got & exact)}/{len(exact)} of"
            " the exact lane's verified pairs — below the 0.9 floor"
        )
    c.write_dataframe("lsh_bands", new_bands)
    c.write_dataframe("lsh_prefixes", new_pfx)
    c.commit_tx()
    c.new_tx()
    n_index = c.table_row_count("lsh_bands")
    c.abort_tx()
    n_batch = batch.count()
    if n_index != (n_corpus + n_batch) * NB:
        raise AssertionError(
            f"index update lost rows: {n_index} !="
            f" ({n_corpus} + {n_batch}) * {NB}"
        )
    corpus_sh.unpersist()
    for cached in pairs._cached_inputs:
        cached.unpersist()
    for cached in exact_pairs._cached_inputs:
        cached.unpersist()
    return spark.createDataFrame(pair_rows, pairs.schema)


def incremental_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16: the SEMANTIC member of the incremental-dedup family
    (operators/semdedup.py::incremental_semantic_near_duplicates) —
    the embedding-space sibling of incremental_near_dup_ingest,
    completing the persisted-index triad (shingle postings / LSH
    bands / embedding clusters). The corpus' normalized embeddings +
    cluster assignments live as an engine table BUCKETED BY cluster
    alongside the stored centroid model (trained on the CORPUS ONLY —
    the fixed-model half of the build/ingest split); the batch
    (vec_id % 5 == 4) is normalized, assigned under the STORED
    centroids, and verified by exact rounded-dot cosine against
    same-cluster index rows — corpus embeddings are never re-read
    from source, and the batch's rows append in the same transaction.

    FULLY value-oracled, unlike the LSH lane: every stage is
    deterministic and SQL-expressible — the DuckDB twin re-derives
    the corpus-only k-means (seeds + every Lloyd step, the
    semantic_pair_ctes machinery), assigns the UNION under those
    centroids, scores same-cluster pairs at the same rounding grid,
    and restricts to batch-touching pairs — a stale index, a drifted
    assignment, or a rounding-grid mismatch all hash-diverge."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.operators.ann_index import (
        load_centroids,
    )
    from delta_lake_experiment_spark.operators.semdedup import (
        deterministic_kmeans,
        incremental_semantic_near_duplicates,
        semantic_index_ddl,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    cents = deterministic_kmeans(
        corpus, "vec_id", "embedding",
        k=_SEM_K, iters=_SEM_ITERS, salt=_SEM_SALT,
    )
    c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_semdedup_"))
    c.new_tx()
    c.create_table(
        "sem_index", semantic_index_ddl("vec_id"),
        bucket_by=(["cluster"], 8),
    )
    c.create_table("sem_centroids", "j int, pos int, x double")
    c.write_dataframe(
        "sem_centroids",
        spark.createDataFrame(
            [
                (j, p, float(x))
                for j, cv in enumerate(cents)
                for p, x in enumerate(cv)
            ],
            "j int, pos int, x double",
        ),
    )
    _, corpus_rows = incremental_semantic_near_duplicates(
        spark.createDataFrame([], semantic_index_ddl("vec_id")),
        corpus, cents, "vec_id", "embedding", threshold=_SEM_THRESHOLD,
    )
    c.write_dataframe("sem_index", corpus_rows)
    c.commit_tx()
    for cached in (corpus_rows,):
        cached.unpersist()
    c.new_tx()
    # metadata-only count (r16 optimization round; table_row_count)
    n_corpus = c.table_row_count("sem_index")
    stored = load_centroids(c, "sem_centroids")
    idx = c.scan_bucketed("sem_index", with_stamps=False)
    pairs, new_rows = incremental_semantic_near_duplicates(
        idx, batch, stored, "vec_id", "embedding",
        threshold=_SEM_THRESHOLD,
    )
    pair_rows = _collect_pairs_bounded(
        pairs.orderBy("id_a", "id_b"), "incremental_semantic_ingest"
    )
    c.write_dataframe("sem_index", new_rows)
    c.commit_tx()
    c.new_tx()
    n_index = c.table_row_count("sem_index")
    c.abort_tx()
    n_batch = batch.count()
    if n_index != n_corpus + n_batch:
        raise AssertionError(
            f"index update lost rows: {n_index} != {n_corpus} +"
            f" {n_batch}"
        )
    for cached in pairs._cached_inputs:
        cached.unpersist()
    return spark.createDataFrame(pair_rows, pairs.schema)


def advanced_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-4 flagship composition — the MODERN curation stack
    in one run, every stage a lane this repo ships and oracles:

      1. LEARNED quality gate: train the hashed-logreg classifier on
         the heuristic weak labels, keep docs scoring >= 0.5
         (quality_classified_corpus's lane);
      2. ENSEMBLE dedup over the kept docs: exact-Jaccard edges
         (posting-capped) UNION semantic edges (deterministic k-means
         + within-cluster cosine over the id-aligned embeddings),
         ONE connected-components resolution;
      3. BEST-COPY survivors: each cluster keeps its highest
         heuristic-quality doc (canonical_by), not its min id;
      4. deterministic train/val/test split of the survivors.

    Returns (doc_id, lang, split). The DuckDB oracle chains the same
    machine-generated fragments — classifier training CTEs, jaccard
    pair CTEs, the semantic Lloyd chain, the component fixpoint, the
    split thresholds — so the COMPOSITION hash-matches end-to-end,
    not just each stage."""
    from delta_lake_experiment_spark.operators.cluster import canonical_by
    from delta_lake_experiment_spark.operators.classifier import (
        hashed_feature_sets,
        score_hashed_logreg,
        train_hashed_logreg,
    )
    from delta_lake_experiment_spark.operators.semdedup import semantic_pairs

    # Shared-stage evaluation (identical VALUES to the per-stage lanes
    # the oracle re-derives — this block only removes duplicate
    # passes): the text-stats pass is computed once and cached (it
    # feeds the weak labels, the quality rank, and the output), and
    # the corpus is tokenized+hashed once into feature sets reused by
    # training AND scoring (previously two passes).
    docs = with_text_stats(load_table(spark, sf_dir, "documents")).persist()
    fsets = hashed_feature_sets(docs, "doc_id", "text", _CLF_DIM).persist()
    labeled = docs.select(
        "doc_id", "text", (F.col("quality") >= 0.5).cast("int").alias("__label")
    )
    w, bias = train_hashed_logreg(
        labeled,
        "doc_id",
        "text",
        "__label",
        dim=_CLF_DIM,
        iters=_CLF_ITERS,
        lr=_CLF_LR,
        round_digits=_CLF_ROUND,
        feature_sets=fsets,
    )
    kept = docs.join(
        score_hashed_logreg(
            docs, "doc_id", "text", w, bias, feature_sets=fsets
        )
        .filter("keep")
        .select("doc_id"),
        "doc_id",
        "left_semi",
    ).persist()  # feeds the pair lanes, the quality rank, and the output

    lex = ngram_jaccard_pairs(
        kept, "doc_id", "text", shingle_n=3, threshold=0.5,
        max_postings=_NEAR_DUP_CAP,
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    emb = load_table(spark, sf_dir, "embeddings")
    kept_ids = kept.select(F.col("doc_id").alias("vec_id"))
    sem = (
        semantic_pairs(
            emb, "vec_id", "embedding",
            k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD,
            salt=_SEM_SALT,
        )
        .join(kept_ids.select(F.col("vec_id").alias("id_a")), "id_a", "left_semi")
        .join(kept_ids.select(F.col("vec_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    )
    resolved = canonical_by(
        kept.select("doc_id", "lang", "quality"),
        lex.unionByName(sem),
        "doc_id",
        [F.desc("quality")],
    )
    survivors = resolved.filter("is_canonical").select("doc_id", "lang")
    return hash_split(
        survivors, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT
    ).select("doc_id", "lang", "split")


def _advanced_pipeline_sql() -> str:
    from delta_lake_experiment_spark.operators.semdedup import semantic_pair_ctes

    split_case = split_thresholds_sql(
        "CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT
    )
    return (
        "WITH RECURSIVE "
        + _clf_ctes()
        + f""",
ascored AS MATERIALIZED (
  SELECT d.doc_id, 1.0 / (1.0 + exp(-(
    (SELECT w FROM w{_CLF_ITERS} WHERE f = -1)
    + COALESCE((SELECT SUM(wi.w) FROM lrfeats lf JOIN w{_CLF_ITERS} wi ON wi.f = lf.f
                WHERE lf.doc_id = d.doc_id), 0.0)
  ))) AS prob
  FROM lrdocs d
), kept AS MATERIALIZED (
  SELECT d.*, {_QUALITY_SQL} AS q
  FROM documents d JOIN ascored s ON s.doc_id = d.doc_id
  WHERE round(s.prob, 6) >= 0.5
),
"""
        + _jaccard_pairs_ctes("kept", max_postings=_NEAR_DUP_CAP)
        + ",\n"
        + semantic_pair_ctes(
            "embeddings", "vec_id", "embedding",
            k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD,
            salt=_SEM_SALT,
        )
        + """,
upairs AS (
  SELECT id_a, id_b FROM pairs
  UNION
  SELECT CAST(sp.id_a AS BIGINT), CAST(sp.id_b AS BIGINT) FROM sem_pairs sp
  WHERE sp.id_a IN (SELECT doc_id FROM kept)
    AND sp.id_b IN (SELECT doc_id FROM kept)
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM upairs
  UNION ALL
  SELECT id_b, id_a FROM upairs
), reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, w.r FROM edges e JOIN reach w ON w.id = e.b
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
),
resolved AS (
  SELECT k.doc_id, k.lang,
    ROW_NUMBER() OVER (
      PARTITION BY COALESCE(c.component, k.doc_id)
      ORDER BY k.q DESC, k.doc_id ASC
    ) = 1 AS is_canonical
  FROM kept k LEFT JOIN comp c ON c.id = k.doc_id
)
"""
        + f"""SELECT doc_id, lang, {split_case} AS split
FROM resolved WHERE is_canonical
"""
    )


def dedup_best_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution keeping the BEST copy
    (operators/cluster.py::canonical_by): exact-Jaccard pair edges ->
    connected components -> per cluster, the survivor is the
    highest-QUALITY document (heuristic score; ties by doc_id), not
    the lowest id — the keep-policy a curation pipeline actually
    wants. The oracle re-ranks the recursive-CTE components by the
    same bit-exact quality expression."""
    from delta_lake_experiment_spark.operators.cluster import canonical_by

    docs = with_text_stats(load_table(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5,
        max_postings=_NEAR_DUP_CAP,
    )
    out = canonical_by(
        docs.select("doc_id", "quality"), pairs, "doc_id",
        [F.desc("quality")],
    )
    return out.select("doc_id", "component", "is_canonical")


DEDUP_BEST_CANONICAL_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP)}, {_COMPONENTS_CTES},
bq AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         {_QUALITY_SQL} AS q
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, component,
  ROW_NUMBER() OVER (PARTITION BY component ORDER BY q DESC, doc_id ASC) = 1
    AS is_canonical
FROM bq
"""


def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document gram-novelty (operators/dedup.py::gram_novelty):
    the fraction of each doc's distinct word-3-grams unique to it in
    the corpus — the cross-document originality signal (template spam
    scores ~0). Hashed-gram lane, string-gram oracle."""
    from delta_lake_experiment_spark.operators.dedup import gram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return gram_novelty(docs, "doc_id", "text", shingle_n=3)


DOC_NOVELTY_SQL = r"""
WITH nvt AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), nvg AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM nvt
), nvdf AS (
  SELECT g, COUNT(*) AS df FROM nvg GROUP BY g
)
SELECT n.doc_id, CAST(COUNT(*) AS INT) AS n_grams,
  round(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
    AS novel_frac
FROM nvg n JOIN nvdf f ON f.g = n.g
GROUP BY n.doc_id
"""


_HOT_GRAM_K = 20


def hot_ngram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-gram mining: the top-20 word-3-grams by DOCUMENT
    frequency (distinct docs containing the gram) with their corpus
    share — the evidence a pipeline owner sets the dedup lanes'
    ``max_postings`` cap (and line-dedup thresholds) with, instead of
    guessing. One distinct-gram explode + one count aggregate +
    TakeOrdered; the gram STRINGS only materialize for the k report
    rows (the dedup lanes themselves stay on hashed grams)."""
    from delta_lake_experiment_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    # corpus size from the parquet FOOTER (driver-side pyarrow), not a
    # full-scan count() — the ADVICE-r4 lesson from the IVF lane
    n_docs = _parquet_num_rows(os.path.join(sf_dir, "documents.parquet"))
    return (
        shingles(docs, "doc_id", "text", n=3, distinct=True)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .withColumn(
            "doc_share", F.round(F.col("doc_freq") / F.lit(float(n_docs)), 6)
        )
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(_HOT_GRAM_K)
    )


HOT_NGRAM_SQL = f"""
WITH hgt AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), hgg AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
  FROM hgt
)
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq,
  round(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents), 6) AS doc_share
FROM hgg GROUP BY shingle
ORDER BY doc_freq DESC, shingle ASC
LIMIT {_HOT_GRAM_K}
"""


def near_dup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs at >= 0.9 (operators/dedup.py::
    ngram_containment_pairs — Broder's |∩|/min overlap coefficient):
    the asymmetric near-dup Jaccard structurally misses, a short doc
    quoted wholesale inside a long one. Same posting-capped inverted
    index as near_dup_jaccard; only the final ratio differs."""
    docs = load_table(spark, sf_dir, "documents")
    from delta_lake_experiment_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    return ngram_containment_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.9,
        max_postings=_NEAR_DUP_CAP,
    )


NEAR_DUP_CONTAINMENT_SQL = f"""
WITH {_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP,
                          metric="containment", threshold=0.9)}
SELECT id_a, id_b, containment FROM pairs
"""


def near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SimHash near-dup pairs (hamming <= 3): banded join is
    lossless by pigeonhole (3 < 4 bands), so a brute-force SQL cross
    join is a valid oracle. (The former standalone ``doc_simhash``
    signature query is consolidated into this one — the signature CTE
    of the oracle below value-checks the same md5-derived bits, and
    ``simhash_signature`` is pytest-checked bit-for-bit against a
    pure-Python md5-majority reference.)"""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, "doc_id", "text", bits=60, num_bands=4, max_hamming=3,
    )


NEAR_DUP_SIMHASH_SQL = r"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, j,
    CASE WHEN 2 * SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE 0 END) > COUNT(*)
         THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM h, range(60) t(j) GROUP BY doc_id, j
), s AS (
  SELECT doc_id, SUM(bit << j)::BIGINT AS simhash FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via the block-matrix plan
    (no CartesianProduct — bundle equi-join over hashed blocks; see
    operators/dedup.py). Threshold 0.35 because the synthetic
    embeddings carry no planted duplicates (max pairwise cosine ~0.6);
    the operator itself defaults to 0.95 for real data. block_size=256
    keeps P(P+1)/2 block-pair tasks >= cores at test scale.

    strategy="gemm": each block pair is scored by one numpy matrix
    multiply (BLAS) instead of per-pair interpreted lambdas — ~10x
    wall-clock on this query. round_digits=6 makes the score grid
    coarse enough that BLAS-vs-sequential fold order cannot move a
    rounded value (see the operator docstring); the oracle rounds the
    same way."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.35, block_size=256,
        strategy="gemm", round_digits=6,
    )


NEAR_DUP_EMBEDDING_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
"""


# -- similarity search --------------------------------------------------


def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 (excluded from results)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    return cosine_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", query, k=10
    )


SIM_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
  round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
    / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))
           * list_dot_product(qv, qv)), 9) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def _parquet_num_rows(path: str) -> int:
    """Row count from parquet footer metadata — O(footer) driver-side
    read via pyarrow, no Spark job, no data scan."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def _check_recall(approx: DataFrame, exact: DataFrame, floor: float, name: str) -> None:
    """Self-check an ANN result against the exact top-k inside the same
    job: the rows-only driver check then certifies more than a row
    count — the query FAILS outright below the recall floor. (Test-scale
    guard; a production ANN query skips the exact pass.)"""
    a = {r[0] for r in approx.select("vec_id").collect()}
    e = {r[0] for r in exact.select("vec_id").collect()}
    recall = len(a & e) / max(1, len(e))
    if recall < floor:
        raise AssertionError(f"{name}: recall {recall:.2f} below floor {floor}")


def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: SRP-bucketed candidate set, then exact rerank.
    Approximate by design (bucket membership is xxhash64-derived, not
    SQL-expressible) -> rows-only driver check, hardened by an in-query
    recall floor vs the exact top-k and by operator pytests."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    dim = len(query)
    base = emb.filter(F.col("vec_id") != 0)
    # hamming-1 multiprobe: 5/16 of the buckets scanned; on this
    # UNclustered synthetic corpus that buys recall 0.1 -> ~0.5+
    out = lsh_bucket_topk(
        spark, base, "vec_id", "embedding", query, dim=dim, k=10, bits=4,
        probe_hamming=1,
    )
    _check_recall(
        out, cosine_topk(base, "vec_id", "embedding", query, k=10), 0.3, "lsh_topk"
    )
    return out


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN variant: probe the 4 nearest of 16 hash-sampled centroid
    lists, exact-rerank. Approximate by design (centroid sampling is
    xxhash64-derived) -> rows-only driver check, hardened by an
    in-query recall floor vs the exact top-k; clustered-data recall is
    pytest-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    # Probe breadth adapts to list occupancy: scan enough lists to
    # expect >= 25*k = 250 candidates (n * n_probe / n_centroids). On a tiny
    # corpus this widens toward a full scan — the honest IVF behavior,
    # since sparse inverted lists cannot buy recall — while at
    # production n the floor of 4 dominates and the 4/16 pruning holds.
    # n comes from the parquet FOOTER row count (pyarrow metadata read,
    # no Spark job — a base.count() here would full-scan the filtered
    # embeddings inside a benched query), minus 1 for the excluded
    # query row. At sf0.001 the fixed n_probe=4 measured recall 0.10 on
    # unclustered data.
    import math as _math

    k = 10
    n_centroids = 16
    n = max(_parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet")) - 1, 1)
    n_probe = min(
        n_centroids, max(4, _math.ceil(n_centroids * 25 * k / max(n, 1)))
    )
    out = ivf_topk(
        spark, base, "vec_id", "embedding", query, k=k,
        n_centroids=n_centroids, n_probe=n_probe,
    )
    _check_recall(
        out, cosine_topk(base, "vec_id", "embedding", query, k=10), 0.2, "ivf_topk"
    )
    return out


def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py::pq_topk):
    codebooks trained with the batched Arrow Lloyd pass, corpus
    l2-normalized so ADC inner product == cosine, ADC-scored from m
    ints per vector, exact rerank of the ADC survivors. Approximate by
    construction (quantization error) -> rows-only driver check,
    hardened by an in-query recall floor vs the exact top-k. Rerank
    breadth scales like the IVF probe rule: near-uniform tiny corpora
    need a wide rerank (quantization can't separate ~equal cosines);
    at production n the floor of 100 dominates and the m-int scan is
    the win."""
    import math as _math

    from delta_lake_experiment_spark.operators.similarity import (
        l2_normalize,
        pq_topk,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    norm = base.select(
        "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
    ).persist()
    n = max(_parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet")) - 1, 1)
    rerank = min(n, max(100, _math.ceil(n / 5)))
    books = pq_train_codebooks(
        norm, "vec_id", "embedding", m=16, k=16, refine_iters=1
    )
    out = pq_topk(
        spark, norm, "vec_id", "embedding", query, books, k=10, rerank=rerank
    )
    _check_recall(
        out,
        cosine_topk(base, "vec_id", "embedding", query, k=10),
        0.5,
        "pq_topk",
    )
    return out


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal lane through the driver contract: documents become
    opaque binary payloads with typed metadata (the real pattern for
    image/audio/video columns), features extracted via Arrow-batched
    mapInPandas. Decode is the documented deterministic stub
    (operators/multimodal.py) -> rows-only check; determinism and batch
    shape are pytest-verified."""
    from delta_lake_experiment_spark.operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        (F.col("n_chars") % 640).cast("int").alias("width"),
        (F.col("n_chars") % 480).cast("int").alias("height"),
        (F.col("n_chars").cast("long") * 10).alias("duration_ms"),
    )
    feats = extract_features(media, out_dim=8)
    return feats.select(
        "media_id",
        "kind",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


# The stub decoder is sha256-deterministic, so the whole multimodal lane
# (binary payloads -> Arrow-batched mapInPandas -> features) IS
# oracle-checkable: feature[0] = little-endian uint32 of the digest's
# first 4 bytes / 2^32, narrowed to float32 then widened back — all
# reproducible in SQL.
MULTIMODAL_SQL = """
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents)
SELECT doc_id AS media_id,
  CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  round(CAST(CAST((
      CAST(('0x' || substr(hx, 1, 2)) AS BIGINT)
    + CAST(('0x' || substr(hx, 3, 2)) AS BIGINT) * 256
    + CAST(('0x' || substr(hx, 5, 2)) AS BIGINT) * 65536
    + CAST(('0x' || substr(hx, 7, 2)) AS BIGINT) * 16777216
  ) / 4294967296.0 AS REAL) AS DOUBLE), 6) AS f0
FROM h
"""


# -- deterministic sampling / splitting --------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT = "exp1"
_AUDIT_FRACTION = 0.25
_AUDIT_SALT = "audit"


def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + a 25% audit sample:
    both decisions are md5-hash functions of doc_id (operators/
    sampling.py), so they reproduce bit-identically on any engine, any
    partitioning, any corpus growth — the property that keeps a 100 TB
    training corpus contamination-free across rebuilds. Map-only: no
    shuffle anywhere in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    return hash_sample(split, "doc_id", _AUDIT_FRACTION, salt=_AUDIT_SALT).select(
        "doc_id", "lang", "n_chars", "split"
    )


# Both SQL fragments derive from the SAME constants/threshold function
# as the Spark query above — a fraction/salt change cannot go stale.
DOC_TRAIN_SPLIT_SQL = f"""
SELECT doc_id, lang, n_chars,
  {split_thresholds_sql("CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT)} AS split
FROM documents
WHERE {sample_predicate_sql("CAST(doc_id AS VARCHAR)", _AUDIT_FRACTION, _AUDIT_SALT)}
"""


# -- duplicate-cluster resolution --------------------------------------


def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup pairs:
    every document gets its duplicate-cluster id (min doc_id reachable
    through pair edges; singletons are their own cluster) and a
    canonical flag — the keep/drop decision of a dedup pipeline.
    Iterative hash-min label propagation (operators/cluster.py); the
    DuckDB oracle computes the identical fixpoint with a recursive CTE.

    Cost shape (sf0.1, local[32]): ~2/3 is the exact-Jaccard pair
    generation (the deliberately oracle-portable inverted index, same
    trade as near_dup_jaccard, now posting-capped — production
    pipelines can feed the LSH pair generators instead); the
    propagation rounds are small joins bounded by the edge list.
    Benched since r5 (the cap makes the lane scale-honest)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5,
        max_postings=_NEAR_DUP_CAP,
    )
    out = assign_components(docs.select("doc_id"), pairs, "doc_id")
    return out.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP)}, {_COMPONENTS_CTES}
SELECT d.doc_id,
  COALESCE(c.component, d.doc_id) AS component,
  d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


# -- leakage-safe splitting ---------------------------------------------

_LEAK_SALT = "leak1"


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on the DUPLICATE CLUSTER, not
    the document: near-duplicates (the certified exact-Jaccard
    components chain) always land in the same split, so a test document
    can never have a near-copy in train — the leakage mode a plain
    per-doc hash split silently permits and the single most common
    eval-contamination bug in corpus construction. Composition of two
    certified lanes (dedup_cluster_assignment's components + the
    doc_train_split md5-threshold idiom, re-keyed on the component id),
    so the oracle is their composed SQL verbatim. Deterministic under
    partitioning, engine, and corpus growth for unchanged clusters."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5,
        max_postings=_NEAR_DUP_CAP,
    )
    comp = assign_components(docs.select("doc_id"), pairs, "doc_id")
    return hash_split(comp, "component", _SPLIT_WEIGHTS, salt=_LEAK_SALT).select(
        "doc_id", "component", "split"
    )


def _leakage_safe_split_sql() -> str:
    return f"""
WITH RECURSIVE {_jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP)}, {_COMPONENTS_CTES},
assigned AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, component,
  {split_thresholds_sql("CAST(component AS VARCHAR)", _SPLIT_WEIGHTS, _LEAK_SALT)} AS split
FROM assigned
"""


# -- within-corpus substring-span dedup --------------------------------

_SPAN_N = 8  # gram width (the Lee-et-al contamination/substring unit)
_SPAN_MIN_TOKENS = 16  # = 2 * _SPAN_N, the operator's self-join default


def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (operators/dedup.py::substring_dedup, the
    Lee et al. 2022 within-corpus pass): document pairs sharing a
    contiguous run of >= 16 tokens (word-8-gram diagonal islands over a
    posting-capped inverted-index SELF-join — document-level Jaccard
    misses a verbatim 100-token quotation inside two otherwise-different
    documents), resolved to duplicate clusters by connected components,
    each cluster's min-id doc marked canonical. One row per document.
    The operator joins 64-bit positional gram hashes; the oracle joins
    gram strings — the hashed lane is value-certified per run."""
    from delta_lake_experiment_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = substring_dedup(
        docs.select("doc_id", "text"),
        "doc_id",
        "text",
        shingle_n=_SPAN_N,
        min_span_tokens=_SPAN_MIN_TOKENS,
        max_postings=_NEAR_DUP_CAP,
    )
    return out.select("doc_id", "component", "is_canonical")


def _span_pair_ctes() -> str:
    """Positional self-join twin of _contamination_span_ctes: grams with
    1-based positions (parallel unnest zip), the posting cap over
    DISTINCT (doc, gram), id_a < id_b self-join, diagonal islands, and
    a final ``pairs(id_a, id_b)`` relation at the span threshold —
    named ``pairs`` so _COMPONENTS_CTES composes unchanged."""
    gram = "concat_ws(' ', " + ", ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(_SPAN_N)
    ) + ")"
    # full grams only (no greatest(..., 1)): sub-n docs contribute
    # nothing in the positional lane
    series = f"generate_series(1, len(t) - {_SPAN_N - 1})"
    return rf"""ptoks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), sgrams0 AS (
  SELECT doc_id,
    unnest({series}) AS pos,
    unnest(list_transform({series}, i -> {gram})) AS g
  FROM ptoks
), sdf AS (
  SELECT g FROM (SELECT DISTINCT doc_id, g FROM sgrams0)
  GROUP BY g HAVING COUNT(*) <= {_NEAR_DUP_CAP}
), sgrams AS (
  SELECT s.doc_id, s.pos, s.g FROM sgrams0 s JOIN sdf USING (g)
), sm AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM sgrams a JOIN sgrams b ON a.g = b.g AND a.doc_id < b.doc_id
), sruns AS (
  SELECT id_a, id_b, diag, island, COUNT(*) AS run
  FROM (
    SELECT *, pa - ROW_NUMBER() OVER (
      PARTITION BY id_a, id_b, diag ORDER BY pa
    ) AS island
    FROM sm
  )
  GROUP BY 1, 2, 3, 4
), pairs AS (
  SELECT id_a, id_b FROM sruns GROUP BY id_a, id_b
  HAVING MAX(run) + {_SPAN_N - 1} >= {_SPAN_MIN_TOKENS}
)"""


CORPUS_SPAN_DEDUP_SQL = f"""
WITH RECURSIVE {_span_pair_ctes()}, {_COMPONENTS_CTES}
SELECT d.doc_id,
  COALESCE(c.component, d.doc_id) AS component,
  d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


# -- semantic dedup -----------------------------------------------------

_SEM_K = 8
_SEM_ITERS = 2
_SEM_THRESHOLD = 0.35  # same rationale as near_dup_embedding: the
_SEM_SALT = "sem1"     # synthetic embeddings have no planted dups

from delta_lake_experiment_spark.operators.semdedup import (  # noqa: E402
    semantic_pair_ctes,
)

_INC_SEM_NORM = (
    "CASE WHEN sqrt(list_dot_product(dv, dv)) > 0 THEN "
    "list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv))) "
    "ELSE dv END"
)

# incremental_semantic_ingest's oracle: training CTEs over the CORPUS
# ONLY (the stored model), then union assignment under sc{iters} +
# same-cluster cosine at the same grid, batch-touching pairs only
INCREMENTAL_SEMANTIC_SQL = f"""
WITH {semantic_pair_ctes(
    "(SELECT * FROM embeddings WHERE vec_id % 5 <> 4)",
    "vec_id", "embedding",
    k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD,
    salt=_SEM_SALT,
)},
ue AS MATERIALIZED (
  SELECT vec_id AS i, {_INC_SEM_NORM} AS v
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings)
), ufinal AS MATERIALIZED (
  SELECT i, j FROM (
    SELECT ue.i, c.j, ROW_NUMBER() OVER (
      PARTITION BY ue.i
      ORDER BY round(list_dot_product(ue.v, c.v), 9) DESC, c.j ASC
    ) AS rn
    FROM ue, sc{_SEM_ITERS} c
  ) WHERE rn = 1
)
SELECT a.i AS id_a, b.i AS id_b,
       round(list_dot_product(ea.v, eb.v), 6) AS cosine
FROM ufinal a JOIN ufinal b ON a.j = b.j AND a.i < b.i
JOIN ue ea ON ea.i = a.i JOIN ue eb ON eb.i = b.i
WHERE round(list_dot_product(ea.v, eb.v), 6) >= {_SEM_THRESHOLD}
  AND (a.i % 5 = 4 OR b.i % 5 = 4)
ORDER BY id_a, id_b
"""


def semantic_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py): deterministic k-means over the
    embeddings (rounded Lloyd steps, md5 seeds), within-cluster cosine
    pairs at >= 0.35, connected components, min-id canonical. Unlike
    the rows-only ANN lanes, every step here is engine-reproducible by
    construction, so the DuckDB oracle re-derives the ENTIRE pipeline —
    seeds, both Lloyd iterations, assignment, pairs, fixpoint — and the
    hash match certifies it all."""
    from delta_lake_experiment_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding",
        k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD, salt=_SEM_SALT,
    )


def _semantic_dedup_sql() -> str:
    from delta_lake_experiment_spark.operators.semdedup import semantic_dedup_sql

    return semantic_dedup_sql(
        "embeddings", "vec_id", "embedding",
        k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD, salt=_SEM_SALT,
    )


def ensemble_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical + semantic ENSEMBLE dedup: a document is a duplicate if
    it is an exact-Jaccard near-dup (surface overlap) OR a semantic
    near-dup of its aligned embedding (same meaning, different words —
    the pair surface dedup provably misses). Both edge sets feed ONE
    connected-components resolution, so mixed chains collapse
    correctly (A ~lex~ B ~sem~ C keeps only one canonical) — resolving
    the two graphs separately would keep both "canonicals" of a mixed
    cluster. The embeddings table is id-aligned with documents
    (TESTDATA.md); the oracle unions the two pair CTE chains before the
    same recursive fixpoint."""
    from delta_lake_experiment_spark.operators.semdedup import semantic_pairs

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5,
        max_postings=_NEAR_DUP_CAP,
    ).select("id_a", "id_b")
    sem = semantic_pairs(
        emb, "vec_id", "embedding",
        k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD, salt=_SEM_SALT,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    edges = lex.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    ).unionByName(sem)
    out = assign_components(docs.select("doc_id"), edges, "doc_id")
    return out.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


def _ensemble_dedup_sql() -> str:
    from delta_lake_experiment_spark.operators.semdedup import semantic_pair_ctes

    comps = """edges AS (
  SELECT id_a AS a, id_b AS b FROM upairs
  UNION ALL
  SELECT id_b, id_a FROM upairs
), reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, w.r FROM edges e JOIN reach w ON w.id = e.b
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
)"""
    return (
        "WITH RECURSIVE "
        + _jaccard_pairs_ctes("documents", max_postings=_NEAR_DUP_CAP)
        + ",\n"
        + semantic_pair_ctes(
            "embeddings", "vec_id", "embedding",
            k=_SEM_K, iters=_SEM_ITERS, threshold=_SEM_THRESHOLD,
            salt=_SEM_SALT,
        )
        + """,
upairs AS (
  SELECT id_a, id_b FROM pairs
  UNION
  SELECT CAST(id_a AS BIGINT), CAST(id_b AS BIGINT) FROM sem_pairs
),
"""
        + comps
        + """
SELECT d.doc_id,
  COALESCE(c.component, d.doc_id) AS component,
  d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""
    )


# -- learned quality classifier ----------------------------------------

_CLF_DIM = 32
_CLF_ITERS = 6
_CLF_LR = 0.5
_CLF_ROUND = 9
# weak label: the heuristic quality gate (doc_text_stats hash-matches
# `quality` bit-exactly between engines, so the 0.5 threshold below
# yields identical labels on both sides)
_CLF_LABEL_SQL = f"CASE WHEN {_QUALITY_SQL} >= 0.5 THEN 1 ELSE 0 END"


def _clf_train(spark: SparkSession, sf_dir: str):
    from delta_lake_experiment_spark.operators.classifier import (
        train_hashed_logreg,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = with_text_stats(docs).select(
        "doc_id", "text", (F.col("quality") >= 0.5).cast("int").alias("__label")
    )
    return docs, train_hashed_logreg(
        labeled,
        "doc_id",
        "text",
        "__label",
        dim=_CLF_DIM,
        iters=_CLF_ITERS,
        lr=_CLF_LR,
        round_digits=_CLF_ROUND,
    )


def quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature logistic-regression TRAINING
    (operators/classifier.py::train_hashed_logreg): distill the
    heuristic quality gate into a fastText-style linear classifier —
    per iteration one distributed residual aggregation to O(dim)
    gradient rows, weight updates driver-side on metadata (the
    BPE/IVF pattern). Output is the trained weight table (feature -1 =
    bias); the DuckDB oracle RE-DERIVES every gradient step as chained
    materialized CTEs, so the whole trajectory is value-certified."""
    _, (w, bias) = _clf_train(spark, sf_dir)
    from delta_lake_experiment_spark.operators.classifier import BIAS_FEATURE

    rows = [(BIAS_FEATURE, bias)] + list(enumerate(w))
    return spark.createDataFrame(rows, "feature long, weight double")


def quality_classified_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained classifier APPLIED (operators/classifier.py::
    score_hashed_logreg): sigmoid probability + keep gate per document,
    map-only with literal weights — the shape a 100 TB quality-filter
    pass runs. Train + score in one driver call; the oracle chains the
    training CTEs into the scoring select."""
    from delta_lake_experiment_spark.operators.classifier import (
        score_hashed_logreg,
    )

    docs, (w, bias) = _clf_train(spark, sf_dir)
    return score_hashed_logreg(docs, "doc_id", "text", w, bias)


def _clf_ctes() -> str:
    from delta_lake_experiment_spark.operators.classifier import hashed_logreg_sql

    return hashed_logreg_sql(
        "documents",
        "doc_id",
        _CLF_LABEL_SQL,
        dim=_CLF_DIM,
        iters=_CLF_ITERS,
        lr=_CLF_LR,
        round_digits=_CLF_ROUND,
    )


def _clf_weights_sql() -> str:
    return (
        "WITH "
        + _clf_ctes()
        + f"\nSELECT f AS feature, w AS weight FROM w{_CLF_ITERS}"
    )


def _clf_scored_sql() -> str:
    margin = f"""(SELECT w FROM w{_CLF_ITERS} WHERE f = -1)
      + COALESCE((SELECT SUM(wi.w) FROM lrfeats lf JOIN w{_CLF_ITERS} wi ON wi.f = lf.f
                  WHERE lf.doc_id = d.doc_id), 0.0)"""
    return (
        "WITH "
        + _clf_ctes()
        + f""",
scored AS (
  SELECT d.doc_id, round(1.0 / (1.0 + exp(-({margin}))), 6) AS prob
  FROM lrdocs d
)
SELECT doc_id, prob, prob >= 0.5 AS keep FROM scored"""
    )


# -- multiclass language identification (operators/classifier.py) ------

# fixture language set (a production run would pass its own closed
# class list); dim/iters/lr mirror the binary lane's shapes
_LANGID_CLASSES = ("de", "en", "es", "fr", "zh")
_LANGID_DIM = 32
_LANGID_ITERS = 6
_LANGID_LR = 0.5
_LANGID_ROUND = 9


def _langid_train(spark: SparkSession, sf_dir: str):
    from delta_lake_experiment_spark.operators.classifier import (
        hashed_feature_sets,
        train_hashed_softmax,
    )

    docs = load_table(spark, sf_dir, "documents")
    fsets = hashed_feature_sets(docs, "doc_id", "text", _LANGID_DIM).persist()
    w, b = train_hashed_softmax(
        docs, "doc_id", "text", "lang", _LANGID_CLASSES,
        dim=_LANGID_DIM, iters=_LANGID_ITERS, lr=_LANGID_LR,
        round_digits=_LANGID_ROUND, feature_sets=fsets,
    )
    return docs, fsets, w, b


def lang_id_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass softmax language-identifier TRAINING
    (operators/classifier.py::train_hashed_softmax) — the fastText-
    style lang-ID model a real crawl pipeline trains on a labeled
    seed set so its per-language gates stop presuming a ground-truth
    ``lang`` column (VERDICT r6 item 3). Same "one distributed
    residual aggregation per iteration, driver updates on O(K·dim)
    metadata" shape as the binary quality classifier; the oracle
    re-derives every gradient step of every class as chained
    materialized CTEs. Output: the trained weight table (lang,
    feature, weight), feature -1 = bias.

    Honest quality note (the similarity_pca_topk convention): the
    synthetic fixture languages share one vocabulary, so separability
    here is the weak distributional kind — the driver gate certifies
    the TRAINING COMPUTATION; classification quality is pytest-pinned
    on a planted distinct-vocabulary corpus where lang-ID applies."""
    _, fsets, w, b = _langid_train(spark, sf_dir)
    fsets.unpersist()
    rows = [
        (lang, -1, b[c])
        for c, lang in enumerate(_LANGID_CLASSES)
    ] + [
        (lang, f, w[c][f])
        for c, lang in enumerate(_LANGID_CLASSES)
        for f in range(_LANGID_DIM)
    ]
    return spark.createDataFrame(rows, "lang string, feature long, weight double")


def predicted_lang_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet partition driven by PREDICTED language: train the
    softmax lang-ID model, classify every document map-only (literal
    weights), then split each PREDICTED language into head/middle/tail
    LM-score terciles — the ccnet_perplexity_buckets gate with the
    ground-truth ``lang`` column replaced by the model's output, i.e.
    the composition a real crawl (which has no lang labels at
    inference) actually runs. NTILE over (avg_logprob desc, doc_id)
    per predicted language; argmax ties break to the earlier class on
    both engines."""
    from delta_lake_experiment_spark.operators.classifier import (
        score_hashed_softmax,
    )
    from delta_lake_experiment_spark.operators.lm import (
        unigram_logprob_scores,
    )
    from pyspark.sql import Window

    docs, fsets, w, b = _langid_train(spark, sf_dir)
    pred = score_hashed_softmax(
        docs, "doc_id", "text", _LANGID_CLASSES, w, b, feature_sets=fsets
    ).select("doc_id", F.col("pred").alias("pred_lang"))
    scored = unigram_logprob_scores(docs, "doc_id", "text").join(pred, "doc_id")
    win = Window.partitionBy("pred_lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    tercile = F.ntile(3).over(win)
    bucket = (
        F.when(tercile == 1, F.lit("head"))
        .when(tercile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select(
        "doc_id", "pred_lang", "avg_logprob", bucket.alias("ppl_bucket")
    )


def _langid_ctes() -> str:
    from delta_lake_experiment_spark.operators.classifier import (
        hashed_softmax_sql,
    )

    return hashed_softmax_sql(
        "documents", "doc_id", "lang", _LANGID_CLASSES,
        dim=_LANGID_DIM, iters=_LANGID_ITERS, lr=_LANGID_LR,
        round_digits=_LANGID_ROUND,
    )


def _langid_weights_sql() -> str:
    return (
        "WITH "
        + _langid_ctes()
        + f"""
SELECT c.lab AS lang, w.f AS feature, w.w AS weight
FROM sw{_LANGID_ITERS} w JOIN sxc c ON c.c = w.c"""
    )


def _predicted_lang_ccnet_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import unigram_logprob_sql

    return (
        "WITH "
        + _langid_ctes()
        + f""",
lpred AS MATERIALIZED (
  SELECT doc_id, lab AS pred_lang FROM (
    SELECT p.doc_id, c.lab, ROW_NUMBER() OVER (
      PARTITION BY p.doc_id ORDER BY round(p.p, 6) DESC, p.c ASC
    ) AS rn
    FROM sxp{_LANGID_ITERS} p JOIN sxc c ON c.c = p.c
  ) WHERE rn = 1
),
ccs AS MATERIALIZED ("""
        + unigram_logprob_sql("documents", "doc_id", "text")
        + """)
SELECT s.id AS doc_id, pr.pred_lang, s.avg_logprob,
  CASE NTILE(3) OVER (
    PARTITION BY pr.pred_lang ORDER BY s.avg_logprob DESC, s.id ASC
  ) WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM ccs s JOIN lpred pr ON pr.doc_id = s.id
"""
    )


# -- lexical retrieval --------------------------------------------------

_BM25_TERMS = ("vector", "hash", "join")
_BM25_K = 15


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (operators/retrieval.py::bm25_topk) for a
    fixed query over the documents table — two map-only scans + a 1-row
    stats broadcast + TakeOrdered, no corpus-sized shuffle. The oracle
    SQL is GENERATED from the same (terms, k, k1, b) parameters
    (bm25_sql), so operator and oracle cannot drift."""
    from delta_lake_experiment_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K)


def _bm25_search_sql() -> str:
    from delta_lake_experiment_spark.operators.retrieval import bm25_sql

    return bm25_sql("documents", "doc_id", _BM25_TERMS, k=_BM25_K)


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval (operators/retrieval.py::
    hybrid_topk): BM25 recalls 50 lexical candidates (two map scans,
    TakeOrdered), then ONLY those are reranked by cosine against the
    query embedding (vec_id 0's vector, excluded from results like
    similarity_bruteforce_topk) — `alpha * bm25/max + (1-alpha) *
    cosine`. The production search stack shape: the lexical index
    bounds the vector work regardless of corpus size."""
    from delta_lake_experiment_spark.operators.retrieval import hybrid_topk

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return hybrid_topk(
        docs, emb, "doc_id", "text", "vec_id", "embedding",
        _BM25_TERMS, [float(x) for x in qrow["embedding"]], k=10,
        candidates=50,
    )


def _hybrid_search_sql() -> str:
    from delta_lake_experiment_spark.operators.retrieval import hybrid_sql

    # the query vector is DATA (vec_id 0's embedding) and oracle SQL is
    # a static string, so it resolves inside the SQL via a scalar
    # subquery (the SIM_TOPK_SQL pattern)
    return hybrid_sql(
        "(SELECT * FROM documents WHERE doc_id <> 0)",
        "embeddings",
        "doc_id",
        "vec_id",
        "embedding",
        _BM25_TERMS,
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)",
        k=10,
        candidates=50,
    )


_BM25_BATCH_QUERIES = {
    "q_engine": ["vector", "hash", "join"],
    "q_stream": ["stream", "window", "batch"],
    "q_storage": ["table", "column", "merge"],
}
_BM25_BATCH_K = 5


def bm25_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 (operators/retrieval.py::bm25_batch_topk): top-5
    documents for EACH query in a query table via one inverted-index
    build (postings semi-restricted to the query vocabulary map-side)
    + per-query window ranking — the whole-eval-set retrieval shape,
    vs bm25_search's one-job-per-question plan."""
    from delta_lake_experiment_spark.operators.retrieval import bm25_batch_topk

    docs = load_table(spark, sf_dir, "documents")
    qrows = [
        (qid, t) for qid, terms in _BM25_BATCH_QUERIES.items() for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, term string")
    return bm25_batch_topk(docs, "doc_id", "text", qdf, k=_BM25_BATCH_K)


def _bm25_batch_sql() -> str:
    from delta_lake_experiment_spark.operators.retrieval import bm25_batch_sql

    return bm25_batch_sql(
        "documents", "doc_id", _BM25_BATCH_QUERIES, k=_BM25_BATCH_K
    )


# -- the full curation funnel ------------------------------------------


def curation_funnel(
    docs: DataFrame, pair_fn=None, decontaminate: bool = False
) -> DataFrame:
    """The end-to-end corpus-curation pipeline in ONE declarative plan —
    what a 100 TB training-data build actually runs, composed from the
    operators this package provides:

      1. score: lang-id + quality heuristics (pure JVM columns),
      2. filter: keep 'en' docs with quality >= 0.5,
      3. exact dedup: min doc_id per md5 content fingerprint,
      4. near-dup resolution: ``pair_fn`` pairs -> connected
         components -> keep each cluster's canonical doc,
      5. assignment: deterministic train/val/test split,
      6. (``decontaminate=True``) drop train docs sharing word-8-grams
         with the val/test splits (operators/dedup.py::
         decontaminate_split) — the benchmark-decontamination pass a
         production build runs after splitting.

    ``pair_fn(exact_deduped_df) -> (id_a, id_b, ...)`` is the near-dup
    pair generator. Default: posting-capped exact Jaccard — the
    oracle-checkable fixture. A 100 TB build passes the LSH lane
    instead (``minhash_near_duplicates``), which keeps identical
    downstream composition while replacing the exact inverted index
    with banded signatures (pytest runs that configuration end-to-end
    with a recall floor)."""
    from pyspark.sql import Window

    if pair_fn is None:
        def pair_fn(d: DataFrame) -> DataFrame:
            return ngram_jaccard_pairs(
                d, "doc_id", "text", shingle_n=3, threshold=0.5,
                max_postings=_NEAR_DUP_CAP,
            )

    scored = with_text_stats(docs)
    kept = scored.filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))
    w = Window.partitionBy("fp").orderBy("doc_id")
    exact = kept.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    pairs = pair_fn(exact)
    clustered = assign_components(exact.select("doc_id"), pairs, "doc_id")
    canonical = clustered.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    survivors = exact.join(canonical, "doc_id")
    split = hash_split(survivors, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    if decontaminate:
        # the detector + keep filters consume the split output several
        # times (gram build, posting-cap count, train anti-join, eval
        # pass-through); without this the whole upstream funnel —
        # scoring, dedup, components — would re-execute per consumer
        split = split.persist()
        split = decontaminate_split(
            split, "doc_id", "split",
            min_common=_CONTAM_MIN_COMMON, shingle_n=_CONTAM_N,
            max_postings=_NEAR_DUP_CAP,
        )
    return split.select("doc_id", "lang_pred", "quality", "split")


def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`curation_funnel` on the default
    (posting-capped exact Jaccard) pair lane. Every stage is
    individually oracled elsewhere (doc_text_stats,
    dedup_exact_documents, near_dup_jaccard, dedup_cluster_assignment,
    doc_train_split); this query proves the COMPOSITION is exact too —
    the DuckDB oracle rebuilds the identical funnel in SQL."""
    return curation_funnel(load_table(spark, sf_dir, "documents"))


# scored/kept/exact reuse the text-stats heuristics and the fingerprint
# dedup; the pair/component chains are the shared fragments over `exact`
CURATION_FUNNEL_SQL = f"""
WITH RECURSIVE scored AS (
  SELECT doc_id, text,
    {_LANG_SQL} AS lang_pred,
    {_QUALITY_SQL} AS quality,
    {_FP_SQL} AS fp
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.5
), exact AS (
  SELECT doc_id, text, lang_pred, quality FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept
  ) WHERE rn = 1
), {_jaccard_pairs_ctes("exact", max_postings=_NEAR_DUP_CAP)}, {_COMPONENTS_CTES}
SELECT e.doc_id, e.lang_pred, e.quality,
  {split_thresholds_sql("CAST(e.doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT)} AS split
FROM exact e LEFT JOIN comp c ON c.id = e.doc_id
WHERE COALESCE(c.component, e.doc_id) = e.doc_id
"""


# -- benchmark decontamination -----------------------------------------

_CONTAM_N = 8  # the conventional contamination gram size
_CONTAM_MIN_COMMON = 1


def train_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination detector over the doc_train_split
    assignment: (train_id, eval_id, split, n_common) for every train
    document sharing at least one word-8-gram with a val/test document.
    The operator joins 64-bit gram HASHES (operators/dedup.py,
    posting-capped); the oracle joins the gram STRINGS — equal up to
    2^-64 hash collisions, so the value-hash check certifies the whole
    hashed inverted-index lane."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    return cross_split_contamination(
        split,
        "doc_id",
        "text",
        "split",
        shingle_n=_CONTAM_N,
        min_common=_CONTAM_MIN_COMMON,
        max_postings=_NEAR_DUP_CAP,
    )


def _contamination_ctes() -> str:
    """split/ctoks/cgrams/cpairs CTE chain shared by the contamination
    oracles: the hash_split assignment (same threshold function as the
    Spark query), then distinct word-8-grams per doc, the posting cap,
    and the train x eval pair counts."""
    split_case = split_thresholds_sql(
        "CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT
    )
    gram = "concat_ws(' ', " + ", ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(_CONTAM_N)
    ) + ")"
    return rf"""split AS (
  SELECT doc_id, text, lang, {split_case} AS split FROM documents
), ctoks AS (
  SELECT doc_id, split, string_split_regex(lower(trim(text)), '\s+') AS t FROM split
), cgrams0 AS (
  SELECT DISTINCT doc_id, split,
    unnest(list_transform(generate_series(1, greatest(len(t) - {_CONTAM_N - 1}, 1)),
                          i -> {gram})) AS g
  FROM ctoks
), cdf AS (
  SELECT g FROM cgrams0 GROUP BY g HAVING COUNT(*) <= {_NEAR_DUP_CAP}
), cgrams AS (
  SELECT c.doc_id, c.split, c.g FROM cgrams0 c JOIN cdf USING (g)
), cpairs AS (
  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, b.split AS split,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cgrams a JOIN cgrams b ON a.g = b.g
  WHERE a.split = 'train' AND b.split IN ('val', 'test')
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {_CONTAM_MIN_COMMON}
)"""


TRAIN_CONTAMINATION_SQL = f"""
WITH {_contamination_ctes()}
SELECT train_id, eval_id, split, n_common FROM cpairs
"""


def decontaminated_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition the detector exists for: split -> detect -> drop
    every contaminated train doc (operators/dedup.py::
    decontaminate_split), keeping eval rows untouched. Output is the
    decontaminated corpus with its split labels."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    clean = decontaminate_split(
        split,
        "doc_id",
        "split",
        min_common=_CONTAM_MIN_COMMON,
        shingle_n=_CONTAM_N,
        max_postings=_NEAR_DUP_CAP,
    )
    return clean.select("doc_id", "lang", "split")


DECONTAMINATED_TRAIN_SQL = f"""
WITH {_contamination_ctes()}
SELECT doc_id, lang, split FROM split
WHERE split <> 'train'
   OR doc_id NOT IN (SELECT train_id FROM cpairs)
"""


def contamination_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination (operators/dedup.py::
    contamination_spans): for each contaminated train/eval pair, the
    longest CONTIGUOUS shared word-8-gram run in tokens — the
    Lee-et-al substring-dedup unit a "drop train docs quoting >= K
    consecutive eval tokens" policy needs, which the pair COUNT
    (train_contamination) cannot express. Same posting-capped
    inverted-index join; runs found by the diagonal-islands window."""
    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    from delta_lake_experiment_spark.operators.dedup import contamination_spans

    return contamination_spans(
        split,
        "doc_id",
        "text",
        "split",
        shingle_n=_CONTAM_N,
        max_postings=_NEAR_DUP_CAP,
    )


def _contamination_span_ctes() -> str:
    """Positional twin of _contamination_ctes: 1-based gram positions
    (parallel unnest zip), the same posting cap computed over DISTINCT
    (doc, gram), diagonal islands via tpos - ROW_NUMBER()."""
    split_case = split_thresholds_sql(
        "CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT
    )
    gram = "concat_ws(' ', " + ", ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(_CONTAM_N)
    ) + ")"
    # no greatest(..., 1): sub-n docs contribute NO grams in the
    # positional lane (a partial-gram match would claim an n-token
    # span between two shorter-than-n documents)
    series = f"generate_series(1, len(t) - {_CONTAM_N - 1})"
    return rf"""split AS (
  SELECT doc_id, text, lang, {split_case} AS split FROM documents
), ctoks AS (
  SELECT doc_id, split, string_split_regex(lower(trim(text)), '\s+') AS t FROM split
), pgrams0 AS (
  SELECT doc_id, split,
    unnest({series}) AS pos,
    unnest(list_transform({series}, i -> {gram})) AS g
  FROM ctoks
), pdf AS (
  SELECT g FROM (SELECT DISTINCT doc_id, g FROM pgrams0)
  GROUP BY g HAVING COUNT(*) <= {_NEAR_DUP_CAP}
), pgrams AS (
  SELECT p.doc_id, p.split, p.pos, p.g FROM pgrams0 p JOIN pdf USING (g)
), pm AS (
  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, b.split AS split,
         a.pos AS tpos, a.pos - b.pos AS diag
  FROM pgrams a JOIN pgrams b ON a.g = b.g
  WHERE a.split = 'train' AND b.split IN ('val', 'test')
), pruns AS (
  SELECT train_id, eval_id, split, diag, island, COUNT(*) AS run
  FROM (
    SELECT *, tpos - ROW_NUMBER() OVER (
      PARTITION BY train_id, eval_id, split, diag ORDER BY tpos
    ) AS island
    FROM pm
  )
  GROUP BY 1, 2, 3, 4, 5
)"""


CONTAMINATION_SPANS_SQL = f"""
WITH {_contamination_span_ctes()}
SELECT train_id, eval_id, split,
       CAST(MAX(run) + {_CONTAM_N - 1} AS INT) AS max_span_tokens
FROM pruns GROUP BY 1, 2, 3
"""


# -- sequence packing ---------------------------------------------------

_PACK_BUDGET = 512  # tokens per pack; ~12 docs/pack on this corpus


def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Start-offset sequence packing (operators/packing.py) sharded by
    lang and ordered by doc_id — each document's pack assignment and
    starting token offset within its shard. The oracle is one SUM-OVER
    window per shard."""
    docs = load_table(spark, sf_dir, "documents")
    wt = docs.withColumn("n_toks", token_count(F.col("text")))
    packed = pack_sequences(
        wt, "n_toks", budget=_PACK_BUDGET, order_col="doc_id", shard_col="lang"
    )
    return packed.select("doc_id", "lang", "n_toks", "pack_id", "pack_offset")


_PACK_TOKS_CTE = rf"""t AS (
  SELECT doc_id, lang,
         CAST({_NTOKENS_SQL} AS INT) AS n_toks
  FROM documents
)"""

PACKED_SEQUENCES_SQL = f"""
WITH {_PACK_TOKS_CTE}
SELECT doc_id, lang, n_toks,
  CAST(floor(CAST(SUM(n_toks) OVER w - n_toks AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
    AS pack_id,
  CAST(SUM(n_toks) OVER w - n_toks AS BIGINT) AS pack_offset
FROM t
WINDOW w AS (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-utilization report (operators/packing.py::pack_utilization)
    over the packed_sequences assignment — packs / mean / min / max
    fill and overflow count per shard: the numbers a pipeline owner
    tunes ``budget`` with."""
    docs = load_table(spark, sf_dir, "documents")
    wt = docs.withColumn("n_toks", token_count(F.col("text")))
    packed = pack_sequences(
        wt, "n_toks", budget=_PACK_BUDGET, order_col="doc_id", shard_col="lang"
    )
    return pack_utilization(packed, "n_toks", _PACK_BUDGET, shard_col="lang")


PACK_STATS_SQL = f"""
WITH {_PACK_TOKS_CTE}, p AS (
  SELECT lang, n_toks,
    CAST(floor(CAST(SUM(n_toks) OVER w - n_toks AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
      AS pack_id
  FROM t
  WINDOW w AS (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pp AS (
  SELECT lang, pack_id, CAST(SUM(n_toks) AS BIGINT) AS tok FROM p GROUP BY 1, 2
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS packs,
  round(AVG(CAST(tok AS DOUBLE) / {_PACK_BUDGET}), 6) AS mean_fill,
  round(MIN(CAST(tok AS DOUBLE) / {_PACK_BUDGET}), 6) AS min_fill,
  round(MAX(CAST(tok AS DOUBLE) / {_PACK_BUDGET}), 6) AS max_fill,
  CAST(SUM(CASE WHEN tok > {_PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
    AS overflow_packs
FROM pp GROUP BY lang
"""


# -- domain mixing ------------------------------------------------------

_MIX_FRACTIONS = {"en": 1.0, "de": 0.5, "fr": 0.25, "zh": 0.1}
_MIX_DEFAULT = 0.05
_MIX_SALT = "mix1"


def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing via stratified deterministic sampling
    (operators/sampling.py::stratified_hash_sample): keep 100% of en,
    50% de, 25% fr, 10% zh, 5% of everything else — per-stratum hash
    thresholds, map-only, reproducible on any partitioning. The oracle
    predicate derives from the SAME threshold function."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "doc_id", "lang", _MIX_FRACTIONS,
        default_fraction=_MIX_DEFAULT, salt=_MIX_SALT,
    ).select("doc_id", "lang", "source", "n_chars")


DOMAIN_MIXTURE_SQL = f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE {stratified_predicate_sql(
    "CAST(doc_id AS VARCHAR)", "lang", _MIX_FRACTIONS, _MIX_DEFAULT, _MIX_SALT
)}
"""


# -- temperature mixing + domain caps (operators/mixing.py) -------------

_TEMP_TARGET = 250
_TEMP_ALPHA = 0.5
_TEMP_SALT = "temp-mix-r5"
_CAP_PER_SOURCE = 15
_CAP_SALT = "domain-cap-r5"


def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced language mixture (operators/mixing.py::
    temperature_sample, the XLM-R ``p_i ~ count_i^alpha`` recipe):
    per-language keep-fractions computed IN the plan from the corpus's
    own counts (O(strata) aggregate, broadcast join, map-side filter —
    no data shuffle), alpha=0.5 boosting low-resource languages. The
    oracle recomputes the identical fractions in SQL."""
    from delta_lake_experiment_spark.operators.mixing import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "doc_id", "lang", _TEMP_TARGET, _TEMP_ALPHA, salt=_TEMP_SALT
    ).select("doc_id", "lang", "source")


def _temperature_mixture_sql() -> str:
    from delta_lake_experiment_spark.operators.mixing import temperature_sample_sql

    return (
        "SELECT doc_id, lang, source FROM ("
        + temperature_sample_sql(
            "documents", "CAST(doc_id AS VARCHAR)", "lang",
            _TEMP_TARGET, _TEMP_ALPHA, salt=_TEMP_SALT,
        )
        + ")"
    )


def domain_capped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/mixing.py::cap_per_stratum,
    the Common-Crawl curation lever): at most 15 docs per source,
    lowest salted-md5 first — deterministic under partitioning and
    re-crawls. Exact window path here (value-oracled); the
    hash-prefilter fast path for mega-domains is pytest-pinned equal
    and guarded in-plan."""
    from delta_lake_experiment_spark.operators.mixing import cap_per_stratum

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_stratum(
        docs, "doc_id", "source", _CAP_PER_SOURCE, salt=_CAP_SALT
    ).select("doc_id", "source", "lang")


def _domain_capped_sql() -> str:
    from delta_lake_experiment_spark.operators.mixing import cap_per_stratum_sql

    return (
        "SELECT doc_id, source, lang FROM ("
        + cap_per_stratum_sql(
            "documents", "CAST(doc_id AS VARCHAR)", "source",
            _CAP_PER_SOURCE, salt=_CAP_SALT,
        )
        + ")"
    )


# -- DSIR importance weights (operators/lm.py) --------------------------

_DSIR_FLOOR = -12.0  # below the en-model's min logprob at every sf


def dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/lm.py::dsir_importance_weights):
    every document scored by the mean token log-likelihood ratio of a
    target model (English docs — the "domain we want more of") vs the
    raw-corpus model. Two O(vocab) model builds + one broadcast-join
    scoring pass; selecting top weights = importance resampling."""
    from delta_lake_experiment_spark.operators.lm import dsir_importance_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, docs.filter(F.col("lang") == "en"), "doc_id", "text",
        unseen_target_logprob=_DSIR_FLOOR,
    )


def _dsir_doc_weights_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import dsir_sql

    return (
        "SELECT id AS doc_id, n_tokens, dsir_weight FROM ("
        + dsir_sql(
            "documents", "(SELECT * FROM documents WHERE lang = 'en')",
            "doc_id", "text", _DSIR_FLOOR,
        )
        + ")"
    )


# -- data-budget epoch planning (operators/mixing.py) -------------------

# 60k tokens: ~2.2 epochs/language at the sf0.001/sf0.01 corpus size
# (the up-sampling path, full_epochs >= 1, exercised by the driver
# gate) and ~0.2 at sf0.1 (the down-sampling tail path) — both code
# paths see real data across the bench/correctness scale factors
_EPOCH_TARGET_TOKENS = 60_000
# de deliberately absent: a planned-OUT domain must surface with
# weight 0 / epochs 0, not vanish
_EPOCH_WEIGHTS = {"en": 0.4, "fr": 0.2, "es": 0.2, "zh": 0.2}


def training_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-budget planner (operators/mixing.py::epoch_plan): given a
    DoReMi-style language weight vector and a token budget, how many
    epochs of each language the run consumes (epochs > 1 = the
    up-sampling a "4 epochs of wiki" recipe encodes; tail_fraction
    feeds the deterministic sampler). One O(strata) aggregate."""
    from delta_lake_experiment_spark.operators.mixing import epoch_plan

    docs = load_table(spark, sf_dir, "documents")
    wt = docs.withColumn("n_toks", token_count(F.col("text")))
    return epoch_plan(
        wt, "lang", "n_toks", _EPOCH_TARGET_TOKENS, _EPOCH_WEIGHTS
    )


def _training_epoch_plan_sql() -> str:
    from delta_lake_experiment_spark.operators.mixing import epoch_plan_sql

    return (
        "SELECT stratum AS lang, tokens, weight, target_tokens, epochs,"
        " full_epochs, tail_fraction FROM ("
        + epoch_plan_sql(
            "documents", "lang", _NTOKENS_SQL,
            _EPOCH_TARGET_TOKENS, _EPOCH_WEIGHTS,
        )
        + ")"
    )


_EPOCH_SALT = "epoch-r5"


def epoch_expanded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realized epoch plan (operators/mixing.py::expand_epochs):
    every document repeated full_epochs times plus a deterministic
    tail-fraction extra copy, with its 1-based epoch index — the
    corpus the trainer actually iterates. Broadcast plan join +
    map-side sequence explode, no shuffle; planned-out languages (de)
    disappear here by design."""
    from delta_lake_experiment_spark.operators.mixing import (
        epoch_plan,
        expand_epochs,
    )

    docs = load_table(spark, sf_dir, "documents")
    wt = docs.withColumn("n_toks", token_count(F.col("text")))
    plan = epoch_plan(
        wt, "lang", "n_toks", _EPOCH_TARGET_TOKENS, _EPOCH_WEIGHTS
    )
    return expand_epochs(
        docs, "doc_id", "lang", plan, salt=_EPOCH_SALT
    ).select("doc_id", "lang", "epoch")


def _epoch_expanded_sql() -> str:
    from delta_lake_experiment_spark.operators.mixing import expand_epochs_sql

    return (
        "SELECT doc_id, lang, epoch FROM ("
        + expand_epochs_sql(
            "documents", "CAST(doc_id AS VARCHAR)", "lang", _NTOKENS_SQL,
            _EPOCH_TARGET_TOKENS, _EPOCH_WEIGHTS, salt=_EPOCH_SALT,
        )
        + ")"
    )


# -- composed corpus -> training-set pipeline ---------------------------

_PIPE_CAP = 20
_PIPE_CAP_SALT = "pipe-cap"
_PIPE_TARGET = 300
_PIPE_ALPHA = 0.5
_PIPE_MIX_SALT = "pipe-mix"


def corpus_mixture_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus -> training-set composition in ONE declarative plan:
    per-domain cap (anti-spam, operators/mixing.py::cap_per_stratum)
    -> temperature-balanced language mixture (temperature_sample,
    fractions computed over the CAPPED corpus) -> deterministic
    train/val/test split -> per-split sequence packing. Four of the
    r5 composition operators chained; the oracle chains their four
    SQL twins over the same CTE pipeline, so the whole plan is
    value-certified end-to-end, not just per stage."""
    from delta_lake_experiment_spark.operators.mixing import (
        cap_per_stratum,
        temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_stratum(
        docs, "doc_id", "source", _PIPE_CAP, salt=_PIPE_CAP_SALT
    )
    mixed = temperature_sample(
        capped, "doc_id", "lang", _PIPE_TARGET, _PIPE_ALPHA,
        salt=_PIPE_MIX_SALT,
    )
    split = hash_split(mixed, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    wt = split.withColumn("n_toks", token_count(F.col("text")))
    packed = pack_sequences(
        wt, "n_toks", budget=_PACK_BUDGET, order_col="doc_id",
        shard_col="split",
    )
    return packed.select(
        "doc_id", "lang", "source", "split", "n_toks", "pack_id",
        "pack_offset",
    )


def _corpus_mixture_pipeline_sql() -> str:
    from delta_lake_experiment_spark.operators.mixing import (
        cap_per_stratum_sql,
        temperature_sample_sql,
    )

    cap = cap_per_stratum_sql(
        "documents", "CAST(doc_id AS VARCHAR)", "source", _PIPE_CAP,
        salt=_PIPE_CAP_SALT,
    )
    mix = temperature_sample_sql(
        "capped", "CAST(doc_id AS VARCHAR)", "lang", _PIPE_TARGET,
        _PIPE_ALPHA, salt=_PIPE_MIX_SALT,
    )
    split_case = split_thresholds_sql(
        "CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT
    )
    return f"""
WITH capped AS ({cap}),
mixed AS ({mix}),
split AS (
  SELECT doc_id, lang, source, {split_case} AS split,
         CAST({_NTOKENS_SQL} AS INT) AS n_toks
  FROM mixed
)
SELECT doc_id, lang, source, split, n_toks,
  CAST(floor(CAST(SUM(n_toks) OVER w - n_toks AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
    AS pack_id,
  CAST(SUM(n_toks) OVER w - n_toks AS BIGINT) AS pack_offset
FROM split
WINDOW w AS (PARTITION BY split ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# -- PII scrubbing ------------------------------------------------------


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub (operators/text.py::redact_pii): the corpus
    is deterministically spiked with synthetic contact details derived
    from doc_id (the synthetic documents carry no real PII, which would
    make an un-spiked oracle vacuous), then counted and redacted.
    Returns per-doc match counts and the md5 of the redacted text so
    the value hash certifies byte-identical redaction."""
    from delta_lake_experiment_spark.operators.text import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        count_matches,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    spiked = docs.withColumn(
        "t2",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-123-4567 from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    )
    return spiked.select(
        "doc_id",
        count_matches(F.col("t2"), EMAIL_RE).alias("n_emails"),
        count_matches(F.col("t2"), PHONE_RE).alias("n_phones"),
        count_matches(F.col("t2"), IPV4_RE).alias("n_ips"),
        F.md5(redact_pii(F.col("t2"))).alias("redacted_fp"),
    )


# Same patterns, same application order, RE2-compatible by design.
_PII_SPIKE_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or call 555-123-4567 from 10.0.0.'"
    " || CAST(doc_id % 256 AS VARCHAR)"
)

DOC_PII_SCRUB_SQL = rf"""
WITH s AS (SELECT doc_id, {_PII_SPIKE_SQL} AS t2 FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(t2, '\+?[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}\b')) AS INT)
    AS n_phones,
  CAST(len(regexp_extract_all(t2, '\b[0-9]{{1,3}}(\.[0-9]{{1,3}}){{3}}\b')) AS INT)
    AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(t2,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
      '\+?[0-9]{{3}}[-. ][0-9]{{3}}[-. ][0-9]{{4}}\b', '[PHONE]', 'g'),
      '\b[0-9]{{1,3}}(\.[0-9]{{1,3}}){{3}}\b', '[IP]', 'g')) AS redacted_fp
FROM s
"""


# -- embedding quantization --------------------------------------------


def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embeddings table
    (operators/similarity.py::quantize_embeddings): the 4x
    storage/bandwidth reduction a 100 TB vector corpus applies before
    indexing. Returns each vector's scale and the md5 of its quantized
    codes — the value hash certifies byte-identical codes, engine to
    engine."""
    from delta_lake_experiment_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "embedding")
    return out.select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale"),
        # NULL-guard: concat_ws SKIPS a null array (would yield
        # md5('')) while the oracle's array_to_string propagates NULL —
        # emit NULL on both sides so a NULL vector can never split the
        # engines (latent today: the fixture has no NULL embeddings)
        F.when(
            F.col("q").isNotNull(),
            F.md5(
                F.concat_ws(",", F.transform(F.col("q"), lambda x: x.cast("string")))
            ),
        ).alias("q_fp"),
    )


EMBEDDING_QUANT_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id, round(scale, 9) AS scale,
  CASE WHEN scale > 0 THEN
    md5(array_to_string(list_transform(v, x -> CAST(round(x / scale) AS INT)), ','))
  ELSE
    md5(array_to_string(list_transform(v, x -> 0), ','))
  END AS q_fp
FROM s
"""


# -- corpus report card -------------------------------------------------


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card aggregate a corpus owner publishes: per
    language — document and token counts, quality distribution
    (mean / min / max, quality-gate pass count), mean punctuation
    ratio, and predicted-English share. One scan + one partial-agg
    shuffle over the text-stats columns (all pure JVM expressions);
    O(languages) output."""
    docs = load_table(spark, sf_dir, "documents")
    stats = with_text_stats(docs)
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0)).alias("n_quality_pass"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.sum(F.when(F.col("lang_pred") == "en", 1).otherwise(0)).alias("n_pred_en"),
    )


CORPUS_REPORT_SQL = rf"""
WITH s AS (
  SELECT lang,
    CAST({_NTOKENS_SQL} AS INT) AS n_tokens,
    {_PUNCT_RATIO_SQL} AS punct_ratio,
    {_LANG_SQL} AS lang_pred,
    {_QUALITY_SQL} AS quality
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  round(AVG(quality), 6) AS avg_quality,
  round(MIN(quality), 6) AS min_quality,
  round(MAX(quality), 6) AS max_quality,
  CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
  round(AVG(punct_ratio), 6) AS avg_punct_ratio,
  CAST(SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
FROM s GROUP BY lang
"""


# -- document chunking --------------------------------------------------

_CHUNK_MAX_TOKENS = 8
_CHUNK_OVERLAP = 2


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py): every document
    split into <=8-token chunks with 2 tokens of overlap — a map-only
    explode, no shuffle. Small budget on purpose: the ~20-token
    synthetic docs then produce 3-4 chunks each, exercising first /
    middle / short-last chunk shapes. The oracle SQL is generated from
    the SAME stride arithmetic (chunking_sql)."""
    from delta_lake_experiment_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text",
        max_tokens=_CHUNK_MAX_TOKENS, overlap=_CHUNK_OVERLAP,
    )


def _doc_chunks_sql() -> str:
    from delta_lake_experiment_spark.operators.chunking import chunking_sql

    return chunking_sql(
        "documents", "doc_id", "text",
        max_tokens=_CHUNK_MAX_TOKENS, overlap=_CHUNK_OVERLAP,
        id_name="doc_id",
    )


# -- deterministic corpus shuffle ---------------------------------------

_SHUFFLE_SALT = "epoch0"


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible pseudo-random training order
    (operators/ordering.py): each document's exact global position
    under the epoch-salted md5 permutation, computed with the
    two-phase bucket-histogram rank — NO single-partition window
    anywhere in the plan (the canonical global row_number scale trap).
    The oracle recomputes the same total order with a plain window
    (affordable single-node), so the hash match proves the
    distributed rank IS the global rank."""
    from delta_lake_experiment_spark.operators.ordering import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id", salt=_SHUFFLE_SALT).select(
        "doc_id", "lang", "shuffle_pos"
    )


def _corpus_shuffle_sql() -> str:
    from delta_lake_experiment_spark.operators.ordering import shuffle_pos_sql

    return (
        "SELECT doc_id, lang, shuffle_pos FROM ("
        + shuffle_pos_sql("documents", "doc_id", salt=_SHUFFLE_SALT)
        + ")"
    )


# -- unigram LM scoring -------------------------------------------------


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scores (operators/lm.py): mean unigram
    log-probability of each document under the corpus's own token
    distribution — the CCNet-style filter signal. Build is one
    partial-agg shuffle to O(vocab); scoring is a vocab join AQE
    broadcasts at this scale."""
    from delta_lake_experiment_spark.operators.lm import unigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs, "doc_id", "text")


def _doc_lm_score_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import unigram_logprob_sql

    return (
        "SELECT id AS doc_id, n_tokens, avg_logprob FROM ("
        + unigram_logprob_sql("documents", "doc_id", "text")
        + ")"
    )


_LM_LO_Q = 0.05
_LM_HI_Q = 0.95


def lm_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibrated LM filter (operators/lm.py::
    calibrated_score_filter): score every document, keep those inside
    the corpus's own [p05, p95] avg_logprob band — the CCNet two-sided
    cut, with exact percentiles so the whole score->calibrate->filter
    composition is value-oracled."""
    from delta_lake_experiment_spark.operators.lm import (
        calibrated_score_filter,
        unigram_logprob_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_logprob_scores(docs, "doc_id", "text")
    return calibrated_score_filter(
        scores, "avg_logprob", lo_q=_LM_LO_Q, hi_q=_LM_HI_Q
    ).select("doc_id", "n_tokens", "avg_logprob")


def _lm_filtered_corpus_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import unigram_logprob_sql

    return f"""
WITH lm AS ({unigram_logprob_sql("documents", "doc_id", "text")}),
b AS (
  SELECT round(quantile_cont(avg_logprob, {_LM_LO_Q}), 6) AS lo,
         round(quantile_cont(avg_logprob, {_LM_HI_Q}), 6) AS hi
  FROM lm
)
SELECT id AS doc_id, n_tokens, avg_logprob
FROM lm, b WHERE avg_logprob >= lo AND avg_logprob <= hi
"""


def lang_lm_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language calibrated LM filter (operators/lm.py::
    stratified_score_filter): every document kept only if inside its
    OWN language's [p05, p95] avg_logprob band — the CCNet per-language
    cut; a single global band would systematically delete whole
    low-resource languages ranked low by the shared model. Exact
    percentiles, value-oracled."""
    from delta_lake_experiment_spark.operators.lm import (
        stratified_score_filter,
        unigram_logprob_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_logprob_scores(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return stratified_score_filter(
        scores, "avg_logprob", "lang", lo_q=_LM_LO_Q, hi_q=_LM_HI_Q
    ).select("doc_id", "lang", "n_tokens", "avg_logprob")


def _lang_lm_filtered_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import (
        stratified_score_filter_sql,
        unigram_logprob_sql,
    )

    return f"""
WITH lm AS ({unigram_logprob_sql("documents", "doc_id", "text")}),
sc AS (
  SELECT l.id AS doc_id, d.lang, l.n_tokens, l.avg_logprob
  FROM lm l JOIN documents d ON d.doc_id = l.id
)
SELECT doc_id, lang, n_tokens, avg_logprob FROM (
{stratified_score_filter_sql("sc", "avg_logprob", "lang", _LM_LO_Q, _LM_HI_Q)}
)
"""


# -- BPE tokenizer training (operators/bpe.py) --------------------------

_BPE_MERGES = 12


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py::bpe_train): the
    corpus's first 12 subword merges — distributed word-frequency
    aggregation (the corpus-sized pass), exact driver-side merge loop
    on the O(vocab) table (the IVF-centroid metadata-iteration
    pattern). The oracle re-derives every merge as chained CTE stages:
    a VALUE oracle for an iterative algorithm."""
    from delta_lake_experiment_spark.operators.bpe import (
        bpe_train,
        merges_to_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    return merges_to_df(spark, bpe_train(docs, "text", _BPE_MERGES))


def _bpe_merge_table_sql() -> str:
    from delta_lake_experiment_spark.operators.bpe import bpe_merges_sql

    return bpe_merges_sql("documents", "text", _BPE_MERGES)


def bpe_encoded_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode composition: the corpus encoded with its own
    merge table (operators/bpe.py::bpe_encode, Arrow-batched
    mapInPandas with per-batch word memoization — Zipf makes distinct
    words per batch far fewer than tokens). tokens_md5 hashes the
    comma-joined subword sequence, certifying subwords AND order."""
    from delta_lake_experiment_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", _BPE_MERGES)
    enc = bpe_encode(docs, "doc_id", "text", merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.md5(F.concat_ws(",", "tokens")).alias("tokens_md5"),
    )


def _bpe_encoded_sql() -> str:
    from delta_lake_experiment_spark.operators.bpe import bpe_encoded_sql

    return (
        "SELECT id AS doc_id, n_bpe_tokens, tokens_md5 FROM ("
        + bpe_encoded_sql("documents", "doc_id", "text", _BPE_MERGES)
        + ")"
    )


# -- tokenizer fertility report (BPE vs unigram, one corpus) ------------


def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-selection query: train BOTH subword families on
    the corpus (BPE merges, unigram EM-prune — each already
    value-oracled end-to-end) and compare their compression on the
    SAME text: corpus totals, fertility (tokens per word — the
    standard tokenizer-quality metric), and chars per token. One row
    per tokenizer; every number a 6-digit-rounded ratio of exact
    integer counts. Output (tokenizer, total_tokens, total_words,
    fertility, chars_per_token)."""
    from delta_lake_experiment_spark.operators.bpe import bpe_encode, bpe_train
    from delta_lake_experiment_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", _BPE_MERGES)
    pieces = unigram_train(docs, "text", **_UNIGRAM_KW)
    rows = []
    for name, enc, tok_col in (
        ("bpe", bpe_encode(docs, "doc_id", "text", merges), "n_bpe_tokens"),
        (
            "unigram",
            unigram_encode(
                docs, "doc_id", "text", pieces,
                max_piece_len=_UNIGRAM_KW["max_piece_len"],
            ),
            "n_unigram_tokens",
        ),
    ):
        agg = enc.agg(
            F.sum(tok_col).alias("tt"),
            F.sum(
                F.aggregate(
                    F.col("tokens"), F.lit(0), lambda a, t: a + F.length(t)
                )
            ).alias("tc"),
        ).collect()[0]
        rows.append((name, int(agg["tt"]), int(agg["tc"])))
    wrow = docs.agg(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda w: w != "",
                )
            )
        ).alias("tw")
    ).collect()[0]
    tw = int(wrow["tw"])
    from delta_lake_experiment_spark.functions.rounding import round_like_sql

    # round_like_sql: integer-count ratios can sit exactly on decimal
    # midpoints where Python round and DuckDB round disagree
    out = [
        (
            name,
            tt,
            tw,
            round_like_sql(tt / tw, 6),
            round_like_sql(tc / tt, 6),
        )
        for name, tt, tc in rows
    ]
    return spark.createDataFrame(
        out,
        "tokenizer string, total_tokens bigint, total_words bigint,"
        " fertility double, chars_per_token double",
    )


def _tokenizer_fertility_sql() -> str:
    from delta_lake_experiment_spark.operators.bpe import bpe_encoded_sql
    from delta_lake_experiment_spark.operators.unigram import (
        unigram_encoded_sql,
    )

    # both encode twins yield per-doc token counts; token CHAR totals
    # need the actual pieces, so re-derive from the final segmentations
    # (words{k} for BPE, u_seg for unigram) weighted by word usage
    words = r"""
  SELECT word, COUNT(*) AS wfreq FROM (
    SELECT unnest(list_filter(
      string_split_regex(lower(trim(text)), '\s+'), w -> w <> '')) AS word
    FROM documents
  ) GROUP BY word
"""
    return rf"""
WITH bpe_enc AS MATERIALIZED (
  SELECT id, n_bpe_tokens FROM (
    {bpe_encoded_sql("documents", "doc_id", "text", _BPE_MERGES)}
  )
), uni_enc AS MATERIALIZED (
  SELECT id, n_unigram_tokens FROM (
    {unigram_encoded_sql("documents", "doc_id", "text", **_UNIGRAM_KW)}
  )
), wtot AS (
  SELECT CAST(SUM(wfreq) AS BIGINT) AS tw FROM ({words})
), ctot AS (
  -- corpus characters == sum over words of len(word) * freq: both
  -- tokenizers SEGMENT words (pieces concatenate back exactly), so
  -- total token chars equals total word chars for each family
  SELECT CAST(SUM(len(word) * wfreq) AS BIGINT) AS tc FROM ({words})
)
SELECT 'bpe' AS tokenizer,
  (SELECT CAST(SUM(n_bpe_tokens) AS BIGINT) FROM bpe_enc) AS total_tokens,
  (SELECT tw FROM wtot) AS total_words,
  round(CAST((SELECT SUM(n_bpe_tokens) FROM bpe_enc) AS DOUBLE)
        / (SELECT tw FROM wtot), 6) AS fertility,
  round(CAST((SELECT tc FROM ctot) AS DOUBLE)
        / (SELECT SUM(n_bpe_tokens) FROM bpe_enc), 6) AS chars_per_token
UNION ALL
SELECT 'unigram',
  (SELECT CAST(SUM(n_unigram_tokens) AS BIGINT) FROM uni_enc),
  (SELECT tw FROM wtot),
  round(CAST((SELECT SUM(n_unigram_tokens) FROM uni_enc) AS DOUBLE)
        / (SELECT tw FROM wtot), 6),
  round(CAST((SELECT tc FROM ctot) AS DOUBLE)
        / (SELECT SUM(n_unigram_tokens) FROM uni_enc), 6)
"""


# -- corpus topic report (k-means clusters + salient terms) -------------

_TOPIC_TOP_TERMS = 3


def corpus_topic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"What is in my corpus" — the dataset-card topic discovery
    query: deterministic k-means over the embeddings
    (operators/semdedup.py::kmeans_assignments — same certified
    Lloyd chain as semantic dedup), each cluster summarized by size
    and its top salient terms, ranked by lift-ish count within the
    cluster (count desc, term asc ties). Output (cluster, n_docs,
    rank, term, term_count). One cluster-assignment pass + one token
    explode + two aggregations — the embedding and text lanes joined
    into a human-readable report."""
    from delta_lake_experiment_spark.operators.semdedup import (
        kmeans_assignments,
    )
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    # persist the O(corpus-vectors) assignment: it feeds the doc join
    # AND the size aggregate, and WITHOUT a materialization Catalyst
    # collapses the projection so the interpreted k x dim assignment
    # fold re-evaluates per EXPLODED TOKEN row (~55x the vectors —
    # measured 16.8 s vs ~3 s at sf0.1). Consumer releases
    # (functions/cache.py contract).
    assigned = (
        kmeans_assignments(
            emb, "vec_id", "embedding",
            k=_SEM_K, iters=_SEM_ITERS, salt=_SEM_SALT,
        )
        .withColumnRenamed("vec_id", "doc_id")
        .persist()
    )
    toks = docs.join(assigned, "doc_id").select(
        "cluster",
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("term"),
    )
    sizes = assigned.groupBy("cluster").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    counts = toks.groupBy("cluster", "term").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("term_count").desc(), F.col("term").asc()
    )
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPIC_TOP_TERMS)
    )
    return (
        top.join(F.broadcast(sizes), "cluster")
        .select("cluster", "n_docs", "rank", "term", "term_count")
    )


def _corpus_topic_report_sql() -> str:
    from delta_lake_experiment_spark.operators.semdedup import (
        semantic_pair_ctes,
    )

    # semantic_pair_ctes ends at sem_pairs, but DuckDB prunes
    # unreferenced CTEs — only the Lloyd chain through sfinal (i = id,
    # j = cluster) is evaluated here
    ctes = semantic_pair_ctes(
        "embeddings", "vec_id", "embedding",
        k=_SEM_K, iters=_SEM_ITERS, salt=_SEM_SALT,
    )
    return rf"""
WITH {ctes},
tr_toks AS MATERIALIZED (
  SELECT f.j AS cluster, d.doc_id,
    unnest(list_filter(string_split_regex(lower(trim(d.text)), '\s+'),
                       w -> w <> '')) AS term
  FROM documents d JOIN sfinal f ON f.i = d.doc_id
), tr_sizes AS (
  SELECT j AS cluster, COUNT(DISTINCT i) AS n_docs FROM sfinal GROUP BY j
), tr_counts AS (
  SELECT cluster, term, COUNT(*) AS term_count
  FROM tr_toks GROUP BY 1, 2
), tr_top AS (
  SELECT cluster, term, term_count,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY cluster ORDER BY term_count DESC, term ASC
    ) AS INT) AS rank
  FROM tr_counts
)
SELECT t.cluster, s.n_docs, t.rank, t.term, t.term_count
FROM tr_top t JOIN tr_sizes s USING (cluster)
WHERE t.rank <= {_TOPIC_TOP_TERMS}
"""


# -- CCNet perplexity buckets (composition over operators/lm.py) --------


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet corpus-partitioning step (Wenzek et al. 2020): score
    every document by its LM perplexity proxy (mean unigram
    log-probability — doc_lm_score's lane) and split each LANGUAGE
    into head/middle/tail terciles — head = most-fluent third, the
    slice CCNet keeps for LM pretraining; tail = the crawl noise.
    NTILE over (avg_logprob desc, doc_id) with the unique-id
    tie-break, so the bucketing is engine-deterministic (both engines
    implement SQL-standard floor-distribution NTILE). Per-language
    windows — thousands of independent partitions at corpus scale, no
    global sort."""
    from pyspark.sql import Window

    from delta_lake_experiment_spark.operators.lm import (
        unigram_logprob_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob_scores(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    tercile = F.ntile(3).over(w)
    bucket = (
        F.when(tercile == 1, F.lit("head"))
        .when(tercile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select(
        "doc_id", "lang", "avg_logprob", bucket.alias("ppl_bucket")
    )


def _ccnet_buckets_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import unigram_logprob_sql

    return (
        "WITH ccs AS MATERIALIZED ("
        + unigram_logprob_sql("documents", "doc_id", "text")
        + """)
SELECT s.id AS doc_id, d.lang, s.avg_logprob,
  CASE NTILE(3) OVER (
    PARTITION BY d.lang ORDER BY s.avg_logprob DESC, s.id ASC
  ) WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM ccs s JOIN documents d ON d.doc_id = s.id
"""
    )


# -- frozen-model cross-corpus LM scoring --------------------------------

# the explicit unseen-token floor a frozen-model consumer must choose
# (see score_against_model's contract); ln-scale, below any observed
# self-score on the fixture
_FROZEN_UNSEEN_LOGPROB = -15.0


def frozen_lm_transfer_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FROZEN-model scoring path through the driver gate: the
    unigram LM is built from the TRAIN split only, then the VAL split
    is scored against it with the explicit unseen-token floor — the
    cross-corpus flow (score incoming crawls against last month's
    model) that the self-scored doc_lm_score cannot exercise. Both
    split membership (md5 thresholds) and the model are re-derived by
    the oracle."""
    from delta_lake_experiment_spark.operators.lm import (
        build_unigram_model,
        score_against_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    train = split.filter(F.col("split") == "train")
    val = split.filter(F.col("split") == "val")
    model = build_unigram_model(train, "text")
    return score_against_model(
        val, "doc_id", "text", model,
        unseen_logprob=_FROZEN_UNSEEN_LOGPROB,
    )


def _frozen_lm_transfer_sql() -> str:
    split_case = split_thresholds_sql(
        "CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT
    )
    return rf"""
WITH fsp AS MATERIALIZED (
  SELECT doc_id, text, {split_case} AS split FROM documents
), ftok AS MATERIALIZED (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM fsp WHERE split = 'train'
), fvocab AS MATERIALIZED (
  SELECT tok, COUNT(*) AS cnt FROM ftok GROUP BY tok
), fmodel AS MATERIALIZED (
  SELECT tok, ln(CAST(cnt AS DOUBLE))
           - ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM fvocab)) AS logprob
  FROM fvocab
), fval AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM fsp WHERE split = 'val'
)
SELECT v.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
       round(AVG(COALESCE(m.logprob, {_FROZEN_UNSEEN_LOGPROB!r})), 6)
         AS avg_logprob
FROM fval v LEFT JOIN fmodel m ON m.tok = v.tok
GROUP BY v.doc_id
"""


# -- per-source quality dashboard ---------------------------------------


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card slice every corpus owner publishes: per
    SOURCE (crawl/feed provenance), document count, token totals,
    mean heuristic quality, and the Gopher-gate pass rate — one
    corpus scan (stats + rules are map-only columns), one
    groupBy(source). Output (source, n_docs, total_tokens,
    avg_quality, gopher_pass_rate), ratios 6-digit-rounded."""
    from delta_lake_experiment_spark.operators.text import (
        gopher_quality_rules,
    )

    docs = with_text_stats(load_table(spark, sf_dir, "documents"))
    rules = gopher_quality_rules(F.col("text"), **_GOPHER_KW)
    return (
        docs.withColumn("__pass", rules["gopher_pass"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(
                F.avg(F.col("__pass").cast("double")), 6
            ).alias("gopher_pass_rate"),
        )
    )


def _source_quality_sql() -> str:
    from delta_lake_experiment_spark.operators.text import gopher_rules_sql

    # reuse the per-doc stats oracle (quality, n_tokens) + the gopher
    # fragment's gopher_pass column, then aggregate per source
    gopher_cols = gopher_rules_sql("text", **_GOPHER_KW)
    return rf"""
WITH sq AS MATERIALIZED (
  SELECT d.source, s.n_tokens, s.quality, g.gopher_pass
  FROM documents d
  JOIN ({TEXT_STATS_SQL.strip()}) s ON s.doc_id = d.doc_id
  JOIN (SELECT doc_id, {gopher_cols} FROM documents) g
    ON g.doc_id = d.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  round(AVG(quality), 6) AS avg_quality,
  round(AVG(CAST(gopher_pass AS DOUBLE)), 6) AS gopher_pass_rate
FROM sq GROUP BY source
"""


# -- hard-negative mining (operators/similarity.py) ---------------------

# cosine band calibrated to the fixture's distribution (p90 ~= 0.16,
# max ~= 0.40): [0.15, 0.35) is populated but excludes the near-dup top
_HN_QUERY_IDS = (3, 11, 42)
_HN_K = 5
_HN_BAND = (0.15, 0.35)


def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training
    (operators/similarity.py::hard_negative_topk — the DPR recipe):
    per query document, the top-k corpus documents inside the
    similar-but-not-duplicate cosine band. Broadcast query rows, one
    corpus scan, per-query rank windows; fully value-oracled."""
    from delta_lake_experiment_spark.operators.similarity import (
        hard_negative_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(
        emb, "vec_id", "embedding", _HN_QUERY_IDS,
        k=_HN_K, lo=_HN_BAND[0], hi=_HN_BAND[1],
    )


def _hard_negative_sql() -> str:
    from delta_lake_experiment_spark.operators.similarity import (
        hard_negative_sql,
    )

    return hard_negative_sql(
        "embeddings", "vec_id", "embedding", _HN_QUERY_IDS,
        k=_HN_K, lo=_HN_BAND[0], hi=_HN_BAND[1],
    )


# -- C4 blocklist filtering (operators/text.py) -------------------------

# benign stand-in for C4's "bad words" blocklist, chosen to be
# non-vacuous on the fixture ('slow' and 'dup' appear in real docs);
# whole-word boundaries mean 'dup' never matches inside a longer token
_BLOCKLIST = ("slow", "dup")


def blocklist_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning pass (Raffel et al. 2020): DROP any document
    containing a blocklisted term (whole-word, case-folded, escaped
    literals — one vectorized regex count per doc, map-only). Output =
    the surviving corpus (doc_id, lang, n_tokens); the per-doc hit
    count is computed in the same scan and asserted zero by the
    filter."""
    from delta_lake_experiment_spark.operators.text import (
        blocklist_hits,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "__hits", blocklist_hits(F.col("text"), _BLOCKLIST)
        )
        .filter(F.col("__hits") == 0)
        .select(
            "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
        )
    )


def _blocklist_filtered_sql() -> str:
    from delta_lake_experiment_spark.operators.text import blocklist_hits_sql

    hits = blocklist_hits_sql("text", _BLOCKLIST)
    return rf"""
SELECT doc_id, lang, CAST({_NTOKENS_SQL} AS INT) AS n_tokens
FROM documents
WHERE {hits} = 0
"""


# -- Kneser-Ney bigram LM scoring (operators/lm.py) ---------------------


def doc_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram scoring
    (operators/lm.py::kn_bigram_logprob_scores) — the smoothing
    production n-gram LMs ship, one rung above the Jelinek-Mercer
    lane (doc_bigram_score): discounted bigram mass plus
    continuation-probability backoff (distinct-context counts, not
    raw frequency). Discount = the Chen-Goodman count-of-counts
    estimate, resolved from the corpus on both engines, with the
    textbook 0.75 fallback where the estimate is unusable — the sf0.1
    fixture's 31-word vocabulary saturates every bigram to 3+
    occurrences, so n1 = n2 = 0 there (at sf0.01 the estimate is
    defined and value-checked)."""
    from delta_lake_experiment_spark.operators.lm import (
        kn_bigram_logprob_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return kn_bigram_logprob_scores(
        docs, "doc_id", "text", estimate_fallback=0.75
    )


def _doc_kn_bigram_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import kn_bigram_logprob_sql

    return kn_bigram_logprob_sql("documents", "doc_id", estimate_fallback=0.75)


# -- Gopher quality-rule gate (operators/text.py) -----------------------

# published thresholds except where the synthetic corpus would make a
# rule vacuous: min_words=30 splits the 10-99-word docs (median 56),
# and the assurance stopwords are corpus-frequent terms (the paper's
# English list never appears here — a real deployment passes its
# language's list; rule evaluation is identical either way)
_GOPHER_KW = dict(
    min_words=30,
    stopwords=("a", "data", "key", "scan", "join", "filter"),
    min_stopword_hits=2,
)


def gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule battery (operators/text.py::gopher_quality_rules
    — Rae et al. 2021 table A1): per-document signal values, one
    boolean per rule, and the AND gate. Map-only vectorized column
    expressions over one corpus scan — the shape that filters 100 TB
    at parquet-scan speed. Every ratio 6-digit-rounded; the oracle is
    machine-generated from the same thresholds."""
    from delta_lake_experiment_spark.operators.text import gopher_quality_rules

    docs = load_table(spark, sf_dir, "documents")
    rules = gopher_quality_rules(F.col("text"), **_GOPHER_KW)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in rules.items()]
    )


def _gopher_report_sql() -> str:
    from delta_lake_experiment_spark.operators.text import gopher_rules_sql

    return (
        "SELECT doc_id,\n  "
        + gopher_rules_sql("text", **_GOPHER_KW)
        + "\nFROM documents"
    )


# -- deterministic PCA over embeddings (operators/pca.py) ---------------

# dim is a schema property of the embeddings table (64-d vectors);
# k=4 with 8 power iterations exercises deflation three times
_PCA_DIM = 64
_PCA_K = 4
_PCA_ITERS = 8


def _pca_train(spark: SparkSession, sf_dir: str):
    from delta_lake_experiment_spark.operators.pca import (
        covariance_matrix,
        embedding_mean,
        power_pca,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mu = embedding_mean(emb, "embedding")
    cov = covariance_matrix(emb, "embedding", mu)
    return emb, mu, power_pca(cov, k=_PCA_K, p_iters=_PCA_ITERS)


def embedding_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCA training (operators/pca.py): per-dimension
    mean + centered covariance in two distributed passes (Arrow
    partial-Gram bundles — O(partitions·dim²) shuffle), then
    fixed-iteration power iteration with deflation on O(dim²) driver
    metadata. Output (component, eigenvalue, pos, loading); the
    oracle re-derives the whole computation exactly (bit-pinned fold
    order + DuckDB-replicated rounding — see the module docstring for
    why grid-aligned state demands more than 'close + rounded')."""
    _, _, comps = _pca_train(spark, sf_dir)
    rows = [
        (c + 1, lam, pos + 1, v[pos])
        for c, (lam, v) in enumerate(comps)
        for pos in range(len(v))
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, pos int, loading double"
    )


def _pca_components_sql() -> str:
    from delta_lake_experiment_spark.operators.pca import pca_components_sql

    return pca_components_sql(
        "embeddings", "vec_id", "embedding",
        dim=_PCA_DIM, k=_PCA_K, p_iters=_PCA_ITERS,
    )


def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-project composition: every embedding's centered
    projection onto its own corpus's top-k principal components
    (operators/pca.py::project_embeddings — map-only JVM folds over
    literal components; projecting 100 TB is one codegen'd scan)."""
    from delta_lake_experiment_spark.operators.pca import project_embeddings

    emb, mu, comps = _pca_train(spark, sf_dir)
    return project_embeddings(
        emb, "vec_id", "embedding", mu, [v for _, v in comps]
    ).withColumnRenamed("vec_id", "id")


def _pca_projection_sql() -> str:
    from delta_lake_experiment_spark.operators.pca import pca_projection_sql

    return pca_projection_sql(
        "embeddings", "vec_id", "embedding",
        dim=_PCA_DIM, k=_PCA_K, p_iters=_PCA_ITERS,
    )


_PCA_QUERY_ID = 7  # corpus vector serving as the search query
_PCA_TOPK = 10


def similarity_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbors in PCA-REDUCED space (the classic
    dimensionality-reduction ANN composition: project 64-d embeddings
    to k=4 principal components, search by squared euclidean distance
    there). Unlike the IVF/PQ lanes (rows-only + recall floors), this
    approximate-search lane is fully VALUE-oracled: projections ride
    the bit-exact PCA oracle, and the distance is an un-rounded
    left-associated sum of squares of grid-aligned projections —
    bit-identical across engines by the operators/pca.py fold
    discipline, so no rounding (and no rounding-parity risk) is
    needed at all. Query = the corpus vector vec_id=7, excluded from
    its own results; ties broken by id.

    Search QUALITY in reduced space depends on the spectrum: the
    synthetic fixture embeddings are near-isotropic (top-4
    eigenvalues all ~0.025 of trace ~1.6), so 4 components retain
    ~6% of variance and recall vs full-space search is poor — the
    honest property of PCA reduction on structureless data. The
    pytest pins high recall on a planted anisotropic corpus, where
    the method actually applies; this driver query certifies the
    COMPUTATION (exact, value-oracled), not a recall claim. The
    query id is fixture-pinned: an absent id would yield an empty
    result on BOTH engines, which the driver's row-count record
    (10 rows expected) makes visible rather than vacuous."""
    emb, mu, comps = _pca_train(spark, sf_dir)
    from delta_lake_experiment_spark.operators.pca import project_embeddings

    proj = project_embeddings(
        emb, "vec_id", "embedding", mu, [v for _, v in comps]
    ).persist()  # consumer releases (functions/cache.py contract)
    # limit(1) bounds the broadcast EXPLICITLY in the plan (vec_id is
    # unique, so it changes nothing semantically; the plan audit
    # rightly refuses fact-derived broadcasts without a bounding node)
    q = (
        proj.filter(F.col("vec_id") == _PCA_QUERY_ID)
        .select(
            *[F.col(f"pc{c + 1}").alias(f"q{c + 1}") for c in range(_PCA_K)]
        )
        .limit(1)
    )
    dist = None
    for c in range(_PCA_K):
        term = (F.col(f"pc{c + 1}") - F.col(f"q{c + 1}")) * (
            F.col(f"pc{c + 1}") - F.col(f"q{c + 1}")
        )
        dist = term if dist is None else dist + term
    return (
        proj.filter(F.col("vec_id") != _PCA_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"), dist.alias("dist2")
        )
        .orderBy(F.col("dist2").asc(), F.col("id").asc())
        .limit(_PCA_TOPK)
    )


def _similarity_pca_topk_sql() -> str:
    from delta_lake_experiment_spark.operators.pca import pca_projection_sql

    proj = pca_projection_sql(
        "embeddings", "vec_id", "embedding",
        dim=_PCA_DIM, k=_PCA_K, p_iters=_PCA_ITERS,
    )
    terms = " + ".join(
        f"(p.pc{c + 1} - q.pc{c + 1}) * (p.pc{c + 1} - q.pc{c + 1})"
        for c in range(_PCA_K)
    )
    return f"""
WITH pproj AS MATERIALIZED ({proj})
SELECT p.id, {terms} AS dist2
FROM pproj p, (SELECT * FROM pproj WHERE id = {_PCA_QUERY_ID}) q
WHERE p.id != {_PCA_QUERY_ID}
ORDER BY dist2 ASC, p.id ASC
LIMIT {_PCA_TOPK}
"""


# -- ANN recall report --------------------------------------------------

# one corpus, one query (the vec_id=0 row every ANN lane uses), one k:
# the recall@k numbers an ANN user actually tunes with, side by side
_ANN_K = 10
_ANN_QID = 0
_ANN_LSH_BITS = 4
_ANN_LSH_HAMMING = 1
_ANN_IVF_CENTROIDS = 16
_ANN_IVF_ITERS = 1
_ANN_IVF_PROBE = 4
_ANN_IVF_SALT = "ivfrr"
_ANN_ROUND = 9
_ANN_PQ_M = 4          # subspaces (dim 64 -> 16-d subvectors)
_ANN_PQ_K = 16         # codewords per subspace
_ANN_PQ_ITERS = 1
_ANN_PQ_RERANK = 50    # ADC survivors exact-reranked
_ANN_PQ_SALT = "pqrr"


def _ann_norm_py(vec: "list[float]") -> "list[float]":
    """The SQL twin's normalization (CASE WHEN sqrt(dot)>0 THEN x/n),
    replicated with the pinned left-to-right fold: same double in,
    same double out on both engines."""
    import math as _math

    from delta_lake_experiment_spark.operators.pca import _fold_dot

    n = _math.sqrt(_fold_dot(vec, vec))
    return [x / n for x in vec] if n > 0 else list(vec)


def _ann_ivf_probes(query: "list[float]", cents: "list[list[float]]") -> "list[int]":
    """Probe list: the n_probe centroid indices nearest the normalized
    query by ROUNDED dot, ties to the lower index — the exact ORDER BY
    the SQL twin runs over the re-derived centroid table. Driver-side
    O(k·dim) math (round_like_sql + _fold_dot: the pca.py parity
    discipline)."""
    from delta_lake_experiment_spark.functions.rounding import round_like_sql
    from delta_lake_experiment_spark.operators.pca import _fold_dot

    qn = _ann_norm_py(query)
    scored = sorted(
        ((-round_like_sql(_fold_dot(c, qn), _ANN_ROUND), j) for j, c in enumerate(cents)),
    )
    return [j for _, j in scored[:_ANN_IVF_PROBE]]


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every deterministic ANN lane against the exact
    brute-force top-k, on one corpus and one query — the tuning number
    the rows-only ANN queries could previously only assert as in-query
    floors (VERDICT r6 item 7). One row per method:

    - ``bruteforce``: the exact cosine top-k itself (recall 1.0 by
      construction — the sanity row);
    - ``pca``: top-k by squared euclidean in the 4-component PCA-reduced
      space (the bit-exact operators/pca.py lane);
    - ``lsh``: SRP bucket + hamming-1 multiprobe candidates, exact
      rerank (operators/similarity.py::lsh_bucket_topk — the sign
      matrix is Python-generated and enters BOTH plans as literals);
    - ``ivf``: probe the n_probe nearest of 16 inverted lists built by
      the CERTIFIED deterministic k-means (operators/semdedup.py seeds
      + Lloyd chain — md5 seeds, rounded assignment), exact rerank;
    - ``pq``: product quantization with CERTIFIED euclidean subspace
      codebooks (operators/semdedup.py::deterministic_pq_codebooks
      — the ``2·dot − cc`` rounded assignment, one md5-seeded flat
      s-keyed Lloyd chain for all subspaces), ADC scoring from
      per-subspace lookup tables
      whose entries are grid-rounded on both engines, fixed-breadth
      exact rerank of the ADC survivors.

    Every method here is chosen to be fully VALUE-oracle-able: the
    exact set and each candidate set are deterministic and re-derived
    by the DuckDB twin (literal signs; the semantic_pair_ctes Lloyd
    chain; one euclid_kmeans_ctes chain per PQ subspace; the bit-exact
    PCA projection), so recall itself hash-checks — unlike
    similarity_{lsh,ivf,pq}_topk, whose production configurations
    (xxhash64 seeds, np-gemm PQ codebooks with BLAS summation order)
    stay rows-only behind in-query recall floors.

    Plan shape: one exact top-k scan, one bucket-filtered rerank, one
    k-means train (2 passes at iters=1) + assignment + filtered
    rerank, one PCA train + projection — every per-method candidate
    set is O(corpus/buckets) or O(k) and the tally is a union of four
    O(k) id lists semi-joined against the exact O(k) list. recall =
    hits/k is an exact small-integer ratio: IEEE division of the same
    ints is bit-identical across engines, so no rounding is needed."""
    from delta_lake_experiment_spark.operators.pca import project_embeddings
    from delta_lake_experiment_spark.operators.semdedup import (
        assign_to_centroids,
        deterministic_kmeans,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == _ANN_QID).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    base = emb.filter(F.col("vec_id") != _ANN_QID)
    exact = cosine_topk(base, "vec_id", "embedding", query, k=_ANN_K).select(
        "vec_id"
    ).persist()  # consumer releases (functions/cache.py contract)

    # lsh: literal-sign buckets + multiprobe, exact rerank
    lsh = lsh_bucket_topk(
        spark, base, "vec_id", "embedding", query, dim=len(query),
        k=_ANN_K, bits=_ANN_LSH_BITS, probe_hamming=_ANN_LSH_HAMMING,
    ).select("vec_id")

    # ivf: certified k-means lists, fixed n_probe (the honest tuning
    # number — no test-scale widening here: a low recall at tiny sf is
    # a CORRECT report value, not a failure)
    cents = deterministic_kmeans(
        base, "vec_id", "embedding", k=_ANN_IVF_CENTROIDS,
        iters=_ANN_IVF_ITERS, salt=_ANN_IVF_SALT,
    )
    probes = _ann_ivf_probes(query, cents)
    assigned = assign_to_centroids(base, "vec_id", "embedding", cents)
    ivf_cand = (
        assigned.filter(F.col("cluster").isin(probes))
        .select("vec_id")
        .join(base, "vec_id")
    )
    ivf = cosine_topk(ivf_cand, "vec_id", "embedding", query, k=_ANN_K).select(
        "vec_id"
    )

    # pq: certified euclidean subspace codebooks -> ADC rank -> exact
    # rerank. ADC per doc = sum over subspaces of a grid-rounded lookup
    # (element_at on a literal table) — addition in subspace order on
    # both engines, so even the tie structure is engine-identical. One
    # seed collect + one Arrow assignment pass per Lloyd iteration +
    # one Arrow encode pass cover ALL m subspaces (deterministic_pq_
    # codebooks / pq_assign_codes).
    from delta_lake_experiment_spark.functions.guards import null_checked
    from delta_lake_experiment_spark.functions.rounding import round_like_sql
    from delta_lake_experiment_spark.operators.pca import _fold_dot
    from delta_lake_experiment_spark.operators.semdedup import (
        deterministic_pq_codebooks,
        pq_assign_codes,
    )
    from delta_lake_experiment_spark.operators.similarity import l2_normalize

    dim = len(query)
    if dim % _ANN_PQ_M:
        raise ValueError(f"dim={dim} not divisible by m={_ANN_PQ_M}")
    sub = dim // _ANN_PQ_M
    normf = base.select(
        "vec_id",
        l2_normalize(
            null_checked(F.col("embedding"), "ann_recall", "embedding")
        ).alias("__v"),
    ).persist()  # consumer releases
    qn = _ann_norm_py(query)
    books = deterministic_pq_codebooks(
        normf, "vec_id", "__v", m=_ANN_PQ_M, k=_ANN_PQ_K,
        iters=_ANN_PQ_ITERS, salt=_ANN_PQ_SALT, round_digits=_ANN_ROUND,
    )
    score_s = [
        [
            round_like_sql(
                2 * _fold_dot(qn[s * sub:(s + 1) * sub], c) - _fold_dot(c, c),
                _ANN_ROUND,
            )
            for c in books[s]
        ]
        for s in range(_ANN_PQ_M)
    ]
    encoded = pq_assign_codes(normf, "__v", books, _ANN_ROUND)
    adc = None
    for s in range(_ANN_PQ_M):
        term = F.element_at(F.lit(score_s[s]), F.col(f"__c{s}") + F.lit(1))
        adc = term if adc is None else adc + term
    pq_cand = (
        encoded.select("vec_id", adc.alias("__adc"))
        .orderBy(F.col("__adc").desc(), F.col("vec_id").asc())
        .limit(_ANN_PQ_RERANK)
        .select("vec_id")
    )
    pq_ids = cosine_topk(
        pq_cand.join(base, "vec_id"), "vec_id", "embedding", query, k=_ANN_K
    ).select("vec_id")

    # pca: reduced-space euclidean top-k (similarity_pca_topk's exact
    # machinery, query id 0)
    emb_all, mu, comps = _pca_train(spark, sf_dir)
    proj = project_embeddings(
        emb_all, "vec_id", "embedding", mu, [v for _, v in comps]
    ).persist()  # consumer releases
    q = (
        proj.filter(F.col("vec_id") == _ANN_QID)
        .select(*[F.col(f"pc{c + 1}").alias(f"q{c + 1}") for c in range(_PCA_K)])
        .limit(1)
    )
    dist = None
    for c in range(_PCA_K):
        term = (F.col(f"pc{c + 1}") - F.col(f"q{c + 1}")) * (
            F.col(f"pc{c + 1}") - F.col(f"q{c + 1}")
        )
        dist = term if dist is None else dist + term
    pca_ids = (
        proj.filter(F.col("vec_id") != _ANN_QID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", dist.alias("__d"))
        .orderBy(F.col("__d").asc(), F.col("vec_id").asc())
        .limit(_ANN_K)
        .select("vec_id")
    )

    tagged = (
        exact.withColumn("method", F.lit("bruteforce"))
        .unionByName(pca_ids.withColumn("method", F.lit("pca")))
        .unionByName(lsh.withColumn("method", F.lit("lsh")))
        .unionByName(ivf.withColumn("method", F.lit("ivf")))
        .unionByName(pq_ids.withColumn("method", F.lit("pq")))
    )
    hits = (
        tagged.join(exact, "vec_id", "left_semi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    methods = spark.createDataFrame(
        [("bruteforce",), ("pca",), ("lsh",), ("ivf",), ("pq",)],
        "method string",
    )
    return (
        methods.join(hits, "method", "left")
        .select(
            "method",
            F.lit(_ANN_K).alias("k"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            (
                F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                / F.lit(float(_ANN_K))
            ).alias("recall"),
        )
    )


def _ann_recall_sql() -> str:
    from delta_lake_experiment_spark.operators.pca import pca_projection_sql
    from delta_lake_experiment_spark.operators.semdedup import (
        semantic_pair_ctes,
    )
    from delta_lake_experiment_spark.operators.similarity import srp_signs

    signs = srp_signs(_PCA_DIM, _ANN_LSH_BITS)
    qexpr = (
        f"(SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings"
        f" WHERE vec_id = {_ANN_QID})"
    )
    cos = (
        "round(list_dot_product(e.v, q.qv)"
        " / sqrt(list_dot_product(e.v, e.v) * list_dot_product(q.qv, q.qv)),"
        f" {_ANN_ROUND})"
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e.v, {[float(s) for s in row]!r}::DOUBLE[])"
        f" >= 0 THEN {1 << b} ELSE 0 END)"
        for b, row in enumerate(signs)
    )
    # the probe bucket set is driver-side Python on BOTH sides: the
    # same srp_signs/srp_bucket_py pair generates the Spark probes and
    # this literal IN-list (the md5-threshold-SQL precedent)
    # — the query row's bucket needs the actual query vector, which is
    # data-dependent; it is resolved here by enumerating ALL buckets
    # whose hamming distance to the in-SQL-computed query bucket is
    # within the probe radius, via a scalar subquery on bit counts
    qbucket_expr = (
        "(SELECT "
        + " + ".join(
            f"(CASE WHEN list_dot_product(q.qv, {[float(s) for s in row]!r}::DOUBLE[])"
            f" >= 0 THEN {1 << b} ELSE 0 END)"
            for b, row in enumerate(signs)
        )
        + f" FROM {qexpr} q)"
    )
    chain = semantic_pair_ctes(
        f"(SELECT vec_id, embedding FROM embeddings WHERE vec_id <> {_ANN_QID})",
        "vec_id",
        "embedding",
        k=_ANN_IVF_CENTROIDS,
        iters=_ANN_IVF_ITERS,
        salt=_ANN_IVF_SALT,
        round_digits=_ANN_ROUND,
        threshold=1.1,  # sem_pairs is unreferenced (and empty if ever evaluated)
    )
    # pq: ONE flat s-keyed chain re-deriving every subspace codebook
    # over slices of the normalized corpus (the ivf chain's `se` CTE),
    # per-subspace ADC lookup tables from the normalized query's
    # slices, and an ordered-list fold for the subspace-order ADC sum
    from delta_lake_experiment_spark.operators.semdedup import (
        pq_codebook_ctes,
    )

    adc_fold = " + ".join(f"l[{s + 1}]" for s in range(_ANN_PQ_M))
    pq_sql = pq_codebook_ctes(
        "(SELECT i, v FROM se)", "i", "v",
        m=_ANN_PQ_M, k=_ANN_PQ_K, iters=_ANN_PQ_ITERS,
        salt=_ANN_PQ_SALT, round_digits=_ANN_ROUND, prefix="pq",
    ) + f""",
pqs AS MATERIALIZED (
  SELECT c.s, c.j, round(2 * list_dot_product(q.sv, c.v)
                         - list_dot_product(c.v, c.v), {_ANN_ROUND}) AS sc
  FROM pqc{_ANN_PQ_ITERS} c JOIN (
    SELECT CAST(t.s AS INT) AS s,
           v[CAST(t.s * (len(v) / {_ANN_PQ_M}) + 1 AS INT)
             :CAST((t.s + 1) * (len(v) / {_ANN_PQ_M}) AS INT)] AS sv
    FROM pqqn, range({_ANN_PQ_M}) t(s)
  ) q ON q.s = c.s
),
pqadc AS MATERIALIZED (
  SELECT i, {adc_fold} AS adc FROM (
    SELECT f.i, list(p.sc ORDER BY f.s) AS l
    FROM pqfinal f JOIN pqs p ON p.s = f.s AND p.j = f.j
    GROUP BY f.i
  )
),
pqcand AS (SELECT i FROM pqadc ORDER BY adc DESC, i ASC LIMIT {_ANN_PQ_RERANK}),
pqk AS (
  SELECT e.vec_id FROM ebase e JOIN pqcand pc ON pc.i = e.vec_id, {qexpr} q
  ORDER BY {cos} DESC, e.vec_id ASC LIMIT {_ANN_K}
)"""
    pproj = pca_projection_sql(
        "embeddings", "vec_id", "embedding",
        dim=_PCA_DIM, k=_PCA_K, p_iters=_PCA_ITERS,
    )
    pca_terms = " + ".join(
        f"(p.pc{c + 1} - pq.pc{c + 1}) * (p.pc{c + 1} - pq.pc{c + 1})"
        for c in range(_PCA_K)
    )
    return f"""
WITH {chain},
ebase AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id <> {_ANN_QID}
),
exactk AS MATERIALIZED (
  SELECT e.vec_id FROM ebase e, {qexpr} q
  ORDER BY {cos} DESC, e.vec_id ASC LIMIT {_ANN_K}
),
lshk AS (
  SELECT e.vec_id FROM ebase e, {qexpr} q
  WHERE bit_count(xor(CAST(({bucket_terms}) AS BIGINT),
                      CAST({qbucket_expr} AS BIGINT))) <= {_ANN_LSH_HAMMING}
  ORDER BY {cos} DESC, e.vec_id ASC LIMIT {_ANN_K}
),
ivfprobes AS (
  SELECT c.j FROM sc{_ANN_IVF_ITERS} c,
    (SELECT CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
       THEN list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv)))
       ELSE qv END AS v FROM {qexpr}) qn
  ORDER BY round(list_dot_product(c.v, qn.v), {_ANN_ROUND}) DESC, c.j ASC
  LIMIT {_ANN_IVF_PROBE}
),
ivfk AS (
  SELECT e.vec_id FROM ebase e
  JOIN sfinal f ON f.i = e.vec_id
  JOIN {qexpr} q ON TRUE
  WHERE f.j IN (SELECT j FROM ivfprobes)
  ORDER BY {cos} DESC, e.vec_id ASC LIMIT {_ANN_K}
),
pqqn AS MATERIALIZED (
  SELECT CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
    THEN list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv)))
    ELSE qv END AS v FROM {qexpr}
),
{pq_sql},
pproj AS MATERIALIZED ({pproj}),
pcak AS (
  SELECT p.id AS vec_id FROM pproj p,
    (SELECT * FROM pproj WHERE id = {_ANN_QID}) pq
  WHERE p.id <> {_ANN_QID}
  ORDER BY {pca_terms} ASC, p.id ASC LIMIT {_ANN_K}
),
tag AS (
  SELECT 'bruteforce' AS method, vec_id FROM exactk
  UNION ALL SELECT 'pca', vec_id FROM pcak
  UNION ALL SELECT 'lsh', vec_id FROM lshk
  UNION ALL SELECT 'ivf', vec_id FROM ivfk
  UNION ALL SELECT 'pq', vec_id FROM pqk
),
hcount AS (
  SELECT method, COUNT(*) AS hits FROM tag
  WHERE vec_id IN (SELECT vec_id FROM exactk) GROUP BY method
)
SELECT m.method, {_ANN_K} AS k,
  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
  CAST(COALESCE(h.hits, 0) AS DOUBLE) / {float(_ANN_K)!r} AS recall
FROM (VALUES ('bruteforce'), ('pca'), ('lsh'), ('ivf'), ('pq')) m(method)
LEFT JOIN hcount h ON h.method = m.method
"""


# -- persisted IVF index + incremental ANN ingest (operators/ann_index) -

_ANNIDX_SALT = "annidx"


def engine_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-IVF-index lifecycle end to end
    (operators/ann_index.py — VERDICT r7 item 7): the EVEN half of the
    embeddings bootstraps an engine vectors table, build_ann_index
    trains the certified deterministic k-means model ONCE and stores
    centroids + inverted lists as ACID tables, the ODD half then
    arrives as an incremental batch — appended with its list
    assignments under the STORED centroids in one transaction, no
    retraining — and a REDELIVERY of the same batch must admit 0 (the
    in-query invariant raises otherwise). The returned top-10 search
    probes the stored model driver-side and scans only the probed
    lists.

    Fully value-oracled: the DuckDB twin re-derives the model from the
    BATCH-1 source via the certified Lloyd chain (semantic_pair_ctes —
    md5 seeds, rounded steps), assigns ALL vectors to those centroids
    (exactly what build-then-ingest produces, because ingest assigns
    under the stored model), re-ranks probes by the same rounded dot,
    and re-derives the exact cosine top-k — so a wrong incremental
    assignment, a drifted stored centroid, or a lost batch-2 vector
    all hash-diverge."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.operators.ann_index import (
        CENTROIDS_DDL,
        assign_ddl,
        ann_index_topk,
        build_ann_index,
        incremental_ann_ingest,
        vectors_ddl,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == _ANN_QID).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    base = emb.filter(F.col("vec_id") != _ANN_QID).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_annidx_"))
    c.new_tx()
    c.create_table("vecs", vectors_ddl("vec_id", "embedding"))
    c.create_table("cents", CENTROIDS_DDL)
    c.create_table("lists", assign_ddl("vec_id"))
    c.write_dataframe("vecs", base.filter(F.col("vec_id") % 2 == 0))
    c.commit_tx()
    build_ann_index(
        c, "vecs", "cents", "lists", id_col="vec_id", vec_col="embedding",
        k=_ANN_IVF_CENTROIDS, iters=_ANN_IVF_ITERS, salt=_ANNIDX_SALT,
    )
    batch2 = base.filter(F.col("vec_id") % 2 == 1)
    n2 = incremental_ann_ingest(
        c, "vecs", "cents", "lists", batch2,
        id_col="vec_id", vec_col="embedding",
    )
    redelivered = incremental_ann_ingest(
        c, "vecs", "cents", "lists", batch2,
        id_col="vec_id", vec_col="embedding",
    )
    if n2 <= 0 or redelivered != 0:
        raise AssertionError(
            f"incremental ANN ingest contract broken: first={n2},"
            f" redelivered={redelivered} (must be >0 and 0)"
        )
    c.new_tx()
    out = ann_index_topk(
        c, "vecs", "cents", "lists", query,
        id_col="vec_id", vec_col="embedding",
        k=_ANN_K, n_probe=_ANN_IVF_PROBE,
    )
    return out.select("vec_id", "score")


def _engine_ann_index_sql() -> str:
    from delta_lake_experiment_spark.operators.semdedup import (
        semantic_pair_ctes,
    )

    qexpr = (
        f"(SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings"
        f" WHERE vec_id = {_ANN_QID})"
    )
    cos = (
        "round(list_dot_product(e.v, q.qv)"
        " / sqrt(list_dot_product(e.v, e.v) * list_dot_product(q.qv, q.qv)),"
        f" {_ANN_ROUND})"
    )
    norm = (
        "CASE WHEN sqrt(list_dot_product(dv, dv)) > 0 THEN "
        "list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv))) "
        "ELSE dv END"
    )
    # the model trains on BATCH 1 ONLY (the even half) — the chain's
    # source; assignments then cover ALL vectors under those centroids
    chain = semantic_pair_ctes(
        f"(SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id <> {_ANN_QID} AND vec_id % 2 = 0)",
        "vec_id",
        "embedding",
        k=_ANN_IVF_CENTROIDS,
        iters=_ANN_IVF_ITERS,
        salt=_ANNIDX_SALT,
        round_digits=_ANN_ROUND,
        threshold=1.1,  # sem_pairs unreferenced (pruned by the planner)
    )
    return f"""
WITH {chain},
allv AS MATERIALIZED (
  SELECT vec_id AS i, {norm} AS v
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
        WHERE vec_id <> {_ANN_QID})
),
afinal AS MATERIALIZED (
  SELECT i, j FROM (
    SELECT a.i, c.j, ROW_NUMBER() OVER (
      PARTITION BY a.i
      ORDER BY round(list_dot_product(a.v, c.v), {_ANN_ROUND}) DESC, c.j ASC
    ) AS rn
    FROM allv a, sc{_ANN_IVF_ITERS} c
  ) WHERE rn = 1
),
qn AS (
  SELECT CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
    THEN list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv)))
    ELSE qv END AS v FROM {qexpr}
),
probes AS (
  SELECT c.j FROM sc{_ANN_IVF_ITERS} c, qn
  ORDER BY round(list_dot_product(c.v, qn.v), {_ANN_ROUND}) DESC, c.j ASC
  LIMIT {_ANN_IVF_PROBE}
),
ebase AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id <> {_ANN_QID}
)
SELECT e.vec_id, {cos} AS score
FROM ebase e JOIN afinal f ON f.i = e.vec_id, {qexpr} q
WHERE f.j IN (SELECT j FROM probes)
ORDER BY score DESC, e.vec_id ASC LIMIT {_ANN_K}
"""


# -- PPMI word embeddings (operators/embeddings.py) ---------------------

_STALE_DROP = 0.05
_STALE_SKEW = 2


def ann_index_staleness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift diagnostic for the persisted IVF index
    (operators/ann_index.py::ann_index_staleness — VERDICT r8 item 6):
    the model trains on the EVEN half of the embeddings, the ODD half
    ingests incrementally under the stored centroids, and the report
    compares the eras — volume, exact integer-scaled assignment
    similarity, list-occupancy skew — and recommends a retrain. The
    eras come from the engine's row stamps (build-tx rows vs later);
    the oracle re-derives the model via the certified Lloyd chain,
    re-assigns every vector, takes eras from the parity the query
    ingested by, and recomputes the recommendation with the same
    exact DECIMAL arithmetic — a drifted stored model, a wrong era
    split, or a float-flipped recommendation all value-diverge."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.operators.ann_index import (
        CENTROIDS_DDL,
        ann_index_staleness,
        assign_ddl,
        build_ann_index,
        incremental_ann_ingest,
        vectors_ddl,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") != _ANN_QID).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_annstale_"))
    c.new_tx()
    c.create_table("vecs", vectors_ddl("vec_id", "embedding"))
    c.create_table("cents", CENTROIDS_DDL)
    c.create_table("lists", assign_ddl("vec_id"))
    c.write_dataframe("vecs", base.filter(F.col("vec_id") % 2 == 0))
    c.commit_tx()
    build_ann_index(
        c, "vecs", "cents", "lists", id_col="vec_id", vec_col="embedding",
        k=_ANN_IVF_CENTROIDS, iters=_ANN_IVF_ITERS, salt=_ANNIDX_SALT,
    )
    incremental_ann_ingest(
        c, "vecs", "cents", "lists", base.filter(F.col("vec_id") % 2 == 1),
        id_col="vec_id", vec_col="embedding",
    )
    c.new_tx()
    return ann_index_staleness(
        c, "vecs", "cents", "lists", id_col="vec_id", vec_col="embedding",
        sim_drop=_STALE_DROP, skew_factor=_STALE_SKEW,
    )


def _ann_staleness_sql() -> str:
    from delta_lake_experiment_spark.operators.semdedup import (
        semantic_pair_ctes,
    )

    norm = (
        "CASE WHEN sqrt(list_dot_product(dv, dv)) > 0 THEN "
        "list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv))) "
        "ELSE dv END"
    )
    chain = semantic_pair_ctes(
        f"(SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id <> {_ANN_QID} AND vec_id % 2 = 0)",
        "vec_id",
        "embedding",
        k=_ANN_IVF_CENTROIDS,
        iters=_ANN_IVF_ITERS,
        salt=_ANNIDX_SALT,
        round_digits=_ANN_ROUND,
        threshold=1.1,  # sem_pairs unreferenced (pruned by the planner)
    )
    drop_units = int(round(_STALE_DROP * 1e9))
    return f"""
WITH {chain},
allv AS MATERIALIZED (
  SELECT vec_id AS i, {norm} AS v
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
        WHERE vec_id <> {_ANN_QID})
),
asg AS MATERIALIZED (
  SELECT i, j, s FROM (
    SELECT a.i, c.j,
      round(list_dot_product(a.v, c.v), {_ANN_ROUND}) AS s,
      ROW_NUMBER() OVER (
        PARTITION BY a.i
        ORDER BY round(list_dot_product(a.v, c.v), {_ANN_ROUND}) DESC,
                 c.j ASC
      ) AS rn
    FROM allv a, sc{_ANN_IVF_ITERS} c
  ) WHERE rn = 1
),
ers AS MATERIALIZED (
  SELECT CASE WHEN i % 2 = 0 THEN 'trained' ELSE 'ingested' END AS era,
         j, s, CAST(round(s * 1e9, 0) AS BIGINT) AS u
  FROM asg
),
per AS MATERIALIZED (
  SELECT era, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(SUM(u) AS BIGINT) AS sim_units_sum,
         MIN(s) AS min_sim
  FROM ers GROUP BY era
),
lists AS MATERIALIZED (
  SELECT era, CAST(MAX(cnt) AS BIGINT) AS max_list_n FROM (
    SELECT era, j, COUNT(*) AS cnt FROM ers GROUP BY era, j
  ) GROUP BY era
),
piv AS (
  SELECT
    COALESCE(SUM(CASE WHEN p.era = 'trained' THEN p.n_vectors END), 0) AS n_tr,
    COALESCE(SUM(CASE WHEN p.era = 'trained' THEN p.sim_units_sum END), 0) AS u_tr,
    COALESCE(SUM(CASE WHEN p.era = 'ingested' THEN p.n_vectors END), 0) AS n_in,
    COALESCE(SUM(CASE WHEN p.era = 'ingested' THEN p.sim_units_sum END), 0) AS u_in,
    COALESCE(MAX(CASE WHEN p.era = 'ingested' THEN l.max_list_n END), 0) AS maxl_in
  FROM per p JOIN lists l ON p.era = l.era
),
flag AS (
  SELECT (n_in >= n_tr)
    OR (n_in > 0 AND
        CAST(u_tr AS DECIMAL(18,0)) * CAST(n_in AS DECIMAL(10,0))
        - CAST(u_in AS DECIMAL(18,0)) * CAST(n_tr AS DECIMAL(10,0))
        > CAST({drop_units} AS DECIMAL(9,0))
          * CAST(n_tr AS DECIMAL(10,0)) * CAST(n_in AS DECIMAL(10,0)))
    OR (maxl_in * {_ANN_IVF_CENTROIDS} > {_STALE_SKEW} * n_in)
    AS retrain_recommended
  FROM piv
)
SELECT p.era, p.n_vectors, p.sim_units_sum,
  round(CAST(p.sim_units_sum AS DOUBLE) / 1e9 / p.n_vectors, 6) AS mean_sim,
  p.min_sim, l.max_list_n, f.retrain_recommended
FROM per p JOIN lists l ON p.era = l.era, flag f
"""


_EMB_WINDOW = 2
_EMB_R = 2
_EMB_ITERS = 6
_EMB_MAX_VOCAB = 4096


def word_embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word embeddings from corpus co-occurrence
    (operators/embeddings.py): windowed co-occurrence counts → PPMI →
    top-r spectral factors by DISTRIBUTED power iteration (the
    matrix lives in a table; each step is one join + groupBy matvec;
    only O(V) vector state reaches the driver, behind the max_vocab
    loud gate) → sqrt(λ)-scaled rows (Levy & Goldberg 2014: the
    factorization word2vec's SGNS implicitly performs). Output
    (word, e1..e{r}); the oracle re-derives tokenization, vocabulary
    ranks, counts, PPMI, and EVERY matvec/normalization/deflation
    step with the pinned ascending-j fold + DuckDB-replicated
    rounding — a value oracle for distributed iterative linear
    algebra."""
    from delta_lake_experiment_spark.operators.embeddings import (
        cooccurrence_counts,
        ppmi_matrix,
        ppmi_topk_eigs,
        tokenize_positions,
        vocab_ids,
        word_vectors,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_positions(docs, "doc_id", "text").persist()
    try:
        vocab = vocab_ids(toks, max_vocab=_EMB_MAX_VOCAB)
        mat = ppmi_matrix(cooccurrence_counts(toks, vocab, window=_EMB_WINDOW))
        eigs = ppmi_topk_eigs(mat, len(vocab), r=_EMB_R, p_iters=_EMB_ITERS)
    finally:
        toks.unpersist()
    rows = word_vectors(vocab, eigs)
    cols = ", ".join(f"e{k + 1} double" for k in range(_EMB_R))
    return spark.createDataFrame(rows, f"word string, {cols}")


def _word_embedding_sql() -> str:
    from delta_lake_experiment_spark.operators.embeddings import (
        word_vectors_sql,
    )

    return word_vectors_sql(
        "documents", "doc_id", "text",
        window=_EMB_WINDOW, r=_EMB_R, p_iters=_EMB_ITERS,
        max_vocab=_EMB_MAX_VOCAB,
    )


# -- HLL cardinality sketches (operators/sketches.py) -------------------

_HLL_P = 12


def corpus_cardinality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count estimation the 100 TB way
    (operators/sketches.py): one mergeable O(2^p) HyperLogLog sketch
    per entity instead of a corpus-wide distinct shuffle — rebuilt on
    the repo's engine-portable md5 hash so the ESTIMATE itself is
    value-oracled (Spark's approx_count_distinct is HLL++ no other
    engine reproduces). One row per entity with the sketch estimate,
    the exact distinct count, and the relative error — the report is
    its own accuracy certificate (at true scale the exact column is
    the one you drop; expected error ~1.04/sqrt(2^p) ≈ 1.6% at
    p=12)."""
    from delta_lake_experiment_spark.functions.guards import null_checked
    from delta_lake_experiment_spark.operators.sketches import hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    toks = docs.select(
        F.explode(
            F.split(
                F.lower(
                    F.trim(null_checked(F.col("text"), "cardinality", "text"))
                ),
                r"\s+",
            )
        ).alias("k")
    )
    users = events.select(F.col("user_id").alias("k"))
    eids = events.select(F.col("event_id").alias("k"))
    parts = []
    for entity, src in (("tokens", toks), ("users", users), ("events", eids)):
        est = hll_distinct(src, "k", p=_HLL_P)
        exact = src.agg(F.countDistinct("k").alias("exact_distinct"))
        parts.append(
            est.crossJoin(exact).select(
                F.lit(entity).alias("entity"),
                "est_distinct",
                "exact_distinct",
                F.round(
                    (F.col("est_distinct") - F.col("exact_distinct"))
                    / F.col("exact_distinct"),
                    6,
                ).alias("rel_err"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def streaming_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental distinct-count (streaming/sketch.py):
    the events table drains micro-batch by micro-batch through the
    exactly-once engine sink, each batch appending its own HLL
    registers to an ACID register table; the output is the MERGED
    estimate over everything streamed (one groupBy-max + the
    exact-integer estimate). Oracle = the BATCH HLL SQL over the same
    events — stream == batch, extended to an approximate aggregate
    because the approximation itself is deterministic (the sketch's
    md5 registers, not a sampled path)."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.streaming.sketch import (
        HLL_TABLE_DDL,
        table_sketch_estimate,
        write_hll_stream_to_table,
    )
    from delta_lake_experiment_spark.workloads.temporal import (
        _stream_source,
        _utc,
    )

    _utc(spark)
    src = _stream_source(spark, sf_dir, "events")
    store = tempfile.mkdtemp(prefix="dles_hll_")

    def factory():
        return DeltaLakeClient(spark, store)

    boot = factory()
    boot.new_tx()
    boot.create_table("user_sketch", HLL_TABLE_DDL)
    boot.commit_tx()
    schema = spark.read.parquet(f"{src}/src").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{src}/src")
    )
    q = write_hll_stream_to_table(
        stream, factory, "user_sketch", "hll_users", "user_id",
        tempfile.mkdtemp(prefix="dles_hllck_"), p=_HLL_P,
    )
    q.awaitTermination()
    c = factory()
    c.new_tx()
    return table_sketch_estimate(c, "user_sketch", p=_HLL_P)


def _streaming_cardinality_sql() -> str:
    from delta_lake_experiment_spark.operators.sketches import (
        hll_distinct_sql,
    )

    return hll_distinct_sql("events", "user_id", p=_HLL_P)


def _cardinality_report_sql() -> str:
    from delta_lake_experiment_spark.operators.sketches import (
        hll_distinct_sql,
    )

    tok_src = (
        "(SELECT unnest(string_split_regex(lower(trim("
        "CASE WHEN text IS NULL THEN CAST(error('cardinality: text is NULL"
        " - must be non-NULL (filter or coalesce upstream)') AS VARCHAR)"
        r" ELSE text END)), '\s+')) AS k FROM documents)"
    )
    parts = []
    for entity, src, key in (
        ("tokens", tok_src, "k"),
        ("users", "events", "user_id"),
        ("events", "events", "event_id"),
    ):
        est = hll_distinct_sql(src, key, p=_HLL_P)
        parts.append(
            f"""SELECT '{entity}' AS entity, e.est_distinct, x.exact_distinct,
  round((e.est_distinct - x.exact_distinct) / x.exact_distinct, 6) AS rel_err
FROM ({est}) e,
     (SELECT COUNT(DISTINCT {key}) AS exact_distinct FROM {src}) x"""
        )
    return "\nUNION ALL\n".join(parts)


def streaming_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring-pipeline capstone the engine-table SOURCE was
    built for (streaming/engine_source.py + streaming/ingest.py): a
    raw corpus table is TAILED as a stream and deduplicated
    incrementally into a clean engine table — content-hash keys,
    first-seen-wins — with exactly-once semantics end to end (source
    offsets in the checkpoint, sink txn markers in the log, and the
    dedup anti-join reading the clean table snapshot-consistently
    inside the commit transaction). Two seed commits (with planted
    cross-commit duplicates) drain as the snapshot batch; a third
    commit arrives and a RESUMED run tails only it, its duplicates
    rejected against what the index already admitted. The oracle
    re-derives first-seen-wins from the commit structure (snapshot
    union first, tail second, doc_id within), so a double-delivered
    batch, a re-read snapshot, or a dropped anti-join value-diverges
    the per-doc winner set immediately."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.streaming.engine_source import (
        read_table_stream,
    )
    from delta_lake_experiment_spark.streaming.ingest import (
        foreach_batch_dedup_writer,
    )
    from delta_lake_experiment_spark.workloads.temporal import _utc

    _utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), F.col("text")
    )
    corpus = docs.unionByName(planted)
    src_c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_scd_src_"))
    src_root = src_c.store.root
    src_c.new_tx()
    src_c.create_table("docs_raw", "doc_id BIGINT, text STRING")
    src_c.write_dataframe("docs_raw", corpus.filter(F.col("doc_id") % 3 == 0))
    src_c.commit_tx()
    src_c.new_tx()
    src_c.write_dataframe("docs_raw", corpus.filter(F.col("doc_id") % 3 == 1))
    src_c.commit_tx()

    dst_root = tempfile.mkdtemp(prefix="dles_scd_dst_")
    boot = DeltaLakeClient(spark, dst_root)
    boot.new_tx()
    boot.create_table("docs_clean", "doc_id BIGINT, text STRING, h STRING")
    boot.commit_tx()

    def dst_factory():
        return DeltaLakeClient(spark, dst_root)

    ck = tempfile.mkdtemp(prefix="dles_scdck_")

    def drain():
        q = (
            read_table_stream(spark, src_root, "docs_raw")
            .withColumn("h", F.md5("text"))
            .writeStream.foreachBatch(
                foreach_batch_dedup_writer(
                    dst_factory, "docs_clean", ["h"], "doc_id", "scd_app"
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # snapshot batch: commits 1+2, deduped within the union
    src_c.new_tx()
    src_c.write_dataframe("docs_raw", corpus.filter(F.col("doc_id") % 3 == 2))
    src_c.commit_tx()
    drain()  # resumed tail: commit 3 only, anti-joined vs the index

    out = dst_factory()
    out.new_tx()
    return out.scan("docs_clean", with_stamps=False).select("doc_id", "h")


# first-seen-wins re-derived from the commit structure: the snapshot
# batch is the UNION of commits 1+2 (doc_id % 3 in (0, 1)) deduped by
# min doc_id; commit 3 rows only win when their hash never appeared
STREAMING_CORPUS_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
  WHERE doc_id % 11 = 0
),
ranked AS (
  SELECT doc_id, md5(text) AS h,
    ROW_NUMBER() OVER (
      PARTITION BY md5(text)
      ORDER BY CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END, doc_id
    ) AS rn
  FROM corpus
)
SELECT doc_id, h FROM ranked WHERE rn = 1
"""


# -- count-min heavy hitters (operators/sketches.py CMS lane) -----------

_CMS_D = 3
_CMS_W = 2048
_HH_TOP = 15


def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequencies the 100 TB way (operators/sketches.py
    count-min lane): token counts answered from O(d·w) integer counters
    instead of a corpus-wide groupBy(token) shuffle — the frequency
    dual of corpus_cardinality_report's HLL. One row per top-true
    token with the exact count, the CMS estimate, and the overestimate
    (CMS error is ONE-SIDED: est >= true always; the in-plan guard
    raises if the sketch ever under-counts, so the report is its own
    correctness certificate). Every counter is an exact md5-placed
    integer sum, so sketch, merge, and estimate are bit-identical
    across engines with no rounding anywhere — the estimate column
    itself is value-oracled."""
    from delta_lake_experiment_spark.functions.guards import null_checked
    from delta_lake_experiment_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(
                F.lower(
                    F.trim(null_checked(F.col("text"), "heavy_hitters", "text"))
                ),
                r"\s+",
            )
        ).alias("token")
    )
    counters = cms_counters(toks, "token", d=_CMS_D, w=_CMS_W)
    true_counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    top = true_counts.orderBy(F.desc("true_cnt"), F.asc("token")).limit(_HH_TOP)
    est = cms_estimate(counters, top.select("token"), "token", d=_CMS_D, w=_CMS_W)
    return top.join(est, "token").select(
        "token",
        "true_cnt",
        F.col("est").alias("cms_est"),
        F.when(
            F.col("est") >= F.col("true_cnt"), F.col("est") - F.col("true_cnt")
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "corpus_heavy_hitters: CMS under-counted - the"
                    " one-sided error guarantee is broken"
                )
            )
        )
        .alias("overest"),
    )


def _heavy_hitters_sql() -> str:
    from delta_lake_experiment_spark.operators.sketches import (
        cms_counters_sql,
        cms_estimate_sql,
    )

    tok_src = (
        "(SELECT unnest(string_split_regex(lower(trim("
        "CASE WHEN text IS NULL THEN CAST(error('heavy_hitters: text is NULL"
        " - must be non-NULL (filter or coalesce upstream)') AS VARCHAR)"
        r" ELSE text END)), '\s+')) AS token FROM documents)"
    )
    counters = cms_counters_sql("toks", "token", d=_CMS_D, w=_CMS_W)
    est = cms_estimate_sql(
        counters, "top", "token", d=_CMS_D, w=_CMS_W, key_alias="token"
    )
    return f"""
WITH toks AS MATERIALIZED (SELECT token FROM {tok_src}),
true_c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM toks GROUP BY token
),
top AS MATERIALIZED (
  SELECT token, true_cnt FROM true_c ORDER BY true_cnt DESC, token
  LIMIT {_HH_TOP}
),
est AS ({est})
SELECT t.token, t.true_cnt, e.est AS cms_est,
       e.est - t.true_cnt AS overest
FROM top t JOIN est e ON e.token = t.token
"""


# -- unigram-LM tokenizer training (operators/unigram.py) ---------------

# the synthetic corpus has 24 distinct characters and 31 distinct
# words: vocab_size=40 leaves 16 contested non-character slots (real
# pruning pressure), max_candidates=120 truncates the ~300-substring
# seed (real seeding pressure), and two EM-prune rounds exercise the
# full loop shape
_UNIGRAM_KW = dict(
    vocab_size=40,
    rounds=2,
    em_iters=1,
    max_piece_len=4,
    max_candidates=120,
    prune_frac=0.3,
)


def unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (operators/unigram.py::unigram_train): hard-EM piece-probability
    re-estimation + pruning over the distributed word-frequency
    table — the BPE lane's "one corpus aggregation, iterate on
    O(vocab) metadata" shape for the other mainstream tokenizer
    family. The oracle re-derives candidate seeding, every Viterbi DP
    (recursive CTEs), every count re-estimation, and every prune: a
    VALUE oracle for an iterative algorithm."""
    from delta_lake_experiment_spark.operators.unigram import (
        pieces_to_df,
        unigram_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pieces_to_df(spark, unigram_train(docs, "text", **_UNIGRAM_KW))


def _unigram_vocab_sql() -> str:
    from delta_lake_experiment_spark.operators.unigram import unigram_vocab_sql

    return unigram_vocab_sql("documents", "text", **_UNIGRAM_KW)


def unigram_encoded_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode composition for the unigram family: the
    corpus Viterbi-segmented under its own trained vocabulary
    (operators/unigram.py::unigram_encode, Arrow-batched mapInPandas
    with per-batch word memoization). tokens_md5 hashes the
    comma-joined piece sequence, certifying pieces AND order."""
    from delta_lake_experiment_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    pieces = unigram_train(docs, "text", **_UNIGRAM_KW)
    enc = unigram_encode(
        docs,
        "doc_id",
        "text",
        pieces,
        max_piece_len=_UNIGRAM_KW["max_piece_len"],
    )
    return enc.select(
        "doc_id",
        "n_unigram_tokens",
        F.md5(F.concat_ws(",", "tokens")).alias("tokens_md5"),
    )


def _unigram_encoded_sql() -> str:
    from delta_lake_experiment_spark.operators.unigram import (
        unigram_encoded_sql,
    )

    return (
        "SELECT id AS doc_id, n_unigram_tokens, tokens_md5 FROM ("
        + unigram_encoded_sql("documents", "doc_id", "text", **_UNIGRAM_KW)
        + ")"
    )


# -- vocabulary + id encoding -------------------------------------------

_VOCAB_SIZE = 20  # the synthetic corpus has 31 distinct tokens: a
_VOCAB_MIN_COUNT = 1  # 20-token vocab forces real truncation + OOV


def corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency vocabulary (operators/vocab.py::build_vocab): top-20
    tokens with dense ids by (count DESC, token ASC) — deterministic
    rank ids, reproducible on any engine."""
    from delta_lake_experiment_spark.operators.vocab import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", size=_VOCAB_SIZE, min_count=_VOCAB_MIN_COUNT)


_VOCAB_CTE = rf"""__v_counts AS (
  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents)
  GROUP BY 1 HAVING COUNT(*) >= {_VOCAB_MIN_COUNT}
), __v_top AS (
  SELECT token, cnt FROM __v_counts ORDER BY cnt DESC, token LIMIT {_VOCAB_SIZE}
), vocab AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT) AS token_id,
         token, cnt
  FROM __v_top
)"""

CORPUS_VOCAB_SQL = f"""
WITH {_VOCAB_CTE}
SELECT token_id, token, cnt AS "count" FROM vocab
"""


def encoded_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding (operators/vocab.py::encode_documents): each
    document as an int sequence under the corpus_vocab vocabulary,
    OOV -> 0, order-preserving. The value hash certifies the ids AND
    their order (md5 of the comma-joined sequence), plus the OOV
    coverage counts a vocab size is tuned with."""
    from delta_lake_experiment_spark.operators.vocab import (
        build_vocab,
        encode_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", size=_VOCAB_SIZE, min_count=_VOCAB_MIN_COUNT)
    enc = encode_documents(docs, "doc_id", "text", vocab)
    return enc.select(
        "doc_id",
        F.md5(
            F.concat_ws(",", F.transform("token_ids", lambda x: x.cast("string")))
        ).alias("ids_fp"),
        "n_tokens",
        "n_oov",
    )


ENCODED_DOCUMENTS_SQL = rf"""
WITH {_VOCAB_CTE}, __e_toks AS (
  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS pos
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
        FROM documents)
), __e_ids AS (
  SELECT t.doc_id, t.pos, COALESCE(v.token_id, 0) AS tid
  FROM (SELECT doc_id, pos, l[pos] AS tok FROM __e_toks) t
  LEFT JOIN vocab v ON v.token = t.tok
)
SELECT doc_id,
  md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_fp,
  CAST(COUNT(*) AS INT) AS n_tokens,
  CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS INT) AS n_oov
FROM __e_ids GROUP BY doc_id
"""


# -- incremental corpus update ------------------------------------------


def incremental_corpus_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB daily operation (operators/incremental.py): the even
    half of the corpus lives in an engine table indexed by content
    fingerprint (bloom-filtered column); the odd half arrives as a new
    batch, is deduped within itself and against the table inside ONE
    run_tx transaction, and the survivors are appended. Returned: the
    final committed table scan.

    The synthetic corpora carry almost no exact duplicates, so the
    batch is deterministically spiked (the doc_line_dedup pattern):
    every odd doc with doc_id % 10 == 1 takes the TEXT of doc_id - 1 —
    an existing even document — so ~10% of the batch must be rejected
    by the anti-join at every sf, and the oracle proves both the
    rejections and the admissions."""
    import tempfile

    from delta_lake_experiment_spark.client import DeltaLakeClient
    from delta_lake_experiment_spark.operators.incremental import (
        incremental_dedup_ingest,
    )
    from delta_lake_experiment_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", fingerprint(F.col("text")).alias("fp"), "lang", "source"
    )
    donors = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("__donor")
    )
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .join(donors, "doc_id", "left")
        .withColumn(
            "text",
            F.when(
                (F.col("doc_id") % 10 == 1) & F.col("__donor").isNotNull(),
                F.col("__donor"),
            ).otherwise(F.col("text")),
        )
        .select("doc_id", fingerprint(F.col("text")).alias("fp"), "lang", "source")
    )
    c = DeltaLakeClient(spark, tempfile.mkdtemp(prefix="dles_inc_"))
    c.new_tx()
    c.create_table(
        "corpus", "doc_id bigint, fp string, lang string, source string",
        bloom_columns=["fp"],
    )
    c.write_dataframe("corpus", existing)
    c.commit_tx()
    incremental_dedup_ingest(c, "corpus", batch, ["fp"], "doc_id")
    c.new_tx()
    return c.scan("corpus", with_stamps=False).select("doc_id", "fp", "lang", "source")


INCREMENTAL_UPDATE_SQL = f"""
WITH spiked AS (
  SELECT d.doc_id,
    CASE WHEN d.doc_id % 10 = 1 AND donor.text IS NOT NULL
         THEN donor.text ELSE d.text END AS text,
    d.lang, d.source
  FROM documents d LEFT JOIN documents donor ON donor.doc_id = d.doc_id - 1
), f AS (
  SELECT doc_id, {_FP_SQL} AS fp, lang, source FROM spiked
), old AS (
  SELECT doc_id, fp, lang, source FROM f WHERE doc_id % 2 = 0
), newd AS (
  SELECT doc_id, fp, lang, source FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM f WHERE doc_id % 2 = 1
  ) WHERE rn = 1
)
SELECT doc_id, fp, lang, source FROM old
UNION ALL
SELECT doc_id, fp, lang, source FROM newd
WHERE fp NOT IN (SELECT fp FROM old)
"""


# -- corpus-wide line dedup --------------------------------------------


def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate-line removal (operators/dedup.py::
    corpus_line_dedup). The synthetic docs are single-line, so the
    query deterministically builds multi-line documents first: every
    doc gains the SAME boilerplate line (500 corpus occurrences ->
    dropped everywhere) and a doc_id-unique tail line (kept), making
    the oracle non-vacuous. Returns the md5 of each cleaned text plus
    kept/dropped counts."""
    from delta_lake_experiment_spark.operators.dedup import corpus_line_dedup

    docs = load_table(spark, sf_dir, "documents")
    spiked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter today\ndoc tail "),
            F.col("doc_id").cast("string"),
        ).alias("t2"),
    )
    out = corpus_line_dedup(spiked, "doc_id", "t2", max_occurrences=1)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_fp"),
        "n_lines_kept",
        "n_lines_dropped",
    )


DOC_LINE_DEDUP_SQL = r"""
WITH spiked AS (
  SELECT doc_id,
    text || chr(10) || 'subscribe to our newsletter today'
         || chr(10) || 'doc tail ' || CAST(doc_id AS VARCHAR) AS t2
  FROM documents
), ls AS (
  SELECT doc_id, string_split(t2, chr(10)) AS l FROM spiked
), lines AS (
  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM ls
), norm AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, l[i] AS ln,
         regexp_replace(l[i], '^\s+|\s+$', '', 'g') AS nrm
  FROM lines
), cnt AS (
  SELECT nrm, COUNT(*) AS c FROM norm WHERE nrm <> '' GROUP BY nrm
), flagged AS (
  SELECT n.doc_id, n.pos, n.ln,
         (n.nrm = '' OR c.c <= 1) AS keep
  FROM norm n LEFT JOIN cnt c ON c.nrm = n.nrm
)
SELECT doc_id,
  md5(COALESCE(string_agg(ln, chr(10) ORDER BY pos) FILTER (WHERE keep), ''))
    AS clean_fp,
  CAST(COUNT(*) FILTER (WHERE keep) AS INT) AS n_lines_kept,
  CAST(COUNT(*) FILTER (WHERE NOT keep) AS INT) AS n_lines_dropped
FROM flagged GROUP BY doc_id
"""


# -- sharded training export --------------------------------------------

_EXPORT_SHARDS = 8
_EXPORT_SALT = "export1"


def export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard export lane (sources/export.py) through the
    value gate: write the corpus as 8 deterministic shards to a
    scratch dir, return the manifest AGGREGATED FROM THE WRITTEN
    FILES (shard, n_rows, n_tokens). The DuckDB oracle recomputes the
    same manifest from shard_sql's md5-mod assignment — a hash match
    certifies shard membership, per-shard counts, and that the
    written files contain exactly the input rows."""
    import tempfile

    from delta_lake_experiment_spark.sources.export import write_training_shards

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_toks", token_count(F.col("text"))
    )
    out = tempfile.mkdtemp(prefix="dles_export_") + "/shards"
    return write_training_shards(
        docs, out, n_shards=_EXPORT_SHARDS, key_col="doc_id",
        order_cols=["doc_id"], salt=_EXPORT_SALT, token_col="n_toks",
    )


def _export_manifest_sql() -> str:
    from delta_lake_experiment_spark.operators.sampling import shard_sql

    shard = shard_sql("CAST(doc_id AS VARCHAR)", _EXPORT_SHARDS, _EXPORT_SALT)
    # LEFT JOIN from the full shard-id series: empty shards appear as
    # zero-count manifest rows on BOTH engines (the write side creates
    # no directory for them — documented loader contract)
    return f"""
WITH counts AS (
  SELECT {shard} AS shard,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM({_NTOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
)
SELECT s.shard, COALESCE(n_rows, 0) AS n_rows,
       COALESCE(n_tokens, 0) AS n_tokens
FROM (SELECT CAST(UNNEST(generate_series(0, {_EXPORT_SHARDS - 1})) AS INT) AS shard) s
LEFT JOIN counts USING (shard)
"""


# -- raw media ingest ---------------------------------------------------

# Committed ASCII fixture files (ascii so the oracle's
# sha256(CAST(content AS VARCHAR)) hashes the same bytes Spark's
# binary lane hashes — DuckDB 1.0 has no sha256 over BLOB).
_MEDIA_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "media",
)


def media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingest end to end: binaryFile source ->
    MEDIA_SCHEMA rows (sources/connectors.py::read_media_files) ->
    Arrow-batched feature extraction (operators/multimodal.py). The
    sha256-deterministic stub decoder makes the whole lane
    value-oracled: DuckDB re-reads the same files with read_blob and
    recomputes kind (extension mapping), size, and feature[0]."""
    from delta_lake_experiment_spark.operators.multimodal import extract_features
    from delta_lake_experiment_spark.sources.connectors import read_media_files

    if not os.path.isdir(_MEDIA_FIXTURES):
        raise FileNotFoundError(
            f"media fixtures not found at {_MEDIA_FIXTURES} — this query "
            "reads the repo-committed tests/fixtures/media files; run from "
            "a full checkout"
        )
    media = read_media_files(spark, _MEDIA_FIXTURES)
    # metadata rides through the Arrow batch — no join back to the
    # source (which would shuffle the media table and re-read the
    # files at corpus scale)
    out = extract_features(
        media, out_dim=8, passthrough_cols=("source_path", "payload_bytes")
    )
    return out.select(
        F.regexp_extract("source_path", r"([^/]+)$", 1).alias("file_name"),
        "kind",
        "payload_bytes",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


MEDIA_INGEST_SQL = rf"""
WITH b AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
         lower(regexp_extract(filename, '\.([A-Za-z0-9]+)$', 1)) AS ext,
         CAST(size AS BIGINT) AS payload_bytes,
         sha256(CAST(content AS VARCHAR)) AS hx
  FROM read_blob('{_MEDIA_FIXTURES.replace("'", "''")}/*')
)
SELECT file_name,
  CASE WHEN ext IN ('jpg', 'jpeg', 'png', 'gif', 'bmp') THEN 'image'
       WHEN ext IN ('wav', 'mp3', 'flac', 'ogg') THEN 'audio'
       WHEN ext IN ('mp4', 'mkv', 'webm', 'avi') THEN 'video'
       ELSE 'binary' END AS kind,
  payload_bytes,
  round(CAST(CAST((
      CAST(('0x' || substr(hx, 1, 2)) AS BIGINT)
    + CAST(('0x' || substr(hx, 3, 2)) AS BIGINT) * 256
    + CAST(('0x' || substr(hx, 5, 2)) AS BIGINT) * 65536
    + CAST(('0x' || substr(hx, 7, 2)) AS BIGINT) * 16777216
  ) / 4294967296.0 AS REAL) AS DOUBLE), 6) AS f0
FROM b
"""


def doc_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (operators/lm.py::
    bigram_logprob_scores): mean ln(0.7 * P(t|prev) + 0.3 * P(t)) per
    document — the context-aware step from the unigram perplexity
    proxy toward KenLM semantics (word-salad docs with normal unigram
    frequencies but noise transitions score low). Sub-2-token docs
    return NULL scores by contract."""
    from delta_lake_experiment_spark.operators.lm import bigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob_scores(docs, "doc_id", "text")


def _doc_bigram_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import bigram_logprob_sql

    return bigram_logprob_sql("documents", "doc_id")


_CURR_EDGES = [0.6, 0.3]
_CURR_SALT = "curr-epoch0"


def curriculum_ordered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data order (operators/ordering.py::curriculum_order):
    quality-staged global training positions — high-quality docs first
    (stage 0: quality >= 0.6, stage 1: >= 0.3, stage 2: rest),
    deterministic shuffle WITHIN each stage. The distributed rank uses
    composite (stage, hash-bucket) windows — no single-partition
    window; the DuckDB twin IS the plain global window, so the hash
    match proves the two-phase rank equals the global rank."""
    from delta_lake_experiment_spark.operators.ordering import (
        curriculum_order,
        stage_by_thresholds,
    )

    docs = with_text_stats(load_table(spark, sf_dir, "documents"))
    staged = docs.withColumn(
        "stage", stage_by_thresholds(F.col("quality"), _CURR_EDGES)
    )
    out = curriculum_order(staged, "doc_id", "stage", salt=_CURR_SALT)
    return out.select("doc_id", "stage", "curriculum_pos")


def _curriculum_sql() -> str:
    from delta_lake_experiment_spark.operators.ordering import (
        curriculum_pos_sql,
        stage_sql,
    )

    stage = stage_sql(_QUALITY_SQL, _CURR_EDGES)
    inner = curriculum_pos_sql(
        f"(SELECT doc_id, text, {stage} AS stage FROM documents)",
        "doc_id",
        "stage",
        salt=_CURR_SALT,
    )
    return f"SELECT doc_id, stage, curriculum_pos FROM ({inner})"


_BITEXT_THRESHOLD = 0.3


def bitext_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual bitext mining (operators/similarity.py::
    mutual_nearest_pairs — the LASER/CCMatrix construction): mutual
    nearest-neighbor embedding pairs between the English docs and the
    non-English docs (embeddings are id-aligned with documents), at
    cosine >= 0.3. Tile-bundled cross-score plan — each (left, right)
    bundle tile is one gemm emitting only its local argmax rows; no
    cartesian, no full score matrix leaves a task."""
    from delta_lake_experiment_spark.operators.similarity import (
        mutual_nearest_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").join(
        docs, F.col("vec_id") == F.col("doc_id")
    )
    return mutual_nearest_pairs(
        emb.filter(F.col("lang") == "en"),
        emb.filter(F.col("lang") != "en"),
        "vec_id",
        "embedding",
        threshold=_BITEXT_THRESHOLD,
        block_size=256,
    ).withColumnRenamed("left_id", "en_id").withColumnRenamed(
        "right_id", "other_id"
    )


BITEXT_MINING_SQL = f"""
WITH be AS (
  SELECT d.lang, em.vec_id AS id, CAST(em.embedding AS DOUBLE[]) AS v
  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
), bll AS (SELECT * FROM be WHERE lang = 'en'),
brr AS (SELECT * FROM be WHERE lang <> 'en'),
bs AS (
  SELECT bll.id AS en_id, brr.id AS other_id,
    round(list_dot_product(bll.v, brr.v)
      / (sqrt(list_dot_product(bll.v, bll.v)) * sqrt(list_dot_product(brr.v, brr.v))),
      6) AS score
  FROM bll, brr
), bbl AS (
  SELECT en_id, other_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY en_id ORDER BY score DESC, other_id ASC) AS rn FROM bs
  ) WHERE rn = 1
), bbr AS (
  SELECT en_id, other_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY other_id ORDER BY score DESC, en_id ASC) AS rn FROM bs
  ) WHERE rn = 1
)
SELECT en_id, other_id, score FROM bbl JOIN bbr USING (en_id, other_id)
WHERE score >= {_BITEXT_THRESHOLD}
"""


_WSAMPLE_N = 100
_WSAMPLE_SALT = "wsamp1"


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (operators/sampling.py::
    weighted_sample — the Efraimidis-Spirakis key on md5 uniforms):
    a 100-doc subcorpus biased toward longer documents (weight =
    n_chars) but reproducible on any run/partitioning/engine — the
    quality-tilted subset selection a mixing pipeline runs. Map-only
    key + TakeOrdered, no corpus shuffle."""
    from delta_lake_experiment_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, "doc_id", "n_chars", _WSAMPLE_N, salt=_WSAMPLE_SALT
    ).select("doc_id", "lang", "n_chars", "sample_key")


def _quality_weighted_sample_sql() -> str:
    from delta_lake_experiment_spark.operators.sampling import weighted_key_sql

    key = weighted_key_sql(
        "CAST(doc_id AS VARCHAR)", "CAST(n_chars AS DOUBLE)",
        salt=_WSAMPLE_SALT,
    )
    return f"""
SELECT doc_id, lang, n_chars, {key} AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id ASC
LIMIT {_WSAMPLE_N}
"""


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (operators/retrieval.py::
    tfidf_keywords, min_df=2): the topical labeler for dataset cards /
    domain routing. One tokenize, one (doc, term) aggregate, one
    O(vocab) idf join, one per-document ranking window."""
    from delta_lake_experiment_spark.operators.retrieval import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, "doc_id", "text", k=3, min_df=2)


def _doc_keywords_sql() -> str:
    from delta_lake_experiment_spark.operators.retrieval import (
        tfidf_keywords_sql,
    )

    return tfidf_keywords_sql("documents", "doc_id", k=3, min_df=2)


def split_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift monitor (operators/lm.py::unigram_divergence):
    KL/Jensen-Shannon divergence between the train and test splits'
    smoothed unigram distributions — the number that catches a skewed
    split (or, pointed at corpus-vs-new-crawl, a broken scraper). Two
    O(vocab) aggregations, one vocab join, one 1-row answer."""
    from delta_lake_experiment_spark.operators.lm import unigram_divergence

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    return unigram_divergence(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "test"),
        "text",
    )


def _split_drift_sql() -> str:
    from delta_lake_experiment_spark.operators.lm import unigram_divergence_sql

    split_case = split_thresholds_sql(
        "CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT
    )
    return unigram_divergence_sql(
        "(SELECT text FROM ddsplit WHERE split = 'train')",
        "(SELECT text FROM ddsplit WHERE split = 'test')",
        prelude_ctes=(
            f"ddsplit AS (SELECT text, {split_case} AS split FROM documents)"
        ),
    )


def image_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-shaped image-text alignment filter: encode the image
    payloads (Arrow mapInPandas, stub decoder) and their captions (the
    text tower — operators/multimodal.py::text_features, same stub) to
    8-dim embeddings, join the two modality tables, gate on rounded
    cosine. The filtering step a multimodal training-data build runs to
    drop mis-captioned pairs; with both towers on the deterministic
    sha256 stub, DuckDB re-derives BOTH full vectors byte-by-byte
    (feature_vector_sql) so the whole dual-tower pipeline is
    value-oracled — not just one element of it (cf. media_ingest's
    f0)."""
    from delta_lake_experiment_spark.operators.multimodal import (
        extract_features,
        text_features,
    )
    from delta_lake_experiment_spark.sources.connectors import read_media_files

    if not os.path.isdir(_MEDIA_FIXTURES):
        raise FileNotFoundError(
            f"media fixtures not found at {_MEDIA_FIXTURES}"
        )
    media = read_media_files(spark, _MEDIA_FIXTURES)
    img = extract_features(
        media, out_dim=8, passthrough_cols=("source_path",)
    ).select(
        F.regexp_extract("source_path", r"([^/]+)$", 1).alias("file_name"),
        F.col("features").cast("array<double>").alias("__iv"),
    )
    # caption source: deterministic per file (a real dataset carries
    # captions alongside payloads; the join shape is identical).
    # Derived from the MEDIA table, not from `img`: captions depend
    # only on the file name, and hanging them off `img` would put the
    # Arrow decode pass into the text tower's lineage too — every
    # payload decoded twice per run (column pruning drops the binary
    # content from this branch entirely)
    caps = media.select(
        F.regexp_extract("source_path", r"([^/]+)$", 1).alias("file_name"),
    ).withColumn(
        "caption", F.concat(F.lit("photo of "), F.col("file_name"))
    )
    txt = text_features(
        caps, "caption", out_dim=8, passthrough_cols=("file_name",)
    ).select(
        "file_name", F.col("features").cast("array<double>").alias("__tv")
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    score = F.round(
        _dot("__iv", "__tv")
        / (F.sqrt(_dot("__iv", "__iv")) * F.sqrt(_dot("__tv", "__tv"))),
        6,
    )
    return (
        img.join(txt, "file_name")
        .withColumn("align_score", score)
        .select(
            "file_name",
            "align_score",
            (F.col("align_score") >= 0.75).alias("keep"),
        )
    )


def _image_text_alignment_sql() -> str:
    from delta_lake_experiment_spark.operators.multimodal import (
        feature_vector_sql,
    )

    fx = _MEDIA_FIXTURES.replace("'", "''")
    return rf"""
WITH am AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
         sha256(CAST(content AS VARCHAR)) AS hi,
         sha256('photo of ' || regexp_extract(filename, '([^/]+)$', 1)) AS ht
  FROM read_blob('{fx}/*')
), av AS (
  SELECT file_name,
         {feature_vector_sql("hi", 8)} AS iv,
         {feature_vector_sql("ht", 8)} AS tv
  FROM am
), ascored AS (
  SELECT file_name,
    round(list_dot_product(iv, tv)
      / (sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(tv, tv))), 6)
      AS align_score
  FROM av
)
SELECT file_name, align_score, align_score >= 0.75 AS keep FROM ascored
"""


QUERIES = {
    "doc_text_stats": doc_text_stats,
    "doc_train_split": doc_train_split,
    "dedup_cluster_assignment": dedup_cluster_assignment,
    "leakage_safe_split": leakage_safe_split,
    "corpus_span_dedup": corpus_span_dedup,
    "bm25_search": bm25_search,
    "quality_classifier_weights": quality_classifier_weights,
    "quality_classified_corpus": quality_classified_corpus,
    "semantic_dedup_corpus": semantic_dedup_corpus,
    "ensemble_dedup": ensemble_dedup,
    "image_text_alignment": image_text_alignment,
    "bm25_batch_search": bm25_batch_search,
    "split_drift_report": split_drift_report,
    "hybrid_search": hybrid_search,
    "doc_bigram_score": doc_bigram_score,
    "near_dup_containment": near_dup_containment,
    "doc_keywords": doc_keywords,
    "quality_weighted_sample": quality_weighted_sample,
    "bitext_mining_pairs": bitext_mining_pairs,
    "curriculum_ordered_corpus": curriculum_ordered_corpus,
    "hot_ngram_report": hot_ngram_report,
    "doc_novelty": doc_novelty,
    "dedup_best_canonical": dedup_best_canonical,
    "advanced_curation_pipeline": advanced_curation_pipeline,
    "corpus_curation_funnel": corpus_curation_funnel,
    "train_contamination": train_contamination,
    "decontaminated_train": decontaminated_train,
    "packed_sequences": packed_sequences,
    "pack_stats": pack_stats,
    "domain_mixture": domain_mixture,
    "temperature_mixture": temperature_mixture,
    "domain_capped_corpus": domain_capped_corpus,
    "dsir_doc_weights": dsir_doc_weights,
    "contamination_spans": contamination_span_report,
    "training_epoch_plan": training_epoch_plan,
    "epoch_expanded_corpus": epoch_expanded_corpus,
    "corpus_mixture_pipeline": corpus_mixture_pipeline,
    "media_ingest": media_ingest,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_line_dedup": doc_line_dedup,
    "corpus_report": corpus_report,
    "embedding_quantization": embedding_quantization,
    "doc_chunks": doc_chunks,
    "corpus_shuffle": corpus_shuffle,
    "doc_lm_score": doc_lm_score,
    "incremental_corpus_update": incremental_corpus_update,
    "export_manifest": export_manifest,
    "lm_filtered_corpus": lm_filtered_corpus,
    "lang_lm_filtered_corpus": lang_lm_filtered_corpus,
    "bpe_merge_table": bpe_merge_table,
    "bpe_encoded_documents": bpe_encoded_documents,
    "unigram_vocab": unigram_vocab,
    "unigram_encoded_documents": unigram_encoded_documents,
    "gopher_quality_report": gopher_quality_report,
    "embedding_pca_components": embedding_pca_components,
    "embedding_pca_projection": embedding_pca_projection,
    "similarity_pca_topk": similarity_pca_topk,
    "ann_recall_report": ann_recall_report,
    "engine_ann_index_search": engine_ann_index_search,
    "ann_index_staleness_report": ann_index_staleness_report,
    "streaming_corpus_dedup": streaming_corpus_dedup,
    "corpus_heavy_hitters": corpus_heavy_hitters,
    "lang_id_weights": lang_id_weights,
    "predicted_lang_ccnet_buckets": predicted_lang_ccnet_buckets,
    "corpus_cardinality_report": corpus_cardinality_report,
    "word_embedding_vectors": word_embedding_vectors,
    "streaming_cardinality_sketch": streaming_cardinality_sketch,
    "doc_kn_bigram_score": doc_kn_bigram_score,
    "blocklist_filtered_corpus": blocklist_filtered_corpus,
    "hard_negative_pairs": hard_negative_pairs,
    "source_quality_report": source_quality_report,
    "frozen_lm_transfer_score": frozen_lm_transfer_score,
    "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
    "corpus_topic_report": corpus_topic_report,
    "tokenizer_fertility_report": tokenizer_fertility_report,
    "corpus_vocab": corpus_vocab,
    "encoded_documents": encoded_documents,
    "doc_winnow_fingerprints": doc_winnow_fingerprints,
    "multimodal_features": multimodal_features,
    "dedup_exact_documents": dedup_exact_documents,
    "near_dup_minhash": near_dup_minhash,
    "near_dup_jaccard": near_dup_jaccard,
    "near_dup_verified": near_dup_verified,
    "dedup_verified_clusters": dedup_verified_clusters,
    "incremental_near_dup_ingest": incremental_near_dup_ingest,
    "incremental_lsh_ingest": incremental_lsh_ingest,
    "incremental_semantic_ingest": incremental_semantic_ingest,
    "near_dup_simhash": near_dup_simhash,
    "near_dup_embedding": near_dup_embedding,
    "similarity_bruteforce_topk": similarity_bruteforce_topk,
    "similarity_lsh_topk": similarity_lsh_topk,
    "similarity_ivf_topk": similarity_ivf_topk,
    "similarity_pq_topk": similarity_pq_topk,
}

ORACLES = {
    "doc_text_stats": TEXT_STATS_SQL,
    "doc_train_split": DOC_TRAIN_SPLIT_SQL,
    "dedup_cluster_assignment": DEDUP_CLUSTER_SQL,
    "leakage_safe_split": _leakage_safe_split_sql(),
    "corpus_span_dedup": CORPUS_SPAN_DEDUP_SQL,
    "bm25_search": _bm25_search_sql(),
    "quality_classifier_weights": _clf_weights_sql(),
    "quality_classified_corpus": _clf_scored_sql(),
    "semantic_dedup_corpus": _semantic_dedup_sql(),
    "ensemble_dedup": _ensemble_dedup_sql(),
    "image_text_alignment": _image_text_alignment_sql(),
    "bm25_batch_search": _bm25_batch_sql(),
    "split_drift_report": _split_drift_sql(),
    "hybrid_search": _hybrid_search_sql(),
    "doc_bigram_score": _doc_bigram_sql(),
    "near_dup_containment": NEAR_DUP_CONTAINMENT_SQL,
    "doc_keywords": _doc_keywords_sql(),
    "quality_weighted_sample": _quality_weighted_sample_sql(),
    "bitext_mining_pairs": BITEXT_MINING_SQL,
    "curriculum_ordered_corpus": _curriculum_sql(),
    "hot_ngram_report": HOT_NGRAM_SQL,
    "doc_novelty": DOC_NOVELTY_SQL,
    "dedup_best_canonical": DEDUP_BEST_CANONICAL_SQL,
    "advanced_curation_pipeline": _advanced_pipeline_sql(),
    "corpus_curation_funnel": CURATION_FUNNEL_SQL,
    "train_contamination": TRAIN_CONTAMINATION_SQL,
    "decontaminated_train": DECONTAMINATED_TRAIN_SQL,
    "packed_sequences": PACKED_SEQUENCES_SQL,
    "pack_stats": PACK_STATS_SQL,
    "domain_mixture": DOMAIN_MIXTURE_SQL,
    "temperature_mixture": _temperature_mixture_sql(),
    "domain_capped_corpus": _domain_capped_sql(),
    "dsir_doc_weights": _dsir_doc_weights_sql(),
    "contamination_spans": CONTAMINATION_SPANS_SQL,
    "training_epoch_plan": _training_epoch_plan_sql(),
    "epoch_expanded_corpus": _epoch_expanded_sql(),
    "corpus_mixture_pipeline": _corpus_mixture_pipeline_sql(),
    "media_ingest": MEDIA_INGEST_SQL,
    "doc_pii_scrub": DOC_PII_SCRUB_SQL,
    "doc_line_dedup": DOC_LINE_DEDUP_SQL,
    "corpus_report": CORPUS_REPORT_SQL,
    "embedding_quantization": EMBEDDING_QUANT_SQL,
    "doc_chunks": _doc_chunks_sql(),
    "corpus_shuffle": _corpus_shuffle_sql(),
    "doc_lm_score": _doc_lm_score_sql(),
    "incremental_corpus_update": INCREMENTAL_UPDATE_SQL,
    "export_manifest": _export_manifest_sql(),
    "lm_filtered_corpus": _lm_filtered_corpus_sql(),
    "lang_lm_filtered_corpus": _lang_lm_filtered_sql(),
    "bpe_merge_table": _bpe_merge_table_sql(),
    "bpe_encoded_documents": _bpe_encoded_sql(),
    "unigram_vocab": _unigram_vocab_sql(),
    "unigram_encoded_documents": _unigram_encoded_sql(),
    "gopher_quality_report": _gopher_report_sql(),
    "embedding_pca_components": _pca_components_sql(),
    "embedding_pca_projection": _pca_projection_sql(),
    "similarity_pca_topk": _similarity_pca_topk_sql(),
    "ann_recall_report": _ann_recall_sql(),
    "engine_ann_index_search": _engine_ann_index_sql(),
    "ann_index_staleness_report": _ann_staleness_sql(),
    "streaming_corpus_dedup": STREAMING_CORPUS_DEDUP_SQL,
    "corpus_heavy_hitters": _heavy_hitters_sql(),
    "lang_id_weights": _langid_weights_sql(),
    "predicted_lang_ccnet_buckets": _predicted_lang_ccnet_sql(),
    "corpus_cardinality_report": _cardinality_report_sql(),
    "word_embedding_vectors": _word_embedding_sql(),
    "streaming_cardinality_sketch": _streaming_cardinality_sql(),
    "doc_kn_bigram_score": _doc_kn_bigram_sql(),
    "blocklist_filtered_corpus": _blocklist_filtered_sql(),
    "hard_negative_pairs": _hard_negative_sql(),
    "source_quality_report": _source_quality_sql(),
    "frozen_lm_transfer_score": _frozen_lm_transfer_sql(),
    "ccnet_perplexity_buckets": _ccnet_buckets_sql(),
    "corpus_topic_report": _corpus_topic_report_sql(),
    "tokenizer_fertility_report": _tokenizer_fertility_sql(),
    "corpus_vocab": CORPUS_VOCAB_SQL,
    "encoded_documents": ENCODED_DOCUMENTS_SQL,
    "doc_winnow_fingerprints": WINNOW_SQL,
    "multimodal_features": MULTIMODAL_SQL,
    "dedup_exact_documents": DEDUP_EXACT_SQL,
    "near_dup_jaccard": NGRAM_JACCARD_SQL,
    "near_dup_verified": NEAR_DUP_VERIFIED_SQL,
    "dedup_verified_clusters": DEDUP_VERIFIED_CLUSTERS_SQL,
    "incremental_near_dup_ingest": INCREMENTAL_NEAR_DUP_SQL,
    "incremental_semantic_ingest": INCREMENTAL_SEMANTIC_SQL,
    "near_dup_simhash": NEAR_DUP_SIMHASH_SQL,
    "near_dup_embedding": NEAR_DUP_EMBEDDING_SQL,
    "similarity_bruteforce_topk": SIM_TOPK_SQL,
    # Rows-only survivors, each approximate BY CONSTRUCTION (results
    # depend on xxhash64-derived randomness DuckDB cannot evaluate):
    # - near_dup_minhash: banded MinHash-LSH; estimator quality is
    #   pytest-checked against exact Jaccard (tests/test_operators.py).
    # - similarity_lsh_topk / similarity_ivf_topk: ANN; each query
    #   self-asserts a recall floor vs the exact top-k in-job, plus
    #   recall/parity pytests. Their exact counterparts
    #   (near_dup_jaccard, similarity_bruteforce_topk) ARE oracled.
}
