"""Streaming incremental corpus ingest: the continuous form of
``operators/incremental.py``.

A crawl never stops; batch-mode incremental ingest becomes a
Structured Streaming sink where each micro-batch is deduped within
itself AND against the engine table before the exactly-once append.
The key property over ``dropDuplicatesWithinWatermark``: stream-state
dedup only remembers keys inside the watermark horizon, so a document
recrawled a month later is re-admitted; here the dedup index IS the
corpus table — unbounded history, bounded cost (column-pruned +
bloom-pruned fingerprint scan, exactly the batch operator's shape).

Delivery semantics stack three mechanisms (streaming/engine_sink.py's
txn-marker pattern plus the incremental anti-join):

- exactly-once APPEND: each commit carries ``txn {app_id, batch}``;
  a redelivered batch (crash between engine commit and stream
  checkpoint) is detected in the replayed snapshot and skipped.
- conflict safety: a concurrent same-table commit between this
  batch's snapshot and its commit raises; Structured Streaming
  retries the batch, foreachBatch re-runs, and the anti-join replays
  against the fresh snapshot — the run_tx loop with the stream as
  the retry driver.
- logical idempotence: even where the marker cannot help (a batch
  admitted under app A re-sent under app B), the anti-join itself
  rejects already-present keys — duplicates cannot enter the corpus
  through any interleaving.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from delta_lake_experiment_spark.operators.dedup import exact_dedup
from delta_lake_experiment_spark.streaming.engine_sink import foreach_batch_writer


def foreach_batch_dedup_writer(
    client_factory, table: str, key_cols: Sequence[str], order_col: str, app_id: str
):
    """Build a ``foreachBatch`` function appending only novel-keyed
    rows of each micro-batch to engine ``table``.

    The marker/commit skeleton is engine_sink.py's
    ``foreach_batch_writer`` (one copy of the exactly-once protocol);
    this adds only the dedup transform, which reads the table through
    the SAME open transaction as the commit — snapshot-consistent.
    A batch whose rows are ALL rejected commits nothing (the engine's
    read-only fast path skips the log write, so the txn marker is not
    recorded — harmless: a redelivery re-runs the anti-join and again
    admits nothing).
    """
    keys = list(key_cols)

    def dedup(client, batch_df: DataFrame) -> DataFrame:
        fresh = exact_dedup(batch_df, keys, order_col)
        existing = client.scan(table, with_stamps=False).select(*keys).distinct()
        return fresh.join(existing, keys, "left_anti")

    return foreach_batch_writer(client_factory, table, app_id, transform=dedup)


def foreach_batch_quality_dedup_writer(
    client_factory,
    table: str,
    key_cols: Sequence[str],
    order_col: str,
    app_id: str,
    text_col: str,
    weights: Sequence[float],
    bias: float,
):
    """The full streaming admission gate a continuous crawl runs:
    score each micro-batch with a BATCH-TRAINED quality classifier
    (operators/classifier.py — map-only, literal weights: the model
    rides the closure, no per-batch join or retraining), drop failing
    docs, then the same per-batch + against-table dedup and
    exactly-once append as :func:`foreach_batch_dedup_writer`.

    Filter-before-dedup order matters: a low-quality duplicate must
    not poison the admission of a later high-quality copy (the dedup
    anti-join only ever sees rows that passed the gate).
    """
    from delta_lake_experiment_spark.operators.classifier import (
        score_hashed_logreg,
    )

    keys = list(key_cols)
    w = [float(x) for x in weights]

    def gate_and_dedup(client, batch_df: DataFrame) -> DataFrame:
        scored = score_hashed_logreg(
            batch_df, order_col, text_col, w, float(bias)
        ).filter("keep")
        kept = batch_df.join(
            scored.select(order_col), order_col, "left_semi"
        )
        fresh = exact_dedup(kept, keys, order_col)
        existing = client.scan(table, with_stamps=False).select(*keys).distinct()
        return fresh.join(existing, keys, "left_anti")

    return foreach_batch_writer(
        client_factory, table, app_id, transform=gate_and_dedup
    )


def write_dedup_stream_to_table(
    stream_df: DataFrame,
    client_factory,
    table: str,
    key_cols: Sequence[str],
    order_col: str,
    app_id: str,
    checkpoint_dir: str,
):
    """Start an AvailableNow stream draining into engine ``table``
    with per-batch + against-table dedup and exactly-once appends;
    returns the StreamingQuery."""
    return (
        stream_df.writeStream.foreachBatch(
            foreach_batch_dedup_writer(
                client_factory, table, key_cols, order_col, app_id
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_rule_gated_writer(
    client_factory,
    table: str,
    key_cols: Sequence[str],
    order_col: str,
    app_id: str,
    text_col: str,
    **rule_kwargs,
):
    """The RULE-based sibling of
    :func:`foreach_batch_quality_dedup_writer`: gate each micro-batch
    with the Gopher quality battery
    (operators/text.py::gopher_quality_rules — map-only vectorized
    columns, thresholds ride the closure) instead of a learned
    classifier, then the same per-batch + against-table dedup and
    exactly-once append. Rule gates are what a crawl runs BEFORE any
    model exists (the Gopher/RedPajama ordering: rules first,
    classifier later) — with this, both admission stages have
    streaming forms. ``rule_kwargs`` forward to
    ``gopher_quality_rules`` (thresholds, stop list)."""
    from pyspark.sql import functions as F

    from delta_lake_experiment_spark.operators.text import (
        gopher_quality_rules,
    )

    keys = list(key_cols)

    def gate_and_dedup(client, batch_df: DataFrame) -> DataFrame:
        rules = gopher_quality_rules(F.col(text_col), **rule_kwargs)
        kept = batch_df.filter(rules["gopher_pass"])
        fresh = exact_dedup(kept, keys, order_col)
        existing = client.scan(table, with_stamps=False).select(*keys).distinct()
        return fresh.join(existing, keys, "left_anti")

    return foreach_batch_writer(
        client_factory, table, app_id, transform=gate_and_dedup
    )


def _deterministic_pick(batch_df: DataFrame, id_col: str, primary_col: str):
    """ONE committed copy per id, shuffle-independently: window-rank
    by the content column first, then every remaining ORDERABLE
    column (maps — and arrays/structs containing them — cannot appear
    in a window sort, so they are excluded: determinism is per
    (id, orderable columns); rows differing ONLY in a map column
    remain a shuffle-dependent pick — r16 review catch, documented
    limit). Shared by the fuzzy and semantic admission gates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _orderable(dt):
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    others = [
        f.name
        for f in batch_df.schema.fields
        if f.name not in (id_col, primary_col) and _orderable(f.dataType)
    ]
    w = Window.partitionBy(id_col).orderBy(
        F.col(primary_col), *[F.col(c) for c in others]
    )
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _greedy_rejected_ids(pairs: DataFrame, fresh: DataFrame, id_col: str):
    """Greedy admission over verified pairs (id_a < id_b, at least
    one side in the batch ``fresh``): the batch-side doc loses to an
    indexed doc; between two batch docs the larger id loses. Returns
    the rejected batch ids (distinct). One spelling for the fuzzy and
    semantic gates — the production crawl rule both share (a doc
    duplicating a REJECTED doc is itself rejected: its content is
    already represented transitively)."""
    from pyspark.sql import functions as F

    ba = fresh.select(F.col(id_col).alias("id_a")).withColumn(
        "__na", F.lit(True)
    )
    bb = fresh.select(F.col(id_col).alias("id_b")).withColumn(
        "__nb", F.lit(True)
    )
    marked = pairs.join(ba, "id_a", "left").join(bb, "id_b", "left")
    return (
        marked.filter(F.col("__na").isNotNull() & F.col("__nb").isNull())
        .select(F.col("id_a").alias(id_col))
        .unionByName(
            marked.filter(F.col("__nb").isNotNull()).select(
                F.col("id_b").alias(id_col)
            )
        )
        .distinct()
    )


def _advisory_compact(client_factory, tables, sidecars=()):
    """ONE spelling of the gates' advisory maintenance transaction
    (r16 review catch — the fuzzy and semantic writers had grown
    copies; the run_marked_batch single-skeleton rule applies to the
    maintenance protocol too): its OWN transaction after the batch is
    durable; ``tables`` are ``compact()``-ed (bucket layouts preserved
    by contract), ``sidecars`` collapsed via
    :func:`~delta_lake_experiment_spark.operators.dedup.compact_df_sidecar`;
    a CONFLICT is swallowed (housekeeping never contends with ingest —
    the next trigger repeats the idempotent work), any other failure
    aborts the open tx and propagates into the stream's ordinary
    retry."""
    from delta_lake_experiment_spark.errors import ConcurrentCommitError
    from delta_lake_experiment_spark.operators.dedup import (
        compact_df_sidecar,
    )

    mc = client_factory()
    mc.new_tx()
    try:
        for t in tables:
            mc.compact(t)
        for s in sidecars:
            compact_df_sidecar(mc, s)
        mc.commit_tx(retry_independent=3)
    except ConcurrentCommitError:
        mc.abort_tx()
    except BaseException:
        if mc.tx is not None:
            mc.abort_tx()
        raise


def foreach_batch_fuzzy_dedup_writer(
    client_factory,
    corpus_table: str,
    postings_table: str,
    prefixes_table: str,
    id_col: str,
    text_col: str,
    app_id: str,
    shingle_n: int = 3,
    candidate_threshold: float = 0.3,
    max_postings=None,
    prefix_chars: int = 400,
    max_edit_ratio: float = 0.2,
    df_table: str = None,
    index_kind: str = "shingle",
    num_hashes: int = 16,
    num_bands: int = 4,
    max_cell=None,
    cell_df_table: str = None,
    compact_every=None,
):
    """Streaming FUZZY-dedup ingest (r15): the candidate-then-verify
    pipeline as an admission gate, run per micro-batch against the
    PERSISTED posting index
    (operators/dedup.py::incremental_verified_near_duplicates) — the
    continuous form of the batch incremental lane, and the fuzzy
    sibling of :func:`foreach_batch_dedup_writer`'s exact-key gate.
    Corpus text is never re-read: the admitted corpus is represented
    by its stored postings + prefixes, and only the batch is shingled.

    Admission is GREEDY (the production crawl rule): a batch doc is
    rejected when it verified-duplicates an already-admitted indexed
    doc (either id orientation) or a smaller-id doc of the same batch;
    the corpus row, its postings, and its prefix append for ADMITTED
    docs only, in ONE commit — corpus and index can never disagree at
    a commit boundary, and the document-frequency cap always reflects
    exactly the admitted corpus plus the batch under test. (Greedy
    means a doc that duplicates a REJECTED doc is itself rejected —
    its content is already represented transitively; component-exact
    canonicalization is the batch lane's dedup_verified_clusters.)

    Delivery semantics are the module's standard stack: the
    ``txn {app_id, batch}`` marker skips redelivered batches, conflict
    retries re-run the gate against the fresh snapshot, and the
    already-admitted-id anti-join makes admission logically idempotent
    even across app ids.

    ``df_table`` (r16, VERDICT r15 item 3) names a MAINTAINED
    per-shingle document-frequency sidecar (``SHINGLE_DF_DDL``,
    primary key ``sh`` — the caller creates it alongside the index
    tables): the hot-shingle cap then reads the sidecar's running
    totals instead of re-aggregating the postings column every
    micro-batch — the one remaining O(index) recurring cost at
    streaming cadence — and the ADMITTED docs' posting counts are
    folded back via one MERGE inside the SAME marked commit, so
    sidecar, index, and corpus can never disagree at a commit
    boundary (a redelivered batch skips the fold with everything
    else). Requires ``max_postings`` (the sidecar only feeds the cap;
    the operator rejects the combination loudly otherwise). The
    sidecar is read BEFORE the batch folds in — exactly the
    corpus-before-batch counts the operator's df contract needs.

    ``index_kind="lsh"`` (r16) runs the gate against the
    BANDED-SIGNATURE index instead (``postings_table`` then holds
    (id, band, bh) rows — operators/dedup.py::document_lsh_bands,
    O(num_bands)/doc, the ~10× smaller 100 TB index; bucket it by
    (band, bh) for the exchange-free probe). Admission logic,
    delivery semantics, and the one-commit consistency are unchanged
    — only the candidate stage swaps. ``num_hashes``/``num_bands``
    must match the index build; the hot-shingle knobs
    (``max_postings``, ``df_table``) do not apply and are rejected
    loudly — the LSH flood guard is ``max_cell`` (forwarded to the
    operator), and its sidecar is ``cell_df_table``
    (``CELL_DF_DDL``, primary keys ``band, bh``): exactly the
    ``df_table`` contract transposed to cells — read before the batch,
    admitted counts folded back in the same marked commit, collapsed
    by the same ``compact_every`` maintenance (without it, a gate
    with the flood guard on re-aggregates the whole bands table every
    micro-batch — the recurring cost class the shingle sidecar
    exists to remove).

    ``compact_every=N`` (r16) schedules the maintenance recipe the
    batch lane documents (operators/dedup.py::update_shingle_df_sidecar
    MAINTENANCE note) INSIDE the stream: after every Nth successfully
    committed batch, a SEPARATE maintenance transaction compacts the
    postings and prefixes tables (bucket layouts preserved by
    contract) and collapses the df sidecar to one row per shingle.
    Correctness never depends on it — it bounds the latest-wins
    window and small-file costs that otherwise grow with batch count.
    Advisory semantics: maintenance runs on every trigger batch id
    whether or not the batch body was a redelivery no-op — it is
    IDEMPOTENT housekeeping (compacting a compacted table and
    collapsing a collapsed sidecar rewrite the same state), and
    running it on redelivery is exactly what makes the failure story
    coherent: a maintenance failure propagates, Structured Streaming
    retries the batch (marker-protected, hence a body no-op), and
    maintenance is RE-ATTEMPTED (r16 review catch — gating on the
    body having run made that retry impossible). A CONFLICTING
    maintenance commit is the one swallowed case: housekeeping must
    never contend with ingest, and the next trigger repeats it."""
    # every knob combination below is statically known — reject at
    # CONSTRUCTION, not at the first micro-batch inside a running
    # stream (r16 review catch: the operator would raise the same
    # errors, but only after checkpoint/boot work, surfacing as a
    # StreamingQueryException instead of at the call site)
    if index_kind == "lsh" and df_table is not None:
        raise ValueError(
            "df_table is the shingle index's frequency sidecar — the"
            " LSH index has no df cap to feed; unset it for"
            " index_kind='lsh'"
        )
    if index_kind == "lsh" and max_postings is not None:
        raise ValueError(
            "max_postings is the shingle index's hot-shingle cap — the"
            " LSH index's equivalent is max_cell; unset max_postings"
            " for index_kind='lsh'"
        )
    if index_kind != "lsh" and max_cell is not None:
        raise ValueError(
            "max_cell is the LSH index's hot-cell cap — the shingle"
            " index's equivalent is max_postings; unset max_cell for"
            " index_kind='shingle'"
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError(
            f"compact_every={compact_every!r} must be >= 1"
        )
    if max_cell is not None and max_cell < 1:
        raise ValueError(f"max_cell={max_cell!r} must be >= 1")
    if cell_df_table is not None and index_kind != "lsh":
        raise ValueError(
            "cell_df_table is the LSH index's cell-frequency sidecar"
            " — the shingle index's equivalent is df_table; unset it"
            " for index_kind='shingle'"
        )
    if cell_df_table is not None and max_cell is None:
        raise ValueError(
            "cell_df_table was passed but max_cell is None: the"
            " cell-frequency sidecar only feeds the hot-cell cap —"
            " set max_cell"
        )
    if df_table is not None and max_postings is None:
        raise ValueError(
            "df_table was passed but max_postings is None: the"
            " frequency sidecar only feeds the hot-shingle cap —"
            " set max_postings"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from delta_lake_experiment_spark.operators.dedup import (
            incremental_verified_near_duplicates,
        )
        from delta_lake_experiment_spark.streaming.engine_sink import (
            run_marked_batch,
        )

        cached = []

        def body(client):
            # deterministic pick per id (r15 review catch; the
            # orderable-columns contract lives on _deterministic_pick)
            fresh = _deterministic_pick(batch_df, id_col, text_col)
            existing = (
                client.scan(corpus_table, with_stamps=False)
                .select(id_col)
                .distinct()
            )
            fresh = fresh.join(existing, id_col, "left_anti").persist()
            cached.append(fresh)
            # honor the index's bucketed layout when it has one — the
            # candidate join then plans no index-side Exchange (the
            # batch lane's shape; plain scan would reshuffle the whole
            # index every micro-batch)
            if client.tx.snapshot.bucket_specs.get(postings_table):
                idx = client.scan_bucketed(
                    postings_table, with_stamps=False
                )
            else:
                idx = client.scan(postings_table, with_stamps=False)
            pfx = client.scan(prefixes_table, with_stamps=False)
            # the df sidecar replaces the per-micro-batch O(index) df
            # aggregate; read it BEFORE this batch folds in (the
            # operator's corpus-before-batch contract)
            df_counts = (
                client.scan_current(df_table).select("sh", "df")
                if df_table is not None
                else None
            )
            cell_counts = (
                client.scan_current(cell_df_table).select(
                    "band", "bh", "df"
                )
                if cell_df_table is not None
                else None
            )
            pairs, new_post, new_pfx = (
                incremental_verified_near_duplicates(
                    idx, pfx, fresh, id_col, text_col,
                    shingle_n=shingle_n,
                    candidate_threshold=candidate_threshold,
                    max_postings=max_postings,
                    prefix_chars=prefix_chars,
                    max_edit_ratio=max_edit_ratio,
                    df_counts=df_counts,
                    index_kind=index_kind,
                    num_hashes=num_hashes,
                    num_bands=num_bands,
                    max_cell=max_cell,
                    cell_counts=cell_counts,
                )
            )
            cached.extend(pairs._cached_inputs)
            # greedy admission (one spelling with the semantic gate)
            rejected = _greedy_rejected_ids(pairs, fresh, id_col)
            # persist the admission verdict: the three eager writes
            # below otherwise re-run the whole candidate+verify
            # pipeline each (r15 review catch) — the first write
            # populates the cache, the other two reuse it
            admitted = fresh.join(rejected, id_col, "left_anti").persist()
            cached.append(admitted)
            admitted_ids = admitted.select(id_col)
            admitted_post = new_post.join(admitted_ids, id_col, "left_semi")
            client.write_dataframe(corpus_table, admitted)
            client.write_dataframe(postings_table, admitted_post)
            client.write_dataframe(
                prefixes_table,
                new_pfx.join(admitted_ids, id_col, "left_semi"),
            )
            if df_table is not None:
                # fold the ADMITTED postings' counts into the sidecar
                # in the SAME marked commit — sidecar totals track the
                # index exactly, batch after batch
                from delta_lake_experiment_spark.operators.dedup import (
                    update_shingle_df_sidecar,
                )

                update_shingle_df_sidecar(
                    client, df_table, admitted_post, current=df_counts
                )
            if cell_df_table is not None:
                # the cell-sidecar fold, same contract (admitted-only
                # bands, same marked commit, pre-batch totals reused)
                from delta_lake_experiment_spark.operators.dedup import (
                    update_cell_df_sidecar,
                )

                update_cell_df_sidecar(
                    client, cell_df_table, admitted_post,
                    current=cell_counts,
                )

        try:
            run_marked_batch(client_factory, app_id, batch_id, body)
        finally:
            # release per-batch caches even when the commit conflicts
            # and Structured Streaming retries (a retry re-persists)
            for df in cached:
                df.unpersist()
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            # bound the sidecars' version counts and the index tables'
            # small-file growth at streaming cadence (the batch lane's
            # documented recipe). Runs on redeliveries too —
            # idempotent, which is what lets a failed maintenance be
            # re-attempted through the stream's ordinary batch retry
            # (the marker makes the body a no-op).
            _advisory_compact(
                client_factory,
                (postings_table, prefixes_table),
                tuple(
                    s for s in (df_table, cell_df_table) if s is not None
                ),
            )

    return process


def foreach_batch_semantic_dedup_writer(
    client_factory,
    corpus_table: str,
    index_table: str,
    centroids_table: str,
    id_col: str,
    vec_col: str,
    app_id: str,
    threshold: float = 0.95,
    round_digits: int = 9,
    sim_digits: int = 6,
    compact_every=None,
):
    """Streaming SEMANTIC-dedup ingest (r16): the embedding-space
    sibling of :func:`foreach_batch_fuzzy_dedup_writer`, completing
    the admission-gate triad — each micro-batch is normalized,
    assigned under the STORED centroids (``centroids_table``, the
    ``build_ann_index`` (j, pos, x) layout), and verified by exact
    same-cluster cosine against the persisted index
    (operators/semdedup.py::incremental_semantic_near_duplicates;
    ``index_table`` holds ``semantic_index_ddl`` rows — bucket it by
    ``cluster`` for the exchange-free probe). Corpus embeddings are
    never re-read: the admitted corpus is represented by its stored
    normalized vectors.

    Admission, delivery, and maintenance are the module's standard
    stack, one spelling each: greedy admission
    (:func:`_greedy_rejected_ids` — batch doc loses to an indexed
    doc, larger id loses between batch docs), the deterministic
    per-id pick (:func:`_deterministic_pick`, ordered by the vector
    then the remaining orderable columns), the ``txn {app_id,
    batch}`` marker + anti-join idempotence stack, and
    ``compact_every=N`` advisory maintenance (compacts the index
    table within its bucket layout; idempotent, conflict-skipped,
    redelivery-safe — the fuzzy gate's contract verbatim). Corpus
    row and index row land in ONE commit, so the index always
    reflects exactly the admitted corpus. Model drift is the
    caller's retrain cadence (``build_ann_index`` overwrites
    centroids + assignments atomically)."""
    if compact_every is not None and compact_every < 1:
        raise ValueError(
            f"compact_every={compact_every!r} must be >= 1"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from delta_lake_experiment_spark.operators.ann_index import (
            load_centroids,
        )
        from delta_lake_experiment_spark.operators.semdedup import (
            incremental_semantic_near_duplicates,
        )
        from delta_lake_experiment_spark.streaming.engine_sink import (
            run_marked_batch,
        )

        cached = []

        def body(client):
            fresh = _deterministic_pick(batch_df, id_col, vec_col)
            existing = (
                client.scan(corpus_table, with_stamps=False)
                .select(id_col)
                .distinct()
            )
            fresh = fresh.join(existing, id_col, "left_anti").persist()
            cached.append(fresh)
            cents = load_centroids(client, centroids_table)
            if not cents:
                raise ValueError(
                    f"centroids table {centroids_table!r} is empty -"
                    " run build_ann_index (or write the model) before"
                    " streaming semantic ingest"
                )
            if client.tx.snapshot.bucket_specs.get(index_table):
                idx = client.scan_bucketed(index_table, with_stamps=False)
            else:
                idx = client.scan(index_table, with_stamps=False)
            pairs, new_rows = incremental_semantic_near_duplicates(
                idx, fresh, cents, id_col, vec_col,
                threshold=threshold, round_digits=round_digits,
                sim_digits=sim_digits,
            )
            cached.extend(pairs._cached_inputs)
            rejected = _greedy_rejected_ids(pairs, fresh, id_col)
            admitted = fresh.join(rejected, id_col, "left_anti").persist()
            cached.append(admitted)
            client.write_dataframe(corpus_table, admitted)
            client.write_dataframe(
                index_table,
                new_rows.join(
                    admitted.select(id_col), id_col, "left_semi"
                ),
            )

        try:
            run_marked_batch(client_factory, app_id, batch_id, body)
        finally:
            for df in cached:
                df.unpersist()
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            _advisory_compact(client_factory, (index_table,))

    return process


def write_fuzzy_dedup_stream_to_table(
    stream_df: DataFrame,
    client_factory,
    corpus_table: str,
    postings_table: str,
    prefixes_table: str,
    id_col: str,
    text_col: str,
    app_id: str,
    checkpoint_dir: str,
    **dedup_kwargs,
):
    """Start an AvailableNow stream draining through the fuzzy-dedup
    admission gate into engine ``corpus_table`` (+ its index tables);
    returns the StreamingQuery. ``dedup_kwargs`` forward to
    :func:`foreach_batch_fuzzy_dedup_writer`."""
    return (
        stream_df.writeStream.foreachBatch(
            foreach_batch_fuzzy_dedup_writer(
                client_factory, corpus_table, postings_table,
                prefixes_table, id_col, text_col, app_id,
                **dedup_kwargs,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
