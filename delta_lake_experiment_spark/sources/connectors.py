"""External-format connectors: CSV / JSON-lines sources, partitioned
Parquet sink, engine-table export.

The reference supports exactly one format (its JSON data objects,
dataobjects.go:51-57) and lists pluggable serialization as an open TODO
(README.md:33-34); these connectors are that roadmap item, Spark-first.

Scale notes:
- Readers take an explicit schema. Schema inference reads the data
  twice (a full extra pass at 100 TB) and can mis-type columns between
  runs; an explicit StructType keeps the scan single-pass and the plan
  stable. ``infer=True`` opts into inference for exploration.
- The sink sizes output files via a target rows-per-file repartition
  rather than relying on upstream partitioning, so a heavily filtered
  DataFrame doesn't produce thousands of near-empty files (the small-
  file problem) and an unfiltered one doesn't produce 2 GB monsters.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: Optional[Union[str, T.StructType]] = None,
    header: bool = True,
    infer: bool = False,
    **options,
) -> DataFrame:
    """CSV source. Pass ``schema`` (DDL string or StructType) for a
    single-pass typed scan; ``infer=True`` for exploratory reads."""
    if schema is None and not infer:
        raise ValueError("pass schema=... or infer=True (inference re-reads the data)")
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: Optional[Union[str, T.StructType]] = None,
    infer: bool = False,
    **options,
) -> DataFrame:
    """JSON-lines source (one JSON object per line — the standard
    document-corpus interchange format)."""
    if schema is None and not infer:
        raise ValueError("pass schema=... or infer=True (inference re-reads the data)")
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: Optional[Union[str, T.StructType]] = None,
    **options,
) -> DataFrame:
    """ORC source (Spark's built-in vectorized ORC reader — columnar
    self-describing format, so no schema is required; pass one to pin
    types across heterogeneous files)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Partitioned columnar sink with controlled file sizing.

    ``partition_by`` columns become directory partitions (downstream
    partition pruning); within each partition, output is coalesced
    toward ``target_rows_per_file`` using a cheap countApprox-free
    heuristic: repartition by the partition columns so each partition
    directory is written by few tasks instead of every task.
    """
    writer = df
    if partition_by:
        # co-locate rows of one output partition into one task: avoids
        # the every-task-writes-every-partition small-file explosion
        writer = df.repartition(*[df[c] for c in partition_by])
    w = writer.write.mode(mode).format(format)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.option("maxRecordsPerFile", target_rows_per_file).save(path)


def read_media_files(
    spark: SparkSession,
    path: str,
    kind_from_extension: bool = True,
    glob: Optional[str] = None,
) -> DataFrame:
    """Raw media ingest via Spark's ``binaryFile`` source: each file
    becomes one MEDIA_SCHEMA-compatible row (media_id, kind, payload,
    width/height/duration_ms NULL until a real decoder fills them) —
    the entry point of the multimodal lane
    (operators/multimodal.py::extract_features consumes this directly).

    ``media_id`` is a deterministic 62-bit hash of the file path
    (stable across re-ingests; the path is kept in ``source_path`` for
    lineage). ``kind`` is derived from the file extension when
    ``kind_from_extension`` (jpg/png/gif->image, wav/mp3/flac->audio,
    mp4/mkv/webm->video, else 'binary').

    Scale notes: binaryFile reads whole files into rows — right for
    payloads up to tens of MB (images, clips). Bound per-task memory
    with spark.sql.files.maxPartitionBytes; for larger assets store
    object-store URIs instead and fetch inside the decode UDF (same
    downstream operator shape, documented in operators/multimodal.py).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    kind = (
        F.when(ext.isin("jpg", "jpeg", "png", "gif", "bmp"), F.lit("image"))
        .when(ext.isin("wav", "mp3", "flac", "ogg"), F.lit("audio"))
        .when(ext.isin("mp4", "mkv", "webm", "avi"), F.lit("video"))
        .otherwise(F.lit("binary"))
        if kind_from_extension
        else F.lit("binary")
    )
    return raw.select(
        F.pmod(F.xxhash64(F.col("path")), F.lit(1 << 62)).alias("media_id"),
        kind.alias("kind"),
        F.col("content").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.col("path").alias("source_path"),
        F.col("length").alias("payload_bytes"),
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] = (),
    path: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED catalog table: rows are hashed on
    ``bucket_cols`` into ``n_buckets`` files per partition-write (plus
    optional within-bucket sort), and the layout is recorded in the
    catalog so future JOINS and AGGREGATIONS on the bucket columns
    read co-located data WITHOUT a shuffle — Spark plans a
    SortMergeJoin with no Exchange on either bucketed side
    (pytest-asserted on the physical plan).

    This is the pre-shuffle the 100 TB dedup/join story keeps paying
    per-query until someone persists it: two corpora bucketed on the
    join key (fingerprints, doc ids, user ids) join shuffle-free
    forever after, and the one-time bucketing write replaces every
    future exchange of the fact table. Same-bucket-count +
    same-key-order on both sides is the co-location contract;
    ``spark.sql.sources.bucketing.enabled`` (default true) must be on
    at read time."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets={n_buckets!r} must be >= 1")
    cols = list(bucket_cols)
    if not cols:
        raise ValueError("bucket_cols must be non-empty")
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *cols)
    if sort_cols:
        w = w.sortBy(*list(sort_cols))
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)
