"""The deletion-vector (DV) payload format and the one way to apply it.

A DV is a positional soft delete (reference README.md:38): one Parquet
object of ``(obj, row_idx)`` pairs — a data object's basename and the
0-based position of a masked row in it — plus an ``AddDeletionVector``
log action. One DV object can mask rows of several data objects.

Spark reads join :func:`mask_frame` against the ``POS`` columns that
:func:`with_positions` captures (:func:`mask_join`); pyarrow reads
:func:`drop_positions` the :func:`masked_positions` of one object.
Callers read DV objects their own way (the client through the store,
the stream source's executors by path). Like plans/bloom.py, this
module imports pyarrow and pyspark lazily and nothing from client.py,
so executor-side readers can import it.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Optional

OBJ = "obj"
ROW_IDX = "row_idx"
# the read projection of a DV object (pyarrow wants a list)
COLUMNS = [OBJ, ROW_IDX]
# position columns of a masked read: the row's object basename and its
# row index inside that object
POS = ("__obj", "__ridx")


# -- Spark --------------------------------------------------------------


def to_payload(positions: Any) -> Any:
    """The DV object a soft delete writes: the ``POS`` columns of a
    positional read, renamed to the payload's ``(obj, row_idx)``."""
    from pyspark.sql import functions as F

    return positions.select(F.col(POS[0]).alias(OBJ), F.col(POS[1]).alias(ROW_IDX))


def with_positions(df: Any, obj: Any) -> Any:
    """``df`` plus the ``POS`` columns: ``obj`` is the row's object key
    (a Column), the row index comes from the Parquet reader. Both
    resolve only on the scan relation, so capture them first."""
    from pyspark.sql import functions as F

    return df.withColumns({POS[0]: obj, POS[1]: F.col("_metadata.row_index")})


def mask_frame(
    spark: Any,
    paths: list[str],
    objs: Optional[Iterable[str]] = None,
    key: Optional[Callable[[Any], Any]] = None,
) -> Any:
    """The ``(__dv_obj, __dv_ridx)`` pairs of the DV objects at
    ``paths``, optionally only those masking ``objs``. ``key`` maps the
    object name to the join key :func:`with_positions` was given (for
    example the name's uuid hex); the default keys on the name."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*paths)
    if objs is not None:
        df = df.filter(F.col(OBJ).isin(sorted(objs)))
    obj = F.col(OBJ) if key is None else key(F.col(OBJ))
    return df.select(obj.alias("__dv_obj"), F.col(ROW_IDX).alias("__dv_ridx"))


def mask_join(df: Any, mask: Any, how: str) -> Any:
    """Join positioned rows to a :func:`mask_frame` on (object, row
    index): ``left_anti`` drops masked rows, ``left_semi`` keeps only
    them. Broadcasting the mask is the caller's choice."""
    from pyspark.sql import functions as F

    return df.join(
        mask,
        (F.col(POS[0]) == F.col("__dv_obj")) & (F.col(POS[1]) == F.col("__dv_ridx")),
        how,
    )


# -- pyarrow ------------------------------------------------------------


def masked_positions(dv_tables: Iterable[Any], obj: str) -> Optional[Any]:
    """Sorted, distinct int64 numpy row positions of ``obj`` that the
    DV payload tables mask; None when nothing is masked."""
    import numpy as np
    import pyarrow.compute as pc

    parts = [t.filter(pc.equal(t[OBJ], obj))[ROW_IDX].to_numpy() for t in dv_tables]
    parts = [p for p in parts if len(p)]
    if not parts:
        return None
    return np.unique(np.concatenate(parts).astype(np.int64, copy=False))


def drop_positions(tbl: Any, positions: Optional[Any]) -> Any:
    """``tbl`` without the rows at ``positions``, in one keep-mask
    filter; ``positions=None`` returns ``tbl`` as-is."""
    if positions is None:
        return tbl
    import numpy as np
    import pyarrow as pa

    keep = np.ones(tbl.num_rows, dtype=bool)
    keep[positions] = False
    return tbl.filter(pa.array(keep))


def masked_counts(dv_tables: Iterable[Any]) -> dict[str, int]:
    """Masked rows per object name over the DV payload tables (each
    needs only the ``obj`` column)."""
    import pyarrow.compute as pc

    counts: dict[str, int] = {}
    for t in dv_tables:
        vc = pc.value_counts(t[OBJ])
        for o, n in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
            counts[o] = counts.get(o, 0) + n
    return counts
