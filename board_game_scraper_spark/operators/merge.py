"""Latest-wins merge/dedup — the reference's core batch operator (A1).

Reference semantics (``/root/reference/board_game_scraper/merge.py``):

- ``merge.py:172-196``: build typed ``_key_i`` / ``_latest_i`` columns,
  stringify into arrays ``_key`` / ``_latest``, drop rows with null keys
  (and null latest when ``latest_required``).
- ``merge.py:198-200``: optional ``latest_min`` pre-filter.
- ``merge.py:202-208``: RDD ``keyBy/reduceByKey(_compare)`` argmax where
  ``_compare`` (merge.py:62-67) keeps the *second* row iff its ``_latest``
  array is lexicographically >= the first's — i.e. ties favor the
  later-encountered row, and rows whose first has no ``_latest`` lose.
- ``merge.py:234-241``: drop helper columns, project to explicit or
  sorted column names.  The reference's optional output sorts
  (``merge.py:210-232``) are not ported: no caller asks for one.
- ``merge.py:81-93`` (``_remove_empty``): null-out empty strings/arrays.

The RDD island is the reference's scalability bug: it breaks Catalyst
(no pushdown through it), serializes every row through Python, and its
reduceByKey tie-break depends on partition encounter order.  We replace it
with ``max_by(struct(*), struct(_latest, _file_seq))`` — a single
map-side-combinable aggregate, fully codegen'd, deterministic via an
explicit monotonic ``_file_seq``.  At 100 TB this is one shuffle with
partial aggregation; the RDD version is one shuffle of *whole rows* plus
Python round-trips.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _typed_column(col: Column, column_type: str | None) -> Column:
    """Typed key/latest cast — mirrors merge.py:70-79 (_column_type)."""
    ct = column_type.lower() if column_type else None
    if ct in ("date", "datetime", "dt"):
        return F.to_timestamp(col)
    if ct in ("istr", "istring", "lower"):
        return F.lower(col)
    return col


def remove_empty(df: DataFrame, remove_false: bool = False) -> DataFrame:
    """Null-out empty strings/binaries/arrays/maps (merge.py:81-93)."""
    out = []
    for field in df.schema.fields:
        c = F.col(field.name)
        dtype = field.dataType.simpleString()
        if dtype in ("string", "binary"):
            out.append(F.when(F.length(c) > 0, c).alias(field.name))
        elif dtype.startswith("array") or dtype.startswith("map"):
            out.append(F.when(F.size(c) > 0, c).alias(field.name))
        elif dtype == "boolean" and remove_false:
            out.append(F.when(c, c).alias(field.name))
        else:
            out.append(c)
    return df.select(*out)


def merge_latest_wins(
    df: DataFrame,
    keys: Sequence[str],
    latest: Sequence[str],
    latest_types: Sequence[str | None] | None = None,
    latest_min=None,
    latest_required: bool = False,
    file_seq_col: str | None = None,
    fieldnames: Sequence[str] | None = None,
    fieldnames_exclude: Sequence[str] | None = None,
) -> DataFrame:
    """Deduplicate: keep the latest row per key (merge.py:96-241 semantics).

    ``file_seq_col``: monotonic encounter order used to break exact
    ``_latest`` ties the way the reference's ``>=`` comparison does
    (later row wins).  When None, ties break arbitrarily-but-
    deterministically on the latest array alone.
    """
    latest_types = list(latest_types or []) + [None] * (
        len(latest) - len(latest_types or [])
    )

    key_cols = [F.col(c).cast("string").alias(f"_key_{i}")
                for i, c in enumerate(keys)]
    latest_cols = [
        _typed_column(F.col(c), t).cast("string").alias(f"_latest_{i}")
        for i, (c, t) in enumerate(zip(latest, latest_types))
    ]

    work = df.select("*", *key_cols, *latest_cols)

    # dropna(subset=keys + _key_i) — merge.py:185-196
    drop_subset = list(keys) + [f"_key_{i}" for i in range(len(keys))]
    if latest_required:
        drop_subset += list(latest) + [f"_latest_{i}" for i in range(len(latest))]
    work = work.dropna(how="any", subset=drop_subset)

    if latest_min is not None:
        work = work.filter(
            _typed_column(F.col(latest[0]), latest_types[0]) >= F.lit(latest_min)
        )

    # Ordering struct: lexicographic over the stringified latest array, then
    # encounter order.  max_by with partial aggregation replaces the RDD
    # reduceByKey (merge.py:202-208) — Catalyst-visible, AQE-eligible.
    order_fields = [F.col(f"_latest_{i}") for i in range(len(latest))]
    if file_seq_col:
        order_fields.append(F.col(file_seq_col).cast("long"))
    payload = F.struct(*[F.col(c) for c in df.columns])
    ordering = F.struct(*order_fields) if order_fields else F.lit(0)

    key_group = [f"_key_{i}" for i in range(len(keys))]
    merged = work.groupBy(*key_group).agg(
        F.max_by(payload, ordering).alias("_row")
    )
    merged = merged.select("_row.*")

    # Projection — merge.py:234-241: explicit order, else sorted names.
    columns = set(merged.columns) - set(fieldnames_exclude or [])
    if fieldnames:
        names = [c for c in fieldnames if c in columns]
    else:
        names = sorted(columns)
    merged = merged.select(*names)

    return remove_empty(merged)
