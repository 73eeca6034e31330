"""Paginated-output operator (S11) — reference ``split.py:77-131``.

The reference loads the whole JSONL file into driver memory and slices it
into ``{count, previous, next, results}`` pages.  Ours is the oracle's
plan: one ``row_number()`` over the page order and one ``count(*)`` over
the whole input, both global windows.  Each moves its whole input to one
task, which suits the small tables pagination serves.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def page_rows(
    df: DataFrame,
    size: int,
    order_keys: Sequence[str],
) -> DataFrame:
    """Assign page metadata to every row.

    Columns added (reference split.py:113-117):
      page      0-based page id
      count     total rows (reference: ``"count": total``)
      previous  page-1 or null on first page
      next      page+1 or null on last page
    """
    pos = F.row_number().over(Window.orderBy(*order_keys))
    total = F.count(F.lit(1)).over(Window.partitionBy())
    last_page = F.floor((F.col("count") - 1) / size).cast("int")
    return (
        df.withColumn("count", total)
        .withColumn("page", F.floor((pos - 1) / size).cast("int"))
        .withColumn("previous", F.when(F.col("page") > 0, F.col("page") - 1))
        .withColumn("next",
                    F.when(F.col("page") < last_page, F.col("page") + 1))
    )
