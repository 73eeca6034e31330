"""C13/J4 — wikidata label resolution (reference pipelines.py:61-143
ResolveLabelPipeline + wikidata.py:75-82 settings).

The reference resolves Q-ids in ``designer``/``artist``/``publisher`` by
fetching ``Special:EntityData/{Q}.json`` per id at crawl time and
replacing each id with its labels (all languages, priority-ordered, "en"
first, deduped).  A per-item fetch loop dies at scale; the Spark-native
design joins a ``labels(qid, labels array<string>)`` dim table instead —
tiny, one row per distinct entity, labels already in priority order.

``resolve_labels``: per field, posexplode the id array, broadcast-join
the dim, flatten labels in (id-position, label-priority) order, dedup
preserving first occurrence (pytility ``clear_list`` semantics), and
re-attach.  All JVM-side after the join — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LABEL_FIELDS = ("designer", "artist", "publisher")  # wikidata.py:80


def resolve_labels(
    items: DataFrame,
    labels_dim: DataFrame,
    key_col: str,
    fields: tuple[str, ...] = LABEL_FIELDS,
) -> DataFrame:
    """Replace Q-id arrays in ``fields`` with resolved label lists
    (pipelines.py:116-143 process_item): per item, flatten each id's
    labels in id order, drop unresolved ids, dedup keeping first
    occurrence; empty → NULL.  ``key_col`` must be unique per row."""
    out = items
    for field in fields:
        exploded = items.select(
            key_col, F.posexplode_outer(field).alias("_pos", "_qid")
        )
        joined = exploded.join(
            F.broadcast(labels_dim.withColumnRenamed("qid", "_qid")),
            "_qid",
            "left",
        )
        resolved = (
            joined.groupBy(key_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "labels"))
                ).alias("_ordered")
            )
            .select(
                key_col,
                # flatten in id order, drop unresolved, dedup keep-first
                F.nullif(
                    F.array_distinct(
                        F.flatten(
                            F.filter(
                                F.col("_ordered.labels"),
                                lambda x: x.isNotNull(),
                            )
                        )
                    ),
                    F.array().cast("array<string>"),
                ).alias(f"_resolved_{field}"),
            )
        )
        out = out.join(resolved, key_col, "left").withColumn(
            field, F.col(f"_resolved_{field}")
        ).drop(f"_resolved_{field}")
    return out
