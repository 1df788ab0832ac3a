"""Exact deduplication and CDC latest-record selection.

Batch forms of the reference's two dedup operators (SURVEY §2.5):
- W1 watermarked streaming dedup → ``deterministic_dedup`` (batch) and ``streaming.dedup`` (stream).
- W2 CDC latest-record ranking (``Silver/05-silver.py:24-32``) →
  ``latest_by_key``. The reference uses ``rank()`` — which keeps BOTH
  rows on a timestamp tie and then breaks its own MERGE with a
  multiple-match error (SURVEY §7 "what's hard"). We use
  ``row_number()`` with an explicit total ordering instead, and
  document the deviation.

All are single-shuffle hash operations on the dedup key — map-side
partial aggregation applies, so at 100 TB the shuffle carries one row
per (key, partition), not the full input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def deterministic_dedup(
    df: DataFrame, keys: Sequence[str], tiebreaker: Sequence[Column | str]
) -> DataFrame:
    """One row per key, chosen by an explicit total order — reproducible
    (unlike ``dropDuplicates``) and therefore oracle-checkable."""
    order = [F.col(c).asc() if isinstance(c, str) else c for c in tiebreaker]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    sort_by: str,
    tiebreakers: Sequence[str] = (),
    extra_partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Newest record per key — the CDC rank-and-take-1 operator
    (reference ``Silver/05-silver.py:24-32``), with ``row_number`` and
    explicit tiebreakers instead of the reference's tie-unsafe
    ``rank()``.

    ``extra_partition_cols`` prepend to the window's PARTITION BY.
    Callers pass columns that are FUNCTIONS of ``keys`` (e.g. the
    store's hash-bucket column): the groups — and therefore the
    survivors — are identical, but a frame already hash-partitioned by
    such a column satisfies the window's clustered distribution, so
    the window plans with NO exchange of its own (guide §2.4: two
    operations keyed compatibly share one exchange)."""
    order = [F.col(sort_by).desc()] + [F.col(t).desc() for t in tiebreakers]
    w = Window.partitionBy(*extra_partition_cols, *keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
