"""Skew-mitigation operators.

At 100 TB a handful of hot keys (a viral document source, a bot user) can
stall a stage: one reducer gets the hot key's entire partition. Salting
splits each hot key across N sub-partitions and re-aggregates — two small
shuffles instead of one skewed one. AQE's skew-join handling covers joins;
salting covers aggregations with holistic state (exact distincts, large
collect-style states) where partial aggregation alone can't compress.

The salted result is EXACTLY the plain result (verified by oracle) — only
the physical distribution changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame, keys: list[str], n_salts: int = 16, count_alias: str = "n"
) -> DataFrame:
    """Two-phase grouped count: groupBy(keys + salt) → groupBy(keys).

    The salt must be deterministic under task retries (random() or
    monotonically_increasing_id would double-count on speculative
    re-execution), so it is ``pmod(hash(<all columns>), n_salts)`` — stable
    per row content. Rows of a hot key spread across salts as long as their
    payloads differ; fully identical duplicate rows share a salt, which only
    matters if the skew IS identical duplicates (then dedup first).
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts)).alias(
        "_salt"
    )
    partial = (
        df.select(*keys, salt)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_partial").alias(count_alias))
    )
