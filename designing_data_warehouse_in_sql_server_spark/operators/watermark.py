"""Incremental-load helpers.

- high_watermarks: A3 (extract_weather.py:27-32) — per-key MAX(ts) with a
  fallback for unseen keys. The reference loops cities and issues one
  scalar query each; the scale form is ONE grouped aggregate for all keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def high_watermarks(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    key_col: str,
    ts_col: str,
    fallback: str,
) -> DataFrame:
    """One row per key in ``keys``: max(ts) from fact, or ``fallback``.

    Returns columns (key_col, watermark, used_fallback).
    """
    per_key = (
        fact.groupBy(fact_key)
        .agg(F.max(ts_col).alias("__max_ts"))
        .withColumnRenamed(fact_key, "__fact_key")  # avoid name clash with keys
    )
    return (
        keys.join(per_key, keys[key_col] == per_key["__fact_key"], "left")
        .select(
            key_col,
            F.coalesce(F.col("__max_ts"), F.lit(fallback).cast("timestamp_ntz")).alias(
                "watermark"
            ),
            F.col("__max_ts").isNull().alias("used_fallback"),
        )
    )

