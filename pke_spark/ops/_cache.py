"""Shared 'unpersist previous, cache latest' holder.

Several operators persist an intermediate DataFrame across an eager
fitting action AND the lazily-returned ranking built on it (NB feature
vectors, LSH signatures). Unpersisting before returning
would silently re-trigger the full upstream DAG when the caller
materializes the result; never unpersisting leaks cached partitions in
long-lived sessions. The compromise: each operator keeps ONE cached
copy in a module-level holder, releasing the previous call's copy on
the next invocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cache_latest(df: DataFrame, holder: list) -> DataFrame:
    """Cache ``df``, unpersisting whatever the holder previously kept."""
    while holder:
        holder.pop().unpersist()
    df = df.cache()
    holder.append(df)
    return df
