"""Input-width adaptation shared by the per-row Arrow kernels."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW source up to the session's default
    parallelism before a per-row Arrow kernel — scale-adaptive (guide §2.2):
    a small corpus packs into one scan split (documents.parquet at bench SF
    is one 0.6 MB file, the embeddings corpus one 0.8 MB file), which
    serializes every fingerprint/hashing/norm UDF on a single task; an input
    already wider than the core count is left untouched, so no shuffle is
    ever added at real scale. Callers project to the rows the kernel needs
    (ids + text or vector) first, so the exchange never moves derived
    arrays."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(n) if cur < n else df
