"""Conditional fan-out for parallelism-starved scans.

A small corpus packed into one parquet file (or one row group — every
sf testdata table is a single row group, so input-split configs cannot
raise scan parallelism) runs the expensive per-row compute downstream
of the scan on a single core. ``spread`` round-robin repartitions ONLY
in that starved regime: the check is driver-side file-size math against
the session's split size, so at real scale the input exceeds the cutoff
(or lives on a non-local store) and the call is a no-op — collapsing a
wide scan to ``defaultParallelism // 2`` partitions would be the
opposite of the intent.

Moved out of ``dedup`` (round 15) so the other CPU-dense single-scan
paths (gram explodes, range-join binning, hashed-ngram featurizers,
span scrubs) share the one guarded implementation instead of growing
per-module copies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def spread(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Round-robin repartition ONLY when the scan is parallelism-starved.

    The starvation check is driver-side file-size math, NOT
    ``df.rdd.getNumPartitions()``: converting to RDD under AQE
    finalizes the plan and executes the scan as a real job (measured
    5× slower than no check at all).
    """
    try:
        p = path[len("file:"):] if path.startswith("file:") else path
        if os.path.isdir(p):
            total = sum(
                os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
            )
        else:
            total = os.path.getsize(p)
    except OSError:
        return df  # non-local store: input splits already provide parallelism
    target = max(2, spark.sparkContext.defaultParallelism // 2)
    max_split = _parse_size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if total >= target * max_split // 4:
        return df
    return df.repartition(target)


_SIZE_SUFFIXES = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_size_bytes(value: str, default: int = 134217728) -> int:
    """Spark byte-size conf parse ('134217728', '128m', '1G', '128mb').

    A bad value falls back to the 128 MiB default rather than failing
    the query — this conf only tunes the small-input repartition
    heuristic."""
    v = value.strip().lower().removesuffix("b")
    mult = 1
    if v and v[-1] in _SIZE_SUFFIXES:
        mult = _SIZE_SUFFIXES[v[-1]]
        v = v[:-1]
    try:
        return int(v) * mult
    except ValueError:
        return default
