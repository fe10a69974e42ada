"""Small-input parallelization guard.

The hash-heavy corpus operators (minhash/simhash signatures, n-gram
explodes, anchor grams) do their per-token md5/integer work as partial
aggregates INSIDE the scan stage — which is exactly right at 100 TB
(the shuffle carries fixed-width signatures, never tokens), but means
the compute parallelism equals the SCAN parallelism. A small corpus
(one parquet file / one row group — e.g. the 500-doc fixture tables, or
a single micro-batch) scans as ONE task, so a 32-core executor does all
the hashing on one core: measured 3.5 s → 1.0 s on `minhash_lsh_pairs`
at sf0.1 just by widening the input to 32 partitions first.

``ensure_min_parallelism`` widens ONLY when the input has fewer
partitions than the session's default parallelism. At production scale
the scan already has thousands of partitions, so this is a structural
no-op — no extra exchange of a 100 TB corpus is ever introduced. The
check reads the physical partition count (no job is triggered).

Result-invariance: callers apply this ahead of key-based aggregates,
equi-joins, and key-partitioned windows only — a round-robin exchange
cannot change any of their values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition ``df`` to ``target`` (default: the session's default
    parallelism) if — and only if — it currently has fewer partitions."""
    sc = df.sparkSession.sparkContext
    t = int(target) if target is not None else sc.defaultParallelism
    if t <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans; widening is optional
        return df
    if n >= t:
        return df
    return df.repartition(t)
