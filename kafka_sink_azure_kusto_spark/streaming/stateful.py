"""The watermarked stream-stream interval join (SURVEY §2.10: event-time
handling comes from Spark itself, not the reference).

Windows, sessionization and watermark-bounded dedup need no wrapper: the
registry's streaming queries call ``withWatermark``, ``F.window``,
``F.session_window`` and ``dropDuplicatesWithinWatermark`` directly.

Scale note: join state lives in Spark's state store and the watermarks
on both sides bound its retention, so late rows past the horizon are
dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each LEFT event
    with RIGHT events of the same key whose time lies in
    (left_ts, left_ts + max_delay] — the attribution shape (impression ⋈
    conversion-within-N-minutes) as a true two-stream join, not a batch
    as-of.

    ``how="leftOuter"`` emits unconverted impressions with NULL right
    columns — but only once the WATERMARK passes the impression's join
    horizon (Spark must prove no match can still arrive before declaring
    the miss), so outer results trail the watermark by up to
    max_delay + watermark. That deferred emission is the correct
    semantics for "conversion rate including non-converters" on an
    endless stream.

    Both sides carry watermarks and the join condition bounds the event-
    time distance in BOTH directions, so Spark can evict buffered rows
    once the watermark passes their join horizon — state stays
    O(in-horizon events per key), the required shape for endless
    streams. An unbounded condition would buffer a side forever (Spark
    rejects some such plans, silently grows state on others). Columns
    are prefixed l_/r_ to keep both timestamps addressable.
    """
    lw = left.withWatermark(left_ts, watermark).select(
        F.col(key_col).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key_col, left_ts)
        ],
    )
    rw = right.withWatermark(right_ts, watermark).select(
        F.col(key_col).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key_col, right_ts)
        ],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)
