"""Batching / file-rolling semantics (SURVEY §2.4 B1, B4).

Reference: records append to a gzipped rolling file per topic-partition;
the file rolls when **uncompressed** bytes exceed ``flush.size.bytes``
(FileWriter.java:296-301); staged files are named
``kafka_{topic}_{partition}_{offset}.{format}.gz`` where offset is the
first offset contained (TopicPartitionWriter.java:235-242).

Inside a micro-batch the same assignment is a function of the running
sum of serialized record sizes per (topic, partition) in offset order.
It has two forms that agree record for record:

- ``with_file_assignment`` — a window aggregation, fully JVM-side; the
  registry's ``file_assignment`` query runs it.
- ``roll_batches`` — the same rule as one streamed pass over a Kafka
  partition's Arrow batches, holding only the open file; the sink's
  staging writer runs it on each partition's run after one exchange
  keyed on (topic, partition) and one sort by (topic, partition,
  offset), so each task owns whole partitions exactly like the
  reference's TopicPartitionWriter.

Time-triggered flush (B2) needs no code at all: the micro-batch trigger
interval IS the flush interval.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_file_assignment(
    df: DataFrame,
    flush_size_bytes: int,
    size_col: str = "serialized_size",
    topic_col: str = "topic",
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """B1 — assign each record to a rolled file within its micro-batch,
    as window columns. ``roll_batches`` is the streamed Arrow form of the
    same rule; the sink stages through it.

    Adds:
    - ``file_seq``     — 0-based file index within (topic, partition);
      a new file starts when the running uncompressed size would exceed
      ``flush_size_bytes`` (mirrors FileWriter.java:296-301: the check
      runs *after* the write, so a file always holds ≥1 record and may
      overshoot by one record, exactly like the reference).
    - ``file_offset``  — first offset in the file (B4 naming input).

    The roll rule in the reference is "roll after the record that crossed
    the threshold", which makes file boundaries a pure prefix-sum
    predicate: record i starts a new file iff the cumulative size of its
    file-so-far (excluding i) already reached the threshold. That is
    exactly ``floor(cumsum_exclusive / threshold)`` when every file
    overshoots at most once — we reproduce it with the inclusive cumsum
    of the *previous* row.
    """
    w = (
        Window.partitionBy(topic_col, partition_col)
        .orderBy(offset_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    # Deviation note (documented, SURVEY §7.4): the reference's roll is a
    # sequential scan whose per-file byte counter RESETS at each roll; the
    # global-prefix bucket below can split one record earlier whenever the
    # accumulated overshoot itself crosses a multiple of the threshold
    # (e.g. sizes 99,2,99,2 @ T=100 → reference packs [r0,r1],[r2,r3],
    # bucket packs [r0,r1],[r2],[r3]). Both bound every file to
    # ≤ threshold + one record and never produce empty files; the bucket
    # form is a single window aggregation with no sequential dependency,
    # which is what survives a 1000-executor scale-up.
    df = df.withColumn("file_seq", (prev_cum / F.lit(flush_size_bytes)).cast("bigint"))
    w_file = Window.partitionBy(topic_col, partition_col, "file_seq")
    return df.withColumn("file_offset", F.min(offset_col).over(w_file))


def roll_batches(
    batches: Iterable[pa.RecordBatch],
    flush_size_bytes: int,
    size_col: str = "serialized_size",
) -> Iterator[tuple[int, pa.Table]]:
    """B1 over a stream — ``with_file_assignment``'s bucket rule on the
    Arrow batches of ONE (topic, partition), already in offset order.

    Yields ``(file_seq, records)`` per rolled file, in file order: record
    i goes to file ``floor(bytes before i / flush_size_bytes)``, the bytes
    counted across batch boundaries, so file boundaries do not depend on
    how the records were batched. Only the open file's slices are held; a
    file is yielded as soon as a record falls in a later bucket, and the
    last one at the end of the stream. Its first offset is the B4
    ``file_offset``."""
    total, seq, parts = 0, None, []
    for batch in batches:
        if not batch.num_rows:
            continue
        sizes = batch.column(size_col)
        cum = pc.cumulative_sum(sizes)
        runs = pc.run_end_encode(
            pc.divide(pc.add(pc.subtract(cum, sizes), total), flush_size_bytes)
        )
        start = 0
        for end, s in zip(runs.run_ends.to_pylist(), runs.values.to_pylist()):
            if s != seq and parts:
                yield seq, pa.Table.from_batches(parts)
                parts = []
            seq = s
            parts.append(batch.slice(start, end - start))
            start = end
        total += cum[-1].as_py()
    if parts:
        yield seq, pa.Table.from_batches(parts)


def staged_file_name(
    fmt: str,
    topic_col: str = "topic",
    partition_col: str = "partition",
    file_offset_col: str = "file_offset",
) -> Column:
    """B4 — ``kafka_{topic}_{partition}_{offset}.{format}.gz``
    (TopicPartitionWriter.java:235-242)."""
    return F.concat(
        F.lit("kafka_"),
        F.col(topic_col).cast("string"),
        F.lit("_"),
        F.col(partition_col).cast("string"),
        F.lit("_"),
        F.col(file_offset_col).cast("string"),
        F.lit(f".{fmt}.gz"),
    )
