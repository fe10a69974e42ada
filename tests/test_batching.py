"""B1/B4 file-assignment tests — modeled on FileWriterTest size-roll
(9 × ~54 B records at threshold 100 ⇒ files of 2 records,
FileWriterTest.java:107-135) and the staged-file naming convention
(TopicPartitionWriterTest.java:142-171)."""

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.operators.batching import (
    roll_batches,
    staged_file_name,
    with_file_assignment,
)


def _batch(spark, n=9, size=54):
    rows = [("t", 0, i, "x" * (size - 1)) for i in range(n)]
    df = spark.createDataFrame(rows, "topic string, partition long, offset long, line string")
    return df.withColumn("serialized_size", F.length("line") + F.lit(1))


def test_size_roll_two_records_per_file(spark):
    # 54-byte records, threshold 100 ⇒ roll after every 2nd record
    # (FileWriterTest.java:107-135: 4 full files + 1 remainder).
    df = with_file_assignment(_batch(spark), flush_size_bytes=100)
    got = sorted((r.offset, r.file_seq) for r in df.collect())
    by_file = {}
    for off, seq in got:
        by_file.setdefault(seq, []).append(off)
    assert by_file == {0: [0, 1], 1: [2, 3], 2: [4, 5], 3: [6, 7], 4: [8]}


def test_file_offset_is_first_offset(spark):
    df = with_file_assignment(_batch(spark), flush_size_bytes=100)
    got = {r.file_seq: r.file_offset for r in df.collect()}
    assert got == {0: 0, 1: 2, 2: 4, 3: 6, 4: 8}


def test_oversized_record_rolls_alone(spark):
    # flush.size minimum is 100 B; a record larger than the threshold gets
    # its own file (reference: roll fires right after the write).
    rows = [("t", 0, 0, "a" * 250), ("t", 0, 1, "b" * 10), ("t", 0, 2, "c" * 250)]
    df = spark.createDataFrame(rows, "topic string, partition long, offset long, line string")
    df = df.withColumn("serialized_size", F.length("line") + F.lit(1))
    df = with_file_assignment(df, flush_size_bytes=100)
    got = {r.offset: r.file_seq for r in df.collect()}
    # reference semantics: r0 rolls alone (251 B > 100 B right after the
    # write); r1 starts a fresh file and r2 joins it before that file rolls.
    assert got[0] != got[1] and got[1] == got[2]


def test_partition_isolation(spark):
    # file sequences are independent per (topic, partition) — each Kafka
    # partition has its own TopicPartitionWriter in the reference.
    rows = [("t", p, i, "x" * 53) for p in (0, 1) for i in range(4)]
    df = spark.createDataFrame(rows, "topic string, partition long, offset long, line string")
    df = df.withColumn("serialized_size", F.length("line") + F.lit(1))
    df = with_file_assignment(df, flush_size_bytes=100)
    for p in (0, 1):
        by_file = {}
        for r in df.filter(F.col("partition") == p).collect():
            by_file.setdefault(r.file_seq, []).append(r.offset)
        assert sorted(v for vs in by_file.values() for v in vs) == [0, 1, 2, 3]
        assert {len(v) for v in by_file.values()} == {2}


def test_staged_file_name_convention(spark):
    # kafka_{topic}_{partition}_{offset}.{format}.gz (TopicPartitionWriter.java:235-242)
    df = with_file_assignment(_batch(spark, n=3), flush_size_bytes=100)
    named = df.withColumn("name", staged_file_name("json"))
    names = {r.name for r in named.collect()}
    assert "kafka_t_0_0.json.gz" in names
    assert "kafka_t_0_2.json.gz" in names


@st.composite
def _partitions(draw):
    """(threshold, partitions): each partition a list of (offset, size)
    in offset order, sizes around the threshold (at it, above it: rolls
    per record), plus the cut points that split it into Arrow batches."""
    threshold = draw(st.sampled_from([100, 101, 250]))
    size = st.one_of(st.integers(1, threshold - 1), st.just(threshold),
                     st.integers(threshold + 1, 3 * threshold))
    parts = []
    for _ in range(draw(st.integers(1, 3))):
        sizes = draw(st.lists(size, min_size=1, max_size=40))
        gaps = draw(st.lists(st.integers(1, 3), min_size=len(sizes), max_size=len(sizes)))
        offsets = [sum(gaps[: i + 1]) for i in range(len(sizes))]
        cuts = sorted(draw(st.sets(st.integers(1, len(sizes)), max_size=6)))
        parts.append((list(zip(offsets, sizes)), cuts))
    return threshold, parts


@settings(max_examples=25, deadline=None)
@given(case=_partitions())
def test_roll_batches_matches_window_assignment(spark, case):
    # The streamed Arrow form and the window form are one rule: same
    # (file_seq, file_offset) for every record, however the records are
    # split into batches.
    threshold, parts = case
    rows = [("t", p, o, s) for p, (records, _) in enumerate(parts) for o, s in records]
    df = spark.createDataFrame(
        rows[::-1], "topic string, partition long, offset long, serialized_size long"
    )
    want = {(r.partition, r.offset): (r.file_seq, r.file_offset)
            for r in with_file_assignment(df, threshold).collect()}
    got = {}
    for p, (records, cuts) in enumerate(parts):
        table = pa.table({"offset": pa.array([o for o, _ in records], pa.int64()),
                          "serialized_size": pa.array([s for _, s in records], pa.int64())})
        bounds = [0, *cuts, len(records)]
        batches = [b for lo, hi in zip(bounds, bounds[1:])
                   for b in table.slice(lo, hi - lo).to_batches()]
        seqs = []
        for seq, file in roll_batches(batches, threshold):
            seqs.append(seq)
            offsets = file.column("offset").to_pylist()
            got.update({(p, o): (seq, offsets[0]) for o in offsets})
        assert seqs == sorted(set(seqs))  # each file yielded once, in order
    assert got == want
