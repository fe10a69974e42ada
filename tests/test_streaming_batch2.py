"""Semantics tests for the round-5 streaming batch — session windows,
stream-static enrichment, watermark-bounded dedup — plus the state-
EXPIRY behavior the registry oracle (by design) never exercises:
a duplicate arriving past the watermark is NOT deduped, proving the
state really is bounded."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.plans.registry_streaming2 import _split, _run_to_memory
from kafka_sink_azure_kusto_spark.sources.replay import stage_chunks as _stage_chunks

H = 3600 * 1_000_000  # one hour in micros
T0 = 1_700_000_000 * 1_000_000


def _row(eid, uid, us, v=1.0):
    return json.dumps({"event_id": eid, "user_id": uid, "ts_us": us, "value": v})


def _dedup_stream(spark, replay, delay):
    return (
        spark.readStream.schema("event_id long, user_id long, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(replay)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def test_dedup_within_watermark_collapses_cross_batch(spark, tmp_path):
    replay = str(tmp_path / "replay")
    _stage_chunks(
        [
            [_row(1, 1, T0), _row(2, 1, T0 + H)],
            [_row(1, 1, T0 + 2 * H), _row(3, 1, T0 + 3 * H)],  # dup of id 1
        ],
        replay,
    )
    out = _run_to_memory(spark, _dedup_stream(spark, replay, "24 hours"), str(tmp_path / "chk"))
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3]


def test_dedup_state_expires_past_watermark(spark, tmp_path):
    """A duplicate arriving AFTER its key's state aged out of the
    watermark is re-emitted — the bounded-state trade-off, stated in the
    registry docstring, observed here."""
    replay = str(tmp_path / "replay")
    _stage_chunks(
        [
            [_row(1, 1, T0)],
            # advances the watermark to T0+49h for the NEXT batch
            [_row(2, 1, T0 + 50 * H)],
            # state eviction happens at the END of the batch that runs
            # with the advanced watermark — this batch evicts id 1
            [_row(3, 1, T0 + 50 * H)],
            # id 1 again, state gone → re-emitted
            [_row(1, 1, T0 + 50 * H)],
        ],
        replay,
    )
    out = _run_to_memory(spark, _dedup_stream(spark, replay, "1 hour"), str(tmp_path / "chk"))
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 1, 2, 3]


def test_split_is_contiguous_and_complete():
    rows = [str(i) for i in range(10)]
    chunks = _split(rows, 3)
    assert [r for c in chunks for r in c] == rows
    assert all(len(c) <= 4 for c in chunks)
    assert _split(["a"], 3) == [["a"]]


def test_stage_chunks_orders_by_mtime(tmp_path):
    replay = str(tmp_path / "replay")
    _stage_chunks([["a"], ["b"], ["c"]], replay)
    files = sorted(os.listdir(replay))
    mtimes = [os.path.getmtime(os.path.join(replay, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_session_windows_streaming_matches_batch(spark, sf_dir):
    """End-to-end: the streaming session_window query equals the batch
    gaps-and-islands computation on the same subset."""
    from kafka_sink_azure_kusto_spark.plans.registry_streaming2 import (
        streaming_session_windows,
    )
    from kafka_sink_azure_kusto_spark.sources.tables import load_table
    from pyspark.sql import Window

    got = streaming_session_windows(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(4000)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    seq = ev.withColumn("ns", F.when(gap.isNull() | (gap >= 1800), 1).otherwise(0))
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        seq.withColumn("sid", F.sum("ns").over(w2))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got_set = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in got.collect()
    }
    want_set = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in want.collect()
    }
    assert got_set == want_set


def test_streaming_incremental_store_arrival_order_semantics(spark, tmp_path):
    """r8 live probe→triage→admit loop: ARRIVAL ORDER is the
    semantics. A doc duplicating an EARLIER chunk's doc is
    'neardup_of_history'; duplicating only a LATER chunk's doc leaves
    it 'unique' (the later copy gets the history status); same-chunk
    duplicates resolve by the smaller-id-shadows rule. Chunk = doc_id
    % 3. The synthetic corpus routes one duplicate pair through each
    path."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.plans.registry_streaming2 import (
        streaming_incremental_neardup_store,
    )

    a = "alpha beta gamma delta epsilon zeta"
    b = "one two three four five six seven"
    c = "red orange yellow green blue indigo"
    d = "north south east west up down over"
    rows = [
        (0, a),   # chunk 0 — first copy of a
        (4, a),   # chunk 1 — dup of EARLIER doc 0 → neardup_of_history
        (3, d),   # chunk 0 — smaller-id copy of d
        (6, d),   # chunk 0 — same-chunk dup → neardup_in_batch
        (2, c),   # chunk 2 — first copy of c, but see doc 1:
        (1, b),   # chunk 1 — unique (b has no other copy)
        (5, c),   # chunk 2 — same-chunk dup of doc 2 → in_batch
        (7, c),   # chunk 1 — EARLIER chunk than docs 2 & 5! they come
                  #           later, so 7 is 'unique'; 2 & 5 then match
                  #           history (doc 7's admitted signature)
    ]
    docs_dir = str(tmp_path / "sfdir")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        docs_dir + "/documents.parquet"
    )
    res = {
        r.doc_id: r.status
        for r in streaming_incremental_neardup_store(spark, docs_dir).collect()
    }
    assert res == {
        0: "unique",
        4: "neardup_of_history",
        3: "unique",
        6: "neardup_in_batch",
        1: "unique",
        7: "unique",
        2: "neardup_of_history",
        5: "neardup_of_history",
    }, res


def test_live_compaction_preserves_labels_and_resets_files(spark, tmp_path):
    """VERDICT r8 #6: compacting the signature store BETWEEN
    micro-batches (after batch 1's admit, before batch 2's probe) must
    (a) leave every triage label identical to the uncompacted run and
    (b) reset the store's data-file count to exactly num_buckets."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.plans.registry_streaming2 import (
        _run_incr_store_loop,
    )

    a = "alpha beta gamma delta epsilon zeta"
    c = "red orange yellow green blue indigo"
    rows = [
        (0, a), (4, a),          # chunk 0 then 1 -> history dup
        (1, "one two three four five six seven"),
        (2, c), (5, c),          # both chunk 2 -> in-batch dup
        (3, "north south east west up down over"),
        (6, "lorem ipsum dolor sit amet consectetur"),
        (7, "qqq www eee rrr ttt yyy uuu"),
        (8, c),                  # chunk 2 as well -> in-batch family
    ]
    docs_dir = str(tmp_path / "sfdir")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        docs_dir + "/documents.parquet"
    )
    plain = {
        r.doc_id: r.status
        for r in _run_incr_store_loop(
            spark, docs_dir, "t_live_nocompact"
        ).collect()
    }
    counts: dict = {}
    compacted = {
        r.doc_id: r.status
        for r in _run_incr_store_loop(
            spark, docs_dir, "t_live_compact",
            compact_after_epoch=1, file_counts=counts,
        ).collect()
    }
    assert compacted == plain
    # after batch 0 and 1 each appended a delta on top of the initial
    # bucketed write, the store held >8 files; compaction rewrote it to
    # one file per NON-EMPTY bucket (<= num_buckets; this 9-doc fixture
    # happens to leave one of the 8 band-hash buckets empty — at sf0.01
    # the gated query fills all 8)
    assert counts["pre_compact"] > 8
    assert 0 < counts["post_compact"] <= 8
    assert counts["post_compact"] < counts["pre_compact"]


def test_streaming_substring_store_arrival_order(spark, tmp_path):
    """r9 live anchor-store loop: a doc sharing a >= k-token span with
    an EARLIER chunk's doc is 'dup_of_history'; sharing only with a
    later chunk leaves it 'unique' (the later copy gets the history
    label); same-chunk shares resolve by the smaller-id-shadows rule.
    Chunk = doc_id % 3."""
    from kafka_sink_azure_kusto_spark.plans.registry_r9 import (
        streaming_substring_store,
    )

    span = "w1 w2 w3 w4 w5 w6"  # exactly k=6 tokens
    rows = [
        (0, span + " tail0a tail0b"),      # chunk 0 — first holder
        (4, span + " other4a other4b"),    # chunk 1 — history dup of 0
        (1, "u1a u1b u1c u1d u1e u1f u1g"),  # chunk 1 — unique
        (3, "s1 s2 s3 s4 s5 s6 x3"),       # chunk 0 — smaller id
        (6, "s1 s2 s3 s4 s5 s6 x6"),       # chunk 0 — in-batch dup of 3
        (8, "t1 t2 t3 t4 t5 t6 y8"),       # chunk 2 — later chunk holder
        (2, "t1 t2 t3 t4 t5 t6 y2"),       # chunk 2 — same chunk, id 2 < 8
                                           #   → 8 is in-batch dup, 2 unique
    ]
    docs_dir = str(tmp_path / "sfdir")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        docs_dir + "/documents.parquet"
    )
    res = {
        r.doc_id: r.status
        for r in streaming_substring_store(spark, docs_dir).collect()
    }
    assert res == {
        0: "unique",
        4: "dup_of_history",
        1: "unique",
        3: "unique",
        6: "dup_in_batch",
        2: "unique",
        8: "dup_in_batch",
    }, res
