"""Event-time streaming semantics of the watermarked stream-stream
interval join: matches inside the interval, outer misses emitted after
the watermark, and join state evicted as the watermark advances."""

import json
import os

from kafka_sink_azure_kusto_spark.streaming.stateful import (
    stream_stream_interval_join,
)


_MTIME = [1_700_000_000]


def _write_chunk(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    # strictly increasing mtimes: the file source orders batches by
    # modification time, and same-ms writes make the order unstable.
    _MTIME[0] += 1000
    os.utime(path, (_MTIME[0], _MTIME[0]))


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    lsrc = str(tmp_path / "ssj_l")
    rsrc = str(tmp_path / "ssj_r")
    _write_chunk(f"{lsrc}/a.json", [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1},
        {"event_id": 2, "ts": "2024-01-01 11:00:00", "user_id": 2},
    ])
    _write_chunk(f"{rsrc}/a.json", [
        # 5 min after impression 1 → joins
        {"event_id": 101, "ts": "2024-01-01 10:05:00", "user_id": 1},
        # 20 min after → outside the 10-min horizon
        {"event_id": 102, "ts": "2024-01-01 10:20:00", "user_id": 1},
        # right user mismatch
        {"event_id": 103, "ts": "2024-01-01 11:05:00", "user_id": 9},
    ])
    schema = "event_id long, ts timestamp, user_id long"
    l = spark.readStream.schema(schema).json(lsrc)
    r = spark.readStream.schema(schema).json(rsrc)
    q = (
        stream_stream_interval_join(l, r, max_delay="10 minutes")
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    rows = spark.sql("select * from ssj_out").collect()
    assert len(rows) == 1
    assert rows[0]["l_event_id"] == 1 and rows[0]["r_event_id"] == 101


def test_stream_stream_left_outer_emits_miss_after_watermark(spark, tmp_path):
    lsrc = str(tmp_path / "ssjo_l")
    rsrc = str(tmp_path / "ssjo_r")
    # impression 1 converts; impression 2 never does
    _write_chunk(f"{lsrc}/a.json", [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1},
        {"event_id": 2, "ts": "2024-01-01 10:00:00", "user_id": 2},
    ])
    _write_chunk(f"{rsrc}/a.json", [
        {"event_id": 101, "ts": "2024-01-01 10:05:00", "user_id": 1},
    ])
    # a later batch on BOTH sides advances the watermark far past
    # impression 2's horizon (10:10 + 30min watermark), forcing the
    # outer null row out
    _write_chunk(f"{lsrc}/b.json", [
        {"event_id": 3, "ts": "2024-01-01 14:00:00", "user_id": 9},
    ])
    _write_chunk(f"{rsrc}/b.json", [
        {"event_id": 102, "ts": "2024-01-01 14:00:00", "user_id": 9},
    ])
    schema = "event_id long, ts timestamp, user_id long"
    l = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(lsrc)
    r = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(rsrc)
    q = (
        stream_stream_interval_join(l, r, max_delay="10 minutes", how="leftOuter")
        .writeStream.format("memory")
        .queryName("ssjo_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssjo_chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    rows = {r["l_event_id"]: r for r in spark.sql("select * from ssjo_out").collect()}
    assert rows[1]["r_event_id"] == 101          # converted impression
    assert 2 in rows and rows[2]["r_event_id"] is None  # emitted as a miss


def test_stream_stream_join_state_evicts_with_watermark(spark, tmp_path):
    """The 100 TB property: join buffer state is bounded by watermark +
    interval, not by stream length. Six batches per side spanning six
    hours of event time flow through a 10-min-interval / 1-min-watermark
    join; by the final batch the state store must hold only the last
    horizon's rows, not the whole history."""
    lsrc = str(tmp_path / "ssje_l")
    rsrc = str(tmp_path / "ssje_r")
    rows_per_chunk = 50
    eid = [0]
    for chunk in range(6):
        base_h = 10 + chunk
        lrows, rrows = [], []
        for i in range(rows_per_chunk):
            eid[0] += 1
            ts = f"2024-01-01 {base_h:02d}:{i % 50:02d}:00"
            lrows.append({"event_id": eid[0], "ts": ts, "user_id": i % 10})
            rrows.append({"event_id": 10_000 + eid[0], "ts": ts, "user_id": i % 10})
        _write_chunk(f"{lsrc}/c{chunk}.json", lrows)
        _write_chunk(f"{rsrc}/c{chunk}.json", rrows)
    schema = "event_id long, ts timestamp, user_id long"
    l = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(lsrc)
    r = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(rsrc)
    q = (
        stream_stream_interval_join(
            l, r, max_delay="10 minutes", watermark="1 minute"
        )
        .writeStream.format("memory")
        .queryName("ssje_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssje_chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    state_totals = [
        so["numRowsTotal"]
        for p in q.recentProgress
        for so in p["stateOperators"]
        if p["stateOperators"]
    ]
    q.stop()
    assert spark.sql("select * from ssje_out").count() > 0
    total_input = 6 * rows_per_chunk * 2
    # final state holds ~one horizon (2 sides x <=2 batches), never the
    # whole 600-row history; without eviction it would equal total_input
    assert state_totals, "no state metrics reported"
    assert state_totals[-1] < total_input / 2, state_totals
