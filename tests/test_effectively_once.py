"""Effectively-once upgrade (replay dedup at the backend) and K4
deserialization-failure splitting."""

import gzip
import json

from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.config import KustoSinkConfig, TopicToTableMapping
from kafka_sink_azure_kusto_spark.functions.filters import split_decode_failures
from kafka_sink_azure_kusto_spark.streaming import LocalEmulatorBackend, KustoSparkSink
from kafka_sink_azure_kusto_spark.streaming.backends import IngestionProperties


def test_replay_dedupe_gives_effectively_once(spark, tmp_path):
    # the same micro-batch processed twice (simulated checkpoint replay
    # after a crash between ingest and commit) must not duplicate rows
    rows = [(f"k{i}", json.dumps({"i": i}), "t1", 0, i) for i in range(6)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = KustoSinkConfig(
        ingest_url="https://x.kusto.windows.net",
        mappings=[TopicToTableMapping(topic="t1", db="db", table="t", format="json")],
        staging_dir=str(tmp_path / "staging"),
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), dedupe_replays=True)
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    sink.process_batch(df, epoch_id=0)  # exact replay
    assert len(backend.table_rows("db", "t")) == 6  # not 12
    statuses = [e for e in backend.ingest_log()]
    assert len(statuses) == 1  # second ingest skipped, not re-logged


def test_replay_dedupe_spans_emulators_on_one_root(tmp_path):
    # executor-side ingest builds one emulator per Python worker over a
    # shared root: a replay must be skipped by whichever one sees it
    staged = tmp_path / "kafka_t1_0_0.json.gz"
    with gzip.open(staged, "wt", encoding="utf-8") as f:
        f.write('{"i": 0}\n{"i": 1}\n')
    props = IngestionProperties(database="db", table="t", format="json")
    root = str(tmp_path / "kusto")
    first = LocalEmulatorBackend(root, dedupe_replays=True)
    second = LocalEmulatorBackend(root, dedupe_replays=True)
    assert first.ingest_file(str(staged), props).status == "Succeeded"
    assert second.ingest_file(str(staged), props).status == "Skipped"
    assert len(second.table_rows("db", "t")) == 2
    assert [e["file"] for e in second.ingest_log()] == [staged.name]


def test_replay_dedupe_off_duplicates(spark, tmp_path):
    # without the flag we match the reference's at-least-once behavior
    rows = [(f"k{i}", json.dumps({"i": i}), "t1", 0, i) for i in range(3)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = KustoSinkConfig(
        ingest_url="https://x.kusto.windows.net",
        mappings=[TopicToTableMapping(topic="t1", db="db", table="t", format="json")],
        staging_dir=str(tmp_path / "staging"),
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    sink.process_batch(df, epoch_id=0)
    assert len(backend.table_rows("db", "t")) == 6  # duplicates allowed


def test_checkpoint_restart_ingests_only_new_chunks(spark, tmp_path):
    # a restarted stream resumes from its checkpoint: the chunks the
    # first run committed are not re-read, the chunks added since are
    from kafka_sink_azure_kusto_spark.sources.replay import (
        replay_stream,
        stage_replay_dir,
    )

    schema = "key string, value string, topic string, partition long, offset long"

    def records(lo, hi):
        rows = [(f"k{i}", json.dumps({"i": i}), "t1", i % 2, i) for i in range(lo, hi)]
        return spark.createDataFrame(rows, schema)

    class Recording(LocalEmulatorBackend):
        def __init__(self, root):
            super().__init__(root, dedupe_replays=True)
            self.calls = []

        def ingest_file(self, path, props):
            self.calls.append(path.rsplit("/", 1)[-1])
            return super().ingest_file(path, props)

    replay = str(tmp_path / "replay")
    cfg = KustoSinkConfig(
        ingest_url="https://x.kusto.windows.net",
        mappings=[TopicToTableMapping(topic="t1", db="db", table="t", format="json")],
        staging_dir=str(tmp_path / "staging"),
        checkpoint_location=str(tmp_path / "ckpt"),
    )

    def run(name):
        backend = Recording(str(tmp_path / "kusto"))
        q = KustoSparkSink(cfg, backend).attach(
            replay_stream(spark, replay), query_name=name, available_now=True
        )
        assert q.awaitTermination(120)
        q.stop()
        return backend

    stage_replay_dir(records(0, 8), replay, chunks=2)
    first = run("restart_1")
    first_files = {e["file"] for e in first.ingest_log()}
    assert sorted(first.calls) == sorted(first_files)

    # new chunks land beside the committed ones (append keeps them)
    records(8, 16).repartition(2).write.mode("append").json(replay)
    second = run("restart_2")
    assert second.calls and not set(second.calls) & first_files
    new_entries = second.ingest_log()[len(first_files):]
    assert sorted(e["file"] for e in new_entries) == sorted(second.calls)
    assert sum(e["records"] for e in new_entries) == 8
    rows = second.table_rows("db", "t")
    assert sorted(rows) == sorted(json.dumps({"i": i}) for i in range(16))


def test_split_decode_failures(spark):
    rows = [
        (0, '{"k": 1}'),
        (1, "garbage"),
        (2, '{"other": 5}'),  # valid JSON, expected field missing → bad
        (3, '{"k": 42}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, value string")
    good, bad = split_decode_failures(df, "k int")
    assert {r.event_id for r in good.collect()} == {0, 3}
    assert {r.event_id for r in bad.collect()} == {1, 2}
    # good side carries the decoded struct
    ks = {r.event_id: r._decoded.k for r in good.collect()}
    assert ks == {0: 1, 3: 42}
    # bad side keeps the raw value for the DLQ
    assert "garbage" in {r.value for r in bad.collect()}


def test_split_decode_failures_keeps_tombstones_out(spark):
    df = spark.createDataFrame(
        [(0, None), (1, '{"k": 9}')], "event_id long, value string"
    )
    good, bad = split_decode_failures(drop_nulls(df), "k int")
    assert {r.event_id for r in good.collect()} == {1}
    assert bad.count() == 0


def drop_nulls(df):
    return df.filter(F.col("value").isNotNull())
