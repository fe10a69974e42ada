"""Sink data-plane tests: process_batch on static DataFrames (the Spark
analog of TopicPartitionWriterTest put()-driven tests) and a full
Structured Streaming E2E through the replay source + LocalEmulatorBackend
(the SURVEY §5 rebuild test plan, mirroring KustoSinkIT's round-trip)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.config import (
    BehaviorOnError,
    KustoSinkConfig,
    TopicToTableMapping,
)
from kafka_sink_azure_kusto_spark.streaming.backends import LocalEmulatorBackend
from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink


def _cfg(tmp_path, mappings=None, **kw):
    return KustoSinkConfig(
        ingest_url="https://ingest.example.kusto.windows.net",
        mappings=mappings
        or [
            TopicToTableMapping(topic="topic1", db="db1", table="table1", format="json"),
            TopicToTableMapping(topic="*", db="dbW", table="tableW", format="json"),
        ],
        staging_dir=str(tmp_path / "staging"),
        **kw,
    )


def _records_df(spark, n=10):
    rows = []
    for i in range(n):
        rows.append((f"k{i}", json.dumps({"hello": i}), "topic1", 0, i))
    rows.append(("tomb", None, "topic1", 0, n))  # tombstone — must be dropped
    rows.append(("w0", json.dumps({"w": 0}), "other", 0, 0))  # wildcard route
    return spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )


def test_process_batch_routes_and_ingests(spark, tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(_cfg(tmp_path), backend)
    sink.process_batch(_records_df(spark), epoch_id=0)

    rows = backend.table_rows("db1", "table1")
    assert [json.loads(r)["hello"] for r in rows] == list(range(10))
    assert backend.table_rows("dbW", "tableW") == ['{"w": 0}']
    # tombstone dropped (KustoSinkTask.java:510-513)
    assert len(rows) == 10
    m = sink.metrics.snapshot()
    assert m["RecordsWritten"] == 11
    assert m["IngestionSuccesses"] == 2
    assert m["IngestionFailures"] == 0


def test_staged_file_naming_and_log(spark, tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(_cfg(tmp_path), backend)
    sink.process_batch(_records_df(spark), epoch_id=7)
    log = backend.ingest_log()
    files = {e["file"] for e in log}
    assert "kafka_topic1_0_0.multijson.gz" in files  # B4 naming
    assert all(e["format"] == "multijson" for e in log)  # E5 coalescing


def test_size_roll_in_sink(spark, tmp_path):
    # ~54-byte lines at threshold 100 ⇒ 2 records per rolled file
    rows = [(f"k{i}", "x" * 53, "topic1", 0, i) for i in range(6)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="csv")],
        flush_size_bytes=100,
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    log = backend.ingest_log()
    assert len(log) == 3  # FileWriterTest-style roll count
    assert sorted(e["records"] for e in log) == [2, 2, 2]


def test_retry_then_success(spark, tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), fail_times=2)
    cfg = _cfg(tmp_path, retry_max_time_ms=50, retry_backoff_time_ms=10)
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(_records_df(spark, n=3), epoch_id=0)
    m = sink.metrics.snapshot()
    assert m["IngestionSuccesses"] == 2
    assert m["IngestionAttempts"] >= 4  # 2 failures + retries


def test_behavior_fail_raises(spark, tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    cfg = _cfg(tmp_path, behavior_on_error=BehaviorOnError.FAIL)
    sink = KustoSparkSink(cfg, backend)
    with pytest.raises(Exception):
        sink.process_batch(_records_df(spark, n=2), epoch_id=0)
    assert sink.metrics.snapshot()["IngestionFailures"] >= 1


def test_behavior_log_sends_dlq(spark, tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    dlq: list[dict] = []
    cfg = _cfg(tmp_path, behavior_on_error=BehaviorOnError.LOG)
    sink = KustoSparkSink(cfg, backend, dlq_writer=dlq.extend)
    sink.process_batch(_records_df(spark, n=3), epoch_id=0)  # must NOT raise
    assert len(dlq) == 4  # 3 topic1 + 1 wildcard record
    assert "topic=topic1" in dlq[0]["key"]  # K3 error-coordinates key
    m = sink.metrics.snapshot()
    assert m["DlqRecordsSent"] == 4
    assert m["RecordsFailed"] == 4


def test_dlq_keys_carry_per_record_offsets(spark, tmp_path):
    # K3 fidelity (TopicPartitionWriter.java:210-233): a multi-record
    # rolled file must yield one DLQ record per source record, each key
    # carrying the record's OWN offset — not the file's base offset.
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    dlq: list[dict] = []
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="json")],
        behavior_on_error=BehaviorOnError.IGNORE,
    )
    sink = KustoSparkSink(cfg, backend, dlq_writer=dlq.extend)
    sink.process_batch(_records_df(spark, n=5), epoch_id=0)  # one rolled file, 5 records
    keys = [d["key"] for d in dlq]
    assert len(keys) == 6  # the mapping's 5 records, then the unmapped one
    for i in range(5):
        assert (
            f"topic=topic1, partition=0, offset={i}." in keys[i]
        ), keys[i]  # byte-identical to the dlq_key_format oracle's shape
    assert [json.loads(d["value"])["hello"] for d in dlq[:5]] == list(range(5))
    assert keys[5].endswith("topic=other, partition=0, offset=0.")


def test_partial_failure_only_failed_files_reach_dlq(spark, tmp_path):
    # Per-file outcome tracking: 3 rolled files, the one starting at
    # offset 0 fails permanently via a flaky wrapper — only that file's
    # records may land in the DLQ; the other files' records count as
    # written.
    class OffsetZeroFails:
        def __init__(self, inner):
            self.inner = inner

        def ingest_file(self, path, props):
            if os.path.basename(path).startswith("kafka_topic1_0_0."):
                from kafka_sink_azure_kusto_spark.streaming.backends import (
                    PermanentIngestError,
                )

                raise PermanentIngestError("boom")
            return self.inner.ingest_file(path, props)

        def validate(self, props):
            return None

    rows = [(f"k{i}", "x" * 53, "topic1", 0, i) for i in range(6)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    dlq: list[dict] = []
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="csv")],
        flush_size_bytes=100,  # ⇒ 3 files × 2 records
        behavior_on_error=BehaviorOnError.LOG,
    )
    backend = OffsetZeroFails(LocalEmulatorBackend(str(tmp_path / "kusto")))
    sink = KustoSparkSink(cfg, backend, dlq_writer=dlq.extend)
    sink.process_batch(df, epoch_id=0)
    m = sink.metrics.snapshot()
    assert m["RecordsWritten"] == 4  # 2 surviving files
    assert m["RecordsFailed"] == 2  # only the failed file
    assert m["DlqRecordsSent"] == 2
    dlq_offsets = sorted(int(d["key"].split("offset=")[1].rstrip(".")) for d in dlq)
    assert dlq_offsets == [0, 1]  # the failed file's own records


def test_ingest_runs_concurrently(spark, tmp_path):
    # The staged files of one batch must ingest in parallel (bounded
    # pool), not serially behind each other's latency.
    import threading
    import time as _time

    class SlowBackend:
        def __init__(self):
            self._lock = threading.Lock()
            self.active = 0
            self.max_active = 0

        def ingest_file(self, path, props):
            with self._lock:
                self.active += 1
                self.max_active = max(self.max_active, self.active)
            _time.sleep(0.3)
            with self._lock:
                self.active -= 1
            from kafka_sink_azure_kusto_spark.streaming.backends import IngestResult

            return IngestResult(status="Succeeded", source_id=path)

        def validate(self, props):
            return None

    rows = [(f"k{i}", "x" * 53, "topic1", i % 4, i) for i in range(8)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="csv")],
        flush_size_bytes=100,  # ⇒ 4 files (one per partition)
    )
    backend = SlowBackend()
    sink = KustoSparkSink(cfg, backend)
    t0 = _time.monotonic()
    sink.process_batch(df, epoch_id=0)
    elapsed = _time.monotonic() - t0
    assert backend.max_active >= 2  # genuinely concurrent
    assert elapsed < 4 * 0.3 + 2.0  # not serialized (4 × 0.3 s + slack)


def test_flush_interval_zero_rolls_per_record(spark, tmp_path):
    # B3 (FileWriter.java:298): flush.interval.ms == 0 ⇒ every record
    # rolls its own staged file, for ALL formats — not just avro-bytes.
    cfg = _cfg(
        tmp_path,
        mappings=[
            TopicToTableMapping(topic="topic1", db="db1", table="t", format="json"),
            TopicToTableMapping(topic="*", db="dbW", table="tableW", format="json"),
        ],
        flush_interval_ms=0,
        trigger_interval_ms=100,
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(_records_df(spark, n=5), epoch_id=0)
    log = [e for e in backend.ingest_log() if e["table"] == "t"]
    assert len(log) == 5  # N records ⇒ N files
    assert all(e["records"] == 1 for e in log)


def test_permanent_error_skips_retry(spark, tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    cfg = _cfg(
        tmp_path,
        behavior_on_error=BehaviorOnError.IGNORE,
        retry_max_time_ms=300_000,
        retry_backoff_time_ms=10_000,
    )
    sink = KustoSparkSink(cfg, backend, dlq_writer=lambda rs: None)
    sink.process_batch(_records_df(spark, n=2), epoch_id=0)
    # R3: permanent ⇒ exactly 1 attempt per mapping, not 30
    assert sink.metrics.snapshot()["IngestionAttempts"] == 2


def test_struct_value_encodes_ndjson(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ("a", 1)), (2, ("b", 2))], "offset long, value struct<s:string,i:int>"
    ).select(
        F.lit("topic1").alias("topic"),
        F.lit(0).cast("long").alias("partition"),
        "offset",
        "value",
    )
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="json")],
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    rows = [json.loads(r) for r in backend.table_rows("db1", "t")]
    assert rows == [{"s": "a", "i": 1}, {"s": "b", "i": 2}]


# --------------------------------------------------- unmapped topics (F3)


def _exact_only_cfg(tmp_path, behavior):
    return _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="json")],
        behavior_on_error=behavior,
    )


def test_unmapped_topic_fail_raises_before_staging(spark, tmp_path):
    # KustoSinkTask.java:400-402: no exact mapping and no '*' wildcard is
    # a hard error; the epoch raises before anything is staged or ingested.
    from kafka_sink_azure_kusto_spark.config import ConfigException

    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(_exact_only_cfg(tmp_path, BehaviorOnError.FAIL), backend)
    with pytest.raises(ConfigException, match="'other'"):
        sink.process_batch(_records_df(spark, n=3), epoch_id=0)
    assert backend.ingest_log() == []
    assert not (tmp_path / "staging").exists()
    assert sink.metrics.snapshot()["RecordsWritten"] == 0


@pytest.mark.parametrize("behavior", [BehaviorOnError.LOG, BehaviorOnError.IGNORE])
def test_unmapped_topic_goes_to_dlq(spark, tmp_path, behavior):
    # LOG / IGNORE: an unmapped record is never dropped silently — it
    # reaches the DLQ with its own coordinates and counts as failed.
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    dlq: list[dict] = []
    sink = KustoSparkSink(_exact_only_cfg(tmp_path, behavior), backend, dlq_writer=dlq.extend)
    sink.process_batch(_records_df(spark, n=3), epoch_id=0)
    assert len(backend.table_rows("db1", "t")) == 3
    assert [d["key"] for d in dlq] == [
        "Failed to write record to KustoDB with the following kafka "
        "coordinates, topic=other, partition=0, offset=0."
    ]
    assert json.loads(dlq[0]["value"]) == {"w": 0}
    m = sink.metrics.snapshot()
    assert (m["RecordsWritten"], m["RecordsFailed"], m["DlqRecordsSent"]) == (3, 1, 1)


def test_wildcard_catches_every_topic_without_exact_mapping(spark, tmp_path):
    rows = [(f"k{i}", json.dumps({"i": i}), f"topic{i % 4}", i % 2, i) for i in range(12)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    dlq: list[dict] = []
    sink = KustoSparkSink(_cfg(tmp_path, behavior_on_error=BehaviorOnError.LOG), backend,
                          dlq_writer=dlq.extend)
    sink.process_batch(df, epoch_id=0)
    assert len(backend.table_rows("db1", "table1")) == 3  # topic1 only
    wild = sorted(json.loads(r)["i"] for r in backend.table_rows("dbW", "tableW"))
    assert wild == [i for i in range(12) if i % 4 != 1]
    assert dlq == []
    assert sink.metrics.snapshot()["RecordsFailed"] == 0


# ------------------------------------------------------ one pass per epoch


def _struct_records(spark, topics, n=64):
    return spark.createDataFrame(
        [(f"k{i}", (i, f"n{i}", i * 0.5), topics[i % len(topics)], i % 4, i) for i in range(n)],
        "key string, value struct<id:long,name:string,x:double>, topic string, "
        "partition long, offset long",
    )


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_jobs_per_epoch_do_not_grow_with_mapping_count(spark, tmp_path):
    topics = ["ta", "tb", "tc", "td"]
    df = _struct_records(spark, topics)
    wildcard = _cfg(tmp_path / "w", mappings=[
        TopicToTableMapping(topic="*", db="db", table="all", format="json")
    ])
    exact = _cfg(tmp_path / "x", mappings=[
        TopicToTableMapping(topic=t, db="db", table=f"tbl_{t}", format=f)
        for t, f in zip(topics, ["json", "csv", "avro", "parquet"])
    ])
    counts = []
    for name, cfg in (("wildcard", wildcard), ("exact", exact)):
        backend = LocalEmulatorBackend(str(tmp_path / name / "kusto"))
        sink = KustoSparkSink(cfg, backend)
        counts.append(_jobs_in_group(spark, f"sink-{name}-{tmp_path.name}",
                                     lambda: sink.process_batch(df, epoch_id=0)))
        assert sum(e["records"] for e in backend.ingest_log()) == 64
    assert counts[0] == counts[1], counts


def _stage_recording_tasks(spark, tmp_path, name):
    """Run one executor-side-ingest epoch; return the distinct (stage,
    partition) staging tasks and the staged files' bytes by name."""
    import os
    import shutil

    root, rec = str(tmp_path / name / "kusto"), str(tmp_path / name / "rec")
    os.makedirs(rec)

    class Recording(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            from pyspark import TaskContext

            tc = TaskContext.get()
            open(os.path.join(rec, f"task-{tc.stageId()}-{tc.partitionId()}"), "w").close()
            shutil.copy(path, os.path.join(rec, f"file-{props.table}-{os.path.basename(path)}"))
            return super().ingest_file(path, props)

    rows = [(f"k{i}", json.dumps({"i": i, "pad": "p" * 40}), f"topic{i % 2}", i % 8, i)
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = _cfg(tmp_path / name, flush_size_bytes=1000)
    sink = KustoSparkSink(cfg, LocalEmulatorBackend(root),
                          backend_factory=lambda: Recording(root))
    sink.process_batch(df, epoch_id=0)
    assert sink.metrics.snapshot()["RecordsWritten"] == 400
    names = os.listdir(rec)
    files = {}
    for n in names:
        if n.startswith("file-"):
            with open(os.path.join(rec, n), "rb") as f:
                files[n] = f.read()
    return {n for n in names if n.startswith("task-")}, files


def test_small_batch_stages_in_one_task(spark, tmp_path):
    tasks, files = _stage_recording_tasks(spark, tmp_path, "small")
    assert len(tasks) == 1
    assert len(files) > 8  # many rolled files, all from the one task


def test_staging_tasks_follow_advisory_partition_size(spark, tmp_path):
    _, one_task_files = _stage_recording_tasks(spark, tmp_path, "default")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
    try:
        tasks, files = _stage_recording_tasks(spark, tmp_path, "lowered")
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert len(tasks) > 1
    assert files == one_task_files  # byte-identical staged files


# ---------------------------------- per-epoch expressions are SQL text


def _py4j_commands(monkeypatch, fn):
    """Number of py4j commands the calling thread sends while ``fn`` runs.
    Commands of other threads are not counted: py4j's finalizer thread
    sends one delete per garbage-collected Java reference whenever it
    wakes, which is unrelated to ``fn``."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent = [0]
    real = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent[0] += 1
        return real(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        fn()
    return sent[0]


def test_route_construction_cost_does_not_grow_with_mappings(spark, monkeypatch):
    from kafka_sink_azure_kusto_spark.functions.routing import with_route

    df = spark.createDataFrame([("t0", 0)], "topic string, offset long")

    def build(n):
        mappings = [TopicToTableMapping(topic=f"t{i}", db="db", table=f"tbl{i}")
                    for i in range(n)]
        return lambda: with_route(df, mappings)

    build(2)()  # first use loads the expression classes
    counts = [_py4j_commands(monkeypatch, build(n)) for n in (2, 64)]
    assert counts[0] > 0
    assert counts[0] == counts[1], counts


def test_failed_records_construction_cost_does_not_grow_with_ranges(spark, monkeypatch):
    from pyspark.sql import Row

    from kafka_sink_azure_kusto_spark.streaming.sink import _failed_records

    def build(n):
        # every other file fails, so each failed file is its own range
        staged = [Row(topic="t", partition=p, file_offset=2 * i, last_offset=2 * i + 1)
                  for p in range(2) for i in range(n)]
        failed = [s for i, s in enumerate(staged) if i % 2 == 0]
        return lambda: _failed_records(failed, staged)

    build(1)()
    counts = [_py4j_commands(monkeypatch, build(n)) for n in (2, 400)]
    assert counts[0] > 0
    assert counts[0] == counts[1], counts


def test_dlq_of_a_quoted_topic_holds_exactly_its_failed_records(spark, tmp_path):
    class FailTable(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            if props.table == "bad":
                from kafka_sink_azure_kusto_spark.streaming.backends import (
                    PermanentIngestError,
                )

                raise PermanentIngestError("boom")
            return super().ingest_file(path, props)

    topics = ["o'clock", "plain"]
    rows = [(f"k{i}", "x" * 53, topics[i % 2], i % 3, i) for i in range(60)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="o'clock", db="db", table="bad", format="csv"),
                  TopicToTableMapping(topic="plain", db="db", table="good", format="csv")],
        flush_size_bytes=100,  # 2 records per file: several offset ranges
        behavior_on_error=BehaviorOnError.IGNORE,
    )
    dlq: list[dict] = []
    sink = KustoSparkSink(cfg, FailTable(str(tmp_path / "kusto")), dlq_writer=dlq.extend)
    sink.process_batch(df, epoch_id=0)
    want = sorted(
        f"topic=o'clock, partition={p}, offset={o}." for _, _, t, p, o in rows if t == "o'clock"
    )
    assert sorted(d["key"].split("coordinates, ")[1] for d in dlq) == want
    assert len(sink.backend.table_rows("db", "good")) == 30


# ------------------------------------------ staged files round-trip (Arrow)


_RICH_VALUE = (
    "struct<l:long, s:string, d:double, b:boolean, ts:timestamp, dt:date, "
    "dec:decimal(10,2), arr:array<long>, m:map<string,long>, n:struct<x:long,y:string>>"
)
_RICH_FORMATS = {"tj": "json", "tc": "csv", "ta": "avro", "tp": "parquet"}


def _rich_rows():
    import datetime as dt
    from decimal import Decimal

    topics = sorted(_RICH_FORMATS)
    rows = []
    for i in range(96):
        null = i % 5 == 2
        value = (
            i,
            None if null else f"s{i},'\"é",
            None if i % 7 == 3 else i * 0.25,
            None if null else i % 2 == 0,
            None if i % 6 == 1 else dt.datetime(2024, 1, 1, 12) + dt.timedelta(seconds=37 * i),
            None if null else dt.date(2024, 2, 1) + dt.timedelta(days=i),
            None if i % 4 == 3 else Decimal(i * 101) / 100,
            None if null else [i, None, -i] if i % 3 else [],
            None if null else {"a": i, "b": None},
            None if i % 8 == 5 else (i * 3, None if null else f"y{i}"),
        )
        rows.append((f"k{i}", value, topics[i % 4], (i // 4) % 2, i))
    return rows


_RICH_SCHEMA = f"key string, value {_RICH_VALUE}, topic string, partition long, offset long"


def _rich_records(spark):
    rows = _rich_rows()[::-1]  # the writer, not the input order, must order each file
    return spark.createDataFrame(rows, _RICH_SCHEMA)


def _rich_cfg(tmp_path):
    return _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic=t, db="db", table=f"tbl_{t}", format=f)
                  for t, f in _RICH_FORMATS.items()],
        flush_size_bytes=400,
    )


def _gzip_deflate_level6(data: bytes) -> bool:
    """True when ``data`` is one gzip member whose deflate stream is
    exactly zlib's level-6 output (and the header's XFL says neither
    level 9 nor level 1)."""
    import gzip
    import zlib

    assert data[:3] == b"\x1f\x8b\x08"
    flags, xfl, start = data[3], data[8], 10
    if flags & 0x08:  # FNAME, zero-terminated
        start = data.index(b"\x00", start) + 1
    body = gzip.decompress(data)
    c = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS, zlib.DEF_MEM_LEVEL, 0)
    return xfl == 0 and data[start:-8] == c.compress(body) + c.flush()


def _normalized(value: dict) -> dict:
    """One record as plain values: aware UTC timestamps, maps as dicts."""
    import datetime as dt

    out = dict(value)
    if isinstance(out["ts"], dt.datetime) and out["ts"].tzinfo is None:
        out["ts"] = out["ts"].replace(tzinfo=dt.timezone.utc)  # avro: UTC micros
    if out["ts"] is not None:
        out["ts"] = out["ts"].astimezone(dt.timezone.utc)
    if out["m"] is not None:
        out["m"] = dict(out["m"])
    if out["n"] is not None:
        out["n"] = dict(out["n"])
    return out


class _Capture:
    """Backend that keeps every staged file's bytes by file name."""

    def __init__(self):
        self.files = {}

    def ingest_file(self, path, props):
        import os

        from kafka_sink_azure_kusto_spark.streaming.backends import IngestResult

        with open(path, "rb") as f:
            self.files[os.path.basename(path)] = f.read()
        return IngestResult(status="Succeeded", source_id="capture")

    def validate(self, props):
        return None


def _assert_staged_in_offset_order(df, files: dict) -> None:
    """Every record of ``df`` is staged exactly once, each (topic,
    partition)'s files named by their first offset and holding its
    records in offset order, in every format."""
    import gzip
    import io
    import re

    import pyarrow.parquet as pq

    from kafka_sink_azure_kusto_spark.functions.avro_io import read_container

    # Expected records per (topic, partition) in offset order; text lines
    # from the Column-builder form of each encoding.
    fields = sorted(f"value.{c}" for c in df.schema["value"].dataType.fieldNames())
    expected: dict = {}
    for r in df.orderBy("offset").select(
        "topic", "partition", "offset", "value",
        F.to_json("value").alias("json"),
        F.concat_ws(",", *[F.col(c).cast("string") for c in fields]).alias("csv"),
    ).toArrow().to_pylist():
        fmt = _RICH_FORMATS[r["topic"]]
        rec = r[fmt] if fmt in ("json", "csv") else _normalized(r["value"])
        expected.setdefault((r["topic"], r["partition"]), []).append((r["offset"], rec))

    staged: dict = {}
    for name, data in files.items():
        topic, partition, file_offset, fmt, gz = re.fullmatch(
            r"kafka_(t\w)_(\d+)_(\d+)\.(\w+)(\.gz)?", name
        ).groups()
        assert fmt == {"json": "multijson"}.get(_RICH_FORMATS[topic], _RICH_FORMATS[topic])
        assert bool(gz) == (fmt != "parquet")
        if gz:
            assert _gzip_deflate_level6(data), name
            data = gzip.decompress(data)
        if fmt == "avro":
            records = [_normalized(r) for r in read_container(data)[1]]
        elif fmt == "parquet":
            records = [_normalized(r) for r in pq.read_table(io.BytesIO(data)).to_pylist()]
        else:
            assert data.endswith(b"\n")
            records = data[:-1].decode("utf-8").split("\n")
        staged.setdefault((topic, int(partition)), []).append((int(file_offset), records))

    assert sorted(staged) == sorted(expected)
    assert all(len(rolled) > 2 for rolled in staged.values())  # each partition rolled
    for key, rolled in staged.items():
        want, at = expected[key], 0
        for file_offset, records in sorted(rolled):
            assert file_offset == want[at][0]  # B4: named by its first offset
            assert records == [rec for _, rec in want[at:at + len(records)]]
            at += len(records)
        assert at == len(want)


def test_staged_files_round_trip_every_format(spark, tmp_path):
    df = _rich_records(spark)
    backend = _Capture()
    KustoSparkSink(_rich_cfg(tmp_path), backend).process_batch(df, epoch_id=0)
    _assert_staged_in_offset_order(df, backend.files)


def test_staged_files_do_not_depend_on_arrow_batch_size(spark, tmp_path):
    # Each (topic, partition) arrives over 3 input splits with interleaved
    # offsets. At 7 records per Arrow batch each partition's 12 records
    # reach the writer in two batches, and some file spans both: the roll
    # must carry its byte count across the batch boundary.
    rows = sorted(_rich_rows(), key=lambda r: (r[4] % 3, -r[4]))
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), _RICH_SCHEMA)
    assert df.rdd.getNumPartitions() == 3
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    staged = {}
    for records_per_batch in ("7", None):
        backend = _Capture()
        saved = spark.conf.get(key, None)
        if records_per_batch:
            spark.conf.set(key, records_per_batch)
        try:
            sink = KustoSparkSink(_rich_cfg(tmp_path / str(records_per_batch)), backend)
            sink.process_batch(df, epoch_id=0)
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)
        staged[records_per_batch] = backend.files
    assert staged["7"] == staged[None]  # byte-identical
    _assert_staged_in_offset_order(df, staged["7"])
    offsets: dict = {}  # per (topic, partition), in offset order
    for _, _, t, p, o in sorted(rows, key=lambda r: r[4]):
        offsets.setdefault((t, p), []).append(o)
    starts = {(t, int(p), int(o)) for t, p, o in
              (name.split(".")[0].split("_")[1:] for name in staged["7"])}
    # the 8th record opens the second batch; a file spans the boundary
    # when that record does not open a file
    assert any((t, p, o[7]) not in starts for (t, p), o in offsets.items())


def test_staged_files_and_manifest_do_not_depend_on_arrow_batch_size(
    spark, tmp_path, monkeypatch
):
    # The epoch stages in one task, which gets all eight (topic,
    # partition) runs in order. At 7 records per Arrow batch most batches
    # end inside a run and some file spans a batch boundary, so a writer
    # that split or rolled runs on batch boundaries would name, fill or
    # count files differently than with the default batch size.
    rows = _rich_rows()
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows[::-1], 3), _RICH_SCHEMA)
    manifests, files = [], []
    real = KustoSparkSink._stage

    def recording(self, *args):
        manifests.append(real(self, *args))
        return manifests[-1]

    monkeypatch.setattr(KustoSparkSink, "_stage", recording)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    for records_per_batch in ("7", None):
        backend = _Capture()
        saved = spark.conf.get(key, None)
        if records_per_batch:
            spark.conf.set(key, records_per_batch)
        try:
            KustoSparkSink(_rich_cfg(tmp_path), backend).process_batch(df, epoch_id=0)
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)
        files.append(backend.files)
    assert files[0] == files[1]  # names and bytes
    assert manifests[0] == manifests[1]  # paths, offsets, counts, sizes
    assert sum(s.records for s in manifests[0]) == len(rows)
    # some file spans a boundary between two 7-record batches of the task
    at, spans = 0, False
    for s in sorted(manifests[0], key=lambda s: (s.topic, s.partition, s.file_offset)):
        spans |= at // 7 != (at + s.records - 1) // 7
        at += s.records
    assert spans


def test_failing_epochs_compile_no_new_code(spark, tmp_path):
    # The DLQ predicate takes each epoch's failed offset ranges as data,
    # so a second failing epoch with other offsets, partitions and range
    # counts runs the classes the first one compiled.
    from kafka_sink_azure_kusto_spark.streaming.backends import PermanentIngestError

    class FailTable(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            if props.table == "bad":
                raise PermanentIngestError("boom")
            return super().ingest_file(path, props)

    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="bad", db="db", table="bad", format="csv"),
                  TopicToTableMapping(topic="*", db="db", table="good", format="csv")],
        flush_size_bytes=100,  # two 54-byte lines per file
        behavior_on_error=BehaviorOnError.LOG,
    )
    dlq: list[dict] = []
    sink = KustoSparkSink(cfg, FailTable(str(tmp_path / "kusto")), dlq_writer=dlq.extend)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def epoch(epoch_id, first_offset, n, partitions):
        rows = [(f"k{i}", "x" * 53, ("bad", "good")[i % 2], i % partitions, first_offset + i)
                for i in range(n)]
        df = spark.createDataFrame(
            rows, "key string, value string, topic string, partition long, offset long"
        )
        before, sent = compiles.getCount(), len(dlq)
        sink.process_batch(df, epoch_id=epoch_id)
        assert len(dlq) - sent == n // 2  # every record of the failing topic
        return compiles.getCount() - before

    epoch(0, 0, 24, 3)
    assert epoch(1, 5000, 60, 4) == 0


def test_empty_line_inside_a_failed_file_is_neither_staged_nor_sent_to_dlq(spark, tmp_path):
    # F2 drops the empty record (offset 3) after the encoded frame is
    # persisted; it sits inside the failing file [2, 4], whose other
    # records reach the DLQ once each.
    import gzip

    from kafka_sink_azure_kusto_spark.streaming.backends import PermanentIngestError

    class FailSecondFile(LocalEmulatorBackend):
        failed_body = None

        def ingest_file(self, path, props):
            if path.endswith("kafka_topic1_0_2.csv.gz"):
                with gzip.open(path) as f:
                    self.failed_body = f.read()
                raise PermanentIngestError("boom")
            return super().ingest_file(path, props)

    rows = [(f"k{i}", "" if i == 3 else f"{i}" * 53, "topic1", 0, i) for i in range(6)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    cfg = _cfg(
        tmp_path,
        mappings=[TopicToTableMapping(topic="topic1", db="db1", table="t", format="csv")],
        flush_size_bytes=100,  # 54-byte lines: files [0, 1], [2, 4], [5]
        behavior_on_error=BehaviorOnError.LOG,
    )
    dlq: list[dict] = []
    backend = FailSecondFile(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend, dlq_writer=dlq.extend)
    sink.process_batch(df, epoch_id=0)
    assert backend.failed_body == b"2" * 53 + b"\n" + b"4" * 53 + b"\n"
    assert sorted(backend.table_rows("db1", "t")) == ["0" * 53, "1" * 53, "5" * 53]
    assert sorted(d["key"].split("offset=")[1] for d in dlq) == ["2.", "4."]
    assert sorted(d["value"] for d in dlq) == ["2" * 53, "4" * 53]
    m = sink.metrics.snapshot()
    assert (m["RecordsWritten"], m["RecordsFailed"], m["DlqRecordsSent"]) == (3, 2, 2)


# ------------------------------------------------- staging plan guards


def _plans_at(spark, monkeypatch, method, fn):
    """Physical plans of the frames ``method`` is called on while ``fn``
    runs, each taken before the call executes it."""
    cls = type(spark.range(1))
    real = getattr(cls, method)
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(cls, method, spy)
        fn()
    return plans


def _every_format_epoch(spark, tmp_path):
    topics = ["ta", "tb", "tc", "td"]
    cfg = _cfg(tmp_path, mappings=[
        TopicToTableMapping(topic=t, db="db", table=f"tbl_{t}", format=f)
        for t, f in zip(topics, ["json", "csv", "avro", "parquet"])
    ])
    sink = KustoSparkSink(cfg, LocalEmulatorBackend(str(tmp_path / "kusto")))
    return lambda: sink.process_batch(_struct_records(spark, topics), epoch_id=0)


def test_staging_plan_sorts_once_and_has_no_window(spark, tmp_path, monkeypatch):
    import re

    plans = _plans_at(spark, monkeypatch, "collect", _every_format_epoch(spark, tmp_path))
    staging = [p for p in plans if "MapInArrow" in p]
    assert len(staging) == 1, plans
    plan = staging[0]
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert not re.search(r"\bWindow \[", plan), plan
    # one Python call per staging task, fed the sorted (topic, partition, offset) rows
    assert re.search(r"MapInArrow \w+\(topic#\d+, partition#\d+L, offset#\d+L,", plan), plan


def test_no_filter_below_the_cache_reruns_the_encoder(spark, tmp_path, monkeypatch):
    plans = _plans_at(spark, monkeypatch, "persist", _every_format_epoch(spark, tmp_path))
    assert len(plans) == 1, plans
    encoder = ("to_json", "StructsToJson", "concat_ws")
    assert all(e in plans[0] for e in encoder[1:])  # the cache holds the encoded lines
    filters = [line for line in plans[0].splitlines() if "Filter " in line]
    assert filters, plans[0]  # the tombstone filter
    assert not [f for f in filters if any(e in f for e in encoder)], filters
