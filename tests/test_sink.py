"""Sink data-plane tests: process_batch on static DataFrames (the Spark
analog of TopicPartitionWriterTest put()-driven tests) and a full
Structured Streaming E2E through the replay source + LocalEmulatorBackend
(the SURVEY §5 rebuild test plan, mirroring KustoSinkIT's round-trip)."""

import json

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
    # Per-file outcome tracking: 3 rolled files, the first ingest fails
    # permanently via a flaky wrapper — only that file's records may land
    # in the DLQ; the other files' records count as written.
    class FirstCallFails:
        def __init__(self, inner):
            self.inner = inner
            self.calls = 0

        def ingest_file(self, path, props):
            self.calls += 1
            if self.calls == 1:
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
        ingest_threads=1,  # deterministic: first submitted file fails
    )
    backend = FirstCallFails(LocalEmulatorBackend(str(tmp_path / "kusto")))
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
    sink = KustoSparkSink(cfg, LocalEmulatorBackend(root), executor_side_ingest=True,
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
