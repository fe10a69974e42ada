"""Executor-side ingestion mode: staging group ingests its own rolled
file where it wrote it (no shared staging_dir, parallelism = staging
tasks). Asserts result parity with driver mode, per-file failure
isolation, retry accounting, and co-located cleanup."""

import json
import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from kafka_sink_azure_kusto_spark.config import (
    BehaviorOnError,
    KustoSinkConfig,
    TopicToTableMapping,
)
from kafka_sink_azure_kusto_spark.streaming.backends import LocalEmulatorBackend
from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink


def _cfg(tmp_path, **kw):
    return KustoSinkConfig(
        ingest_url="https://ingest.example.kusto.windows.net",
        mappings=[
            TopicToTableMapping(topic="topic1", db="db1", table="t1", format="json"),
            TopicToTableMapping(topic="*", db="dbW", table="tW", format="json"),
        ],
        staging_dir=str(tmp_path / "staging"),
        **kw,
    )


def _records_df(spark, n=10):
    rows = [(f"k{i}", json.dumps({"n": i}), "topic1", 0, i) for i in range(n)]
    rows.append(("w", json.dumps({"w": 1}), "other", 0, 0))
    return spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )


def test_executor_ingest_parity_with_driver_mode(spark, tmp_path):
    root = str(tmp_path / "kusto")
    backend = LocalEmulatorBackend(root)
    sink = KustoSparkSink(
        _cfg(tmp_path),
        backend,
        backend_factory=lambda: LocalEmulatorBackend(root),
    )
    sink.process_batch(_records_df(spark, n=10), epoch_id=0)
    rows = backend.table_rows("db1", "t1")
    assert [json.loads(r)["n"] for r in rows] == list(range(10))
    assert backend.table_rows("dbW", "tW") == ['{"w": 1}']
    m = sink.metrics.snapshot()
    assert m["RecordsWritten"] == 11
    assert m["IngestionSuccesses"] == 2
    assert m["IngestionAttempts"] == 2
    # B5 — files were cleaned up ON the executor, none left behind
    staged_left = [
        p for p, _, files in os.walk(tmp_path / "staging") for p in files
    ]
    assert staged_left == []
    # B4 — naming preserved through the executor path
    assert {e["file"] for e in backend.ingest_log()} == {
        "kafka_topic1_0_0.multijson.gz",
        "kafka_other_0_0.multijson.gz",
    }


def test_executor_ingest_retry_and_failure_isolation(spark, tmp_path):
    # Backend fails permanently only for db1 → its records DLQ with
    # per-record offsets; the wildcard mapping still succeeds.
    root = str(tmp_path / "kusto")

    class SelectiveFail(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            if props.database == "db1":
                from kafka_sink_azure_kusto_spark.streaming.backends import (
                    PermanentIngestError,
                )

                raise PermanentIngestError("emulated db1 outage")
            return super().ingest_file(path, props)

    dlq: list[dict] = []
    backend = LocalEmulatorBackend(root)
    sink = KustoSparkSink(
        _cfg(tmp_path, behavior_on_error=BehaviorOnError.LOG),
        backend,
        dlq_writer=dlq.extend,
        backend_factory=lambda: SelectiveFail(root),
    )
    sink.process_batch(_records_df(spark, n=3), epoch_id=0)  # must NOT raise
    assert backend.table_rows("dbW", "tW") == ['{"w": 1}']  # sibling unharmed
    m = sink.metrics.snapshot()
    assert m["RecordsWritten"] == 1 and m["RecordsFailed"] == 3
    assert m["IngestionAttempts"] == 2  # permanent ⇒ 1 attempt each mapping
    assert sorted(int(d["key"].split("offset=")[1].rstrip(".")) for d in dlq) == [0, 1, 2]


def test_executor_ingest_fail_mode_raises(spark, tmp_path):
    root = str(tmp_path / "kusto")

    class AlwaysFail(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            from kafka_sink_azure_kusto_spark.streaming.backends import (
                PermanentIngestError,
            )

            raise PermanentIngestError("down")

    sink = KustoSparkSink(
        _cfg(tmp_path, behavior_on_error=BehaviorOnError.FAIL),
        LocalEmulatorBackend(root),
        backend_factory=lambda: AlwaysFail(root),
    )
    with pytest.raises(RuntimeError, match="executor-side ingestion failed"):
        sink.process_batch(_records_df(spark, n=2), epoch_id=0)


def test_warmup_with_executor_ingest_leaves_no_trace(spark, tmp_path):
    # warmup_on_attach + executor-side ingest: the 64 synthetic warmup
    # records must NOT reach the real backend through the executor-side
    # backend_factory path — the warmup clears the factory and ingests
    # on the driver into the null backend (executor mode ignores
    # self.backend).
    from kafka_sink_azure_kusto_spark.sources.replay import (
        replay_stream,
        stage_replay_dir,
    )

    root = str(tmp_path / "kusto")
    records = _records_df(spark, n=10)
    stage_replay_dir(records, str(tmp_path / "replay"), chunks=2)
    backend = LocalEmulatorBackend(root)

    def factory():
        return LocalEmulatorBackend(root)

    sink = KustoSparkSink(
        _cfg(
            tmp_path,
            checkpoint_location=str(tmp_path / "ckpt"),
            warmup_on_attach=True,
        ),
        backend,
        backend_factory=factory,
    )
    q = sink.attach(
        replay_stream(spark, str(tmp_path / "replay")),
        query_name="warm_exec",
        available_now=True,
    )
    q.awaitTermination(120)
    q.stop()
    # only the 11 real records landed; zero warmup rows, zero warmup files
    rows = backend.table_rows("db1", "t1")
    assert len(rows) == 10
    assert backend.table_rows("dbW", "tW") == ['{"w": 1}']
    assert all("epoch=-1" not in e["file"] for e in backend.ingest_log())
    assert len(backend.ingest_log()) == len(
        {e["file"] for e in backend.ingest_log()}
    )
    # the warmup restores the factory: executor-side ingest stays on
    assert sink._backend_factory is factory
