"""DLQ tests (K3, TopicPartitionWriter.java:210-233 /
KustoSinkTask.java:442-458) — property surface round-trip, byte-exact
producer sends via an in-process fake producer (no broker in CI), and
which destination a sink's failed records reach."""

import base64
import functools
import json
import os

import pytest

from kafka_sink_azure_kusto_spark.config import KustoSinkConfig, TopicToTableMapping
from kafka_sink_azure_kusto_spark.streaming.backends import LocalEmulatorBackend
from kafka_sink_azure_kusto_spark.streaming.dlq import (
    FileDlqProducer,
    executor_partition_sender,
)
from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink


class FakeProducer:
    def __init__(self):
        self.sent: list[tuple[str, bytes, bytes]] = []
        self.flushes = 0
        self.closes = 0

    def send(self, topic, key=None, value=None):
        self.sent.append((topic, key, value))

    def flush(self):
        self.flushes += 1

    def close(self):
        self.closes += 1


CONNECT_PROPS = {
    "kusto.ingestion.url": "https://ingest-c.kusto.windows.net",
    "kusto.tables.topics.mapping": '[{"topic":"t1","db":"db","table":"tb","format":"json"}]',
    "behavior.on.error": "log",
    "misc.deadletterqueue.bootstrap.servers": "dlq-broker:9092",
    "misc.deadletterqueue.topic.name": "dlq.topic",
    "misc.deadletterqueue.security.protocol": "SASL_SSL",
    "misc.deadletterqueue.sasl.mechanism": "PLAIN",
    "misc.deadletterqueue.ssl.truststore.location": "/tmp/ts.jks",
}


def test_dlq_props_roundtrip_from_connect_properties():
    # KustoSinkConfig.getDlqProps parity (KustoSinkConfig.java:465-472):
    # prefix-stripped pass-through + bootstrap + byte-array serializers.
    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    assert cfg.dlq_enabled
    assert cfg.dlq_props == {
        "security.protocol": "SASL_SSL",
        "sasl.mechanism": "PLAIN",
        "ssl.truststore.location": "/tmp/ts.jks",
    }
    props = cfg.dlq_producer_props()
    assert props["bootstrap.servers"] == "dlq-broker:9092"
    assert props["security.protocol"] == "SASL_SSL"
    assert props["key.serializer"].endswith("ByteArraySerializer")
    assert props["value.serializer"].endswith("ByteArraySerializer")
    # DLQ keys are owned, not generic extras
    assert not any(k.startswith("misc.deadletterqueue") for k in cfg.extra)


def test_executor_partition_sender_sends_key_value_bytes():
    fake = FakeProducer()
    built = []
    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    send = executor_partition_sender(
        cfg.dlq_topic_name,
        cfg.dlq_producer_props(),
        lambda props: built.append(props) or fake,
    )
    send(
        iter(
            [
                {"key": "coords-0", "value": '{"a": 1}'},
                {"key": b"coords-1", "value": b"\x00binary\xff"},
            ]
        )
    )
    assert fake.sent == [
        ("dlq.topic", b"coords-0", b'{"a": 1}'),
        ("dlq.topic", b"coords-1", b"\x00binary\xff"),
    ]
    assert built == [cfg.dlq_producer_props()]  # one producer per partition
    assert fake.flushes == 1
    assert fake.closes == 1


def test_default_dlq_producer_gates_without_client():
    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    # default factory, no kafka-python
    send = executor_partition_sender(cfg.dlq_topic_name, cfg.dlq_producer_props())
    with pytest.raises(NotImplementedError, match="kafka-python"):
        send(iter([{"key": "k", "value": "v"}]))


def _read_file_dlq(directory) -> list[tuple[str, bytes, bytes]]:
    """(topic, key, value) of every record FileDlqProducer wrote, by offset."""
    records = []
    for name in os.listdir(directory):
        with open(os.path.join(directory, name)) as f:
            for line in f:
                r = json.loads(line)
                records.append(
                    (r["topic"], base64.b64decode(r["key"]), base64.b64decode(r["value"]))
                )
    return sorted(records, key=lambda r: int(r[1].split(b"offset=")[1].rstrip(b".")))


def _capture_factory(directory):
    return functools.partial(FileDlqProducer, directory=str(directory))


def test_sink_wires_kafka_dlq_from_config(spark, tmp_path):
    # End-to-end: DLQ-configured sink + failing backend ⇒ failed records
    # reach the executor producer with the configured topic and
    # per-record coordinate keys.
    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    cfg.staging_dir = str(tmp_path / "staging")
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    sink = KustoSparkSink(
        cfg, backend, dlq_partition_producer_factory=_capture_factory(tmp_path / "capture")
    )
    rows = [(f"k{i}", json.dumps({"n": i}), "t1", 0, i) for i in range(3)]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )
    sink.process_batch(df, epoch_id=0)  # behavior=log ⇒ no raise
    sent = _read_file_dlq(tmp_path / "capture")
    assert len(sent) == 3
    for i, (topic, key, value) in enumerate(sent):
        assert topic == "dlq.topic"
        assert f"topic=t1, partition=0, offset={i}.".encode() in key
        assert json.loads(value) == {"n": i}
    assert sink.metrics.snapshot()["DlqRecordsSent"] == 3


def test_producer_factory_coerces_bool_and_acks(monkeypatch):
    # kafka-python rejects string acks ('1') and treats 'false' as truthy
    # for ssl_check_hostname — the factory must coerce Java-prop strings.
    import sys
    import types

    captured = {}

    class CapturingProducer:
        def __init__(self, **kwargs):
            captured.update(kwargs)

    fake_kafka = types.ModuleType("kafka")
    fake_kafka.KafkaProducer = CapturingProducer
    monkeypatch.setitem(sys.modules, "kafka", fake_kafka)

    from kafka_sink_azure_kusto_spark.streaming.dlq import _default_producer_factory

    _default_producer_factory(
        {
            "bootstrap.servers": "b:9092",
            "ssl.check.hostname": "false",
            "acks": "1",
            "retries": "3",
        }
    )
    assert captured["ssl_check_hostname"] is False
    assert captured["acks"] == 1
    assert captured["retries"] == 3

    captured.clear()
    _default_producer_factory(
        {"bootstrap.servers": "b:9092", "ssl.check.hostname": "TRUE", "acks": "all"}
    )
    assert captured["ssl_check_hostname"] is True
    assert captured["acks"] == "all"


# ------------------------------------------------------- sink DLQ routes


def _failed_batch_df(spark):
    rows = [(f"k{i}", json.dumps({"n": i}), "t1", 0, i) for i in range(6)]
    return spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )


def test_executor_side_dlq_bytes_match_driver_path(spark, tmp_path):
    # --- driver path: the injected dlq_writer seam ---
    written: list[dict] = []
    cfg_d = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    cfg_d.staging_dir = str(tmp_path / "staging_d")
    sink_d = KustoSparkSink(
        cfg_d,
        LocalEmulatorBackend(str(tmp_path / "kusto_d"), permanent_fail=True),
        dlq_writer=written.extend,
    )
    sink_d.process_batch(_failed_batch_df(spark), epoch_id=0)
    driver_records = {(r["key"].encode("utf-8"), r["value"].encode("utf-8")) for r in written}
    assert len(driver_records) == 6

    # --- executor path: the producer's bytes ---
    cfg_e = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    cfg_e.staging_dir = str(tmp_path / "staging_e")
    sink_e = KustoSparkSink(
        cfg_e,
        LocalEmulatorBackend(str(tmp_path / "kusto_e"), permanent_fail=True),
        dlq_partition_producer_factory=_capture_factory(tmp_path / "capture"),
    )
    sink_e.process_batch(_failed_batch_df(spark), epoch_id=0)
    sent = _read_file_dlq(tmp_path / "capture")
    assert {t for t, _, _ in sent} == {"dlq.topic"}
    assert {(k, v) for _, k, v in sent} == driver_records  # byte-identical per record
    assert sink_e.metrics.snapshot()["DlqRecordsSent"] == 6


def _log_cfg(tmp_path):
    return KustoSinkConfig(
        ingest_url="https://ingest-c.kusto.windows.net",
        mappings=[TopicToTableMapping(topic="t1", db="db", table="tb", format="json")],
        staging_dir=str(tmp_path / "staging"),
        behavior_on_error="LOG",
    )


def test_injected_producer_factory_without_dlq_config_gets_every_record(spark, tmp_path):
    # No Kafka DLQ configured: an injected executor producer factory is
    # still the destination — the file fallback must not replace it.
    sink = KustoSparkSink(
        _log_cfg(tmp_path),
        LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True),
        dlq_partition_producer_factory=_capture_factory(tmp_path / "capture"),
    )
    sink.process_batch(_failed_batch_df(spark), epoch_id=0)
    sent = _read_file_dlq(tmp_path / "capture")
    assert [json.loads(v)["n"] for _, _, v in sent] == list(range(6))
    assert {t for t, _, _ in sent} == {"dlq.db.tb"}
    assert not (tmp_path / "staging" / "_dlq").exists()
    assert sink.metrics.snapshot()["DlqRecordsSent"] == 6


def test_injected_dlq_writer_wins_over_configured_kafka_dlq(spark, tmp_path):
    written: list[dict] = []
    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    cfg.staging_dir = str(tmp_path / "staging")
    sink = KustoSparkSink(
        cfg,
        LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True),
        dlq_writer=written.extend,
    )
    sink.process_batch(_failed_batch_df(spark), epoch_id=0)
    assert [json.loads(r["value"])["n"] for r in written] == list(range(6))
    assert all("topic=t1, partition=0" in r["key"] for r in written)
    assert not (tmp_path / "staging" / "_dlq").exists()
    assert sink.metrics.snapshot()["DlqRecordsSent"] == 6


def test_configured_kafka_dlq_without_factory_uses_kafka_producer(spark, tmp_path):
    # A Kafka DLQ configured with no injected factory or writer must go
    # to the kafka-python producer (gated here: the package is absent,
    # so the epoch fails loudly), never silently to staging/_dlq.
    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    cfg.staging_dir = str(tmp_path / "staging")
    sink = KustoSparkSink(
        cfg, LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    )
    with pytest.raises(Exception, match="requires the kafka-python package"):
        sink.process_batch(_failed_batch_df(spark), epoch_id=0)
    assert not (tmp_path / "staging" / "_dlq").exists()


def test_fallback_file_dlq_writes_from_executors(spark, tmp_path):
    # No custom writer, no producer factory, no Kafka DLQ config: the
    # fallback must still land failed records as JSONL under
    # staging/_dlq WITHOUT collecting the failure tail to the driver,
    # and dlq_records_sent must count delivered records.
    sink = KustoSparkSink(
        _log_cfg(tmp_path), LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True)
    )
    sink.process_batch(_failed_batch_df(spark), epoch_id=0)

    records = _read_file_dlq(tmp_path / "staging" / "_dlq")
    assert len(records) == 6
    assert {t for t, _, _ in records} == {"dlq.db.tb"}
    values = {json.loads(v)["n"] for _, _, v in records}
    assert values == set(range(6))
    for _, k, _ in records:
        assert k.startswith(b"Failed to write record to KustoDB")
    assert sink.metrics.snapshot()["DlqRecordsSent"] == 6


def test_executor_dlq_metric_counts_sent_records(spark, tmp_path):
    # The executor path evaluates the failure frame ONCE and counts via
    # accumulator — a partition whose producer dies before flush must
    # not be counted as sent.
    class ExplodingFileProducer(FileDlqProducer):
        def flush(self):
            raise RuntimeError("broker gone")

    cfg = KustoSinkConfig.from_connect_properties(CONNECT_PROPS)
    cfg.staging_dir = str(tmp_path / "staging")
    sink = KustoSparkSink(
        cfg,
        LocalEmulatorBackend(str(tmp_path / "kusto"), permanent_fail=True),
        dlq_partition_producer_factory=functools.partial(
            ExplodingFileProducer, directory=str(tmp_path / "capture")
        ),
    )
    with pytest.raises(Exception):
        sink.process_batch(_failed_batch_df(spark), epoch_id=0)
    assert sink.metrics.snapshot()["DlqRecordsSent"] == 0
