"""Miscellaneous dead-letter-queue producers (SURVEY §2.5 K3).

The reference ships failed records to a Kafka topic through a dedicated
byte-array producer built from the ``misc.deadletterqueue.*`` property
set (KustoSinkTask.java:442-458; props KustoSinkConfig.java:437-472) and
sends one record per failed sink record with the error-coordinates key
(TopicPartitionWriter.java:210-233).

Spark rendition: the failure tail already sits in a distributed frame,
so DLQ records are produced from the executors
(``executor_partition_sender`` under ``foreachPartition``), one producer
per partition task. The producer is injectable (a picklable
``callable(props) -> producer``) so tests assert the exact key/value
bytes without a broker; the default factory uses kafka-python when
present and raises a clear gate error otherwise (kafka-python is an
optional dependency — same policy as the SDK-gated Kusto backends).
``FileDlqProducer`` is the producer when no DLQ is configured.
"""

from __future__ import annotations

import logging
from typing import Callable, Optional

log = logging.getLogger(__name__)


def _default_producer_factory(props: dict):
    """Build a kafka-python producer from reference-style props
    (bootstrap.servers + pass-through security keys). Gated import:
    kafka-python is optional, like azure-kusto-ingest for the backends."""
    try:
        from kafka import KafkaProducer  # type: ignore[import-not-found]
    except ImportError as e:
        raise NotImplementedError(
            "the Kafka DLQ requires the kafka-python package, which is not "
            "installed; inject dlq_partition_producer_factory or use the "
            "default file DLQ"
        ) from e
    # kafka-python accepts only ITS OWN kwarg vocabulary — a blanket
    # dot→underscore rename of Java client props would crash producer
    # construction on the first DLQ batch (e.g. ssl.truststore.location
    # has no kafka-python equivalent). Translate the supported keys,
    # coerce numerics, and WARN-skip the rest instead of dying inside a
    # LOG/IGNORE error path whose whole job is to keep the query alive.
    _TRANSLATABLE = {
        "security.protocol": "security_protocol",
        "sasl.mechanism": "sasl_mechanism",
        "sasl.plain.username": "sasl_plain_username",
        "sasl.plain.password": "sasl_plain_password",
        "sasl.kerberos.service.name": "sasl_kerberos_service_name",
        "ssl.cafile": "ssl_cafile",
        "ssl.certfile": "ssl_certfile",
        "ssl.keyfile": "ssl_keyfile",
        "ssl.password": "ssl_password",
        "ssl.check.hostname": "ssl_check_hostname",
        "client.id": "client_id",
        "acks": "acks",
        "retries": "retries",
        "linger.ms": "linger_ms",
        "request.timeout.ms": "request_timeout_ms",
        "max.block.ms": "max_block_ms",
        "compression.type": "compression_type",
    }
    _INT_KWARGS = {"retries", "linger_ms", "request_timeout_ms", "max_block_ms"}
    _BOOL_KWARGS = {"ssl_check_hostname"}
    kwargs = {"bootstrap_servers": props.get("bootstrap.servers")}
    for k, v in props.items():
        if k in ("bootstrap.servers", "key.serializer", "value.serializer"):
            continue  # serializers: we hand the producer raw bytes already
        dest = _TRANSLATABLE.get(k)
        if dest is None:
            log.warning(
                "DLQ producer property %r has no kafka-python equivalent; skipped", k
            )
            continue
        if dest in _INT_KWARGS:
            v = int(v)
        elif dest in _BOOL_KWARGS:
            # Java props arrive as strings; 'false' must not become truthy
            v = str(v).strip().lower() in ("true", "1")
        elif dest == "acks":
            # kafka-python accepts 0/1 as ints or the literal 'all'
            v = v if str(v).strip().lower() == "all" else int(v)
        kwargs[dest] = v
    return KafkaProducer(**kwargs)


def _to_bytes(v) -> bytes:
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


class FileDlqProducer:
    """Producer-shaped file writer for executor-side DLQ when no broker
    is reachable (or configured): records buffer per task and land as a
    uniquely-named base64 JSONL file under ``directory`` on flush —
    point it at shared storage in a real cluster. Base64 keeps binary
    Avro values lossless in JSONL. Also serves as the byte-capture test
    seam for the Kafka path (same send/flush/close surface).

    Use via ``functools.partial(FileDlqProducer, directory=...)`` as the
    sink's ``dlq_partition_producer_factory``."""

    def __init__(self, props: dict, directory: str):
        self.props = props
        self.directory = directory
        self._buf: list[dict] = []

    def send(self, topic, key=None, value=None) -> None:
        import base64

        self._buf.append(
            {
                "topic": topic,
                "key": base64.b64encode(_to_bytes(key)).decode("ascii"),
                "value": base64.b64encode(_to_bytes(value)).decode("ascii"),
            }
        )

    def flush(self) -> None:
        import json as _json
        import os
        import uuid

        if not self._buf:
            return
        os.makedirs(self.directory, exist_ok=True)
        path = os.path.join(self.directory, f"dlq_{uuid.uuid4().hex}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            for r in self._buf:
                f.write(_json.dumps(r) + "\n")
        self._buf = []

    def close(self) -> None:
        self.flush()


def executor_partition_sender(
    topic: str,
    producer_props: dict,
    producer_factory: Optional[Callable[[dict], object]] = None,
    counter=None,
):
    """Executor-side DLQ production: returns a picklable per-partition
    callable for ``DataFrame.foreachPartition`` over (key, value) rows.

    Each task builds ONE producer for its partition, streams its rows,
    flushes, and closes — so DLQ throughput scales with the cluster and
    no failure tail is ever collected to the driver. Keys and values
    are sent as raw bytes (ByteArraySerializer parity): str as UTF-8,
    bytes verbatim.

    ``counter`` is an optional Spark accumulator incremented only AFTER
    a partition's records have been handed to the producer and flushed,
    so the sink's dlq_records_sent metric reflects delivered-to-producer
    records rather than the pre-send candidate count (task retries under
    at-least-once may still over-count, never a partition that died
    before flush)."""
    factory = producer_factory or _default_producer_factory

    def send_partition(rows) -> None:
        producer = None
        n = 0
        try:
            for r in rows:
                if producer is None:  # lazy: empty partitions build nothing
                    producer = factory(producer_props)
                producer.send(topic, key=_to_bytes(r["key"]), value=_to_bytes(r["value"]))
                n += 1
            if producer is not None:
                producer.flush()
            if counter is not None and n:
                counter.add(n)
        finally:
            if producer is not None:
                try:
                    producer.close()
                except Exception:  # noqa: BLE001 — close is best-effort
                    log.warning("executor DLQ producer close failed", exc_info=True)

    return send_partition
