"""The foreachBatch sink orchestrator — the data plane of the rebuild
(SURVEY §3.2): tombstone-filter → route → encode → stage gzipped rolled
files → ingest with retry → DLQ/raise per behavior.on.error → metrics.

Delivery semantics (R1): Structured Streaming writes the checkpoint
``commits/`` entry only after foreachBatch returns without raising, so a
failed ingest replays the whole micro-batch — the same at-least-once
guarantee as the reference's lastCommittedOffset scheme with replay
granularity of a micro-batch instead of a file (SURVEY §7.4).

Scale notes:
- One pass per epoch, whatever the mapping count: every record is
  routed once (the compiled CASE of ``functions.routing.with_route``)
  and encoded once, JVM-side (one ``line`` CASE on the route's format).
  The encoded frame is persisted, so the source is read once; one
  aggregate over it sizes the epoch and counts unmapped records.
- The only exchange is keyed on (topic, partition), the natural Kafka
  parallelism unit. File assignment and the grouped staging call
  (``applyInPandas`` over (topic, partition, file_seq), all routes at
  once) both reuse it: each Kafka partition's records land in rolled
  files exactly like one TopicPartitionWriter, and groups are bounded by
  flush_size_bytes so no group can OOM an executor.
- Staging tasks are sized by bytes, not by cores: the exchange gets
  ceil(encoded bytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
  partitions — AQE's own rule with ``parallelismFirst`` off. Every Python
  staging task holds a worker process of about 130 MB, so a small epoch
  stages in one task and a large one scales out.
- Only the tiny per-file manifest is collected to the driver; record
  data never is (the custom DLQ writer's failure tail is the bounded
  exception). The DLQ reads the persisted frame, narrowed to the failed
  topics and offset ranges, never the source.
- Every mapping's staged files ingest through one bounded thread pool
  (``config.ingest_threads``): ingest RPCs are I/O-bound HTTP, so one
  slow file does not serialize the epoch behind its retry loop.

Staging-directory requirement (multi-node clusters): in the default
driver-ingest mode, files are WRITTEN by executors (``applyInPandas``)
and READ/deleted by the driver-side ingest loop, so
``config.staging_dir`` MUST be shared storage (NFS / DBFS /
fuse-mounted object store) on a real cluster; executor-local paths only
work in local mode. A non-shared path surfaces as ``FileNotFoundError``
at ingest time, which ``classify_ingest_error`` treats as PERMANENT (no
retry-budget burn) precisely to make this misconfiguration fail fast.

``executor_side_ingest=True`` removes that requirement entirely — each
staging group ingests its own rolled file on the executor that wrote it
(retry + permanent classification included), the file never leaves
local disk, and ingest parallelism equals staging parallelism. This is
the 1000-executor mode; the driver only aggregates the per-file outcome
manifest (metrics, behavior.on.error, DLQ).
"""

from __future__ import annotations

import logging
import math
import os
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType

from kafka_sink_azure_kusto_spark.config import (
    BehaviorOnError,
    ConfigException,
    KustoSinkConfig,
    TopicToTableMapping,
)
from kafka_sink_azure_kusto_spark.functions.encoders import encode_csv_line
from kafka_sink_azure_kusto_spark.functions.filters import drop_tombstones
from kafka_sink_azure_kusto_spark.functions.routing import with_route
from kafka_sink_azure_kusto_spark.operators.batching import with_file_assignment
from kafka_sink_azure_kusto_spark.streaming.backends import (
    IngestBackend,
    IngestionProperties,
    IngestResult,
    classify_ingest_error,
)
from kafka_sink_azure_kusto_spark.streaming.metrics import SinkMetrics
from kafka_sink_azure_kusto_spark.streaming.retry import retry_with_backoff

log = logging.getLogger(__name__)

_AVRO_FORMATS = ("avro", "apacheavro")
_COLUMNAR_FORMATS = ("parquet", "orc")
_CONTAINER_FORMATS = (*_AVRO_FORMATS, *_COLUMNAR_FORMATS)

# One row per rolled file (the staged-file manifest); status, error and
# attempts carry the executor-side ingest outcome (driver mode: "Staged").
_MANIFEST_SCHEMA = (
    "path string, topic string, partition long, file_offset long, last_offset long, "
    "records long, raw_bytes long, status string, error string, attempts long"
)


# Per-Python-worker backend cache for executor-side ingest: one client
# per (worker process, cache token) instead of one per rolled file —
# applyInPandas reuses worker processes across groups and batches.
_EXECUTOR_BACKENDS: dict = {}


def _cached_backend(token: str, factory):
    b = _EXECUTOR_BACKENDS.get(token)
    if b is None:
        if len(_EXECUTOR_BACKENDS) >= 16:
            # Long-lived workers serving many sink instances: bound the
            # cache (stale clients from finished sinks hold connections).
            _EXECUTOR_BACKENDS.clear()
        b = factory()
        _EXECUTOR_BACKENDS[token] = b
    return b


def _ingest_file(backend, path, props, max_attempts, backoff_ms, is_permanent, on_attempt):
    """R2 constant backoff + R3 permanent classification around K1/K2."""

    def attempt():
        result = backend.ingest_file(path, props)
        if not result.accepted:
            raise RuntimeError(f"ingestion final status {result.status}")
        return result

    retry_with_backoff(
        attempt,
        max_attempts=max_attempts,
        backoff_ms=backoff_ms,
        is_permanent=is_permanent,
        on_attempt=on_attempt,
    )


def _encode_line(df: DataFrame) -> Column:
    """E1–E4 — one ``line`` per record, JVM-side, by the route's format.
    Dispatch mirrors FileWriter.initializeRecordWriter (F4): a struct
    payload is serialized per format; a string payload already IS the
    line (StringRecordWriterProvider); a binary payload stays bytes on
    every route (ByteRecordWriterProvider), as a CASE has one result
    type. Unrouted records get the default rendering, their DLQ value."""
    if "line" in df.columns:
        return F.col("line")
    value_type = df.schema["value"].dataType
    if isinstance(value_type, BinaryType):
        return F.col("value")
    if not isinstance(value_type, StructType):
        return F.col("value").cast("string")
    fmt = F.col("route_format")
    cols = [f"value.{c}" for c in value_type.fieldNames()]
    # Container formats stage the struct itself; their line is a size
    # proxy (B1 then tracks the container size within a small constant
    # factor — documented deviation, the reference counts exact avro
    # bytes) AND the DLQ value, so it keeps null fields to stay
    # schema-faithful (to_json drops nulls by default).
    return (
        F.when(
            fmt.isin(*_CONTAINER_FORMATS),
            F.to_json(F.col("value"), {"ignoreNullFields": "false"}),
        )
        .when(fmt == "csv", encode_csv_line(df, cols))
        .when(fmt == "tsv", encode_csv_line(df, cols, sep="\t"))
        .otherwise(F.to_json(F.col("value")))
    )


def _failed_records(failed: list[Row], staged: list[Row]) -> Column:
    """Predicate for the records of the ``failed`` files in the persisted
    epoch frame. A file holds the offsets from its first to its last in
    its (topic, partition), so each run of adjacent failed files in
    ``staged`` (sorted by (topic, partition, file_offset) per mapping) is
    one offset range: a whole failed partition is one term."""
    bad = {(s.topic, s.partition, s.file_offset) for s in failed}
    ranges: list[list] = []
    prev = None
    for s in staged:
        key = (s.topic, s.partition)
        if (*key, s.file_offset) not in bad:
            prev = None
        elif prev == key:
            ranges[-1][3] = s.last_offset
        else:
            ranges.append([s.topic, s.partition, s.file_offset, s.last_offset])
            prev = key
    terms = [
        (F.col("topic") == t) & (F.col("partition") == p) & F.col("offset").between(lo, hi)
        for t, p, lo, hi in ranges
    ]
    while len(terms) > 1:  # a balanced OR keeps the expression tree shallow
        terms = [terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                 for i in range(0, len(terms), 2)]
    return F.col("topic").isin(sorted({s.topic for s in failed})) & terms[0]


def _dlq_value(line, avro: bool):
    """A DLQ record's value: Avro bytes stay bytes, any other line is text."""
    if isinstance(line, (bytes, bytearray)):
        return bytes(line) if avro else bytes(line).decode("utf-8", "replace")
    return str(line)


def _epoch_writer(
    staging_root: str,
    binary_values: bool,
    avro_schema: Optional[dict],
    arrow_schema,
    ingest: Optional[dict],
):
    """Build the applyInPandas group writer of one epoch: one rolled file
    per (topic, partition, file_seq) group in its route's format under
    ``staging_root/db/table``, named per B4 (TopicPartitionWriter.java:
    235-242), owner-only perms like FileWriter.openFile (:93-154).

    Avro with binary values is the E4 passthrough, one complete container
    per message (ByteRecordWriterProvider.java:21-39); avro with struct
    values is E2, ONE container of the group's structs
    (AvroRecordWriterProvider.java:27-73); parquet/orc with struct values
    is one pyarrow file (extension; Kusto ingests both natively, but
    rejects a .gz wrapper around them — text and Avro keep the
    reference's .gz); anything else is ``line`` newline-terminated.

    ``ingest`` (executor-side-ingest mode) carries ``{"factory", "token",
    "props", "max_attempts", "backoff_ms"}``, ``props`` keyed by topic: the group ingests its OWN file right
    after writing it and reports the outcome in its manifest row instead
    of raising, so one poisoned group can't kill its siblings' stage."""
    import gzip
    import io

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("offset")
        head = pdf.iloc[0]
        topic, partition = str(head["topic"]), int(head["partition"])
        file_offset, fmt = int(head["file_offset"]), str(head["route_format"])
        avro = fmt in _AVRO_FORMATS
        columnar = fmt in _COLUMNAR_FORMATS and arrow_schema is not None
        ext = f".{fmt}" if columnar else f".{fmt}.gz"
        out_dir = os.path.join(staging_root, str(head["route_db"]), str(head["route_table"]))
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"kafka_{topic}_{partition}_{file_offset}{ext}")
        bio = io.BytesIO()
        if avro and avro_schema is not None:
            from kafka_sink_azure_kusto_spark.functions.avro_io import write_container

            write_container((dict(v) for v in pdf["value"]), avro_schema, bio)
        elif columnar:
            import pyarrow as pa

            if fmt == "orc":
                import pyarrow.orc as writer
            else:
                import pyarrow.parquet as writer

            table = pa.Table.from_pylist([dict(v) for v in pdf["value"]], schema=arrow_schema)
            writer.write_table(table, bio)
        elif binary_values:
            sep = b"" if avro else b"\n"
            bio.write(b"".join(bytes(b) + sep for b in pdf["line"]))
        else:
            bio.write(("\n".join(pdf["line"].astype(str)) + "\n").encode("utf-8"))
        body = bio.getvalue()
        with open(path, "wb") as raw:
            os.fchmod(raw.fileno(), 0o600)
            if columnar:
                raw.write(body)
            else:
                with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
                    gz.write(body)
        status, error, attempts = "Staged", "", [0]
        if ingest is not None:
            props = ingest["props"].get(topic) or ingest["props"]["*"]
            try:
                _ingest_file(
                    _cached_backend(ingest["token"], ingest["factory"]),
                    path, props, ingest["max_attempts"], ingest["backoff_ms"],
                    classify_ingest_error,
                    lambda _: attempts.__setitem__(0, attempts[0] + 1),
                )
                status = "Succeeded"
            except Exception as e:  # noqa: BLE001 — reported via manifest
                status, error = "Failed", f"{type(e).__name__}: {e}"
            try:
                os.remove(path)  # B5 — co-located cleanup, success or not
            except OSError:
                pass
        row = dict(
            path=path, topic=topic, partition=partition, file_offset=file_offset,
            last_offset=int(pdf["offset"].iloc[-1]), records=len(pdf), raw_bytes=len(body),
            status=status, error=error, attempts=attempts[0],
        )
        return pd.DataFrame([row])

    return write_group


class _WarmupNullBackend:
    """Backend stand-in for the attach-time warmup batch: accepts every
    staged file without recording anything, so the warmup leaves zero
    trace in the real backend's tables/ingest log."""

    def ingest_file(self, path: str, props: IngestionProperties):
        return IngestResult(status="Succeeded", source_id="warmup")

    def validate(self, props: IngestionProperties) -> None:
        return None


class KustoSparkSink:
    """Composable sink: ``sink.attach(stream_df)`` starts the query;
    ``sink.process_batch(df, epoch)`` is the foreachBatch body (also
    callable on a static DataFrame for tests/batch backfills, mirroring
    the reference's put()-driven unit tests)."""

    def __init__(
        self,
        config: KustoSinkConfig,
        backend: IngestBackend,
        metrics: Optional[SinkMetrics] = None,
        dlq_writer=None,
        backend_factory=None,
        executor_side_ingest: bool = False,
        dlq_partition_producer_factory=None,
    ):
        self.config = config
        self.backend = backend
        self.metrics = metrics or SinkMetrics()
        # Executor-side ingest (the 1000-executor mode): each staging
        # group ingests its own rolled file where it wrote it — no shared
        # staging_dir, ingest parallelism = staging parallelism, and the
        # driver only sees the per-file outcome manifest.
        # ``backend_factory`` must be a picklable zero-arg callable
        # building the backend ON the executor (clients don't pickle).
        if executor_side_ingest and backend_factory is None:
            raise ValueError("executor_side_ingest=True requires backend_factory")
        self._backend_factory = backend_factory
        self._executor_side_ingest = executor_side_ingest
        # Sink-instance nonce: scopes the executor-side backend cache so
        # a reused Python worker never serves this sink with a client
        # built by a DIFFERENT sink's factory (same cluster URL ≠ same
        # factory — think tests, or credential rotation on restart).
        import uuid as _uuid

        self._instance_token = _uuid.uuid4().hex
        # K3 — dlq_writer: callable(list[dict]) shipping failed records.
        # Resolution order: explicit injection > Kafka DLQ when
        # misc.deadletterqueue.* is configured (KustoSinkTask.java:442-458,
        # producer built lazily on first failure) > NDJSON file fallback
        # under staging.
        if dlq_writer is None and config.dlq_enabled:
            from kafka_sink_azure_kusto_spark.streaming.dlq import KafkaDlqWriter

            dlq_writer = KafkaDlqWriter.from_config(config)
        self._dlq_writer = dlq_writer
        # Executor-side DLQ produce seam (config.dlq_executor_side):
        # picklable callable(props) -> producer, shipped to foreachPartition
        # tasks. None ⇒ kafka-python's default factory on the executors.
        self._dlq_partition_producer_factory = dlq_partition_producer_factory
        if config.validate_tables:
            # V1–V4 startup probes, errors aggregated across mappings then
            # thrown once (validateTableMappings, KustoSinkTask.java:342-375).
            errors = []
            for m in config.mappings:
                try:
                    self.backend.validate(self._props_for(m))
                except Exception as e:  # noqa: BLE001
                    errors.append(f"{m.db}.{m.table}: {e}")
            if errors:
                raise RuntimeError(
                    "table mapping validation failed: " + " | ".join(errors)
                )

    # ------------------------------------------------------------------ utils
    @staticmethod
    def _props_for(m: TopicToTableMapping) -> IngestionProperties:
        return IngestionProperties(
            database=m.db,
            table=m.table,
            format=m.ingest_format,
            mapping_reference=m.mapping,
            streaming=m.streaming,
        )

    def _mapping_index(self, topic: str) -> int:
        """F3 on the driver for a manifest row: exact topic, else ``*``."""
        indexes = {m.topic: i for i, m in enumerate(self.config.mappings)}
        return indexes.get(topic, indexes.get("*"))

    # ------------------------------------------------------- the data plane
    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """SURVEY §3.2 as one pass: drop tombstones (F1) → route (F3) →
        encode → persist → size the epoch and count unmapped records →
        assign files (B1) → one grouped staging call → ingest with retry
        → R4 dispatch and DLQ per failed mapping, in mapping order."""
        cfg = self.config
        df = with_route(drop_tombstones(batch_df), cfg.mappings)
        routed = F.col("route_db").isNotNull()
        # F2 — empty serializations are skipped (JsonRecordWriterProvider.java:53-56).
        # B1 — sizes are UNCOMPRESSED bytes (+1 newline, matching
        # CountingOutputStream accounting, FileWriter.java:332-362).
        df = (
            df.withColumn("line", _encode_line(df))
            .filter(~routed | (F.length("line") > 0))
            .withColumn("serialized_size", F.length("line").cast("long") + F.lit(1))
        )
        value_type = df.schema["value"].dataType
        keep = ["route_db", "route_table", "route_format", "topic", "partition", "offset",
                "line", "serialized_size"]
        if isinstance(value_type, StructType) and any(
            m.ingest_format in _CONTAINER_FORMATS for m in cfg.mappings
        ):
            keep.append("value")  # typed structs for the container writers
        enc = df.select(*keep).persist()
        staged: list[Row] = []
        try:
            stats = enc.agg(
                F.count(F.when(routed, 1)).alias("routed"),
                F.sum(F.when(routed, F.col("serialized_size"))).alias("bytes"),
                F.count(F.when(~routed, 1)).alias("unrouted"),
                F.min(F.when(~routed, F.col("topic"))).alias("unrouted_topic"),
            ).first()
            if stats["unrouted"]:
                # F3 — an unmapped topic with no '*' wildcard is a hard
                # error under FAIL, before anything is staged
                # (KustoSinkTask.java:400-402); otherwise a DLQ outcome.
                msg = (
                    f"{stats['unrouted']} records of unmapped topics (e.g. "
                    f"{stats['unrouted_topic']!r}) and no '*' wildcard configured"
                )
                if cfg.behavior_on_error is BehaviorOnError.FAIL:
                    raise ConfigException(msg)
                if cfg.behavior_on_error is BehaviorOnError.LOG:
                    log.error("%s; sending them to the DLQ", msg)
                self.metrics.incr("records_failed", stats["unrouted"])
            if stats["routed"]:
                staged = self._stage(enc, epoch_id, stats["bytes"], value_type)
            self._dispatch_failures(enc, staged, self._ingest(staged), stats["unrouted"])
        finally:
            if not self._executor_side_ingest:
                for s in staged:
                    try:
                        os.remove(s.path)  # B5 — delete local file after roll
                    except OSError:
                        pass
            enc.unpersist()

    def _stage(
        self, enc: DataFrame, epoch_id: int, encoded_bytes: int, value_type
    ) -> list[Row]:
        """B1 file assignment over one (topic, partition) exchange sized by
        bytes, then one grouped staging call for every route. Returns the
        manifest in ingest order: mapping, topic, partition, file_offset."""
        cfg = self.config
        spark = enc.sparkSession
        # AQE's advisory partition size, read from the session: staging
        # tasks are sized by bytes (see the module docstring).
        advisory = spark._jsparkSession.sessionState().conf().getConf(
            spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
        )
        n = max(1, math.ceil(encoded_bytes / advisory))
        binary_values = isinstance(value_type, BinaryType)
        route_format = F.col("route_format")
        # B3 — flush.interval.ms == 0 rolls EVERY record into its own file
        # (FileWriter.java:298); E4 — a pre-serialized Avro payload is a
        # complete container file, so it rolls alone too
        # (FileWriter.java:320-323). A record sized at the threshold fills
        # its own file.
        size = F.col("serialized_size")
        threshold = F.lit(cfg.flush_size_bytes).cast("long")
        if cfg.flush_interval_ms == 0:
            size = threshold
        elif binary_values:
            size = F.when(route_format.isin(*_AVRO_FORMATS), threshold).otherwise(size)
        files = with_file_assignment(
            enc.filter(F.col("route_db").isNotNull())
            .withColumn("serialized_size", size)
            .repartition(n, "topic", "partition"),
            cfg.flush_size_bytes,
        )
        cols = ["topic", "partition", "offset", "file_seq", "file_offset",
                "route_db", "route_table", "route_format", "line"]
        avro_schema = arrow_schema = None
        if "value" in enc.columns:
            # Container routes ship their structs and no line; text routes
            # ship their line and no struct.
            container = route_format.isin(*_CONTAINER_FORMATS)
            cols[-1] = F.when(~container, F.col("line")).alias("line")
            cols.append(F.when(container, F.col("value")).alias("value"))
            formats = {m.ingest_format for m in cfg.mappings}
            if formats & set(_AVRO_FORMATS):
                from kafka_sink_azure_kusto_spark.functions.avro_io import avro_schema_for

                avro_schema = avro_schema_for(value_type)
            if formats & set(_COLUMNAR_FORMATS):
                from pyspark.sql.pandas.types import to_arrow_schema

                arrow_schema = to_arrow_schema(value_type)
        ingest = None
        if self._executor_side_ingest:
            ingest = {
                "factory": self._backend_factory,
                "token": f"{self._instance_token}|{cfg.ingest_url}",
                "props": {m.topic: self._props_for(m) for m in cfg.mappings},
                "max_attempts": cfg.max_retry_attempts,
                "backoff_ms": cfg.retry_backoff_time_ms,
            }
        writer = _epoch_writer(
            os.path.join(cfg.staging_dir, f"epoch={epoch_id}"),
            binary_values, avro_schema, arrow_schema, ingest,
        )
        manifest = (
            files.select(*cols)
            .groupBy("topic", "partition", "file_seq")
            .applyInPandas(writer, schema=_MANIFEST_SCHEMA)
            .collect()  # tiny: one row per rolled file
        )
        return sorted(
            manifest,
            key=lambda s: (self._mapping_index(s.topic), s.topic, s.partition, s.file_offset),
        )

    def _ingest(self, staged: list[Row]) -> list[tuple[Row, object]]:
        """Ingest every staged file; returns ``(file, error)`` pairs, the
        error None on success. Executor-side ingest already ran in the
        staging tasks, so only its manifest outcome is counted. Driver
        mode uses one bounded pool for all mappings. Outcomes are per
        file: only failed files' records reach the DLQ, so a delivered
        record never reappears there as a duplicate."""
        outcomes: list[tuple[Row, object]] = []
        if self._executor_side_ingest:
            for s in staged:
                ok = s.status == "Succeeded"
                self.metrics.incr("ingestion_attempts", s.attempts)
                self.metrics.incr("ingestion_successes" if ok else "ingestion_failures")
                outcomes.append((s, None if ok else s.error))
        elif staged:
            from concurrent.futures import ThreadPoolExecutor

            props = [self._props_for(m) for m in self.config.mappings]
            workers = max(1, min(len(staged), self.config.ingest_threads))
            with ThreadPoolExecutor(
                max_workers=workers, thread_name_prefix="kusto-ingest"
            ) as pool:
                futures = [
                    (pool.submit(self._ingest_with_retry, s, props[self._mapping_index(s.topic)]), s)
                    for s in staged
                ]
                for fut, s in futures:
                    try:
                        fut.result()
                        outcomes.append((s, None))
                    except Exception as e:  # noqa: BLE001 — R4 dispatch below
                        outcomes.append((s, e))
        for s, error in outcomes:
            self.metrics.incr("records_written" if error is None else "records_failed", s.records)
        return outcomes

    def _ingest_with_retry(self, s: Row, props: IngestionProperties) -> None:
        try:
            _ingest_file(
                self.backend, s.path, props,
                self.config.max_retry_attempts, self.config.retry_backoff_time_ms,
                getattr(self.backend, "classify", classify_ingest_error),
                lambda _: self.metrics.incr("ingestion_attempts"),
            )
            self.metrics.incr("ingestion_successes")
        except Exception:
            self.metrics.incr("ingestion_failures")
            raise

    def _dispatch_failures(
        self,
        enc: DataFrame,
        staged: list[Row],
        outcomes: list[tuple[Row, object]],
        unrouted: int,
    ) -> None:
        """R4 — behavior.on.error per failed mapping, in mapping order:
        FAIL raises the first failed mapping's first error; LOG logs it;
        LOG and IGNORE send the failed files' records to the DLQ, then the
        unmapped topics' records."""
        by_mapping: dict[int, list] = {}
        for s, e in outcomes:
            by_mapping.setdefault(self._mapping_index(s.topic), []).append((s, e))
        groups = []
        for i, m in enumerate(self.config.mappings):
            mine = by_mapping.get(i, [])
            failed = [s for s, e in mine if e is not None]
            if not failed:
                continue
            error = next(e for _, e in mine if e is not None)
            if isinstance(error, str):  # executor-side outcome
                error = RuntimeError(
                    f"executor-side ingestion failed for {len(failed)}/{len(mine)} "
                    f"files of {m.db}.{m.table}; first: {error}"
                )
            if self.config.behavior_on_error is BehaviorOnError.FAIL:
                raise error
            if self.config.behavior_on_error is BehaviorOnError.LOG:
                log.error(
                    "ingestion failed for %d/%d staged files of %s.%s: %s",
                    len(failed), len(mine), m.db, m.table, error,
                )
            groups.append((f"{m.db}.{m.table}", _failed_records(failed, staged),
                           m.ingest_format in _AVRO_FORMATS))
        if unrouted:
            groups.append(("unmapped", F.col("route_db").isNull(), True))
        for name, cond, avro in groups:
            self._send_to_dlq(enc.filter(cond), name, avro)

    def _send_to_dlq(self, failed: DataFrame, name: str, avro: bool) -> None:
        """K3 — one DLQ record per failed record, each key carrying the
        record's OWN kafka coordinates (TopicPartitionWriter.java:210-233).

        ``failed`` is the persisted epoch frame filtered to one failed
        mapping's files (``name`` is its ``db.table``) or to the unmapped
        topics — never the source or staged gzip re-read on the driver —
        so per-record offsets survive file rolling and binary Avro
        payloads never pass through a text decode."""
        out = failed.select(
            "topic", "partition", "offset",
            F.concat(
                F.lit(
                    "Failed to write record to KustoDB with the following "
                    "kafka coordinates, topic="
                ),
                F.col("topic"),
                F.lit(", partition="),
                F.col("partition").cast("string"),
                F.lit(", offset="),
                F.col("offset").cast("string"),
                F.lit("."),
            ).alias("key"),
            F.col("line").alias("value"),
        )
        executor_side = self.config.dlq_executor_side and (
            self.config.dlq_enabled or self._dlq_partition_producer_factory
        )
        if executor_side or self._dlq_writer is None:
            # Produce from the EXECUTORS, one producer per partition task:
            # DLQ cost scales with the cluster and the failure tail never
            # crosses the driver. Bytes are identical to the driver path
            # below. With no writer at all, the fallback file DLQ writes
            # one JSONL per task under staging/_dlq.
            import functools

            from kafka_sink_azure_kusto_spark.streaming.dlq import (
                FileDlqProducer,
                executor_partition_sender,
            )

            if executor_side:
                # A custom producer factory (e.g. file-based) supplies its
                # own destination; only then is a missing dlq topic
                # acceptable — give it a deterministic name.
                topic = self.config.dlq_topic_name or f"dlq.{name}"
                props = self.config.dlq_producer_props()
                factory = self._dlq_partition_producer_factory
            else:
                topic, props = f"dlq.{name}", {}
                factory = functools.partial(
                    FileDlqProducer, directory=os.path.join(self.config.staging_dir, "_dlq")
                )
            sent = failed.sparkSession.sparkContext.accumulator(0)
            out.foreachPartition(executor_partition_sender(topic, props, factory, counter=sent))
            # one evaluation of the failure frame; the accumulator counts
            # records handed to producers (post-flush), not candidates
            self.metrics.incr("dlq_records_sent", sent.value)
            return
        # Custom driver-side writer seam (tests, bespoke sinks): a bounded
        # collect of the failure tail, sorted here — it is already on the
        # driver, so a distributed sort would only add jobs.
        rows = sorted(out.collect(), key=lambda r: (r["topic"], r["partition"], r["offset"]))
        records = [{"key": r["key"], "value": _dlq_value(r["value"], avro)} for r in rows]
        if records:
            self._dlq_writer(records)
            self.metrics.incr("dlq_records_sent", len(records))

    # --------------------------------------------------------- control plane
    def attach(
        self,
        stream_df: DataFrame,
        query_name: str = "kusto_sink",
        available_now: bool = False,
    ):
        """SURVEY §3.1 — start the streaming query. The processing-time
        trigger plays the reference's flush.interval.ms role (B2): every
        trigger flushes whatever is buffered. ``available_now=True``
        drains the source then stops (backfill / test mode — the analog
        of the reference's drain-on-stop close path)."""
        if self.config.warmup_on_attach:
            self._warmup(stream_df.sparkSession)
        writer = stream_df.writeStream.queryName(query_name).foreachBatch(
            self.process_batch
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.config.trigger_processing_time)
        if self.config.checkpoint_location:
            writer = writer.option("checkpointLocation", self.config.checkpoint_location)
        return writer.start()

    def _warmup(self, spark) -> None:
        """Cold-path warmup (config.warmup_on_attach, PERF.md r10): a
        tiny synthesized batch through the SAME encode→roll→stage→
        ingest plan, staged under a throwaway epoch and scrubbed from
        every observable (backend tables, ingest log, metrics) so a
        warmed sink is indistinguishable from a cold one to callers.
        Runs before writeStream.start(), overlapping source
        initialization."""
        tiny = spark.range(64).select(
            F.col("id").cast("string").alias("key"),
            F.to_json(F.struct(F.col("id"))).alias("value"),
            F.lit(self.config.mappings[0].topic if self.config.mappings
                  else "warmup").alias("topic"),
            (F.col("id") % 4).cast("long").alias("partition"),
            F.col("id").cast("long").alias("offset"),
        )
        # wildcard mappings replace '*' with a literal topic name
        tiny = tiny.withColumn(
            "topic",
            F.when(F.col("topic") == "*", F.lit("warmup")).otherwise(
                F.col("topic")
            ),
        )
        saved = self.backend
        saved_executor_side = self._executor_side_ingest
        try:
            self.backend = _WarmupNullBackend()
            # Executor-side ingest ships self._backend_factory to the
            # workers and never consults self.backend — so the warmup
            # MUST force the driver-side path, or the 64 synthetic
            # records would land in the REAL destination table.
            self._executor_side_ingest = False
            self.process_batch(tiny, epoch_id=-1)
        finally:
            self.backend = saved
            self._executor_side_ingest = saved_executor_side
            self.metrics.reset()

    @staticmethod
    def close(query, timeout_s: float = 60.0) -> None:
        """R6 — graceful close: stop triggering first (no new ingestion),
        then wait for the in-flight batch to finish
        (KustoSinkTask.java:413-433,473-494)."""
        query.stop()
        query.awaitTermination(timeout_s)
