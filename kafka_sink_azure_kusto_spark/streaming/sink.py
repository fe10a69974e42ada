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
  The encoded frame is persisted before the F2 empty-line filter, so no
  filter below the cache re-runs the encoder, and the source is read
  once. The job that fills the cache also sizes the epoch and counts
  unmapped records (an ``Observation`` on a noop write), so sizing costs
  no job of its own. The cache keeps only the route's format, whose
  null marks an unmapped record; the writer resolves a file's db and
  table from the mapping table.
- The only exchange is keyed on (topic, partition), the natural Kafka
  parallelism unit, followed by one sort by (topic, partition, offset).
  The staging call is one streamed ``mapInArrow`` per staging task, all
  routes at once: it splits its Arrow batches where (topic, partition)
  changes and rolls each partition's run into files as the batches
  arrive (``operators.batching.roll_batches``), exactly like one
  TopicPartitionWriter per partition appending in offset order. It
  holds one batch plus the open file, so no partition can OOM an
  executor.
- Staging tasks are sized by bytes, not by cores: the exchange gets
  ceil(encoded bytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
  partitions — AQE's own rule with ``parallelismFirst`` off. Every Python
  staging task holds a worker process of about 130 MB, so a small epoch
  stages in one task and a large one scales out.
- Generated code does not change from epoch to epoch: the DLQ
  predicate reads the failed offset ranges from one map literal, which
  Spark hands to generated code as data, so a failing epoch compiles no
  new class.
- Only the tiny per-file manifest is collected to the driver; record
  data never is (an injected ``dlq_writer``'s failure tail is the
  bounded exception). DLQ records are produced from the executors; the
  DLQ reads the persisted frame, narrowed to the failed topics and
  offset ranges, never the source.
- Every mapping's staged files ingest through one bounded thread pool
  (``_INGEST_THREADS``): ingest RPCs are I/O-bound HTTP, so one
  slow file does not serialize the epoch behind its retry loop.

Staging-directory requirement (multi-node clusters): without a
``backend_factory``, files are WRITTEN by executors (``mapInArrow``)
and READ/deleted by the driver-side ingest loop, so
``config.staging_dir`` MUST be shared storage (NFS / DBFS /
fuse-mounted object store) on a real cluster; executor-local paths only
work in local mode. A non-shared path surfaces as ``FileNotFoundError``
at ingest time, which ``classify_ingest_error`` treats as PERMANENT (no
retry-budget burn) precisely to make this misconfiguration fail fast.

Passing ``backend_factory`` removes that requirement entirely — each
staging task ingests its own rolled files on the executor that wrote them
(retry + permanent classification included), a file never leaves
local disk, and ingest parallelism equals staging parallelism. This is
the 1000-executor mode; the driver only aggregates the per-file outcome
manifest (metrics, behavior.on.error, DLQ).
"""

from __future__ import annotations

import itertools
import logging
import math
import os
from typing import Iterable, Iterator, Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import BinaryType, StructType

from kafka_sink_azure_kusto_spark.config import (
    BehaviorOnError,
    ConfigException,
    KustoSinkConfig,
    TopicToTableMapping,
)
from kafka_sink_azure_kusto_spark.functions.encoders import csv_line_sql
from kafka_sink_azure_kusto_spark.functions.filters import drop_tombstones
from kafka_sink_azure_kusto_spark.functions.routing import with_route
from kafka_sink_azure_kusto_spark.functions.sql_text import sql_string
from kafka_sink_azure_kusto_spark.operators.batching import roll_batches
from kafka_sink_azure_kusto_spark.streaming.backends import (
    IngestBackend,
    IngestionProperties,
    classify_ingest_error,
)
from kafka_sink_azure_kusto_spark.streaming.metrics import SinkMetrics
from kafka_sink_azure_kusto_spark.streaming.retry import retry_with_backoff

log = logging.getLogger(__name__)

_AVRO_FORMATS = ("avro", "apacheavro")
_COLUMNAR_FORMATS = ("parquet", "orc")
_CONTAINER_FORMATS = (*_AVRO_FORMATS, *_COLUMNAR_FORMATS)

# Concurrent driver-side ingest RPCs per micro-batch (ingest is I/O-bound
# HTTP; the reference gets the same concurrency from one thread per
# Connect task — here a bounded pool over a batch's staged files).
_INGEST_THREADS = 8

# One row per rolled file (the staged-file manifest); status, error and
# attempts carry the executor-side ingest outcome (driver mode: "Staged").
_MANIFEST_SCHEMA = pa.schema([
    ("path", pa.string()), ("topic", pa.string()), ("partition", pa.int64()),
    ("file_offset", pa.int64()), ("last_offset", pa.int64()), ("records", pa.int64()),
    ("raw_bytes", pa.int64()), ("status", pa.string()), ("error", pa.string()),
    ("attempts", pa.int64()),
])


# Per-Python-worker backend cache for executor-side ingest: one client
# per (worker process, cache token) instead of one per rolled file —
# Python workers are reused across staging tasks and epochs.
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
    cols = sorted(f"value.{c}" for c in value_type.fieldNames())  # E3 field order
    containers = ", ".join(map(sql_string, _CONTAINER_FORMATS))
    csv, tsv = csv_line_sql(cols), csv_line_sql(cols, sep="\t")
    # Container formats stage the struct itself; their line is a size
    # proxy (B1 then tracks the container size within a small constant
    # factor — documented deviation, the reference counts exact avro
    # bytes) AND the DLQ value, so it keeps null fields to stay
    # schema-faithful (to_json drops nulls by default).
    return F.expr(
        f"CASE WHEN route_format IN ({containers}) "
        "THEN to_json(value, map('ignoreNullFields', 'false')) "
        f"WHEN route_format = 'csv' THEN {csv} "
        f"WHEN route_format = 'tsv' THEN {tsv} "
        "ELSE to_json(value) END"
    )


def _failed_records(failed: list[Row], staged: list[Row]) -> Column:
    """Predicate for the records of the ``failed`` files in the persisted
    epoch frame. A file holds the offsets from its first to its last in
    its (topic, partition), so each run of adjacent failed files in
    ``staged`` (sorted by (topic, partition, file_offset) per mapping) is
    one offset range: a whole failed partition is one range.

    The ranges are data, not code: one constant
    ``map<topic, map<partition, array<struct<lo, hi>>>>`` that Spark
    folds into a literal and passes to the generated code by reference,
    so the compiled predicate is the same every epoch. A record looks up
    its own partition's ranges and scans only those."""
    bad = {(s.topic, s.partition, s.file_offset) for s in failed}
    ranges: dict[str, dict[int, list[list[int]]]] = {}
    prev = None
    for s in staged:
        key = (s.topic, s.partition)
        if (*key, s.file_offset) not in bad:
            prev = None
        elif prev == key:
            ranges[s.topic][s.partition][-1][1] = s.last_offset
        else:
            ranges.setdefault(s.topic, {}).setdefault(s.partition, []).append(
                [s.file_offset, s.last_offset]
            )
            prev = key
    # One SQL string, one parse, whatever the number of ranges.
    by_topic = ", ".join(
        f"{sql_string(t)}, map("
        + ", ".join(
            f"{int(p)}L, array("
            + ", ".join(f"named_struct('lo', {int(lo)}L, 'hi', {int(hi)}L)" for lo, hi in rs)
            + ")"
            for p, rs in parts.items()
        )
        + ")"
        for t, parts in ranges.items()
    )
    return F.expr(
        f"exists(map({by_topic})[`topic`][CAST(`partition` AS BIGINT)], "
        "r -> `offset` BETWEEN r.lo AND r.hi)"
    )


def _dlq_value(line, avro: bool):
    """A DLQ record's value: Avro bytes stay bytes, any other line is text."""
    if isinstance(line, (bytes, bytearray)):
        return bytes(line) if avro else bytes(line).decode("utf-8", "replace")
    return str(line)


def _partition_runs(
    batches: Iterable[pa.RecordBatch],
) -> Iterator[tuple[tuple[str, int], pa.RecordBatch]]:
    """Split a staging task's batches, sorted by (topic, partition,
    offset), where (topic, partition) changes: yields ``((topic,
    partition), slice)`` in order. A partition whose records span a batch
    boundary yields one slice per batch under the same key."""
    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        topic, partition = batch.column("topic"), batch.column("partition")
        changed = pc.or_(
            pc.not_equal(topic.slice(1), topic.slice(0, n - 1)),
            pc.not_equal(partition.slice(1), partition.slice(0, n - 1)),
        )
        starts = [0, *(i + 1 for i in pc.indices_nonzero(changed).to_pylist())]
        for start, end in zip(starts, [*starts[1:], n]):
            key = (topic[start].as_py(), partition[start].as_py())
            yield key, batch.slice(start, end - start)


def _epoch_writer(
    staging_root: str,
    flush_size_bytes: int,
    binary_values: bool,
    avro_schema: Optional[dict],
    arrow_schema,
    routes: dict,
    ingest: Optional[dict],
):
    """Build the mapInArrow writer of one epoch. It is called once per
    staging task with the task's Arrow batches, sorted by (topic,
    partition, offset), splits them into each Kafka partition's run and
    rolls each run into files as it streams in (B1, ``roll_batches``),
    holding one batch plus the open file. Each file is written in its
    route's format under ``staging_root/db/table``, the route looked up
    in ``routes`` (topic, else ``*``, to ``(db, table, format)``), named
    per B4 (TopicPartitionWriter.java:235-242), with owner-only perms
    like FileWriter.openFile (:93-154). The task's manifest, one row per
    file, is yielded at the end.

    Avro with binary values is the E4 passthrough, one complete container
    per message (ByteRecordWriterProvider.java:21-39); avro with struct
    values is E2, ONE container of the file's structs
    (AvroRecordWriterProvider.java:27-73); parquet/orc with struct values
    is one pyarrow file (extension; Kusto ingests both natively, but
    rejects a .gz wrapper around them — text and Avro keep the
    reference's .gz, at GZIPOutputStream's default level 6,
    FileWriter.java:146-153); anything else is ``line``
    newline-terminated.

    ``ingest`` (executor-side-ingest mode) carries ``{"factory", "token",
    "props", "max_attempts", "backoff_ms"}``, ``props`` keyed by topic:
    each file is ingested right after it is written and the outcome is
    reported in its manifest row instead of raised, so one poisoned file
    can't kill its siblings' stage."""
    import gzip
    import io

    made_dirs: set = set()

    def write_file(topic: str, partition: int, table: pa.Table) -> dict:
        db, table_name, fmt = routes.get(topic) or routes["*"]
        offsets = table.column("offset")
        file_offset = offsets[0].as_py()
        avro = fmt in _AVRO_FORMATS
        columnar = fmt in _COLUMNAR_FORMATS and arrow_schema is not None
        ext = f".{fmt}" if columnar else f".{fmt}.gz"
        out_dir = os.path.join(staging_root, db, table_name)
        if out_dir not in made_dirs:
            os.makedirs(out_dir, exist_ok=True)
            made_dirs.add(out_dir)
        path = os.path.join(out_dir, f"kafka_{topic}_{partition}_{file_offset}{ext}")
        bio = io.BytesIO()
        if avro and avro_schema is not None:
            from kafka_sink_azure_kusto_spark.functions.avro_io import write_container

            write_container(table.column("value").to_pylist(), avro_schema, bio)
        elif columnar:
            if fmt == "orc":
                import pyarrow.orc as writer
            else:
                import pyarrow.parquet as writer

            values = table.column("value").combine_chunks()
            writer.write_table(pa.Table.from_struct_array(values).cast(arrow_schema), bio)
        else:
            # Text lines are UTF-8 and binary lines raw bytes: both join as
            # bytes, each line followed by the separator.
            sep = b"" if binary_values and avro else b"\n"
            lines = pc.cast(table.column("line"), pa.large_binary()).combine_chunks()
            one = pa.LargeListArray.from_arrays(pa.array([0, len(lines)], pa.int64()), lines)
            bio.write(pc.binary_join(one, pa.scalar(sep, pa.large_binary()))[0].as_py() + sep)
        body = bio.getvalue()
        with open(path, "wb") as raw:
            os.fchmod(raw.fileno(), 0o600)
            if columnar:
                raw.write(body)
            else:
                with gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=6, mtime=0) as gz:
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
        return dict(
            path=path, topic=topic, partition=partition, file_offset=file_offset,
            last_offset=offsets[-1].as_py(), records=table.num_rows,
            raw_bytes=len(body), status=status, error=error, attempts=attempts[0],
        )

    def write_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        files = []
        for (topic, partition), run in itertools.groupby(
            _partition_runs(batches), key=lambda r: r[0]
        ):
            rolled = roll_batches((b for _, b in run), flush_size_bytes)
            files += [write_file(topic, partition, table) for _, table in rolled]
        yield pa.RecordBatch.from_pylist(files, schema=_MANIFEST_SCHEMA)

    return write_task


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
        dlq_partition_producer_factory=None,
    ):
        self.config = config
        self.backend = backend
        self.metrics = metrics or SinkMetrics()
        # A ``backend_factory`` selects executor-side ingest (the
        # 1000-executor mode): each staging task ingests its own rolled
        # files where it wrote them — no shared staging_dir, ingest
        # parallelism = staging parallelism, and the driver only sees the
        # per-file outcome manifest. It must be a picklable zero-arg
        # callable building the backend ON the executor (clients don't
        # pickle). Without one, the driver ingests through ``backend``.
        self._backend_factory = backend_factory
        # Sink-instance nonce: scopes the executor-side backend cache so
        # a reused Python worker never serves this sink with a client
        # built by a DIFFERENT sink's factory (same cluster URL ≠ same
        # factory — think tests, or credential rotation on restart).
        import uuid as _uuid

        self._instance_token = _uuid.uuid4().hex
        # K3 — an injected dlq_writer, callable(list[dict]), receives the
        # failed records on the driver (the test and bespoke-sink seam).
        # Otherwise the executors produce them through
        # dlq_partition_producer_factory, a picklable callable(props) ->
        # producer shipped to foreachPartition tasks; None ⇒ kafka-python's
        # default factory when misc.deadletterqueue.* is configured
        # (KustoSinkTask.java:442-458), else the JSONL file DLQ under staging.
        self._dlq_writer = dlq_writer
        self._dlq_partition_producer_factory = dlq_partition_producer_factory
        self._mapping_indexes = {m.topic: i for i, m in enumerate(config.mappings)}
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
        return self._mapping_indexes.get(topic, self._mapping_indexes.get("*"))

    # ------------------------------------------------------- the data plane
    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """SURVEY §3.2 as one pass: drop tombstones (F1) → route (F3) →
        encode → persist → drop empty lines → fill the cache while sizing
        the epoch and counting unmapped records → one staging call per
        task that rolls files (B1) → ingest with retry → R4 dispatch and
        DLQ per failed mapping, in mapping order."""
        cfg = self.config
        df = with_route(drop_tombstones(batch_df), cfg.mappings)
        routed = F.col("route_format").isNotNull()
        # B1 — sizes are UNCOMPRESSED bytes (+1 newline, matching
        # CountingOutputStream accounting, FileWriter.java:332-362).
        df = df.withColumn("line", _encode_line(df)).withColumn(
            "serialized_size", F.length("line").cast("long") + F.lit(1)
        )
        value_type = df.schema["value"].dataType
        keep = ["route_format", "topic", "partition", "offset", "line", "serialized_size"]
        if isinstance(value_type, StructType) and any(
            m.ingest_format in _CONTAINER_FORMATS for m in cfg.mappings
        ):
            keep.append("value")  # typed structs for the container writers
        cached = df.select(*keep).persist()
        # F2 — empty serializations are skipped (JsonRecordWriterProvider.java:53-56).
        # Filtered over the persisted frame, so Catalyst cannot push a
        # copy of the encoder below the cache: each record encodes once.
        enc = cached.filter(~routed | (F.col("serialized_size") > 1))
        staged: list[Row] = []
        try:
            sizing = Observation()
            enc.observe(
                sizing,
                F.count(F.when(routed, 1)).alias("routed"),
                F.sum(F.when(routed, F.col("serialized_size"))).alias("bytes"),
                F.count(F.when(~routed, 1)).alias("unrouted"),
                F.min(F.when(~routed, F.col("topic"))).alias("unrouted_topic"),
            ).write.format("noop").mode("overwrite").save()  # fills the cache
            stats = sizing.get
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
            if self._backend_factory is None:
                for s in staged:
                    try:
                        os.remove(s.path)  # B5 — delete local file after roll
                    except OSError:
                        pass
            cached.unpersist()

    def _stage(
        self, enc: DataFrame, epoch_id: int, encoded_bytes: int, value_type
    ) -> list[Row]:
        """One (topic, partition) exchange sized by bytes, one sort by
        (topic, partition, offset), then one streamed staging call per
        task for every route, which rolls each Kafka partition's files
        (B1). Returns the manifest in ingest order: mapping, topic,
        partition, file_offset."""
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
        cols = ["topic", "partition", "offset", size.alias("serialized_size"), "line"]
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
        if self._backend_factory is not None:
            ingest = {
                "factory": self._backend_factory,
                "token": f"{self._instance_token}|{cfg.ingest_url}",
                "props": {m.topic: self._props_for(m) for m in cfg.mappings},
                "max_attempts": cfg.max_retry_attempts,
                "backoff_ms": cfg.retry_backoff_time_ms,
            }
        writer = _epoch_writer(
            os.path.join(cfg.staging_dir, f"epoch={epoch_id}"), cfg.flush_size_bytes,
            binary_values, avro_schema, arrow_schema,
            {m.topic: (m.db, m.table, m.ingest_format) for m in cfg.mappings}, ingest,
        )
        manifest = (
            enc.filter(route_format.isNotNull())
            .select(*cols)
            .repartition(n, "topic", "partition")
            .sortWithinPartitions("topic", "partition", "offset")
            .mapInArrow(writer, schema=from_arrow_schema(_MANIFEST_SCHEMA))
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
        if self._backend_factory is not None:
            for s in staged:
                ok = s.status == "Succeeded"
                self.metrics.incr("ingestion_attempts", s.attempts)
                self.metrics.incr("ingestion_successes" if ok else "ingestion_failures")
                outcomes.append((s, None if ok else s.error))
        elif staged:
            from concurrent.futures import ThreadPoolExecutor

            props = [self._props_for(m) for m in self.config.mappings]
            workers = max(1, min(len(staged), _INGEST_THREADS))
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
                classify_ingest_error,
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
            groups.append(("unmapped", F.col("route_format").isNull(), True))
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
        out = failed.selectExpr(
            "`topic`", "`partition`", "`offset`",
            "concat('Failed to write record to KustoDB with the following kafka "
            "coordinates, topic=', `topic`, ', partition=', CAST(`partition` AS STRING), "
            "', offset=', CAST(`offset` AS STRING), '.') AS `key`",
            "`line` AS `value`",
        )
        if self._dlq_writer is not None:
            # Injected driver-side writer (tests, bespoke sinks): a bounded
            # collect of the failure tail, sorted here — it is already on
            # the driver, so a distributed sort would only add jobs.
            rows = sorted(out.collect(), key=lambda r: (r["topic"], r["partition"], r["offset"]))
            records = [{"key": r["key"], "value": _dlq_value(r["value"], avro)} for r in rows]
            if records:
                self._dlq_writer(records)
                self.metrics.incr("dlq_records_sent", len(records))
            return
        # Produce from the EXECUTORS, one producer per partition task: DLQ
        # cost scales with the cluster and the failure tail never crosses
        # the driver. The producer is the injected factory, else the
        # configured Kafka DLQ's, else one JSONL file per task under
        # staging/_dlq; with no DLQ topic configured, the name is derived.
        import functools

        from kafka_sink_azure_kusto_spark.streaming.dlq import (
            FileDlqProducer,
            executor_partition_sender,
        )

        cfg = self.config
        factory = self._dlq_partition_producer_factory
        if factory is None and not cfg.dlq_enabled:
            factory = functools.partial(
                FileDlqProducer, directory=os.path.join(cfg.staging_dir, "_dlq")
            )
        topic = cfg.dlq_topic_name or f"dlq.{name}"
        sent = failed.sparkSession.sparkContext.accumulator(0)
        out.foreachPartition(
            executor_partition_sender(topic, cfg.dlq_producer_props(), factory, counter=sent)
        )
        # one evaluation of the failure frame; the accumulator counts
        # records handed to producers (post-flush), not candidates
        self.metrics.incr("dlq_records_sent", sent.value)

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

    @staticmethod
    def close(query, timeout_s: float = 60.0) -> None:
        """R6 — graceful close: stop triggering first (no new ingestion),
        then wait for the in-flight batch to finish
        (KustoSinkTask.java:413-433,473-494)."""
        query.stop()
        query.awaitTermination(timeout_s)
