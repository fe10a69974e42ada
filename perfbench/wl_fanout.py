"""sink_fanout — closed loop over ``KustoSparkSink.process_batch``.

Each epoch reads its own freshly written Kafka-shaped parquet file (no
cache), with Zipf-skewed topics over eight exact topic->table mappings
in json, csv, avro and parquet. The backend wrapper fails one table for
good (its records must reach the DLQ) and the first attempt of a seeded
share of files (exercising retry).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import threading
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import datagen
from harness import SPARK_CORES, SparkProbe, build_session, op_metrics, peak_heap_mb, stop_session, tree_cpu_s, union_length

# layers this workload exercises (metric-name prefixes); the rest read 0
LAYERS = ("op.", "spark.", "streaming.", "operators.", "sources.", "trace.")
RECORDS_PER_EPOCH = 40_000
WARMUP_RECORDS = 10_000
MIN_EPOCHS = 2
N_PARTITIONS = 16
FLUSH_SIZE_BYTES = 128 * 1024
FAILING_TOPIC = "t3"
TRANSIENT_SHARE = 0.10
DB = "bench"


def table_for(topic: str) -> str:
    return f"tbl_{topic}"


def mappings(wildcard: bool = False):
    from kafka_sink_azure_kusto_spark.config import TopicToTableMapping

    if wildcard:
        return [TopicToTableMapping(topic="*", db=DB, table="tbl_all", format="json")]
    return [
        TopicToTableMapping(topic=t, db=DB, table=table_for(t), format=fmt)
        for t, fmt in zip(datagen.FANOUT_TOPICS, datagen.FANOUT_FORMATS)
    ]


def gzip_uncompressed_size(path: str) -> int:
    """ISIZE from the gzip trailer (uncompressed length mod 2^32)."""
    with open(path, "rb") as f:
        f.seek(-4, os.SEEK_END)
        return int.from_bytes(f.read(4), "little")


class TimedBackend:
    """``IngestBackend`` handed to the sink: delegates to the emulator,
    injects the workload's faults, and records one span per call."""

    def __init__(self, inner, seed: int, failing_tables=(), transient_share: float = 0.0):
        self.inner = inner
        self.seed = seed
        self.failing_tables = frozenset(failing_tables)
        self.transient_share = transient_share
        self.calls: list[dict] = []
        self._tried: set[str] = set()
        self._lock = threading.Lock()

    def _transient(self, name: str) -> bool:
        h = hashlib.blake2b(f"{self.seed}|{name}".encode(), digest_size=8).digest()
        return int.from_bytes(h, "little") / 2**64 < self.transient_share

    def validate(self, props) -> None:
        self.inner.validate(props)

    def ingest_file(self, path, props):
        from kafka_sink_azure_kusto_spark.streaming.backends import (
            PermanentIngestError,
            TransientIngestError,
        )

        name = os.path.basename(path)
        staged = os.path.getsize(path)
        start = time.time()
        outcome, source_id = "ok", None
        try:
            if props.table in self.failing_tables:
                outcome = "permanent"
                raise PermanentIngestError(f"{props.table} rejects every file")
            with self._lock:
                first = name not in self._tried
                self._tried.add(name)
            if first and self._transient(name):
                outcome = "transient"
                raise TransientIngestError("first attempt fails")
            result = self.inner.ingest_file(path, props)
            source_id = result.source_id
            return result
        finally:
            end = time.time()
            with self._lock:
                self.calls.append(
                    {"file": name, "table": props.table, "start": start, "end": end,
                     "outcome": outcome, "source_id": source_id, "staged_bytes": staged,
                     "raw_bytes": gzip_uncompressed_size(path) if name.endswith(".gz") else None}
                )


class FileDlq:
    """Driver-side DLQ writer: appends failed records as JSON lines and
    keeps their keys for the output check."""

    def __init__(self, path: str):
        self.path = path
        self.writes: list[dict] = []

    def __call__(self, records: list[dict]) -> None:
        import json

        start = time.time()
        with open(self.path, "a", encoding="utf-8") as f:
            for r in records:
                f.write(json.dumps({"key": r["key"], "value": str(r["value"])}) + "\n")
        self.writes.append({"start": start, "end": time.time(), "keys": [r["key"] for r in records]})


class Rig:
    """One sink + emulator + DLQ in a fresh directory."""

    def __init__(self, spark, root: str, seed: int, wildcard: bool = False, faults: bool = True):
        from kafka_sink_azure_kusto_spark.config import BehaviorOnError, KustoSinkConfig
        from kafka_sink_azure_kusto_spark.streaming.backends import LocalEmulatorBackend
        from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.root = root
        self.spark = spark
        self.emulator = LocalEmulatorBackend(os.path.join(root, "kusto"))
        failing = {table_for(FAILING_TOPIC)} if faults and not wildcard else set()
        self.backend = TimedBackend(self.emulator, seed, failing, TRANSIENT_SHARE if faults else 0.0)
        self.dlq = FileDlq(os.path.join(root, "dlq.jsonl"))
        self.maps = mappings(wildcard)
        config = KustoSinkConfig(
            ingest_url="https://ingest-bench.kusto.windows.net",
            mappings=self.maps,
            staging_dir=os.path.join(root, "staging"),
            flush_size_bytes=FLUSH_SIZE_BYTES,
            behavior_on_error=BehaviorOnError.LOG,
            retry_backoff_time_ms=5,
            retry_max_time_ms=20,
        )
        self.sink = KustoSparkSink(config, self.backend, dlq_writer=self.dlq)
        self.failing_tables = frozenset(failing)
        self._log_pos = 0
        self._dlq_pos = 0
        self._call_pos = 0

    def stage_epoch(self, seed: int, epoch: int, n_records: int):
        """Write one epoch as one parquet file per Kafka partition, so the
        batch has one input split per partition like a Kafka source."""
        table = datagen.fanout_epoch(seed, epoch, n_records, N_PARTITIONS)
        path = os.path.join(self.root, "inputs", f"epoch-{epoch}")
        os.makedirs(path)
        parts = table.column("partition")
        for p in range(N_PARTITIONS):
            pq.write_table(table.filter(pc.equal(parts, p)), os.path.join(path, f"part-{p:02d}.parquet"))
        return path, table

    def expectation(self, table) -> checks.EpochExpectation:
        live = table.filter(pc.is_valid(table.column("value")))
        route = {m.topic: m.table for m in self.maps}
        rids = pc.struct_field(live.column("value"), [0]).to_pylist()
        recs = {
            rid: (t, p, o, route.get(t, route.get("*")))
            for rid, t, p, o in zip(
                rids, live.column("topic").to_pylist(),
                live.column("partition").to_pylist(), live.column("offset").to_pylist(),
            )
        }
        return checks.EpochExpectation(recs, self.failing_tables)

    def batch(self, path: str):
        return self.spark.read.parquet(path)

    def run_epoch(self, df, epoch: int) -> float:
        start = time.time()
        self.sink.process_batch(df, epoch)
        return start

    def new_outputs(self):
        """Ingest-log entries, DLQ writes and backend calls since the last call."""
        log = self.emulator.ingest_log()
        entries, self._log_pos = log[self._log_pos:], len(log)
        writes, self._dlq_pos = self.dlq.writes[self._dlq_pos:], len(self.dlq.writes)
        calls, self._call_pos = self.backend.calls[self._call_pos:], len(self.backend.calls)
        return entries, writes, calls

    def written(self, entries) -> dict:
        out: dict[str, list[int]] = {}
        for e in entries:
            part = os.path.join(self.emulator.root, e["db"], e["table"], f"part-{e['source_id']}.{e['format']}")
            out.setdefault(e["table"], []).extend(checks.part_file_rids(part, e["format"]))
        return out


def _latencies(epoch_start: float, entries, writes, calls) -> list[tuple[float, int]]:
    """(latency_s, records) per delivered file or DLQ write: a record is
    delivered when the ingest call carrying it returns."""
    end_by_source = {c["source_id"]: c["end"] for c in calls if c["source_id"]}
    out = [(end_by_source[e["source_id"]] - epoch_start, e["records"]) for e in entries]
    out += [(w["end"] - epoch_start, len(w["keys"])) for w in writes]
    return out


def weighted_percentile(samples: list[tuple[float, int]], q: float) -> float:
    samples = sorted(samples)
    total = sum(n for _, n in samples)
    target = total * q / 100.0
    acc = 0
    for value, n in samples:
        acc += n
        if acc >= target:
            return value
    return samples[-1][0]


def epoch_layers(start: float, end: float, calls, writes, flush_size_bytes: int) -> dict:
    """Backend, batching, retry and DLQ numbers of one traced sink epoch."""
    wall = end - start
    ok_calls = [c for c in calls if c["outcome"] == "ok"]
    files = {c["file"] for c in calls}
    raw = [c["raw_bytes"] for c in ok_calls if c["raw_bytes"] is not None]
    return {
        "ingest_calls": len(calls),
        "ingest_busy_pct": 100 * sum(c["end"] - c["start"] for c in calls) / wall,
        "ingest_wall_pct": 100 * union_length([(c["start"], c["end"]) for c in calls]) / wall,
        "staged_bytes": sum(c["staged_bytes"] for c in ok_calls),
        "files": len(files),
        "file_fill_ratio": (sum(raw) / len(raw) / flush_size_bytes) if raw else 0.0,
        "attempts_per_file": len(calls) / max(1, len(files)),
        "dlq_records": sum(len(w["keys"]) for w in writes),
        "dlq_pct": 100 * sum(w["end"] - w["start"] for w in writes) / wall,
    }


def sink_layer_metrics(lay: list[dict]) -> dict:
    """Per-layer metrics of both sink workloads outside Spark: means of
    ``epoch_layers`` over the traced epochs."""

    def mean(key):
        return sum(x[key] for x in lay) / len(lay)

    return {
        "streaming.backends.ingest_calls_per_epoch": mean("ingest_calls"),
        "streaming.backends.ingest_busy_pct": mean("ingest_busy_pct"),
        "streaming.backends.ingest_wall_pct": mean("ingest_wall_pct"),
        "streaming.backends.staged_bytes_per_epoch": mean("staged_bytes"),
        "operators.batching.files_per_epoch": mean("files"),
        "operators.batching.file_fill_ratio": mean("file_fill_ratio"),
        "streaming.retry.attempts_per_file": mean("attempts_per_file"),
        "streaming.dlq.records_per_epoch": mean("dlq_records"),
        "streaming.dlq.pct": mean("dlq_pct"),
    }


def run(ctx) -> dict:
    spark = build_session(SPARK_CORES, "perfbench-sink_fanout", ctx.spark_dir)
    rig = Rig(spark, os.path.join(ctx.workdir, "rig"), ctx.seed)
    path, table = rig.stage_epoch(ctx.seed, 9_000, WARMUP_RECORDS)
    rig.run_epoch(rig.batch(path), 9_000)
    setup_wall_s, setup_cpu_s = time.time() - ctx.process_start, tree_cpu_s()
    entries, writes, _ = rig.new_outputs()
    problems, _ = checks.check_epoch(rig.expectation(table), rig.written(entries), [k for w in writes for k in w["keys"]])
    if problems:
        raise RuntimeError(f"warm-up epoch failed its output check: {problems[:3]}")

    probe = SparkProbe(spark) if ctx.trace else None
    epochs, attempted, failed, unaccounted = [], 0, 0, 0
    latency_samples: list[tuple[float, int]] = []
    t_start = time.time()
    t_end = t_start + ctx.seconds
    epoch = 0
    while epoch < MIN_EPOCHS or time.time() < t_end:
        path, table = rig.stage_epoch(ctx.seed, epoch, RECORDS_PER_EPOCH)
        exp = rig.expectation(table)
        traced = ctx.trace and epoch % 2 == 1  # plain, traced, plain, ...
        attempted += 1
        df = rig.batch(path)
        if traced:
            probe.set_group(f"epoch-{epoch}")
        try:
            cpu = tree_cpu_s()
            start = rig.run_epoch(df, epoch)
            end = time.time()
            cpu = tree_cpu_s() - cpu
        except Exception as e:  # noqa: BLE001 — a raising epoch is a failed operation
            failed += 1
            ctx.log(f"epoch {epoch} raised: {e!r}")
            rig.new_outputs()
            shutil.rmtree(path)
            epoch += 1
            continue
        finally:
            if traced:
                probe.clear_group()
        entries, writes, calls = rig.new_outputs()
        problems, lost = checks.check_epoch(exp, rig.written(entries), [k for w in writes for k in w["keys"]])
        unaccounted += lost
        if problems:
            failed += 1
            ctx.log(f"epoch {epoch} failed its output check: {problems[:3]}")
        latency_samples += _latencies(start, entries, writes, calls)
        rec = {"epoch": epoch, "wall": end - start, "cpu": cpu, "records": table.num_rows, "traced": traced}
        if traced:
            stats = probe.stats(f"epoch-{epoch}")
            rec["op"] = (stats, start, end, table.num_rows)
            rec["layers"] = epoch_layers(start, end, calls, writes, FLUSH_SIZE_BYTES)
            ctx.tracer.add("epoch", start, end, epoch, None, records=table.num_rows)
            for c in calls:
                ctx.tracer.add("ingest_file", c["start"], c["end"], epoch, "epoch", outcome=c["outcome"])
            for w in writes:
                ctx.tracer.add("dlq_write", w["start"], w["end"], epoch, "epoch", records=len(w["keys"]))
            for s, e in stats.intervals:
                ctx.tracer.add("spark_job", s, e, epoch, "epoch")
        epochs.append(rec)
        epoch += 1
        shutil.rmtree(path)

    window = (t_start, time.time())
    walls = [e["wall"] for e in epochs]
    records = sum(e["records"] for e in epochs)
    e2e = {
        "setup_s": setup_cpu_s,
        "cpu_us_per_record": sum(e["cpu"] for e in epochs) / records * 1e6,
    }
    wall = {
        "latency_p50_ms": weighted_percentile(latency_samples, 50) * 1000,
        "latency_p99_ms": weighted_percentile(latency_samples, 99) * 1000,
        "records_per_s": records / sum(walls),
    }
    out = {"attempted": attempted, "failed": failed, "e2e": e2e, "wall": wall, "layers": {}, "window": window,
           "context": {"setup_wall_s": setup_wall_s, "epoch_walls_s": [round(w, 3) for w in walls],
                       "epoch_cpu_s": [round(e["cpu"], 3) for e in epochs]}}
    if ctx.trace:
        out["layers"], stream_bad = _traced_layers(ctx, spark, epochs, unaccounted)  # stops the session
        out["attempted"] += 1  # the stream phase is one more operation
        if stream_bad:
            out["failed"] += 1
            ctx.log(f"stream phase: {stream_bad} records not ingested exactly once")
    else:
        stop_session(spark)
    return out


def _traced_layers(ctx, spark, epochs, unaccounted) -> tuple[dict, int]:
    """Per-layer metrics of the traced epochs, then of one wildcard
    epoch, of the open-loop stream phase and of a ``local[1]`` epoch.
    Returns them with the stream phase's count of bad records."""
    import wl_stream

    traced = [e for e in epochs if e["traced"]]
    plain = [e["wall"] for e in epochs if not e["traced"]]
    layers = {
        **op_metrics([e["op"] for e in traced]),
        **sink_layer_metrics([e["layers"] for e in traced]),
        "streaming.metrics.unaccounted_records": unaccounted,
        "spark.driver_peak_heap_mb": peak_heap_mb(spark),
    }
    layers["trace.overhead_pct"] = (layers["op.wall_ms_p50"] / 1000 / statistics.median(plain) - 1) * 100 if plain else 0.0
    # one wildcard-mapped epoch on the same records: jobs per epoch vs mapping count
    probe = SparkProbe(spark)
    rig = Rig(spark, os.path.join(ctx.workdir, "wildcard"), ctx.seed, wildcard=True, faults=False)
    path, _ = rig.stage_epoch(ctx.seed, 0, RECORDS_PER_EPOCH)
    df = rig.batch(path)
    probe.set_group("wildcard")
    rig.run_epoch(df, 0)
    probe.clear_group()
    layers["streaming.sink.jobs_per_epoch_wildcard"] = probe.stats("wildcard").jobs
    layers["streaming.sink.jobs_per_mapping"] = layers["spark.jobs_per_op"] / len(mappings())
    stream_layers, stream_bad = wl_stream.stream_phase(ctx, spark)
    layers.update(stream_layers)
    layers["streaming.metrics.unaccounted_records"] += stream_bad
    layers["streaming.sink.speedup_vs_local1"] = _speedup_vs_local1(ctx, spark, statistics.median([e["wall"] for e in epochs]))
    return layers, stream_bad


def _speedup_vs_local1(ctx, spark, p50_local: float) -> float:
    """The same epoch on a single-core session: its wall at local[1] ÷
    the median epoch wall at local[SPARK_CORES]."""
    stop_session(spark)
    one = build_session(1, "perfbench-sink_fanout-local1", ctx.spark_dir)
    try:
        rig = Rig(one, os.path.join(ctx.workdir, "local1"), ctx.seed)
        walls = []
        # a warm-up epoch as in set-up, then the first measured epoch's records
        for epoch, n in ((9_100, WARMUP_RECORDS), (0, RECORDS_PER_EPOCH)):
            path, _ = rig.stage_epoch(ctx.seed, epoch, n)
            start = rig.run_epoch(rig.batch(path), epoch)
            walls.append(time.time() - start)
        return walls[-1] / p50_local
    finally:
        stop_session(one)
