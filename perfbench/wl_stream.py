"""Open-loop stream through ``KustoSparkSink.attach``, run as one phase
of a traced ``sink_fanout`` run.

A separate generator process (``streamgen.py``) writes NDJSON chunk
files into the replay directory on a fixed schedule; the sink reads
them with the repository's file-replay source, one wildcard json
mapping and a 2 s processing-time trigger. A record's latency is its
emulator ingest time (ingest-log ``ts``, joined to the part-file rows by
``source_id``) minus its due time. The phase gives the per-layer metrics
of the replay source and of the ``attach`` path.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

import checks
import streamgen
from harness import SparkProbe, percentile
from wl_fanout import DB, TimedBackend

STREAM_SECONDS = 10  # measured window of the phase
# A micro-batch costs ~0.55 s on a quiet 4-core host, mostly fixed cost, and up to
# ~0.9 s when other guests take its CPU. With a 1 s trigger the sink then ran
# batches back to back and latency followed the backlog, not the sink; 2 s keeps
# it about half busy. At RATE a batch holds ~4000 records.
TRIGGER_MS = 2000
WARM_S = 3  # records due in the first seconds of the stream are not measured
WARM_BATCHES = 2  # micro-batches of the warm-up stream
DRAIN_S = 20
TABLE = "events"
HERE = os.path.dirname(os.path.abspath(__file__))


class StreamRig:
    def __init__(self, spark, root: str, seed: int):
        from kafka_sink_azure_kusto_spark.config import KustoSinkConfig, TopicToTableMapping
        from kafka_sink_azure_kusto_spark.streaming.backends import LocalEmulatorBackend
        from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink

        shutil.rmtree(root, ignore_errors=True)
        self.replay = os.path.join(root, "replay")
        os.makedirs(self.replay)
        self.spark = spark
        self.emulator = LocalEmulatorBackend(os.path.join(root, "kusto"))
        self.backend = TimedBackend(self.emulator, seed)
        self.config = KustoSinkConfig(
            ingest_url="https://ingest-bench.kusto.windows.net",
            mappings=[TopicToTableMapping(topic="*", db=DB, table=TABLE, format="json")],
            staging_dir=os.path.join(root, "staging"),
            checkpoint_location=os.path.join(root, "checkpoint"),
            trigger_interval_ms=TRIGGER_MS,
        )
        self.sink = KustoSparkSink(self.config, self.backend)

    def stream_df(self, files_per_trigger: int):
        from kafka_sink_azure_kusto_spark.sources.replay import replay_stream

        return replay_stream(self.spark, self.replay, files_per_trigger=files_per_trigger)

    def generated(self) -> dict:
        """rid -> due time of every non-tombstone record written so far."""
        out = {}
        for path in sorted(glob.glob(os.path.join(self.replay, "chunk-*.json"))):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    value = json.loads(line)["value"]
                    if value is not None:
                        rec = json.loads(value)
                        out[rec["rid"]] = rec["due"]
        return out

    def ingested(self) -> list[tuple[int, float, float]]:
        """(rid, due, ingest ts) of every record in the table."""
        out = []
        for e in self.emulator.ingest_log():
            part = os.path.join(self.emulator.root, e["db"], e["table"], f"part-{e['source_id']}.{e['format']}")
            with open(part, encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        rec = json.loads(line)
                        out.append((rec["rid"], rec["due"], e["ts"]))
        return out

    def ingested_count(self) -> int:
        return sum(e["records"] for e in self.emulator.ingest_log())


def _warmup(rig: StreamRig, seed: int) -> None:
    """WARM_BATCHES full-size micro-batches of pre-written chunks through
    attach(availableNow): the session has run sink epochs already, but
    not the replay source or a checkpointed query."""
    offsets = [0] * streamgen.PARTITIONS
    start = time.time() - 1.0
    per_batch = TRIGGER_MS // streamgen.CHUNK_MS
    for n in range(WARM_BATCHES * per_batch):
        lines = streamgen.chunk_lines(seed, n, start, offsets)
        streamgen.write_chunk(rig.replay, n, lines)
    q = rig.sink.attach(rig.stream_df(per_batch), available_now=True)
    q.awaitTermination(120)
    expected = rig.generated()
    got = [r for r, _, _ in rig.ingested()]
    if sorted(got) != sorted(expected):
        raise RuntimeError(f"warm-up stream delivered {len(got)} of {len(expected)} records")


class BatchTimer:
    """Wraps the instance's ``process_batch`` (the foreachBatch body):
    times every epoch and tags it with a job group."""

    def __init__(self, rig: StreamRig, probe: SparkProbe):
        self.inner = rig.sink.process_batch
        self.probe = probe
        self.sc = rig.spark.sparkContext
        self.epochs: list[dict] = []
        rig.sink.process_batch = self

    def __call__(self, df, epoch_id):
        keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        saved = [self.sc.getLocalProperty(k) for k in keys]
        self.probe.set_group(f"stream-{epoch_id}")
        start = time.time()
        try:
            self.inner(df, epoch_id)
        finally:
            end = time.time()
            for k, v in zip(keys, saved):
                self.sc.setLocalProperty(k, v)
            self.epochs.append({"epoch": epoch_id, "start": start, "end": end})


class BacklogSampler:
    """Generated-but-not-ingested records, sampled every ``period_s``."""

    def __init__(self, rig: StreamRig, period_s: float = 0.25):
        self.rig = rig
        self.period_s = period_s
        self.max_backlog = 0
        self._live: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="backlog", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            for path in glob.glob(os.path.join(self.rig.replay, "chunk-*.json")):
                if path not in self._live:
                    with open(path, encoding="utf-8") as f:
                        self._live[path] = sum(1 for ln in f if '"value": null' not in ln)
            backlog = sum(self._live.values()) - self.rig.ingested_count()
            self.max_backlog = max(self.max_backlog, backlog)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        out.append(p)
    return out


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_phase(ctx, spark) -> tuple[dict, int]:
    """Runs the open-loop stream on ``spark``. Returns its per-layer
    metrics and the number of records not ingested exactly once."""
    _warmup(StreamRig(spark, os.path.join(ctx.workdir, "stream-warm"), ctx.seed), ctx.seed + 1)
    rig = StreamRig(spark, os.path.join(ctx.workdir, "stream"), ctx.seed)
    probe = SparkProbe(spark)
    timer = BatchTimer(rig, probe)
    start = time.time() + 1.0
    t_meas, t_stop = start + WARM_S, start + WARM_S + STREAM_SECONDS
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "streamgen.py"), "--dir", rig.replay, "--seed", str(ctx.seed),
         "--start", repr(start), "--seconds", str(WARM_S + STREAM_SECONDS)],
        stdout=subprocess.PIPE, text=True,
    )
    query = None
    try:
        query = rig.sink.attach(rig.stream_df(100_000))
        with BacklogSampler(rig) as sampler:
            gen.communicate(timeout=WARM_S + STREAM_SECONDS + 30)
            expected = rig.generated()
            deadline = time.time() + DRAIN_S
            while rig.ingested_count() < len(expected) and time.time() < deadline and query.isActive:
                time.sleep(0.1)
        progress = _progress(query)
    finally:
        if gen.poll() is None:
            gen.terminate()
            gen.wait(timeout=10)
        if query is not None:
            query.stop()
            query.awaitTermination(60)
    if query.exception() is not None:
        ctx.log(f"stream failed: {query.exception()}")

    rows = rig.ingested()
    bad, extra = checks.check_stream(expected, [rid for rid, _, _ in rows])
    lat = [(ts - due) * 1000 for rid, due, ts in rows if t_meas <= due < t_stop]
    # micro-batches that start in the window: not the query's cold first one, nor the drain
    measured = [p for p in progress if p["numInputRows"] > 0 and t_meas <= _ts(p["timestamp"]) < t_stop]
    ids = {p["batchId"] for p in measured}
    jobs = []
    for e in timer.epochs:
        if e["epoch"] not in ids:
            continue
        trace = f"stream-{e['epoch']}"
        stats = probe.stats(trace)
        jobs.append(stats.jobs)
        ctx.tracer.add("stream_epoch", e["start"], e["end"], trace, None)
        for s, end in stats.intervals:
            ctx.tracer.add("spark_job", s, end, trace, "stream_epoch")
    for p in measured:
        t = _ts(p["timestamp"])
        for phase, ms in p["durationMs"].items():
            parent = None if phase == "triggerExecution" else "progress.triggerExecution"
            ctx.tracer.add(f"progress.{phase}", t, t + ms / 1000, f"stream-{p['batchId']}", parent)

    def phase_pct(*names):
        return 100 * sum(sum(p["durationMs"].get(n, 0) for n in names) for p in measured) / sum(
            p["durationMs"]["triggerExecution"] for p in measured)

    layers = {
        "streaming.sink.attach_jobs_per_epoch": statistics.mean(jobs),
        "streaming.sink.attach_latency_p50_ms": percentile(lat, 50),
        "streaming.sink.attach_latency_p99_ms": percentile(lat, 99),
        "sources.replay.latest_offset_pct": phase_pct("latestOffset"),
        "sources.replay.get_batch_pct": phase_pct("getBatch"),
        "sources.replay.commit_pct": phase_pct("walCommit", "commitOffsets"),
        "sources.replay.backlog_max_records": sampler.max_backlog,
    }
    return layers, bad + extra
