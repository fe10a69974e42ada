"""Observability — the reference's 6 JMX counters (SURVEY §2.8 M1).

Reference: KustoSinkMetrics MXBean with monotonic counters
(KustoSinkMetrics.java:17-124), incremented from the partition writer
(TopicPartitionWriter.java:103-104,126-128,142-144,196-198,211-213,249-255).

Spark rendition: a driver-side counter object updated inside
foreachBatch (which runs on the driver; per-record counts come from the
staged-file manifest, not per-row callbacks), exposed as a dict for a
StreamingQueryListener / Dropwizard bridge to publish.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field


@dataclass
class SinkMetrics:
    records_written: int = 0
    records_failed: int = 0
    ingestion_attempts: int = 0
    ingestion_successes: int = 0
    ingestion_failures: int = 0
    dlq_records_sent: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def incr(self, name: str, by: int = 1) -> None:
        with self._lock:
            setattr(self, name, getattr(self, name) + by)

    def snapshot(self) -> dict[str, int]:
        """Same six names the MXBean exports (KustoSinkMetricsMXBean.java:6-19)."""
        with self._lock:
            return {
                "RecordsWritten": self.records_written,
                "RecordsFailed": self.records_failed,
                "IngestionAttempts": self.ingestion_attempts,
                "IngestionSuccesses": self.ingestion_successes,
                "IngestionFailures": self.ingestion_failures,
                "DlqRecordsSent": self.dlq_records_sent,
            }


def make_metrics_listener(metrics: SinkMetrics, log_fn=None):
    """Build a ``StreamingQueryListener`` that publishes the six counters
    on every query progress event (the JMX-registration analog,
    KustoSinkMetrics.java register/unregister). Attach with
    ``spark.streams.addListener(make_metrics_listener(sink.metrics))``.

    NOTE: listener events are delivered asynchronously on a separate
    dispatch thread — ``last_published`` may lag ``query.stop()`` by a
    beat; read ``metrics.snapshot()`` directly for synchronous access.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class _SinkMetricsListener(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.last_published: dict[str, int] = {}

        def onQueryStarted(self, event):
            return None

        def onQueryProgress(self, event):
            self.last_published = metrics.snapshot()
            if log_fn is not None:
                log_fn(self.last_published)

        def onQueryIdle(self, event):
            return None

        def onQueryTerminated(self, event):
            self.last_published = metrics.snapshot()
            if log_fn is not None:
                log_fn(self.last_published)

    return _SinkMetricsListener()
