from kafka_sink_azure_kusto_spark.streaming.backends import (  # noqa: F401
    IngestionProperties,
    IngestBackend,
    LocalEmulatorBackend,
    PermanentIngestError,
    TransientIngestError,
)
from kafka_sink_azure_kusto_spark.streaming.metrics import SinkMetrics  # noqa: F401
from kafka_sink_azure_kusto_spark.streaming.retry import retry_with_backoff  # noqa: F401
from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink  # noqa: F401
