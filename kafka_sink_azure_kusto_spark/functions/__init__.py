"""Pure DataFrame→DataFrame transforms. Every function here is
side-effect-free and unit-testable without a streaming query; the
streaming sink composes them inside foreachBatch.
"""

from kafka_sink_azure_kusto_spark.functions.filters import (  # noqa: F401
    drop_tombstones,
    drop_empty_serializations,
)
from kafka_sink_azure_kusto_spark.functions.routing import with_route  # noqa: F401
from kafka_sink_azure_kusto_spark.functions.encoders import (  # noqa: F401
    decode_payload,
    encode_csv_line,
    encode_ndjson,
    pack_all,
)
