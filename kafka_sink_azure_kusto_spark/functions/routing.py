"""Topic→(db, table, format, …) routing (SURVEY §2.2 F3).

Reference: per-record lookup with exact topic match first, then ``*``
wildcard fallback; an unmapped topic is a hard error
(KustoSinkTask.java:334-340 lookup, :145-184 map build, :400-402 error).

Spark-first design: the routing config is tiny (one entry per
configured topic, O(10) in the reference), so it compiles into one CASE
expression per route column — the reference's in-memory
Map<String, TopicIngestionProperties> as a narrow projection: no join,
no shuffle, whole-stage codegen'd. The wildcard is the CASE's ELSE
branch; with no wildcard an unmapped topic gets null routes, and the
caller decides what null means (the sink: an error under FAIL, the DLQ
otherwise).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.config import TopicToTableMapping


def with_route(
    df: DataFrame,
    mappings: Sequence[TopicToTableMapping],
    topic_col: str = "topic",
    on_unmapped: str = "error_column",
) -> DataFrame:
    """F3 — append ``route_db``, ``route_table``, ``route_format``,
    ``route_mapping``, ``route_streaming`` columns resolved from the
    mapping config.

    Exact topic match wins; otherwise the ``*`` wildcard; otherwise the
    route columns are null (callers decide whether null ⇒ error, matching
    the reference's NotFoundException, or null ⇒ DLQ).

    Implementation: the config is compiled into a single CASE expression
    (no join at all — zero shuffle, fully codegen'd, pushdown-friendly).
    For O(10³)+ mappings a broadcast join would win; config sizes in the
    reference are O(10), so CASE keeps the plan narrow.
    """
    exact = {m.topic: m for m in mappings if not m.is_wildcard}
    wildcard: Optional[TopicToTableMapping] = next(
        (m for m in mappings if m.is_wildcard), None
    )

    def resolve(attr):
        col = F.lit(None).cast("string")
        if wildcard is not None:
            v = attr(wildcard)
            col = F.lit(v)
        expr = col
        for topic, m in exact.items():
            expr = F.when(F.col(topic_col) == F.lit(topic), F.lit(attr(m))).otherwise(
                expr
            )
        return expr

    out = (
        df.withColumn("route_db", resolve(lambda m: m.db))
        .withColumn("route_table", resolve(lambda m: m.table))
        .withColumn("route_format", resolve(lambda m: m.ingest_format))
        .withColumn("route_mapping", resolve(lambda m: m.mapping))
        .withColumn(
            "route_streaming",
            resolve(lambda m: m.streaming).cast("boolean"),
        )
    )
    return out
