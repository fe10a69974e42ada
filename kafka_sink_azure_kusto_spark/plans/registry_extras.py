"""Additional engine-surface queries: sessionization, skew-safe
aggregation, SQL passthrough, and the streaming round-trip (rows-only).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.operators.skew import salted_sum_count
from kafka_sink_azure_kusto_spark.plans.registry import _drain_stream, _workdir, register
from kafka_sink_azure_kusto_spark.sources.tables import load_table, register_temp_views


@register(
    "events_sessionization",
    """
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via lag + running
    sum — the batch shape of a session window; the streaming analog is
    ``F.session_window`` with a watermark (see streaming tests)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    seq = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = seq.withColumn("session_id", F.sum("new_session").over(w2).cast("bigint"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "skew_salted_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation — must equal the direct groupBy (the
    oracle IS the direct aggregation): correctness proof that salting
    changes the plan, not the result. Decimal partials keep the
    two-phase sum exact."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_sum_count(
        ev, ["event_type"], "value_dec", salt_buckets=8, salt_on="event_id"
    )
    return out.select(
        "event_type",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
        "n",
    )


@register(
    "sql_passthrough",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: register the tables as temp views and
    run the user's SQL verbatim through spark.sql — the oracle is the
    same statement, demonstrating ANSI-SQL compatibility end-to-end."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderpriority
        """
    )


@register(
    "deserialization_dlq_split",
    """
    WITH k AS (SELECT event_id,
                      CASE WHEN event_id % 17 = 0 THEN 'not-json-at-all'
                           ELSE props END AS value
               FROM events)
    SELECT event_id, value,
           CASE WHEN NOT json_valid(value) THEN 'dlq'
                WHEN json_extract_string(value, '$.k') IS NULL THEN 'dlq'
                ELSE 'ok' END AS route
    FROM k
    """,
)
def deserialization_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — deserialization-failure routing: malformed payloads (every
    17th event carries garbage) decode to null and route to the DLQ side
    instead of poisoning the batch (Connect-framework
    errors.deadletterqueue analog, README.md:169-177)."""
    from kafka_sink_azure_kusto_spark.functions.filters import split_decode_failures

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, "not-json-at-all")
        .otherwise(F.col("props"))
        .alias("value"),
    )
    good, bad = split_decode_failures(ev, "k int")
    return good.select("event_id", "value", F.lit("ok").alias("route")).unionByName(
        bad.select("event_id", "value", F.lit("dlq").alias("route"))
    )


@register(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — relational surface completeness."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_dormant_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — customers with no large order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "set_ops_users",
    """
    SELECT user_id FROM
      ((SELECT DISTINCT user_id FROM events
        WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-03 00:00:00'
        INTERSECT
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03 00:00:00')
       EXCEPT
       SELECT DISTINCT user_id FROM events
       WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-03 00:00:00')
    """,
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT): users who clicked AND
    purchased in the first two days but never errored in them."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    by = lambda t: ev.filter(F.col("event_type") == t).select("user_id").distinct()  # noqa: E731
    return by("click").intersect(by("purchase")).exceptAll(by("error")).distinct()


@register(
    "distinct_user_counts",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def distinct_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — expands to a two-phase aggregation in
    Spark (partial distinct then count); the scale-path alternative is
    approx_count_distinct (HLL) when exactness isn't required."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )


@register(
    "kusto_type_roundtrip",
    """
    SELECT event_id,
           CAST(event_id % 1000 AS INT) AS vnum,
           CAST(CAST(value AS DECIMAL(38, 18)) AS DOUBLE) AS vdec,
           ts AS vdate,
           (event_id % 2 = 0) AS vb,
           CAST(value AS DOUBLE) AS vreal,
           event_type AS vstr,
           CAST(event_id * 42 AS BIGINT) AS vlong,
           'json' AS vtype
    FROM events WHERE event_id < 1000
    """,
)
def kusto_type_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §1.2 — the E2E record type surface (it-avro.avsc →
    it-table-setup.kql): int, decimal(38,18), datetime, boolean, real,
    string, long round-tripped through Spark's type system with the
    same column names the reference's IT asserts on (vnum/vdec/vdate/
    vb/vreal/vstr/vlong/vtype)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        (F.col("event_id") % 1000).cast("int").alias("vnum"),
        F.col("value").cast("decimal(38,18)").cast("double").alias("vdec"),
        F.col("ts").alias("vdate"),
        (F.col("event_id") % 2 == 0).alias("vb"),
        F.col("value").cast("double").alias("vreal"),
        F.col("event_type").alias("vstr"),
        (F.col("event_id") * 42).cast("bigint").alias("vlong"),
        F.lit("json").alias("vtype"),
    )


@register(
    "dynamic_variant_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           json_valid(props) AS is_valid
    FROM events
    """,
)
def dynamic_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kusto ``dynamic`` (JSON bag) via Spark 4's native VariantType:
    parse_json → variant_get typed extraction — the modern engine path
    for schemaless bags (create-table.kql:53-55's dynamic column)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        F.try_parse_json("props").isNotNull().alias("is_valid"),
    )


@register(
    "rollup_region_nation",
    """
    SELECT COALESCE(r.r_name, 'ALL') AS region,
           COALESCE(n.n_name, 'ALL') AS nation,
           COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation (region → nation → grand total) —
    multi-level aggregates in one pass."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
        )
    )


@register(
    "pivot_event_counts",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user counts of selected event types via
    ``groupBy().pivot()`` — the oracle expresses the same result with
    FILTER aggregates (engine-portable pivot semantics)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null for absent combos; counts should read 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("click", "purchase", "view")],
    )


@register(
    "percentile_order_values",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.95) AS p95
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p95) per group — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition. The 100 TB path swaps in
    ``approx_percentile`` (t-digest) when exactness isn't required."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )


@register(
    "avro_container_encode",
    """
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY event_id LIMIT 500
    """,
)
def avro_container_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — struct records staged as real Avro Object Container Files
    (pure-Python writer, functions/avro_io.py; the Spark rendition of
    AvroRecordWriterProvider.java:27-73) and read back DISTRIBUTED:
    events → sink.process_batch(format=avro) → emulator binary ingest →
    ``binaryFile`` source + ``mapInPandas`` container decode. The oracle
    is the identity transform of the deterministic input subset, so the
    hash check proves the full encode→container→decode round trip is
    lossless for long/string/double incl. nulls."""
    import pandas as pd  # noqa: F401 — used in the decode closure

    import kafka_sink_azure_kusto_spark as pks
    from kafka_sink_azure_kusto_spark.streaming import (
        KustoSparkSink,
        LocalEmulatorBackend,
    )

    work = _workdir("avro_rt_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(500)
    records = ev.select(
        F.lit(None).cast("string").alias("key"),
        F.struct("event_id", "user_id", "event_type", "value").alias("value"),
        F.lit("events").alias("topic"),
        (F.col("event_id") % 4).cast("long").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
    )
    cfg = pks.KustoSinkConfig(
        ingest_url="https://ingest.example.kusto.windows.net",
        mappings=[
            pks.TopicToTableMapping(topic="events", db="db", table="t", format="avro")
        ],
        staging_dir=os.path.join(work, "staging"),
        flush_size_bytes=16 * 1024,  # force several rolled container files
    )
    backend = LocalEmulatorBackend(os.path.join(work, "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(records, epoch_id=0)
    table_dir = os.path.join(work, "kusto", "db", "t")

    def decode(batches):
        import pandas as pd

        from kafka_sink_azure_kusto_spark.functions.avro_io import read_container

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                _, recs = read_container(bytes(blob))
                rows.extend(recs)
            if rows:
                yield pd.DataFrame(rows)

    bin_df = spark.read.format("binaryFile").load(os.path.join(table_dir, "part-*.avro"))
    return bin_df.select("content").mapInPandas(
        decode, schema="event_id long, user_id long, event_type string, value double"
    )


@register(
    "streaming_sink_roundtrip",
    """
    SELECT event_id, user_id, event_type
    FROM events ORDER BY event_id LIMIT 500
    """,
)
def streaming_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming pipeline as a queryable operator:
    events → Kafka-record shape → replay file stream → foreachBatch sink
    (tombstone filter, routing, NDJSON encode, rolled gzipped staging,
    emulated ingestion) → read the ingested table back. The input subset
    is deterministic (lowest 500 event_ids; event_id is unique), so the
    exact oracle is the identity transform of that subset — every hop of
    the pipeline (encode, roll, ingest, read-back) must preserve it
    byte-for-byte for the value hash to match."""
    import kafka_sink_azure_kusto_spark as pks
    from kafka_sink_azure_kusto_spark.sources.replay import (
        as_kafka_records,
        replay_stream,
        stage_replay_dir,
    )
    from kafka_sink_azure_kusto_spark.streaming import (
        KustoSparkSink,
        LocalEmulatorBackend,
    )

    work = _workdir("stream_rt_")
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(500)
    records = as_kafka_records(
        ev.withColumn("v", F.to_json(F.struct("event_id", "user_id", "event_type"))),
        topic_col="event_type",
        value_col="v",
        key_col="event_id",
    )
    stage_replay_dir(records, os.path.join(work, "replay"), chunks=2)
    cfg = pks.KustoSinkConfig(
        ingest_url="https://ingest.example.kusto.windows.net",
        mappings=[pks.TopicToTableMapping(topic="*", db="db", table="t", format="json")],
        staging_dir=os.path.join(work, "staging"),
        checkpoint_location=os.path.join(work, "chk"),
    )
    backend = LocalEmulatorBackend(os.path.join(work, "kusto"))
    sink = KustoSparkSink(cfg, backend)
    q = sink.attach(replay_stream(spark, os.path.join(work, "replay")), available_now=True)
    # loud-fail on a hung stream: grading the emulator table after a
    # timeout would silently gate on partial ingestion
    _drain_stream(q, 120)
    table_dir = os.path.join(work, "kusto", "db", "t")
    out = spark.read.json(f"{table_dir}/part-*")
    return out.select("event_id", "user_id", "event_type").orderBy("event_id")
