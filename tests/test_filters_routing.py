"""F1–F4 transform tests (modeled on KustoSinkTaskTest routing tests and
the tombstone interleave in KustoSinkIT.java:396-398)."""

import pytest
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.config import TopicToTableMapping
from kafka_sink_azure_kusto_spark.functions.filters import (
    drop_empty_serializations,
    drop_tombstones,
)
from kafka_sink_azure_kusto_spark.functions.routing import with_route
from kafka_sink_azure_kusto_spark.functions.sql_text import quote_ident


def _records(spark):
    rows = [
        ("k1", '{"a":1}', "topic1"),
        ("k2", None, "topic1"),  # tombstone
        ("k3", '{"a":2}', "topic2"),
        ("k4", "", "topic2"),  # empty serialization
        ("k5", "{}", "topic3"),  # empty JSON object
        ("k6", '{"a":3}', "topic3"),  # unmapped topic
    ]
    return spark.createDataFrame(rows, "key string, value string, topic string")


def test_tombstone_filter(spark):
    df = drop_tombstones(_records(spark))
    assert df.count() == 5
    assert df.filter(F.col("key") == "k2").count() == 0


def test_empty_serialization_filter(spark):
    df = drop_empty_serializations(_records(spark))
    keys = {r.key for r in df.collect()}
    assert keys == {"k1", "k3", "k6"}


MAPPINGS = [
    TopicToTableMapping(topic="topic1", db="db1", table="table1", format="csv"),
    TopicToTableMapping(
        topic="topic2", db="db2", table="table2", format="json", mapping="Mapping"
    ),
]


def test_routing_explicit_no_wildcard(spark):
    df = with_route(_records(spark), MAPPINGS)
    got = {r.topic: (r.route_db, r.route_table, r.route_format) for r in df.collect()}
    assert got["topic1"] == ("db1", "table1", "csv")
    assert got["topic2"] == ("db2", "table2", "multijson")  # E5 coalesced
    assert got["topic3"] == (None, None, None)  # unmapped ⇒ null route


def test_routing_wildcard_fallback(spark):
    ms = MAPPINGS + [TopicToTableMapping(topic="*", db="dbW", table="tableW")]
    df = with_route(_records(spark), ms)
    got = {r.topic: r.route_table for r in df.collect()}
    assert got["topic1"] == "table1"  # explicit wins
    assert got["topic3"] == "tableW"  # wildcard catches the rest


def test_routing_plan_is_narrow(spark):
    """The routing CASE must not introduce a shuffle (scale guard)."""
    df = with_route(_records(spark), MAPPINGS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _unvalidated(topic, db="db", table="t", **kw):
    """A mapping carrying ``db``/``table`` values the config would reject:
    with_route must quote any value, not rely on config validation."""
    m = TopicToTableMapping(topic=topic, db="db", table="t", **kw)
    object.__setattr__(m, "db", db)
    object.__setattr__(m, "table", table)
    return m


HOSTILE_ROUTES = {
    "quoted_topic": ([_unvalidated("o'clock", table="quoted")], "topic"),
    "backslash_db": ([_unvalidated("topic1", db="d\\b")], "topic"),
    "backtick_table": ([_unvalidated("topic2", table="ta`ble")], "topic"),
    "hyphen_topic_col": ([_unvalidated("topic1"), _unvalidated("topic3")], "my-topic"),
    "mapping_none": (
        [_unvalidated("topic1", mapping="M1", streaming=True), _unvalidated("topic2")],
        "topic",
    ),
    "wildcard_and_exact": (
        [_unvalidated("topic1", format="csv"), _unvalidated("*", db="dbW", table="w"),
         _unvalidated("o'clock", table="q", format="avro")],
        "topic",
    ),
}


@pytest.mark.parametrize("case", sorted(HOSTILE_ROUTES))
def test_routing_sql_text_quotes_hostile_values(spark, case):
    mappings, topic_col = HOSTILE_ROUTES[case]
    topics = ["topic1", "topic2", "topic3", "o'clock", "`x`", "a\\b"]
    df = spark.createDataFrame(
        [(f"k{i}", t) for i, t in enumerate(topics)], f"key string, {quote_ident(topic_col)} string"
    )
    got = {
        r.key: (r.route_db, r.route_table, r.route_format, r.route_mapping, r.route_streaming)
        for r in with_route(df, mappings, topic_col=topic_col).collect()
    }
    # Reference F3 lookup: exact topic, else '*', else null routes.
    by_topic = {m.topic: m for m in mappings}
    for i, t in enumerate(topics):
        m = by_topic.get(t, by_topic.get("*"))
        want = (None,) * 5 if m is None else (
            m.db, m.table, m.ingest_format, m.mapping, m.streaming
        )
        assert got[f"k{i}"] == want, (t, got[f"k{i}"])
