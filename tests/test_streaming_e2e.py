"""Structured Streaming E2E (SURVEY §5 rebuild test plan): replay source
→ sink → emulator round-trip, recovery semantics, bytes-avro mode,
validation probes, multimodal plumbing."""

import json
import time

import pytest
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.config import KustoSinkConfig, TopicToTableMapping
from kafka_sink_azure_kusto_spark.sources.replay import (
    as_kafka_records,
    replay_stream,
    stage_replay_dir,
)
from kafka_sink_azure_kusto_spark.sources.tables import load_table
from kafka_sink_azure_kusto_spark.streaming import LocalEmulatorBackend, KustoSparkSink
from kafka_sink_azure_kusto_spark.streaming.metrics import make_metrics_listener


def _cfg(tmp_path, mappings, **kw):
    kw.setdefault("checkpoint_location", str(tmp_path / "chk"))
    return KustoSinkConfig(
        ingest_url="https://ingest.x.kusto.windows.net",
        mappings=mappings,
        staging_dir=str(tmp_path / "staging"),
        **kw,
    )


def test_streaming_roundtrip_with_routing(spark, tmp_path, sf_dir):
    events = load_table(spark, sf_dir, "events").limit(300)
    records = as_kafka_records(
        events.withColumn("v", F.to_json(F.struct("event_id", "user_id"))),
        topic_col="event_type",
        value_col="v",
        key_col="event_id",
    )
    tombs = records.limit(3).withColumn("value", F.lit(None).cast("string"))
    n_live = records.count()
    stage_replay_dir(records.unionByName(tombs), str(tmp_path / "replay"), chunks=2)

    cfg = _cfg(
        tmp_path,
        [
            TopicToTableMapping(topic="click", db="t", table="clicks", format="json"),
            TopicToTableMapping(topic="*", db="t", table="misc", format="json"),
        ],
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    listener = make_metrics_listener(sink.metrics)
    spark.streams.addListener(listener)
    try:
        q = sink.attach(
            replay_stream(spark, str(tmp_path / "replay")), available_now=True
        )
        # assert the availableNow query actually DRAINED before closing:
        # under heavy machine contention 120 s was occasionally not
        # enough, and closing a live query truncates the ingest counts
        terminated = q.awaitTermination(300)
        assert terminated, "streaming query did not drain within 300 s"
        KustoSparkSink.close(q)
    finally:
        spark.streams.removeListener(listener)

    clicks = backend.table_rows("t", "clicks")
    misc = backend.table_rows("t", "misc")
    n_clicks_src = events.filter(F.col("event_type") == "click").count()
    assert len(clicks) == n_clicks_src
    assert len(clicks) + len(misc) == n_live  # tombstones dropped
    # round-trip one record
    sample = json.loads(clicks[0])
    src = events.filter(F.col("event_id") == sample["event_id"]).collect()[0]
    assert src.user_id == sample["user_id"]
    # M1 listener published the final counters. Listener events arrive
    # on an async dispatch thread (metrics.py docstring: last_published
    # "may lag query.stop() by a beat"), so under machine contention the
    # terminated-event publication can land after close() returns — poll
    # for it instead of asserting the instantaneous value (r14: the full
    # suite under load read the first batch's 149 here; alone it passes).
    deadline = time.time() + 30
    while (
        listener.last_published.get("RecordsWritten") != n_live
        and time.time() < deadline
    ):
        time.sleep(0.2)
    assert listener.last_published.get("RecordsWritten") == n_live


def test_avro_bytes_roll_per_message(spark, tmp_path):
    # E4: pre-serialized Avro payloads — every message is a complete
    # container file; one staged file per record regardless of threshold
    # (TopicPartitionWriterTest.java:260-291 analog).
    rows = [(f"k{i}", bytearray(b"avrobytes-%d" % i), "t1", 0, i) for i in range(4)]
    df = spark.createDataFrame(
        rows, "key string, value binary, topic string, partition long, offset long"
    )
    cfg = _cfg(
        tmp_path,
        [TopicToTableMapping(topic="t1", db="db", table="tb", format="avro")],
        flush_size_bytes=10_000_000,
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    log = backend.ingest_log()
    assert len(log) == 4  # one ingest per message despite huge threshold
    assert {e["records"] for e in log} == {1}
    assert all(e["file"].endswith(".avro.gz") for e in log)


def test_avro_bytes_passthrough_snappy_fixture(spark, tmp_path):
    # E4/S3 + r11: an externally-produced SNAPPY Avro container flows
    # through the bytes-passthrough path opaquely AND the emulator's
    # codec-agnostic block-count accounting reads its record count; the
    # staged bytes decode back exactly (snappy_io + avro_io read path).
    import io as _io

    from kafka_sink_azure_kusto_spark.functions.avro_io import (
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "E",
        "fields": [{"name": "n", "type": "long"},
                   {"name": "s", "type": "string"}],
    }
    payloads = []
    for part in range(3):
        recs = [{"n": part * 10 + j, "s": f"v{part}-{j}" * 4} for j in range(7)]
        bio = _io.BytesIO()
        write_container(recs, schema, bio, block_records=3, codec="snappy")
        payloads.append((f"k{part}", bytearray(bio.getvalue()), "t1", 0, part))
    df = spark.createDataFrame(
        payloads,
        "key string, value binary, topic string, partition long, offset long",
    )
    cfg = _cfg(
        tmp_path,
        [TopicToTableMapping(topic="t1", db="db", table="tb", format="avro")],
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    log = backend.ingest_log()
    assert len(log) == 3  # per-message roll (E4)
    assert {e["records"] for e in log} == {7}  # counted through snappy blocks
    for f in backend.table_files("db", "tb"):
        with open(f, "rb") as fh:
            got_schema, got = read_container(fh.read())
        assert [x["name"] for x in got_schema["fields"]] == ["n", "s"]
        assert len(got) == 7 and all(g["s"].startswith("v") for g in got)


def test_struct_to_avro_container_roundtrip(spark, tmp_path):
    # E2 (AvroRecordWriterProvider.java:27-73): struct payloads are staged
    # as real Avro Object Container Files — parse one back and check both
    # values and the declared reader schema.
    from kafka_sink_azure_kusto_spark.functions.avro_io import read_container

    df = spark.createDataFrame(
        [(("x", 1), "t1", 0, 0), (("y", None), "t1", 0, 1)],
        "value struct<s:string,i:int>, topic string, partition long, offset long",
    )
    cfg = _cfg(tmp_path, [TopicToTableMapping(topic="t1", db="d", table="t", format="avro")])
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    files = backend.table_files("d", "t")
    assert len(files) == 1
    with open(files[0], "rb") as f:
        schema, records = read_container(f.read())
    assert [f_["name"] for f_ in schema["fields"]] == ["s", "i"]
    assert records == [{"s": "x", "i": 1}, {"s": "y", "i": None}]
    assert backend.ingest_log()[0]["records"] == 2


def test_struct_to_avro_nested_payload_roundtrip(spark, tmp_path):
    # r11: nested struct/array/map payloads stage as real Avro container
    # files through the UNCHANGED writer path — the schema mapper and
    # the pure-Python codec carry the nesting (reference parity:
    # AvroRecordWriterProvider serializes arbitrary Connect schemas).
    from kafka_sink_azure_kusto_spark.functions.avro_io import read_container

    df = spark.createDataFrame(
        [((1, ["a", "b"], {"k": 7}, ("in", [1, 2])), "t1", 0, 0),
         ((2, [], {}, None), "t1", 0, 1)],
        "value struct<id:long, tags:array<string>, attrs:map<string,long>, "
        "inner:struct<s:string, xs:array<long>>>, "
        "topic string, partition long, offset long",
    )
    cfg = _cfg(
        tmp_path, [TopicToTableMapping(topic="t1", db="d", table="t", format="avro")]
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(cfg, backend)
    sink.process_batch(df, epoch_id=0)
    files = backend.table_files("d", "t")
    assert len(files) == 1
    with open(files[0], "rb") as f:
        schema, records = read_container(f.read())
    assert [x["name"] for x in schema["fields"]] == ["id", "tags", "attrs", "inner"]
    assert records == [
        {"id": 1, "tags": ["a", "b"], "attrs": {"k": 7},
         "inner": {"s": "in", "xs": [1, 2]}},
        {"id": 2, "tags": [], "attrs": {}, "inner": None},
    ]
    assert backend.ingest_log()[0]["records"] == 2


def test_struct_to_avro_decimal_payload_roundtrip(spark, tmp_path):
    # r11: DecimalType stages through the avro path as the decimal
    # logical type — exact precision, scale preserved (SURVEY §7.4's
    # Kusto-decimal round-trip note)
    import decimal

    from kafka_sink_azure_kusto_spark.functions.avro_io import read_container

    D = decimal.Decimal
    df = spark.createDataFrame(
        [((1, D("12345.67")), "t1", 0, 0), ((2, D("-0.01")), "t1", 0, 1)],
        "value struct<id:long, amt:decimal(10,2)>, "
        "topic string, partition long, offset long",
    )
    cfg = _cfg(
        tmp_path, [TopicToTableMapping(topic="t1", db="d", table="t", format="avro")]
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    KustoSparkSink(cfg, backend).process_batch(df, epoch_id=0)
    with open(backend.table_files("d", "t")[0], "rb") as f:
        _, records = read_container(f.read())
    assert records == [
        {"id": 1, "amt": D("12345.67")}, {"id": 2, "amt": D("-0.01")},
    ]


def test_validation_probes(tmp_path):
    # V1/V2/V4 through the strict emulator (validateTableMappings analog)
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), strict_validation=True)
    backend.create_table("db1", "ok_table", streaming_policy=True)
    backend.create_mapping("db1", "ok_table", "Mapping", "JSON")
    good = _cfg(
        tmp_path,
        [
            TopicToTableMapping(
                topic="a", db="db1", table="ok_table", format="json",
                mapping="Mapping", streaming=True,
            )
        ],
        validate_tables=True,
    )
    KustoSparkSink(good, backend)  # must not raise

    bad = _cfg(
        tmp_path,
        [
            TopicToTableMapping(topic="a", db="db1", table="missing", format="json"),
            TopicToTableMapping(
                topic="b", db="db1", table="ok_table", format="json", mapping="Nope"
            ),
        ],
        validate_tables=True,
    )
    with pytest.raises(RuntimeError) as ei:
        KustoSparkSink(bad, backend)
    msg = str(ei.value)
    assert "missing" in msg and "Nope" in msg  # errors aggregated (V1 + V2)


def test_table_rows_skips_mapping_and_policy_markers(tmp_path):
    # create_table/create_mapping write marker files into the table
    # directory; only ingested part files hold rows.
    from kafka_sink_azure_kusto_spark.streaming.backends import IngestionProperties

    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    backend.create_table("db", "t", streaming_policy=True)
    backend.create_mapping("db", "t", "m1", "JSON")
    staged = tmp_path / "kafka_a_0_0.json"
    staged.write_text('{"a":1}\n{"a":2}\n')
    backend.ingest_file(str(staged), IngestionProperties("db", "t", "json", "m1"))
    assert backend.table_rows("db", "t") == ['{"a":1}', '{"a":2}']


def test_validation_off_by_default(tmp_path):
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"), strict_validation=True)
    cfg = _cfg(
        tmp_path, [TopicToTableMapping(topic="a", db="nodb", table="notable")]
    )  # validate_tables defaults False (kusto.validation.table.enable=false)
    KustoSparkSink(cfg, backend)  # no probe, no raise


def test_multimodal_decode_real_content(spark, sf_dir):
    from kafka_sink_azure_kusto_spark.functions import multimodal as M
    from kafka_sink_azure_kusto_spark.functions.codecs import decode_media_bytes

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = M.synth_decode_media(docs).collect()
    assert len(out) == 20
    for r in out:
        payload = M.synth_media_payload(r.doc_id)
        m = decode_media_bytes(payload)
        expect_type = (
            ("bmp" if r.doc_id % 6 == 0 else "png")
            if r.doc_id % 3 == 0
            else {1: "ppm", 2: "wav"}[r.doc_id % 3]
        )
        assert r.media_type == expect_type
        assert r.n_bytes == len(payload)
        assert (r.width, r.height, r.sample_rate) == (m.width, m.height, m.sample_rate)
        assert r.n_samples == len(m.samples)
        assert r.sample_sum == sum(m.samples)
        assert r.checksum == sum((j + 1) * v for j, v in enumerate(m.samples))


def test_certification_mix_four_formats_tombstones_wildcard(spark, tmp_path, sf_dir):
    """The sandbox analog of the reference's certification run
    (KustoSinkIT.java:396-398 scenario mix, VERDICT r7 #8): ONE
    streaming run through the replay source carrying FOUR topics —
    json, multijson, csv (managed-streaming mapping) and a
    wildcard-routed misc topic — with a tombstone interleaved every
    10th record per topic. Asserts per-format row counts, a value
    round-trip per table, zero DLQ traffic, and zero records lost or
    duplicated across the whole run (docs/KAFKA_BROKER_RECIPE.md §2)."""
    ev = load_table(spark, sf_dir, "events").limit(400).select(
        "event_id", "user_id", "value"
    )
    n = ev.count()

    def topic_for(col):
        return (
            F.when(col % 4 == 0, "e2e.json.topic")
            .when(col % 4 == 1, "e2e.multijson.topic")
            .when(col % 4 == 2, "e2e.csv.topic")
            .otherwise("e2e.misc.topic")
        )

    payload = F.when(
        (F.col("event_id") % 4) == 2,
        F.concat_ws(",", F.col("event_id"), F.col("user_id")),  # csv line
    ).otherwise(F.to_json(F.struct("event_id", "user_id")))
    records = as_kafka_records(
        ev.withColumn("topic", topic_for(F.col("event_id"))).withColumn(
            "v", payload
        ),
        topic_col="topic",
        value_col="v",
        key_col="event_id",
    )
    # interleave tombstones: every 10th key per the reference IT recipe
    tombs = records.filter(F.col("key").cast("long") % 10 == 0).withColumn(
        "value", F.lit(None).cast("string")
    )
    stage_replay_dir(records.unionByName(tombs), str(tmp_path / "replay"), chunks=4)

    cfg = _cfg(
        tmp_path,
        [
            TopicToTableMapping(topic="e2e.json.topic", db="e2edb",
                                table="JsonT", format="json"),
            TopicToTableMapping(topic="e2e.multijson.topic", db="e2edb",
                                table="MultiJsonT", format="multijson"),
            TopicToTableMapping(topic="e2e.csv.topic", db="e2edb",
                                table="CsvT", format="csv", streaming=True),
            TopicToTableMapping(topic="*", db="e2edb",
                                table="Catchall", format="multijson"),
        ],
        behavior_on_error="FAIL",
    )
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    dlq_batches: list = []
    sink = KustoSparkSink(cfg, backend, dlq_writer=dlq_batches.append)
    q = sink.attach(replay_stream(spark, str(tmp_path / "replay")),
                    available_now=True)
    assert q.awaitTermination(300), "certification run did not drain"
    KustoSparkSink.close(q)

    counts = {
        t: len(backend.table_rows("e2edb", t))
        for t in ("JsonT", "MultiJsonT", "CsvT", "Catchall")
    }
    expected = {
        "JsonT": ev.filter(F.col("event_id") % 4 == 0).count(),
        "MultiJsonT": ev.filter(F.col("event_id") % 4 == 1).count(),
        "CsvT": ev.filter(F.col("event_id") % 4 == 2).count(),
        "Catchall": ev.filter(F.col("event_id") % 4 == 3).count(),
    }
    assert counts == expected  # tombstones dropped, nothing lost/dup'd
    assert sum(counts.values()) == n
    assert dlq_batches == []  # zero DLQ traffic on the clean mix
    # round-trip one record per format family
    sample = json.loads(backend.table_rows("e2edb", "JsonT")[0])
    src = ev.filter(F.col("event_id") == sample["event_id"]).collect()[0]
    assert src.user_id == sample["user_id"]
    csv_line = backend.table_rows("e2edb", "CsvT")[0]
    eid, uid = csv_line.split(",")[:2]
    src = ev.filter(F.col("event_id") == int(eid)).collect()[0]
    assert src.user_id == int(uid)
