"""Schema-Registry wire-format tests: golden frame bytes, JVM-side
splitting, per-id routing, and the K4-style status split for corrupt /
unknown-id frames (reference README.md:147-156 converter layer)."""

import json
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.functions.protobuf_io import encode_message
from kafka_sink_azure_kusto_spark.functions.wire_format import (
    MAGIC_BYTE,
    decode_wire_frames,
    encode_message_indexes,
    encode_wire_frame,
)

SCHEMA = StructType(
    [StructField("a", LongType()), StructField("b", StringType())]
)
HANDLERS = {
    1: {"fmt": "json"},
    2: {"fmt": "protobuf", "proto_field_schema": {1: ("a", "int64"), 2: ("b", "string")}},
}


def _frames_df(spark):
    rows = [
        # (row_id, frame)
        (0, encode_wire_frame(1, json.dumps({"a": 10, "b": "x"}).encode())),
        (1, encode_wire_frame(2, encode_message([(1, 20), (2, "y")]),
                              message_indexes=[0])),
        (2, encode_wire_frame(99, json.dumps({"a": 30, "b": "z"}).encode())),  # unknown id
        (3, encode_wire_frame(1, b'{"a": 40, "b": "w"}', magic=0x01)),  # bad magic
        (4, b"\x00\x00\x00"),  # truncated header
        (5, encode_wire_frame(1, json.dumps({"a": 50, "b": "v"}).encode())),
    ]
    return spark.createDataFrame(rows, "row_id long, value binary")


def test_encode_wire_frame_golden_bytes():
    f = encode_wire_frame(258, b"body")
    assert f[:1] == b"\x00"
    assert f[1:5] == struct.pack(">I", 258) == b"\x00\x00\x01\x02"
    assert f[5:] == b"body"
    with pytest.raises(ValueError, match="uint32"):
        encode_wire_frame(-1, b"")


def test_encode_message_indexes_golden_bytes():
    # Confluent spec: [0] compresses to the single byte 0x00; otherwise
    # zigzag-varint count then zigzag-varint entries.
    assert encode_message_indexes([0]) == b"\x00"
    assert encode_message_indexes([1]) == b"\x02\x02"
    assert encode_message_indexes([1, 2]) == b"\x04\x02\x04"
    f = encode_wire_frame(7, b"pb", message_indexes=[0])
    assert f == b"\x00" + struct.pack(">I", 7) + b"\x00" + b"pb"
    with pytest.raises(ValueError, match="non-negative"):
        encode_message_indexes([-1])


def test_decode_routes_by_schema_id(spark):
    out = {
        r.row_id: r
        for r in decode_wire_frames(_frames_df(spark), HANDLERS, SCHEMA).collect()
    }
    assert out[0].wire_status == "ok" and out[0].wire_schema_id == 1
    assert out[0].payload.a == 10 and out[0].payload.b == "x"
    assert out[1].wire_status == "ok" and out[1].wire_schema_id == 2
    assert out[1].payload.a == 20 and out[1].payload.b == "y"
    assert out[5].payload.a == 50


def test_corrupt_frames_get_status_not_exceptions(spark):
    out = {
        r.row_id: r
        for r in decode_wire_frames(_frames_df(spark), HANDLERS, SCHEMA).collect()
    }
    assert out[2].wire_status == "unknown_id" and out[2].wire_schema_id == 99
    assert out[2].payload is None
    assert out[3].wire_status == "bad_magic" and out[3].payload is None
    assert out[4].wire_status == "truncated"
    assert out[4].wire_schema_id is None and out[4].payload is None


def test_foreign_body_never_reaches_other_parser(spark):
    # A JSON body framed with the PROTOBUF schema id must not crash the
    # proto parser job-wide. With message-index parsing the leading '{'
    # (0x7B, odd) can't be a valid index count, so the frame surfaces
    # as a DLQ status; a body that happens to parse as an index prefix
    # may reach the proto parser, where failure is a clean decode error.
    rows = [(0, encode_wire_frame(2, b'{"a": 1, "b": "json-not-proto"}'))]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    try:
        out = decode_wire_frames(df, HANDLERS, SCHEMA).collect()
        assert out[0].wire_status in ("unsupported_index", "unknown_index")
        assert out[0].payload is None
    except Exception as e:  # noqa: BLE001 — acceptable: clean decode error
        assert "ProtoDecodeError" in str(type(e).__name__) or "Proto" in str(e)


def test_magic_zero_required_even_with_known_id(spark):
    rows = [(0, encode_wire_frame(1, b'{"a":1,"b":"q"}', magic=0xFF))]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    r = decode_wire_frames(df, HANDLERS, SCHEMA).collect()[0]
    assert r.wire_status == "bad_magic" and r.payload is None


def test_wire_decode_in_structured_stream(spark, tmp_path):
    # The converter layer sits at the stream boundary in the reference
    # (registry-framed Kafka topics); prove the frame split + routing
    # composes with readStream end to end.
    import os

    src = tmp_path / "wire_src"
    src.mkdir()
    rows = [
        (0, encode_wire_frame(1, json.dumps({"a": 1, "b": "u"}).encode())),
        (1, encode_wire_frame(2, encode_message([(1, 2), (2, "v")]),
                              message_indexes=[0])),
        (2, encode_wire_frame(77, b"whatever")),
    ]
    spark.createDataFrame(rows, "row_id long, value binary").write.parquet(
        str(src / "batch0")
    )
    stream = spark.readStream.schema("row_id long, value binary").parquet(
        str(src / "*")
    )
    q = (
        decode_wire_frames(stream, HANDLERS, SCHEMA)
        .select("row_id", "wire_status", "payload.a", "payload.b")
        .writeStream.format("memory")
        .queryName("wire_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    out = {r.row_id: r for r in spark.sql("select * from wire_mem").collect()}
    assert out[0].wire_status == "ok" and out[0].a == 1 and out[0].b == "u"
    assert out[1].wire_status == "ok" and out[1].a == 2 and out[1].b == "v"
    assert out[2].wire_status == "unknown_id" and out[2].a is None


def test_decode_requires_handlers(spark):
    df = spark.createDataFrame([(0, b"\x00\x00\x00\x00\x01x")], "row_id long, value binary")
    with pytest.raises(ValueError, match="at least one handler"):
        decode_wire_frames(df, {}, SCHEMA)


def test_protobuf_message_indexes_multi_entry(spark):
    # handler declares a nested message path [1, 2]; matching frames
    # decode, the first-message fast path [0] is a DIFFERENT message
    # type → unknown_index (K4 status, not a mis-parse)
    handlers = {
        2: {
            "fmt": "protobuf",
            "proto_field_schema": {1: ("a", "int64"), 2: ("b", "string")},
            "message_indexes": [1, 2],
        },
    }
    body = encode_message([(1, 5), (2, "n")])
    rows = [
        (0, encode_wire_frame(2, body, message_indexes=[1, 2])),
        (1, encode_wire_frame(2, body, message_indexes=[0])),
        (2, encode_wire_frame(2, body, message_indexes=[3])),
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    out = {r.row_id: r for r in decode_wire_frames(df, handlers, SCHEMA).collect()}
    assert out[0].wire_status == "ok" and out[0].payload.a == 5
    assert out[1].wire_status == "unknown_index" and out[1].payload is None
    assert out[2].wire_status == "unknown_index" and out[2].payload is None


def test_protobuf_unsupported_and_truncated_index(spark):
    body = encode_message([(1, 5), (2, "n")])
    rows = [
        # index 64 zigzags to 128 → two-byte varint → beyond the bounded
        # codegen parser → DLQ status, never a crash
        (0, encode_wire_frame(2, body, message_indexes=[64])),
        # valid header, but no index byte at all (5-byte protobuf frame)
        (1, encode_wire_frame(2, b"")),
        # count byte says 2 entries, frame ends first
        (2, b"\x00" + struct.pack(">I", 2) + b"\x04\x02"),
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    out = {r.row_id: r for r in decode_wire_frames(df, HANDLERS, SCHEMA).collect()}
    assert out[0].wire_status == "unsupported_index" and out[0].payload is None
    assert out[0].wire_schema_id == 2  # routing info retained for DLQ triage
    assert out[1].wire_status == "truncated" and out[1].wire_schema_id == 2
    assert out[2].wire_status == "truncated" and out[2].wire_schema_id == 2


def test_protobuf_bare_body_opt_out(spark):
    # message_indexes=None → non-Confluent producer, body starts at
    # byte 5 with no index prefix (the pre-spec behavior, explicit)
    handlers = {
        2: {
            "fmt": "protobuf",
            "proto_field_schema": {1: ("a", "int64"), 2: ("b", "string")},
            "message_indexes": None,
        },
    }
    rows = [(0, encode_wire_frame(2, encode_message([(1, 9), (2, "bare")])))]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    r = decode_wire_frames(df, handlers, SCHEMA).collect()[0]
    assert r.wire_status == "ok" and r.payload.a == 9 and r.payload.b == "bare"


def test_empty_body_frame_is_complete_not_truncated(spark):
    # Confluent permits empty bodies: a 5-byte frame has a full header
    # and must reach the decoder (json: null payload), never 'truncated',
    # and wire_schema_id must survive for DLQ routing
    rows = [
        (0, encode_wire_frame(1, b"")),
        (1, encode_wire_frame(99, b"")),  # unknown id, still id-tagged
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    out = {r.row_id: r for r in decode_wire_frames(df, HANDLERS, SCHEMA).collect()}
    assert out[0].wire_status == "ok" and out[0].wire_schema_id == 1
    assert out[0].payload is None or out[0].payload.a is None
    assert out[1].wire_status == "unknown_id" and out[1].wire_schema_id == 99


def test_avro_wire_body_pure_python_fallback(spark):
    # fmt=avro frames must decode without the spark-avro jar (jar-less
    # deployments route through the repo's spec-exact avro_io codec)
    from kafka_sink_azure_kusto_spark.functions.avro_io import encode_record

    avro_schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    handlers = {3: {"fmt": "avro", "avro_schema_json": json.dumps(avro_schema)}}
    rows = [
        (0, encode_wire_frame(3, encode_record(avro_schema, {"a": 11, "b": "av"}))),
        (1, encode_wire_frame(3, b"\x01")),  # malformed body → NULL fields
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    out = {r.row_id: r for r in decode_wire_frames(df, handlers, SCHEMA).collect()}
    assert out[0].wire_status == "ok"
    assert out[0].payload.a == 11 and out[0].payload.b == "av"
    assert out[1].wire_status == "ok"  # header fine; body rot is a row problem


def test_schema_id_boundary_values(spark):
    # sign-bit and max-uint32 ids must parse exactly (hex+conv path)
    ids = [0, 1, 255, 256, 2**31, 2**32 - 1]
    rows = [
        (i, encode_wire_frame(sid, json.dumps({"a": i, "b": "x"}).encode()))
        for i, sid in enumerate(ids)
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    handlers = {sid: {"fmt": "json"} for sid in ids}
    out = {r.row_id: r for r in decode_wire_frames(df, handlers, SCHEMA).collect()}
    for i, sid in enumerate(ids):
        assert out[i].wire_schema_id == sid, (i, sid, out[i].wire_schema_id)
        assert out[i].wire_status == "ok" and out[i].payload.a == i


def test_wire_frame_audit_no_decode(spark):
    """wire_frame_audit: split + routing metadata only, no payload; the
    index prefix is excluded from body length on indexed-protobuf ids."""
    from kafka_sink_azure_kusto_spark.functions.wire_format import wire_frame_audit

    pbody = encode_message([(1, 20), (2, "y")])
    jbody = json.dumps({"a": 10, "b": "x"}).encode()
    rows = [
        (0, encode_wire_frame(1, jbody)),                            # json ok
        (1, encode_wire_frame(2, pbody, message_indexes=[0])),       # proto ok
        (2, encode_wire_frame(99, jbody)),                           # unknown id
        (3, encode_wire_frame(1, jbody, magic=0x01)),                # bad magic
        (4, b"\x00\x00"),                                            # truncated
        (5, encode_wire_frame(2, pbody, message_indexes=[3])),       # wrong idx
        (6, bytes([0, 0, 0, 0, 2, 0x81]) + pbody),                   # unsupported
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    out = {r.row_id: r for r in wire_frame_audit(df, HANDLERS).collect()}
    assert "payload" not in out[0].asDict()
    assert out[0].wire_status == "ok" and out[0].wire_indexes is None
    assert out[0].wire_body_len == len(jbody)
    assert out[1].wire_status == "ok" and out[1].wire_indexes == [0]
    assert out[1].wire_body_len == len(pbody)  # 1-byte index prefix excluded
    assert out[2].wire_status == "unknown_id" and out[2].wire_body_len is None
    assert out[3].wire_status == "bad_magic"
    assert out[4].wire_status == "truncated" and out[4].wire_schema_id is None
    assert out[5].wire_status == "unknown_index"
    assert out[6].wire_status == "unsupported_index"


def test_wire_frame_audit_json_only_handlers(spark):
    """No indexed-protobuf handler: the audit skips the index parser
    entirely and body length is frame length minus the 5-byte header."""
    from kafka_sink_azure_kusto_spark.functions.wire_format import wire_frame_audit

    jbody = json.dumps({"a": 1, "b": "q"}).encode()
    df = spark.createDataFrame(
        [(0, encode_wire_frame(1, jbody)), (1, encode_wire_frame(1, b""))],
        "row_id long, value binary",
    )
    out = {r.row_id: r for r in wire_frame_audit(df, {1: {"fmt": "json"}}).collect()}
    assert out[0].wire_body_len == len(jbody) and out[0].wire_indexes is None
    assert out[1].wire_status == "ok" and out[1].wire_body_len == 0
