"""The SQL-text decode builders: caller-supplied names are quoted, and
the widest supported schemas compile to whole-stage code."""

import io
import json
import math

import pytest
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.functions.avro_io import (
    attach_avro_codegen_decode,
    decode_record,
    encode_record,
)
from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
    attach_codegen_decode,
    decode_message,
    encode_field,
    encode_message,
    encode_zigzag,
)
from kafka_sink_azure_kusto_spark.functions.wire_format import (
    decode_wire_frames,
    encode_wire_frame,
    wire_frame_audit,
)
from kafka_sink_azure_kusto_spark.functions.sql_text import quote_ident, sql_string

HOSTILE_NAMES = ["my-value", "my value", "my`value", "o'clock", "select"]

_PB_HANDLERS = {
    1: {"fmt": "json"},
    2: {"fmt": "protobuf",
        "proto_field_schema": {1: ("a", "int64"), 2: ("b", "string")}},
}
_AB_SCHEMA = StructType(
    [StructField("a", LongType()), StructField("b", StringType())]
)


@pytest.mark.parametrize("name", HOSTILE_NAMES + ["back\\slash", "tab\there", "\\'"])
def test_quoting_helpers_round_trip(spark, name):
    df = spark.createDataFrame([(1,)], StructType([StructField(name, LongType())]))
    row = df.selectExpr(f"{sql_string(name)} AS text", f"{quote_ident(name)} + 1 AS n").first()
    assert (row.text, row.n) == (name, 2)


def _frames(spark, value_col):
    rows = [
        (0, encode_wire_frame(1, json.dumps({"a": 1, "b": "j"}).encode())),
        (1, encode_wire_frame(2, encode_message([(1, 2), (2, "p")]),
                              message_indexes=[0])),
        (2, encode_wire_frame(1, b"{}", magic=0x01)),
    ]
    return spark.createDataFrame(
        rows,
        StructType([StructField("row_id", LongType()),
                    StructField(value_col, BinaryType())]),
    )


@pytest.mark.parametrize("name", HOSTILE_NAMES)
def test_hostile_value_col_in_wire_decoders(spark, name):
    df = _frames(spark, name)
    audit = {
        r.row_id: r
        for r in wire_frame_audit(df, {1: {"fmt": "json"}}, value_col=name)
        .collect()
    }
    assert audit[0].wire_status == "ok" and audit[0].wire_body_len == 18
    assert audit[1].wire_status == "unknown_id" and audit[1].wire_schema_id == 2
    assert audit[2].wire_status == "bad_magic"

    out = {
        r.row_id: r
        for r in decode_wire_frames(df, _PB_HANDLERS, _AB_SCHEMA, value_col=name)
        .collect()
    }
    assert out[0].wire_status == "ok" and tuple(out[0].payload) == (1, "j")
    assert out[1].wire_status == "ok" and tuple(out[1].payload) == (2, "p")
    assert out[2].wire_status == "bad_magic" and out[2].payload is None


@pytest.mark.parametrize("name", HOSTILE_NAMES)
def test_hostile_output_field_names_in_codegen_decoders(spark, name):
    # the absent nested struct reaches generated SQL as a CAST target, so
    # its field names are quoted at every depth
    nested = StructType(
        [StructField(name, LongType()),
         StructField("inner", StructType([StructField(name, StringType())]))]
    )
    schema = StructType(
        [StructField(name, LongType()), StructField("b", StringType()),
         StructField("absent", StringType()), StructField("nested", nested)]
    )
    pb = encode_field(1, 7) + encode_field(2, "x")
    got = attach_codegen_decode(
        spark.createDataFrame([(pb,)], "body binary"),
        "body", {1: (name, "int64"), 2: ("b", "string")}, schema,
    ).collect()[0]["payload"]
    assert got.asDict() == {name: 7, "b": "x", "absent": None, "nested": None}

    avro_schema = {
        "type": "record", "name": "T",
        "fields": [{"name": name, "type": "long"},
                   {"name": "b", "type": "string"}],
    }
    body = encode_record(avro_schema, {name: -3, "b": "y"})
    got = attach_avro_codegen_decode(
        spark.createDataFrame([(body,)], "body binary"),
        "body", avro_schema, schema,
    ).collect()[0]["payload"]
    assert got.asDict() == {name: -3, "b": "y", "absent": None, "nested": None}


_PB_TYPES = ["int64", "sint64", "bool", "string", "bytes", "double", "float"]
_PB_SPARK = {
    "int64": LongType(), "sint64": LongType(), "bool": BooleanType(),
    "string": StringType(), "bytes": BinaryType(), "double": DoubleType(),
    "float": FloatType(),
}
_PB_SAMPLES = {
    "int64": [0, -1, 1 << 40], "sint64": [-5, 0, (1 << 62)],
    "bool": [True, False, True], "string": ["", "héllo", "z" * 200],
    "bytes": [b"", b"\x00\xff", b"q" * 130],
    "double": [0.0, -1.5e-300, float("inf")],
    "float": [1.5, -0.0, 3.4028234663852886e38],
}
_WT = {"int64": 0, "sint64": 0, "bool": 0, "string": 2, "bytes": 2,
       "double": 1, "float": 5}


def _pb_value(typ, v):
    if typ == "sint64":
        return encode_zigzag(v)
    if typ == "bool":
        return int(v)
    return v


def _same(a, b):
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return a == b


@pytest.fixture
def codegen_without_fallback(spark):
    """Whole-stage code that fails to compile raises instead of
    silently running interpreted."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "types",
    [
        [_PB_TYPES[i % 7] for i in range(15)],
        ["double"] * 15,
    ],
    ids=["all_types_15", "double_15"],
)
def test_protobuf_codegen_widest_schema_compiles(codegen_without_fallback, types):
    spark = codegen_without_fallback
    fs = {i + 1: (f"f{i + 1}", t) for i, t in enumerate(types)}
    schema = StructType(
        [StructField(f"f{i + 1}", _PB_SPARK[t]) for i, t in enumerate(types)]
    )
    bodies = []
    for r in range(3):
        bodies.append(b"".join(
            encode_field(n, _pb_value(t, _PB_SAMPLES[t][(r + n) % 3]), _WT[t])
            for n, (_, t) in fs.items()
        ))
    df = spark.createDataFrame([(b,) for b in bodies], "body binary")
    got = attach_codegen_decode(df, "body", fs, schema).collect()
    for body, row in zip(bodies, got):
        want = decode_message(body, fs)
        for name, _ in fs.values():
            assert _same(row["payload"][name], want[name]), name


_AV_TYPES = ["long", "int", "boolean", "string", "bytes", "double", "float"]
_AV_SPARK = {
    "long": LongType(), "int": IntegerType(), "boolean": BooleanType(),
    "string": StringType(), "bytes": BinaryType(), "double": DoubleType(),
    "float": FloatType(),
}
_AV_SAMPLES = {
    "long": [-(1 << 40), 0, 9], "int": [-7, 1 << 20, 0],
    "boolean": [True, False, True], "string": ["", "héllo", "z" * 200],
    "bytes": [b"", b"\x00\xff", b"q" * 130],
    "double": [0.0, -1.5e-300, float("inf")],
    "float": [1.5, -0.0, 3.4028234663852886e38],
}


def test_avro_codegen_widest_schema_compiles(codegen_without_fallback):
    spark = codegen_without_fallback
    types = [_AV_TYPES[i % 7] for i in range(15)]
    avro_schema = {
        "type": "record", "name": "W",
        "fields": [{"name": f"f{i}", "type": t} for i, t in enumerate(types)],
    }
    schema = StructType(
        [StructField(f"f{i}", _AV_SPARK[t]) for i, t in enumerate(types)]
    )
    bodies = [
        encode_record(
            avro_schema,
            {f"f{i}": _AV_SAMPLES[t][(r + i) % 3] for i, t in enumerate(types)},
        )
        for r in range(3)
    ]
    df = spark.createDataFrame([(b,) for b in bodies], "body binary")
    got = attach_avro_codegen_decode(df, "body", avro_schema, schema).collect()
    for body, row in zip(bodies, got):
        want = decode_record(avro_schema, io.BytesIO(body))
        for name in want:
            assert _same(row["payload"][name], want[name]), name
