"""Protobuf wire-format codec tests: golden bytes straight from the
public encoding spec, varint/zigzag edges, unknown-field skip, error
paths, and the Spark decode_payload('protobuf') path."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
    ProtoDecodeError,
    decode_message,
    decode_varint,
    decode_zigzag,
    encode_field,
    encode_message,
    encode_varint,
    encode_zigzag,
    parse_wire_fields,
)


# -------------------------------------------------- spec golden bytes
# https://protobuf.dev/programming-guides/encoding/ worked examples


def test_spec_golden_varint_150():
    # `message Test1 { int32 a = 1; }` with a=150 ⇒ bytes 08 96 01
    assert encode_field(1, 150) == bytes.fromhex("089601")
    assert decode_message(bytes.fromhex("089601"), {1: ("a", "int64")}) == {"a": 150}


def test_spec_golden_string_testing():
    # `message Test2 { string b = 2; }` with b="testing" ⇒ 12 07 74..67
    payload = bytes.fromhex("120774657374696e67")
    assert encode_field(2, "testing") == payload
    assert decode_message(payload, {2: ("b", "string")}) == {"b": "testing"}


def test_spec_negative_int64_is_ten_bytes():
    # spec: negative int32/int64 values always encode as 10-byte varints
    enc = encode_varint(-2)
    assert len(enc) == 10
    v, pos = decode_varint(enc, 0)
    assert pos == 10
    assert v == (1 << 64) - 2
    assert decode_message(encode_field(1, -2), {1: ("a", "int64")}) == {"a": -2}


@pytest.mark.parametrize(
    "n,z", [(0, 0), (-1, 1), (1, 2), (-2, 3), (2147483647, 4294967294),
            (-2147483648, 4294967295)],
)
def test_spec_zigzag_table(n, z):
    # the spec's sint zigzag table, verbatim
    assert encode_zigzag(n) == z
    assert decode_zigzag(z) == n


def test_double_and_float_fields():
    m = encode_field(4, 3.5) + encode_field(7, 1.5, wire_type=5)
    out = decode_message(m, {4: ("d", "double"), 7: ("f", "float")})
    assert out == {"d": 3.5, "f": 1.5}


def test_unknown_fields_skipped_and_last_wins():
    m = (encode_field(9, 42)            # unknown → skipped
         + encode_field(1, 1) + encode_field(1, 2))  # non-repeated: last wins
    assert decode_message(m, {1: ("a", "int64")}) == {"a": 2}


def test_error_paths():
    with pytest.raises(ProtoDecodeError, match="truncated varint"):
        list(parse_wire_fields(b"\x08"))
    with pytest.raises(ProtoDecodeError, match="truncated length"):
        list(parse_wire_fields(b"\x12\x05ab"))
    with pytest.raises(ProtoDecodeError, match="field number 0"):
        list(parse_wire_fields(b"\x00\x01"))
    with pytest.raises(ProtoDecodeError, match="wire type 3"):
        list(parse_wire_fields(b"\x0b"))  # deprecated group start
    with pytest.raises(ProtoDecodeError, match="exceeds 10"):
        decode_varint(b"\xff" * 11, 0)


def test_wire_type_confusion_rejected():
    """A varint where the schema expects string/bytes must raise — not
    allocate raw zero-bytes (the raw varint can be up to 2^64-1) or
    decode a NUL-filled string (ADVICE r3, medium)."""
    varint_field = encode_field(1, 1 << 40)  # wire type 0, huge raw value
    for typ in ("string", "bytes"):
        with pytest.raises(ProtoDecodeError, match="expected length-delimited"):
            decode_message(varint_field, {1: ("f", typ)})
    # bool expects varint; a length-delimited payload must not coerce
    ld_field = encode_field(1, b"\x01")  # wire type 2
    with pytest.raises(ProtoDecodeError, match="expected varint"):
        decode_message(ld_field, {1: ("f", "bool")})
    # fixed64 raw where string is declared is equally rejected
    f64_field = encode_field(1, 1.5)  # wire type 1
    with pytest.raises(ProtoDecodeError, match="expected length-delimited"):
        decode_message(f64_field, {1: ("f", "string")})
    # invalid UTF-8 in a genuine length-delimited string → clean error
    bad_utf8 = encode_field(1, b"\xff\xfe", wire_type=2)
    with pytest.raises(ProtoDecodeError, match="invalid UTF-8"):
        decode_message(bad_utf8, {1: ("f", "string")})


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1))
def test_varint_int64_roundtrip_property(n):
    assert decode_message(encode_field(3, n), {3: ("x", "int64")}) == {"x": n}
    assert decode_zigzag(encode_zigzag(n)) == n


def test_decode_payload_protobuf_spark(spark):
    from kafka_sink_azure_kusto_spark.functions.encoders import decode_payload

    msgs = [
        encode_message([(1, 7), (2, "click"), (3, 2.25)]),
        encode_message([(1, -5)]),  # missing fields → NULL
        None,  # tombstone-ish: NULL payload → NULL struct fields
    ]
    df = spark.createDataFrame([(m,) for m in msgs], "value binary")
    out = decode_payload(
        df,
        fmt="protobuf",
        schema=StructType(
            [
                StructField("n", LongType()),
                StructField("tag", StringType()),
                StructField("score", DoubleType()),
            ]
        ),
        proto_field_schema={1: ("n", "int64"), 2: ("tag", "string"),
                            3: ("score", "double")},
    ).select("payload.*").collect()
    assert [tuple(r) for r in out] == [
        (7, "click", 2.25), (-5, None, None), (None, None, None),
    ]


def test_decode_payload_protobuf_requires_schemas(spark):
    from kafka_sink_azure_kusto_spark.functions.encoders import decode_payload

    df = spark.createDataFrame([(b"",)], "value binary")
    with pytest.raises(ValueError, match="proto_field_schema"):
        decode_payload(df, fmt="protobuf")


# ---------------------------------------------------- descriptor set


def _decode_descriptor_tree(data: bytes):
    """Walk a serialized FileDescriptorSet with the schemaless parser
    (independent of the encoder's intent — asserts actual wire bytes)."""
    from kafka_sink_azure_kusto_spark.functions.protobuf_io import parse_wire_fields

    def msg(b):
        return list(parse_wire_fields(bytes(b)))

    (f1,) = msg(data)  # FileDescriptorSet.file
    assert f1[0] == 1 and f1[1] == 2
    file_fields = msg(f1[2])
    return file_fields, msg


def test_file_descriptor_set_wire_structure():
    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        file_descriptor_set,
    )

    fs = {1: ("eid", "int64"), 2: ("name", "string"), 4: ("score", "double")}
    file_fields, msg = _decode_descriptor_tree(file_descriptor_set(fs))
    by_num = {}
    for num, wt, raw in file_fields:
        by_num.setdefault(num, []).append((wt, raw))
    assert by_num[1][0][1] == b"kustosink.proto"  # FileDescriptorProto.name
    assert by_num[2][0][1] == b"kustosink"        # package
    assert by_num[12][0][1] == b"proto3"          # syntax
    (msg_wt, msg_raw) = by_num[4][0]              # message_type
    fields = []
    oneofs = []
    for num, wt, raw in msg(msg_raw):
        if num == 1:
            assert raw == b"KustoRecord"
        elif num == 2:  # FieldDescriptorProto
            fd = {n: r for n, _, r in msg(raw)}
            fields.append(fd)
        elif num == 8:  # oneof_decl
            oneofs.append({n: r for n, _, r in msg(raw)})
    assert [f[1] for f in fields] == [b"eid", b"name", b"score"]
    assert [f[3] for f in fields] == [1, 2, 4]      # numbers
    assert [f[5] for f in fields] == [3, 9, 1]      # INT64, STRING, DOUBLE
    assert all(f[4] == 1 for f in fields)           # LABEL_OPTIONAL
    assert all(f[17] == 1 for f in fields)          # proto3_optional
    assert [f.get(9, 0) for f in fields] == [0, 1, 2]  # oneof_index
    assert [o[1] for o in oneofs] == [b"_eid", b"_name", b"_score"]


def test_file_descriptor_set_rejects_unknown_type():
    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        file_descriptor_set,
    )

    with pytest.raises(ValueError, match="no descriptor mapping"):
        file_descriptor_set({1: ("x", "uint128")})


def test_file_descriptor_set_parses_with_real_protobuf():
    """Cross-validate the hand-built descriptor against the official
    library (skipped where google.protobuf isn't installed)."""
    google_pb = pytest.importorskip(
        "google.protobuf", reason="google.protobuf not installed in this sandbox"
    )
    from google.protobuf import descriptor_pb2

    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        file_descriptor_set,
    )

    fds = descriptor_pb2.FileDescriptorSet.FromString(
        file_descriptor_set({1: ("eid", "int64"), 2: ("name", "string")})
    )
    (f,) = fds.file
    assert f.package == "kustosink" and f.syntax == "proto3"
    (m,) = f.message_type
    assert m.name == "KustoRecord"
    assert [fd.name for fd in m.field] == ["eid", "name"]
    assert [fd.number for fd in m.field] == [1, 2]
    assert all(fd.proto3_optional for fd in m.field)


def test_builtin_protobuf_dispatch_probe(spark):
    """In this sandbox the spark-protobuf jar is absent: the probe must
    say so and _protobuf_decode_column must take the pure-Python
    fallback (proved by it decoding where the builtin would throw
    PROTOBUF_NOT_LOADED at analysis)."""
    from kafka_sink_azure_kusto_spark.functions.encoders import (
        decode_payload,
        protobuf_functions_usable,
    )

    usable = protobuf_functions_usable(spark)
    df = spark.createDataFrame(
        [(encode_message([(1, 42), (2, "probe")]),)], "value binary"
    )
    out = decode_payload(
        df,
        fmt="protobuf",
        schema=StructType(
            [StructField("a", LongType()), StructField("b", StringType())]
        ),
        proto_field_schema={1: ("a", "int64"), 2: ("b", "string")},
    ).collect()[0]
    assert out.payload.a == 42 and out.payload.b == "probe"
    # both dispatch arms give this result; record which one ran
    assert usable in (True, False)


def test_builtin_protobuf_jar_path(spark):
    """Exercises the from_protobuf arm itself — runnable only where the
    spark-protobuf jar is on the classpath (not this sandbox)."""
    from kafka_sink_azure_kusto_spark.functions.encoders import (
        protobuf_functions_usable,
    )

    if not protobuf_functions_usable(spark):
        pytest.skip("spark-protobuf jar not on classpath in this sandbox")
    from kafka_sink_azure_kusto_spark.functions.encoders import decode_payload

    df = spark.createDataFrame(
        [(encode_message([(1, 7)]),)], "value binary"
    )
    out = decode_payload(
        df,
        fmt="protobuf",
        schema=StructType(
            [StructField("a", LongType()), StructField("b", StringType())]
        ),
        proto_field_schema={1: ("a", "int64"), 2: ("b", "string")},
    ).collect()[0]
    assert out.payload.a == 7 and out.payload.b is None


# ------------------------------------------ codegen (expression) decoder


def test_codegen_decodable_gate():
    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        codegen_decodable,
    )

    assert codegen_decodable({1: ("a", "int64"), 2: ("b", "string")})
    assert not codegen_decodable({16: ("a", "int64")})  # tag ≥ 128
    assert not codegen_decodable({1: ("a", "message")})  # nested


def test_codegen_decode_matches_python_codec(spark):
    """The r7 expression decoder must agree with decode_message on a
    grid that covers every supported type, varint lengths 1..10
    (including negative int64 two's complement), duplicate fields
    (last wins), unknown interleaved fields, and empty/NULL bodies."""
    import math

    from pyspark.sql.types import (
        BooleanType,
        BinaryType,
        DoubleType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        attach_codegen_decode,
        decode_message,
        encode_message,
    )

    fs = {
        1: ("i", "int64"),
        2: ("s", "sint64"),
        3: ("t", "string"),
        4: ("d", "double"),
        5: ("f", "float"),
        6: ("bb", "bytes"),
        7: ("g", "bool"),
    }
    schema = StructType(
        [
            StructField("i", LongType()),
            StructField("s", LongType()),
            StructField("t", StringType()),
            StructField("d", DoubleType()),
            StructField("f", FloatType()),
            StructField("bb", BinaryType()),
            StructField("g", BooleanType()),
        ]
    )
    import random

    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        encode_field,
        encode_zigzag,
    )

    rng = random.Random(7)
    msgs = []
    ints = [0, 1, 127, 128, 2**14, 2**21 - 1, 2**35, 2**62, -1, -(2**62),
            (1 << 63) - 1, -(1 << 63)]
    for n in ints:
        msgs.append(encode_message([(1, n)]))
        msgs.append(encode_message([(2, encode_zigzag(n))]))
    doubles = [0.0, -0.0, 2.25, -1e308, 5e-324, 1.7976931348623157e308,
               math.inf, -math.inf, 3.141592653589793]
    for d in doubles:
        msgs.append(encode_message([(4, d)]))
        msgs.append(encode_field(5, d and min(max(d, -3e38), 3e38) or d, 5))
    msgs.append(encode_message([(3, "héllo wörld"), (6, b"\x00\xff\x80", 2)]))
    msgs.append(encode_message([(7, 1), (7, 0)]))  # duplicate: last wins
    msgs.append(encode_message([(9, 42), (1, 5)]))  # unknown field first
    msgs.append(encode_message([(1, 1), (2, 2), (3, "x"), (4, 1.5),
                                (5, 2.0, 5), (6, b"z", 2), (7, 1)]))
    msgs.append(b"")
    for _ in range(20):
        msgs.append(encode_message([(1, rng.getrandbits(63)),
                                    (2, encode_zigzag(rng.getrandbits(63) - 2**62))]))

    df = spark.createDataFrame([(m,) for m in msgs], "value binary")
    from pyspark.sql import functions as F

    out = attach_codegen_decode(df, F.col("value"), fs, schema).select(
        "value", "payload"
    ).collect()
    for row in out:
        expect = decode_message(bytes(row["value"]), fs)
        got = row["payload"].asDict()
        for name in ("i", "s", "t", "g"):
            assert got[name] == expect.get(name), (name, row["value"].hex())
        exp_bb = expect.get("bb")
        got_bb = bytes(got["bb"]) if got["bb"] is not None else None
        assert got_bb == exp_bb
        for name in ("d", "f"):
            e = expect.get(name)
            g = got[name]
            if e is None or g is None:
                assert e == g, (name, row["value"].hex())
            elif math.isnan(e):
                assert math.isnan(g)
            else:
                assert e == g or abs(e - g) < 1e-6 * max(abs(e), 1), (
                    name, e, g, row["value"].hex()
                )


def _double_patterns():
    out = []
    for sign in (0, 1):
        for e in (0, 1, 2, 1022, 1023, 1024, 2045, 2046, 2047):
            for m in (0, 1, 0x8000000000000, 0xFFFFFFFFFFFFF, 0x5DEECE66D):
                out.append((sign << 63) | (e << 52) | m)
    return out


def _float_patterns():
    out = []
    for sign in (0, 1):
        for e in (0, 1, 2, 126, 127, 128, 253, 254, 255):
            for m in (0, 1, 0x400000, 0x7FFFFF, 0x2EECE6):
                out.append((sign << 31) | (e << 23) | m)
    return out


@pytest.mark.parametrize(
    "width, builder, patterns",
    [
        (8, "_ieee_double_sql", _double_patterns()),
        (4, "_ieee_float_sql", _float_patterns()),
    ],
    ids=["double", "float"],
)
def test_ieee_reconstruction_bit_exact(spark, width, builder, patterns):
    """The arithmetic IEEE-754 rebuild must be BIT-exact (not just
    close): pattern-space sweep over sign/exponent/mantissa corners,
    compared to struct.unpack."""
    import math
    import struct as _struct

    from kafka_sink_azure_kusto_spark.functions import protobuf_io

    fmt = "<d" if width == 8 else "<f"
    sign_bit = 1 << (8 * width - 1)
    # fixed64 patterns arrive as signed longs, fixed32 as their low 32 bits
    rows = [
        (p - (1 << 64) if width == 8 and p >= sign_bit else p,)
        for p in patterns
    ]
    df = spark.createDataFrame(rows, "bits long")
    rebuild = F.expr(getattr(protobuf_io, builder)("bits"))
    if width == 4:
        rebuild = rebuild.cast("float")
    got = [r[0] for r in df.select(rebuild).collect()]
    for p, g in zip(patterns, got):
        expect = _struct.unpack(fmt, p.to_bytes(width, "little"))[0]
        if math.isnan(expect):
            assert math.isnan(g), hex(p)
        else:
            assert _struct.pack(fmt, g) == _struct.pack(fmt, expect), (
                hex(p), g, expect
            )


def test_codegen_decode_nulls_overlength_slice(spark):
    """ADVICE r7 #1: a length-delimited field declaring MORE bytes than
    the body holds must decode NULL (starving the walk), not a silently
    truncated prefix — matching decode_message's ProtoDecodeError→NULL
    contract so output does not depend on jar availability."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        ProtoDecodeError,
        attach_codegen_decode,
        decode_message,
        encode_message,
    )

    fs = {1: ("i", "int64"), 3: ("t", "string")}
    schema = StructType(
        [StructField("i", LongType()), StructField("t", StringType())]
    )
    good = encode_message([(3, "hello")])
    truncated = good[:-3]  # declares len 5, body holds 2 ('he')
    # field 1 BEFORE the truncated field still decodes per-field
    prefixed = encode_message([(1, 42)]) + truncated
    import pytest as _pytest

    with _pytest.raises(ProtoDecodeError):
        decode_message(truncated, fs)
    df = spark.createDataFrame(
        [(good,), (truncated,), (prefixed,)], "value binary"
    )
    rows = attach_codegen_decode(df, F.col("value"), fs, schema).select(
        "payload"
    ).collect()
    assert rows[0]["payload"]["t"] == "hello"
    assert rows[1]["payload"]["t"] is None  # NOT 'he'
    assert rows[2]["payload"]["t"] is None
    assert rows[2]["payload"]["i"] == 42  # per-field leniency, documented


def test_varint_encode_sql_negative_yields_null(spark):
    """ADVICE r7 #2: negative inputs must fall through to NULL as the
    docstring promises — not a corrupt 1-byte frame from truncated
    two's-complement hex."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        varint_encode_sql,
    )

    df = spark.createDataFrame(
        [(-1,), (-5,), (0,), (127,), (128,), (2**34,), (2**35,)], "x long"
    )
    got = df.select(F.expr(varint_encode_sql("x")).alias("v")).collect()
    assert got[0]["v"] is None and got[1]["v"] is None
    assert bytes(got[2]["v"]) == b"\x00"
    assert bytes(got[3]["v"]) == b"\x7f"
    assert bytes(got[4]["v"]) == b"\x80\x01"
    assert got[5]["v"] is not None
    assert got[6]["v"] is None  # beyond 5-group default bound
