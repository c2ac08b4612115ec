"""Round-trip and Java-parity tests for the big-endian codec.

Parity oracle: Python ``struct`` big-endian packing, which matches HBase
Bytes.toBytes / Bytes.toXXX exactly for int/long/short/float/double;
boolean is 0xFF/0x00 (any non-zero byte reads true); string is UTF-8;
bigdecimal is 4-byte BE scale + two's-complement unscaled bytes.  A value
of the wrong byte length decodes to NULL (ByteArrayValueMappers.java:
154-164).  The built-in decoders are SQL text, applied with ``F.expr``.
"""

import decimal
import math
import struct

import pytest
from pyspark.sql import functions as F

from hbase_indexer_spark.functions import bytes_codec as bc
from hbase_indexer_spark.functions.bytes_codec import decode_sql

INTS = [0, 1, -1, 42, -42, 2147483647, -2147483648, 123456789, -987654321]
LONGS = [0, 1, -1, 2**62, -(2**62), 9223372036854775807, -9223372036854775808, 1234567890123]
SHORTS = [0, 1, -1, 32767, -32768, 12345, -12345]
FLOATS = [0.0, 1.0, -1.0, 3.14159, -2.5e-10, 1.17549435e-38, 3.4e38, 6.0e-42]
DOUBLES = [0.0, 1.0, -1.0, 3.141592653589793, 2.5e-310, -1.7e308, 4.9e-324, 1e-300]


def _roundtrip(spark, values, py_type, enc, type_name, pack_fmt=None):
    df = spark.createDataFrame([(v,) for v in values], f"v {py_type}")
    out = df.select(F.col("v"), enc(F.col("v")).alias("bin")).select(
        "v", "bin", F.expr(decode_sql(type_name, "bin")).alias("back"),
    ).collect()
    for r in out:
        if pack_fmt is not None:
            assert r["bin"] == struct.pack(pack_fmt, r["v"]), r
        assert r["back"] == r["v"] or (
            isinstance(r["v"], float) and math.isnan(r["v"]) and math.isnan(r["back"])), r


def test_int_roundtrip(spark):
    _roundtrip(spark, INTS, "int", bc.encode_int, "int", ">i")


def test_long_roundtrip(spark):
    _roundtrip(spark, LONGS, "long", bc.encode_long, "long", ">q")


def test_short_roundtrip(spark):
    _roundtrip(spark, SHORTS, "short", bc.encode_short, "short", ">h")


def test_float_roundtrip(spark):
    vals = [struct.unpack(">f", struct.pack(">f", v))[0] for v in FLOATS]
    _roundtrip(spark, vals, "float", bc.encode_float, "float", ">f")


def test_double_roundtrip(spark):
    _roundtrip(spark, DOUBLES, "double", bc.encode_double, "double", ">d")


def test_boolean_roundtrip(spark):
    _roundtrip(spark, [True, False], "boolean", bc.encode_boolean, "boolean")
    df = spark.createDataFrame([(True,), (False,)], "v boolean")
    for r in df.select("v", bc.encode_boolean(F.col("v")).alias("bin")).collect():
        assert r["bin"] == (b"\xff" if r["v"] else b"\x00")


def test_string_roundtrip(spark):
    vals = ["", "hello", "héllo wörld", "with-hyphen", "日本語"]
    _roundtrip(spark, vals, "string", bc.encode_string, "string")


def test_float_special_values(spark):
    vals = [float("inf"), float("-inf"), float("nan")]
    _roundtrip(spark, vals, "double", bc.encode_double, "double", ">d")


def test_wrong_length_decodes_to_null(spark):
    # drop-on-error contract, ByteArrayValueMappers.java:154-164
    df = spark.createDataFrame([(b"\x00\x01",)], "v binary")
    types = ["int", "long", "double", "float", "boolean"]
    row = df.select(*[F.expr(decode_sql(t, "v")).alias(t) for t in types]).first()
    assert all(row[t] is None for t in types)


# Adversarial byte patterns: wrong lengths, NULL, empty, inf/nan/subnormal/
# negative-zero bit patterns, min/max values and exponents, invalid UTF-8.
def _cases():
    out = [None, b"", b"\x00", b"\xff", b"\x00\x00", b"\xff\xff",
           b"\x80\x00", b"\x7f\xff"]
    for v in (0, 1, -1, 2 ** 31 - 1, -2 ** 31, 12345678, -12345678):
        out.append(struct.pack(">i", v))
    for v in (0, 1, -1, 2 ** 63 - 1, -2 ** 63, 987654321987):
        out.append(struct.pack(">q", v))
    for f in (0.0, -0.0, 1.5, -1.5, 3.4e38, 1e-45, float("inf"),
              float("-inf"), float("nan")):
        out.append(struct.pack(">f", f))
    for f in (0.0, -0.0, 1.5, -1.5, 1.7e308, 5e-324, float("inf"),
              float("-inf"), float("nan")):
        out.append(struct.pack(">d", f))
    out += [bytes.fromhex(h) for h in (
        "0000000000000001", "800fffffffffffff", "7fefffffffffffff",
        "fff0000000000000", "7ff0000000000001", "fff8000000000000",
        "00000001", "807fffff", "7f7fffff", "ff800001", "7fc00000",
        "deadbeefcafebabe", "deadbeef", "abcd", "61")]
    out.append("hello world".encode())
    return out


def _unpack(fmt):
    size = struct.calcsize(fmt)
    return lambda b: struct.unpack(fmt, b)[0] if len(b) == size else None


# type -> (Spark type, reference decode of a non-NULL byte string)
REFERENCE = {
    "int": ("int", _unpack(">i")),
    "long": ("bigint", _unpack(">q")),
    "short": ("smallint", _unpack(">h")),
    "float": ("float", _unpack(">f")),
    "double": ("double", _unpack(">d")),
    "boolean": ("boolean", lambda b: b[0] != 0 if len(b) == 1 else None),
    "string": ("string", lambda b: b.decode("utf-8", errors="replace")),
    "bytes": ("binary", bytes),
}


def _same(want, got):
    if want is None or got is None:
        return want is None and got is None
    if isinstance(want, float):
        if math.isnan(want):
            return math.isnan(got)
        # bit-exact, incl. -0.0 vs 0.0
        return struct.pack(">d", want) == struct.pack(">d", got)
    return want == got


@pytest.mark.parametrize("type_name", sorted(REFERENCE))
def test_decode_matches_reference(spark, type_name):
    spark_type, ref = REFERENCE[type_name]
    cases = _cases()
    rows = [(i, bytearray(b) if b is not None else None) for i, b in enumerate(cases)]
    sel = spark.createDataFrame(rows, "i int, v binary").select(
        "i", F.expr(decode_sql(type_name, "v")).alias("o"))
    assert dict(sel.dtypes)["o"] == spark_type
    for r in sel.collect():
        b = cases[r["i"]]
        want = None if b is None else ref(b)
        got = bytes(r["o"]) if isinstance(r["o"], (bytes, bytearray)) else r["o"]
        assert _same(want, got), (type_name, b, want, got)


def test_decode_sql_unknown_types_fall_back():
    assert decode_sql("bigdecimal", "v") is None      # pandas UDF
    assert decode_sql("no_such_type", "v") is None    # custom mapper name
    assert decode_sql(lambda c: c, "v") is None       # callable type object
    # decoder_for: built-ins (SQL templates), then bigdecimal, then custom
    assert bc.decoder_for("int")("v") == decode_sql("int", "v")
    assert bc.decoder_for("bigdecimal") is bc.decode_bigdecimal
    with pytest.raises(ValueError):
        bc.decoder_for("no_such_type")


def test_bigdecimal_roundtrip(spark):
    vals = [decimal.Decimal("123.456"), decimal.Decimal("-0.001"),
            decimal.Decimal("98765432109876.543210"), decimal.Decimal("0")]
    df = spark.createDataFrame([(str(v),) for v in vals], "s string")
    rows = df.select(
        F.col("s"),
        bc.decode_bigdecimal(bc.encode_bigdecimal(F.col("s"))).alias("back"),
    ).collect()
    for r in rows:
        assert r["back"] == decimal.Decimal(r["s"]).scaleb(0), r


def test_java_parity_bigdecimal_encoding(spark):
    # Bytes.toBigDecimal layout: 4-byte BE scale + two's-complement unscaled
    df = spark.createDataFrame([("123.45",)], "s string")
    b = df.select(bc.encode_bigdecimal(F.col("s")).alias("b")).first()["b"]
    assert b[:4] == (2).to_bytes(4, "big")
    assert int.from_bytes(b[4:], "big", signed=True) == 12345
