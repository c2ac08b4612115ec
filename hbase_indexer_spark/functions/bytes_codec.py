"""Big-endian byte[] <-> typed value codec (HBase ``Bytes.toXXX`` semantics).

The one home of the byte format: decoders, encoders and the value-mapper
registry.  It reproduces the type surface of the reference's
ByteArrayValueMappers (reference: hbase-indexer-engine/.../parse/
ByteArrayValueMappers.java:33-126): ``int long string boolean float double
short bigdecimal``, all big-endian, plus the ``bytes`` passthrough.

Every built-in decoder except ``bigdecimal`` is a SQL-text template
(hex/conv/bit arithmetic) over a SQL expression: ``F.expr`` parses a whole
decode tree in one py4j round trip, and decode stays inside whole-stage
codegen, with no Python in the hot path.  ``bigdecimal`` (4-byte BE scale +
two's-complement unscaled bytes, org.apache.hadoop.hbase.util.Bytes.
toBigDecimal) is an Arrow-batched pandas UDF, and custom mappers (U1) are
user Column callables; those two are the only Column decoders.

Decode failure semantics: the reference logs and drops a value that has the
wrong byte length (ByteArrayValueMappers.java:154-164).  Here a wrong-length
input decodes to NULL (the doc field is simply absent), checked via
``length(value)`` guards.
"""

from __future__ import annotations

import decimal

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DecimalType

_U32 = 4294967296  # 2**32
_I32 = 2147483648  # 2**31


def _unsigned_be_sql(e: str) -> str:
    """Unsigned big-endian integer value of <=4 bytes."""
    return f"CAST(conv(hex({e}), 16, 10) AS BIGINT)"


def _guard_sql(e: str, nbytes: int, out: str) -> str:
    """NULL unless the binary value is exactly ``nbytes`` long (drop-on-error)."""
    return f"CASE WHEN (length({e}) = {nbytes}) THEN {out} END"


def _decode_int_sql(e: str) -> str:
    u = _unsigned_be_sql(e)
    signed = f"CASE WHEN ({u} >= {_I32}) THEN ({u} - {_U32}) ELSE {u} END"
    return _guard_sql(e, 4, f"CAST({signed} AS INT)")


def _decode_short_sql(e: str) -> str:
    u = _unsigned_be_sql(e)
    signed = f"CASE WHEN ({u} >= 32768) THEN ({u} - 65536) ELSE {u} END"
    return _guard_sql(e, 2, f"CAST({signed} AS SMALLINT)")


def _long_bits_sql(e: str) -> str:
    """Signed 64-bit value of 8 big-endian bytes, via hi/lo 32-bit halves.

    shiftleft is a pure bit operation, so the high half lands in the sign
    bits and the result is the two's-complement value (ANSI-safe — no
    arithmetic overflow).
    """
    hi = f"CAST(conv(substring(hex({e}), 1, 8), 16, 10) AS BIGINT)"
    lo = f"CAST(conv(substring(hex({e}), 9, 8), 16, 10) AS BIGINT)"
    return f"(shiftleft({hi}, 32) | {lo})"


def _decode_long_sql(e: str) -> str:
    return _guard_sql(e, 8, _long_bits_sql(e))


def _decode_boolean_sql(e: str) -> str:
    # Bytes.toBoolean: single byte, 0x00 = false, else true (-1 written by toBytes)
    return _guard_sql(e, 1, f"(NOT ({_unsigned_be_sql(e)} = 0))")


def _decode_string_sql(e: str) -> str:
    return f"CAST({e} AS STRING)"


def _decode_float_sql(e: str) -> str:
    """IEEE-754 binary32 from 4 big-endian bytes, as arithmetic on the bits."""
    u = _unsigned_be_sql(e)  # 0 .. 2**32-1
    sign = f"CASE WHEN ({u} >= {_I32}) THEN -1.0D ELSE 1.0D END"
    exp = f"(shiftrightunsigned({u}, 23) & 255)"
    frac = f"CAST(({u} & 8388607) AS DOUBLE)"
    normal = (f"(({sign} * (1.0D + ({frac} / {float(1 << 23)!r}D)))"
              f" * power(2.0D, CAST(({exp} - 127) AS DOUBLE)))")
    subnormal = f"(({sign} * {frac}) * power(2.0D, -149.0D))"
    special = (f"CASE WHEN ({frac} = 0) THEN ({sign} * CAST('Infinity' AS DOUBLE))"
               f" ELSE CAST('NaN' AS DOUBLE) END")
    out = (f"CASE WHEN ({exp} = 255) THEN {special}"
           f" WHEN ({exp} = 0) THEN {subnormal}"
           f" ELSE {normal} END")
    return _guard_sql(e, 4, f"CAST({out} AS FLOAT)")


def _decode_double_sql(e: str) -> str:
    """IEEE-754 binary64 from 8 big-endian bytes.

    All steps are exact in double arithmetic for normal numbers (the
    fraction is a dyadic rational with <=52 significant bits), so the result
    is bit-exact with Java's Double.longBitsToDouble for normals/zeros.
    """
    bits = _long_bits_sql(e)
    sign = f"CASE WHEN ({bits} < 0) THEN -1.0D ELSE 1.0D END"
    exp = f"CAST((shiftrightunsigned({bits}, 52) & 2047) AS INT)"
    frac = f"CAST(({bits} & 4503599627370495) AS DOUBLE)"
    normal = (f"(({sign} * (1.0D + ({frac} / {float(1 << 52)!r}D)))"
              f" * power(2.0D, CAST(({exp} - 1023) AS DOUBLE)))")
    subnormal = f"(({sign} * {frac}) * power(2.0D, -1074.0D))"
    special = (f"CASE WHEN ({frac} = 0) THEN ({sign} * CAST('Infinity' AS DOUBLE))"
               f" ELSE CAST('NaN' AS DOUBLE) END")
    return _guard_sql(e, 8,
                      f"CASE WHEN ({exp} = 2047) THEN {special}"
                      f" WHEN ({exp} = 0) THEN {subnormal}"
                      f" ELSE {normal} END")


def _decode_bytes_sql(e: str) -> str:
    """``byte[]`` passthrough (ExtractHBaseCellsBuilder.java:147-155): no
    conversion — for downstream commands like readAvroContainer."""
    return e


_DECODE_SQL = {
    "int": _decode_int_sql,
    "long": _decode_long_sql,
    "string": _decode_string_sql,
    "boolean": _decode_boolean_sql,
    "float": _decode_float_sql,
    "double": _decode_double_sql,
    "short": _decode_short_sql,
    "bytes": _decode_bytes_sql,
}


def decode_sql(type_name, e: str) -> str | None:
    """SQL text applying the built-in decoder ``type_name`` to the SQL
    expression ``e``; None when the type has no SQL form (the bigdecimal
    pandas UDF, custom mappers, non-string type objects)."""
    if not isinstance(type_name, str):
        return None
    fn = _DECODE_SQL.get(type_name)
    return fn(e) if fn is not None else None


def _decode_bigdecimal_bytes(b):
    """HBase Bytes.toBigDecimal contract: 4-byte BE scale + BE unscaled
    two's-complement — shared by the scalar and array UDFs so the bound
    and sign handling can't drift between them."""
    if b is None or len(b) < 5:
        return None
    scale = int.from_bytes(b[:4], "big", signed=True)
    unscaled = int.from_bytes(b[4:], "big", signed=True)
    try:
        return decimal.Decimal(unscaled).scaleb(-scale)
    except decimal.InvalidOperation:
        return None


@F.pandas_udf(DecimalType(38, 18))
def _decode_bigdecimal_udf(s: pd.Series) -> pd.Series:
    return s.map(_decode_bigdecimal_bytes)


def decode_bigdecimal(col: Column) -> Column:
    return _decode_bigdecimal_udf(col)


@F.pandas_udf(ArrayType(DecimalType(38, 18)))
def _decode_bigdecimal_array_udf(s: pd.Series) -> pd.Series:
    """Array form for wildcard extractors (ByteArrayValueMappers.java:92-96
    applies the bigDecimal mapper under ANY extractor, including prefix
    wildcards): decode each element of an array<binary> column.  One Arrow
    batch per partition-chunk — the per-element loop is python-side but the
    transfer is columnar, same budget as the scalar UDF."""
    return s.map(
        lambda arr: None if arr is None
        else [_decode_bigdecimal_bytes(b) for b in arr])


def decode_bigdecimal_array(col: Column) -> Column:
    return _decode_bigdecimal_array_udf(col)


# ---------------------------------------------------------------------------
# Encoders (Bytes.toBytes(x) equivalents) — used to build binary fixtures and
# by sinks that re-emit HBase-shaped cells.
# ---------------------------------------------------------------------------

def encode_int(col: Column) -> Column:
    masked = col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    return F.unhex(F.lpad(F.hex(masked), 8, "0"))


def encode_short(col: Column) -> Column:
    masked = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    return F.unhex(F.lpad(F.hex(masked), 4, "0"))


def encode_long(col: Column) -> Column:
    # hex(bigint) renders two's complement, so negatives already fill 16 chars
    return F.unhex(F.lpad(F.hex(col.cast("long")), 16, "0"))


def encode_boolean(col: Column) -> Column:
    # Bytes.toBytes(boolean) writes -1 (0xFF) for true, 0x00 for false
    return F.unhex(F.when(col.cast("boolean"), F.lit("FF")).otherwise(F.lit("00")))


def encode_string(col: Column) -> Column:
    return col.cast("string").cast("binary")


def encode_double(col: Column) -> Column:
    """Bytes.toBytes(double): JVM-side via Double.doubleToLongBits (reflect
    stays in the JVM — ~4.5x faster than the Arrow round-trip of a pandas
    UDF and bit-exact with Java)."""
    c = col.cast("double")
    bits = F.call_function(
        "reflect", F.lit("java.lang.Double"), F.lit("doubleToLongBits"), c
    ).cast("long")
    return F.when(c.isNotNull(), F.unhex(F.lpad(F.hex(bits), 16, "0")))


def encode_float(col: Column) -> Column:
    """Bytes.toBytes(float): JVM-side via Float.floatToIntBits."""
    c = col.cast("float")
    bits = F.call_function(
        "reflect", F.lit("java.lang.Float"), F.lit("floatToIntBits"), c
    ).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    return F.when(c.isNotNull(), F.unhex(F.lpad(F.hex(bits), 8, "0")))


@F.pandas_udf(BinaryType())
def _encode_bigdecimal_udf(s: pd.Series) -> pd.Series:
    def enc(v):
        if v is None:
            return None
        d = decimal.Decimal(v)
        sign, digits, exponent = d.as_tuple()
        scale = -exponent
        unscaled = int(d.scaleb(scale))
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        return scale.to_bytes(4, "big", signed=True) + unscaled.to_bytes(nbytes, "big", signed=True)

    return s.map(enc)


def encode_bigdecimal(col: Column) -> Column:
    return _encode_bigdecimal_udf(col)


def encode_bytes(col: Column) -> Column:
    return col.cast("binary")


# U1 — custom ByteArrayValueMapper registry: the reference loads any class
# implementing ByteArrayValueMapper by name (ByteArrayValueMappers.java:
# 128-142, e2e-tested with a CSV multi-value mapper IndexerIT.java:678-721);
# here a mapper is a Column->Column function registered by name.
_CUSTOM_MAPPERS: dict = {}


def register_value_mapper(name: str, fn) -> None:
    _CUSTOM_MAPPERS[name] = fn


def known_type(type_name: str) -> bool:
    return (type_name in _DECODE_SQL or type_name == "bigdecimal"
            or type_name in _CUSTOM_MAPPERS)


def is_custom_mapper(type_name) -> bool:
    return isinstance(type_name, str) and type_name in _CUSTOM_MAPPERS


def decoder_for(type_name: str):
    """Decoder lookup, mirroring ByteArrayValueMappers.getMapper dispatch
    (ByteArrayValueMappers.java:106-126): built-in names first (their
    SQL-text template, ``str -> str``), then bigdecimal, then custom mappers
    registered by name (the Class.forName analog) — those two are Column
    callables; unknown names raise."""
    if type_name in _DECODE_SQL:
        return _DECODE_SQL[type_name]
    if type_name == "bigdecimal":
        return decode_bigdecimal
    try:
        return _CUSTOM_MAPPERS[type_name]
    except KeyError:
        raise ValueError(f"unknown value mapper type: {type_name!r}") from None
