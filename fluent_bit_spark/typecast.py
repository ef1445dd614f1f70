"""Typecast engine: int / uint / float / string / bool / hex.

Two reference engines with subtly different string-parse semantics, both
reproduced (property-tested against pure-Python strtol models in
tests/test_properties.py):

- mode='parser' (flb_parser.c:2067 flb_parser_typecast): C stdlib prefix
  parsing — int = atoll (leading integer prefix, garbage -> 0), hex =
  strtoull base 16, float = atof (garbage -> 0.0), bool = case-insensitive
  *prefix* match on "true"/"false" (else cast error). Used by parser
  ``types`` options.
- mode='converter' (src/flb_typecast.c:98-133 flb_typecast_conv_str): same
  prefix parsing via strtoimax/strtoumax, but a parsed value of exactly 0
  is treated as a conversion error (flb_typecast.c:100-104) — the record
  keeps its original value. Used by filter_type_converter
  (plugins/filter_type_converter/type_converter.c:120-135).

All casts are Catalyst built-ins — regexp_extract + try_cast/conv, no UDFs,
so the cast stays inside whole-stage codegen at any scale. Numeric (already
typed) inputs skip the string-parse path: the reference's conv_obj numeric
branches are plain value conversions.

Deviation (typed columns): on a bool cast error the reference keeps the
original *string* in place; a Spark BooleanType column cannot hold it, so
errors yield NULL and ``type_converter`` restores the original under
keep_original semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CAST_TYPES = ("int", "uint", "float", "string", "bool", "hex")

# leading-whitespace class mirrors C isspace(): space \t \n \r \v \f
_WS = r"[ \t\n\r\x0B\f]*"
_INT_PREFIX = rf"^{_WS}([+-]?[0-9]+)"
_UINT_PREFIX = rf"^{_WS}(\+?[0-9]+)"
_FLOAT_PREFIX = rf"^{_WS}([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)"
_HEX_PREFIX = rf"^{_WS}(?:0[xX])?([0-9a-fA-F]+)"

# strtoumax wraps a negative input mod 2^64 (uint64 arithmetic)
_U64_MOD = 18446744073709551616  # 2**64


def _prefix(col: Column, pattern: str) -> Column:
    """Leading-prefix extract; no match -> NULL (empty string try_casts to
    NULL downstream anyway, but be explicit)."""
    ex = F.regexp_extract(col.cast("string"), pattern, 1)
    return F.when(ex != "", ex)


def cast_column(col: Column, to_type: str, mode: str = "parser") -> Column:
    # NULL input (absent key / unmatched extraction) stays NULL in every
    # mode — the C parsers only typecast values that exist.
    t = to_type.lower()
    if t == "integer":  # the spelling fluent-bit's parser docs use
        t = "int"
    err_zero = mode == "converter"  # flb_typecast: parsed 0 == error
    if t == "uint" and err_zero:
        # strtoumax (flb_typecast.c:111): a SIGN IS accepted and a negative
        # value wraps mod 2^64 to a huge nonzero uint64 (success, not
        # error). bigint can't hold >2^63-1, so the result is decimal(20,0).
        c = _prefix(col, _INT_PREFIX).try_cast("decimal(20,0)")
        # 2^64 exceeds a py4j long — ship the modulus as a string literal
        mod = F.lit(str(_U64_MOD)).cast("decimal(20,0)")
        wrapped = F.when(c < 0, c + mod).otherwise(c).cast("decimal(20,0)")
        return F.nullif(wrapped, F.lit(0).cast("decimal(20,0)"))
    if t in ("int", "uint"):
        c = _prefix(col, _INT_PREFIX if t == "int" else _UINT_PREFIX).try_cast("bigint")
        if err_zero:
            return F.nullif(c, F.lit(0))
        # atoll: present-but-unparseable -> 0
        return F.when(col.isNotNull(), F.coalesce(c, F.lit(0)))
    if t == "float":
        # atof both modes: present-but-unparseable -> 0.0, never an error
        return F.when(
            col.isNotNull(),
            F.coalesce(_prefix(col, _FLOAT_PREFIX).try_cast("double"), F.lit(0.0)),
        )
    if t == "string":
        return col.cast("string")
    if t == "bool":
        # strncasecmp prefix match (flb_parser.c:2121-2126, flb_typecast.c:139-146)
        lowered = F.lower(col.cast("string"))
        return F.when(lowered.startswith("true"), F.lit(True)).when(
            lowered.startswith("false"), F.lit(False)
        )
    if t == "hex":
        c = F.conv(_prefix(col, _HEX_PREFIX), 16, 10).try_cast("bigint")
        if err_zero:
            return F.nullif(c, F.lit(0))
        # strtoull: present-but-unparseable -> 0
        return F.when(col.isNotNull(), F.coalesce(c, F.lit(0)))
    raise ValueError(f"unknown cast type {to_type!r}; expected one of {CAST_TYPES}")


def _is_string_type(df: DataFrame, name: str) -> bool:
    try:
        return dict(df.dtypes).get(name) == "string"
    except Exception:
        return True


def type_converter(
    df: DataFrame, rules: list[tuple[str, str, str]], keep_original: bool = True
) -> DataFrame:
    """filter_type_converter: rules of (from_key, to_key, type).

    Adds ``to_key`` as the casted value of ``from_key``; the original column
    is kept (reference semantics: converted value written under to_key).
    String sources go through the flb_typecast strtol path (0 == error);
    already-numeric sources are plain value conversions (conv_obj numeric
    branches).
    """
    for from_key, to_key, to_type in rules:
        src = F.col(from_key)
        if _is_string_type(df, from_key):
            casted = cast_column(src, to_type, mode="converter")
        else:
            t = to_type.lower()
            if t in ("int", "uint"):
                casted = src.try_cast("bigint")
                if t == "uint":
                    casted = F.when(casted >= 0, casted)
            elif t == "float":
                casted = src.try_cast("double")
            elif t == "hex":
                casted = cast_column(src, "hex", mode="converter")
            elif t == "bool":
                casted = cast_column(src, "bool", mode="converter")
            else:
                casted = src.cast("string")
        if keep_original and to_key == from_key:
            casted = F.coalesce(casted.cast("string"), src.cast("string"))
        df = df.withColumn(to_key, casted)
    return df
