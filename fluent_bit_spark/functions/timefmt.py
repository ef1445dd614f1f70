"""strptime -> Spark (Java DateTimeFormatter) time-format translation.

Reference parsers carry strptime patterns (src/flb_parser.c:1784 via
src/flb_strptime.c, with %L fractional-seconds extension and timezone
handling flb_parser.h:47-57). Spark's to_timestamp takes JDK patterns; this
table covers the directives used by the shipped parsers (conf/parsers.conf:
apache, syslog, json time_format etc.).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_STRPTIME_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%b": "MMM",
    "%B": "MMMM",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%L": "SSS",  # fluent-bit fractional-seconds extension
    "%p": "a",
    "%z": "XX",
    "%Z": "zz",
    "%j": "DDD",
    "%a": "EEE",
    "%A": "EEEE",
    "%T": "HH:mm:ss",
    "%%": "%",
}


def strptime_to_java(fmt: str) -> str:
    out: list[str] = []
    i = 0
    literal: list[str] = []

    def flush_literal():
        if literal:
            text = "".join(literal)
            # quote any letters so JDK doesn't treat them as pattern chars
            if any(c.isalpha() for c in text):
                text = "'" + text.replace("'", "''") + "'"
            out.append(text)
            literal.clear()

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            token = fmt[i : i + 2]
            if token in _STRPTIME_TO_JAVA:
                flush_literal()
                out.append(_STRPTIME_TO_JAVA[token])
                i += 2
                continue
        literal.append(fmt[i])
        i += 1
    flush_literal()
    return "".join(out)


def parse_time(col: Column, strptime_fmt: str) -> Column:
    """Parse a string column with a strptime format -> TimestampType.
    Unparseable values -> NULL (fluent-bit keeps the record and logs)."""
    return F.try_to_timestamp(col, F.lit(strptime_to_java(strptime_fmt)))


# --------------------------------------------------------------------------
# shared sub-second rendering for the timestamp-formatting encoders
# --------------------------------------------------------------------------
# Every sink/connector that prints "<date_format seconds>.<fraction>"
# needs the fraction as a NON-NEGATIVE remainder: Spark's % keeps the
# dividend's sign (Java semantics), so unix_micros % 1_000_000 is
# negative for pre-1970 timestamps and format_string('%06d', -500000)
# renders '.-500000' — wrong sign AND wrong value (the wall-clock
# fraction of 1969-12-31T23:59:59.5 is .500000, exactly pmod). The
# date_format seconds part floors correctly on its own, so pmod is the
# whole fix. One helper so the encoders can't drift (stackdriver had it
# inline; six siblings didn't — r12 review).


def micros_of(ts: Column) -> Column:
    """Non-negative microsecond fraction [0, 1_000_000) of a timestamp."""
    return F.pmod(F.unix_micros(ts), F.lit(1_000_000))


def frac_micros(ts: Column) -> Column:
    """'%06d' microsecond fraction string (.SSSSSS encoders)."""
    return F.format_string("%06d", micros_of(ts).cast("int"))


def frac_millis(ts: Column) -> Column:
    """'%03d' millisecond fraction string (.SSS encoders)."""
    return F.format_string("%03d", (micros_of(ts) / 1000).cast("int"))
