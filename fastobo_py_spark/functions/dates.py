r"""OBO date parsing as column expressions.

Two distinct shapes in the reference (``/root/reference/src/date.rs:14-123``,
``src/py/abc.rs:146-151``; golden examples ``tests/common.py:173-194``):

* header ``date:`` — ``DD:MM:YYYY HH:MM`` (``25:03:2019 16:28``)
* ``creation_date:`` — ISO-8601 date (``2021-01-23``) OR datetime with
  optional timezone (``2021-01-23T12:30:00Z``, ``...+02:00``, naive).

Parsed into (timestamp, tz-string) column pairs: Spark timestamps are
tz-normalized, but OBO round-trips need the ORIGINAL offset text, so the
offset rides in a companion string column (same trick as the reference
keeping ``IsoTimezone`` separate).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_header_date(col: Column) -> Column:
    """``DD:MM:YYYY HH:MM`` → timestamp (header DateClause).

    try_to_timestamp, NOT to_timestamp: under ANSI mode (default in
    Spark 4) a regex-valid but calendar-invalid value ('30:02:2021 …')
    would otherwise throw and kill the whole stage — the contract here is
    quarantine/NULL, never fail the job."""
    return F.try_to_timestamp(col, F.lit("dd:MM:yyyy HH:mm"))


def format_header_date(col: Column) -> Column:
    return F.date_format(col, "dd:MM:yyyy HH:mm")


# SQL text over a column name or expression ``c`` (the node build embeds
# it in its one ``spark.sql`` statement; the Column helpers wrap the same
# text and take a column name). Brace-free on purpose: the node stage's
# statement goes through ``str.format`` (``session.sql_over``), so
# ``\d\d\d\d`` stands for ``\d{4}``.
_DATE_RE = r"\d\d\d\d-\d\d-\d\d"
_TIME_RE = r"\d\d:\d\d:\d\d(\.\d+)?"
_TZ_RE = r"([Zz]|[+-]\d\d:?\d\d)"


def creation_date_kind_sql(c: str) -> str:
    """SQL text of :func:`creation_date_kind`."""
    return (
        f"CASE WHEN {c} RLIKE r'^{_DATE_RE}$' THEN 'date'"
        f" WHEN {c} RLIKE r'^{_DATE_RE}[Tt ]{_TIME_RE}$' THEN 'datetime'"
        f" WHEN {c} RLIKE r'^{_DATE_RE}[Tt ]{_TIME_RE}{_TZ_RE}$' THEN 'datetime_tz'"
        " ELSE CAST(NULL AS STRING) END"
    )


def parse_creation_date_sql(c: str) -> str:
    """SQL text of :func:`parse_creation_date`."""
    kind = creation_date_kind_sql(c)
    # normalize BOTH separators the kind regex accepts: [Tt] → space and a
    # lowercase z suffix → Z (the cast only understands uppercase); and
    # try_to_timestamp so calendar-invalid values ('2021-02-30') yield
    # NULL instead of an ANSI DateTimeException killing the node build
    norm = f"regexp_replace(regexp_replace({c}, '[Tt]', ' '), 'z$', 'Z')"
    return (
        f"CASE WHEN {kind} = 'date' THEN try_to_timestamp({c}, 'yyyy-MM-dd')"
        f" WHEN {kind} = 'datetime' THEN try_to_timestamp({norm})"
        f" WHEN {kind} = 'datetime_tz' THEN try_to_timestamp({norm}) END"
    )


def creation_date_kind(name: str) -> Column:
    """'date' | 'datetime' | 'datetime_tz' | NULL (unparseable)."""
    return F.expr(creation_date_kind_sql(name))


def creation_date_tz(name: str) -> Column:
    """Original timezone suffix ('Z', '+02:00', ...) or NULL for naive."""
    tz = F.regexp_extract(F.col(name), _TZ_RE + "$", 1)
    return F.when((creation_date_kind(name) == "datetime_tz") & (tz != ""), tz)


def parse_creation_date(name: str) -> Column:
    """ISO date/datetime (naive or zoned) → timestamp.

    Plain dates become midnight; zoned datetimes are converted to session
    UTC (keep :func:`creation_date_tz` alongside to round-trip the
    original offset).
    """
    return F.expr(parse_creation_date_sql(name))
