"""Scalar-function surface (SURVEY.md §2.H).

Every scalar the reference's generated SQL uses maps directly to Spark SQL
except the four below, which need translation. Everything else
(COUNT/SUM/AVG/MIN/MAX/STDDEV/COUNT DISTINCT, LENGTH, TRIM, LIKE, NULLIF,
CASE WHEN, CURRENT_DATE/TIMESTAMP, date_trunc) is available verbatim via
``spark.sql`` / ``pyspark.sql.functions`` — the V24 passthrough
(operators.validation) is the engine's SQL surface.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "similar_to",
    "not_regexp",
    "count_filter",
    "datediff_hours",
    "generate_series_days",
    "time_bucket",
    "local_df",
    "values_df",
    "sql_str",
]


def sql_str(s) -> str:
    """``s`` as a single-quoted Spark SQL string literal. Spark's parser
    unescapes backslashes (``spark.sql.parser.escapedStringLiterals`` is
    off by default) and reads ``''`` as two adjacent literals, so escape
    the backslash first, then the quote: every character survives.
    DuckDB text escapes by doubling the quote instead."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def local_df(spark, rows, schema):
    """Metadata-sized local DataFrame in ONE partition.

    ``spark.createDataFrame(list, ...)`` parallelizes to
    defaultParallelism slices — 32 near-empty scheduler events per stage
    for a 30-row snapshot/config frame, and every shuffle or join over it
    inherits the width. All engine metadata frames (schema snapshots,
    rule configs, spec rows) go through here instead."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema)


def values_df(spark, rows, schema):
    """Small local frame as ONE VALUES literal — a true LocalRelation.

    ``local_df``'s parallelize-backed frame executes a real Spark job
    (Python→JVM row ship + task) on EVERY downstream action, ~0.15-0.2s
    per toPandas at 100 rows; a VALUES literal folds driver-side
    (measured 194ms → 66ms for the same frame), and as a plan leg it
    adds no RDD scan stage. Only for simple types — string, double,
    float, bigint/int/smallint/tinyint, boolean (plus NULLs); anything
    else (timestamps, arrays) stays on ``local_df``. Cell dtypes are
    pinned by per-column casts in the outer SELECT, so all-NULL columns
    keep their declared type. Empty ``rows`` falls back to ``local_df``
    (VALUES needs at least one row)."""
    if not rows:
        return local_df(spark, rows, schema)
    fields = [(f.strip().rsplit(" ", 1)[0].strip("`"),
               f.strip().rsplit(" ", 1)[1].lower())
              for f in schema.split(",")]

    def cell(v, typ):
        if v is None:
            return "null"
        if typ in ("double", "float"):
            v = float(v)
            if v != v:  # inline tables infer column types per cell, so
                return f"cast('NaN' as {typ})"  # non-finite spellings
            if v in (float("inf"), float("-inf")):  # must carry the cast
                return (f"cast('{'-' if v < 0 else ''}Infinity' "
                        f"as {typ})")
            if v == 0.0 and math.copysign(1.0, v) < 0:  # a -0.0 literal
                return f"cast('-0.0' as {typ})"  # parses as decimal: no sign
            return repr(v)  # shortest roundtrip; exact through parse
        if typ in ("bigint", "int", "smallint", "tinyint", "long"):
            return str(int(v))
        if typ == "boolean":
            return "true" if v else "false"
        if typ == "string":
            return sql_str(v)
        raise ValueError(f"values_df: unsupported type {typ!r}")

    vals = ", ".join(
        "(" + ", ".join(cell(v, t) for v, (_n, t) in zip(r, fields)) + ")"
        for r in rows)
    cols = ", ".join(f"cast(`{n}` as {t}) AS `{n}`" for n, t in fields)
    names = ", ".join(f"`{n}`" for n, _t in fields)
    return spark.sql(
        f"SELECT {cols} FROM (VALUES {vals}) AS t({names})")


def time_bucket(ts, width_seconds: int):
    """Epoch-aligned arbitrary-width time bucket (hypertable-style):
    floor(epoch/width)*width as a timestamp. Portable: the identical
    formula runs in DuckDB as to_timestamp(floor(epoch(ts)/w)*w)."""
    from pyspark.sql import Column, functions as F

    c = F.col(ts) if isinstance(ts, str) else ts
    # TIMESTAMP_NTZ has no direct numeric cast; relabel to TIMESTAMP first
    # (no-op for TIMESTAMP inputs, wall-clock-preserving under a UTC session).
    c = c.cast("timestamp")
    return F.timestamp_seconds(
        (F.floor(c.cast("long") / width_seconds) * width_seconds).cast("long"))


def similar_to(col: Column | str, pattern: str) -> Column:
    """SQL ``SIMILAR TO`` (reference default_validations.py:267).

    SIMILAR TO is implicitly anchored at both ends; Spark's ``rlike`` is
    not (SURVEY §7.7) — anchor explicitly, AROUND A GROUP: bare
    '^pat|tern$' binds the anchors to the first/last alternative only
    ('xxbar' would match '^foo|bar$'), while SIMILAR TO requires the
    whole string to match the full alternation.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(f"^(?:{pattern})$")


def not_regexp(col: Column | str, pattern: str) -> Column:
    """MySQL-style ``NOT REGEXP`` (ValidationRuleEditor.js:253) —
    unanchored, so plain negated rlike."""
    c = F.col(col) if isinstance(col, str) else col
    return ~c.rlike(pattern)


def count_filter(cond: Column) -> Column:
    """``COUNT(*) FILTER (WHERE cond)`` (default_validations.py:337) —
    Spark has no FILTER clause on aggregates; ``count(when(cond, 1))``."""
    return F.count(F.when(cond, F.lit(1)))


def datediff_hours(start: Column | str, end: Column | str) -> Column:
    """FRACTIONAL elapsed hours between two timestamps (the quantity the
    reference's freshness math consumes, core/anomalies/metrics.py:83).

    NOT the same as DuckDB/Snowflake ``DATEDIFF('hour', ...)`` (which
    counts hour-BOUNDARY crossings: 01:59 -> 02:01 is 1) or Spark's
    ``timestampdiff(HOUR, ...)`` (whole elapsed hours: 0); this returns
    2/60. Checks that need boundary semantics must floor/truncate
    explicitly on both sides."""
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    s = s.cast("timestamp")
    e = e.cast("timestamp")
    return (e.cast("long") - s.cast("long")) / F.lit(3600)


def generate_series_days(start: str, end: str) -> Column:
    """Postgres ``generate_series(date, date, interval '1 day')``
    (core/anomalies/api.py:590-594) — explode upstream of this column."""
    return F.sequence(
        F.lit(start).cast("date"), F.lit(end).cast("date"),
        F.expr("interval 1 day"),
    )
