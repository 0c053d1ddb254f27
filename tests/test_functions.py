"""Scalar-function surface (SURVEY §2.H translations)."""

import struct

from pyspark.sql import functions as F

from sparvi_spark.functions import (
    count_filter,
    datediff_hours,
    generate_series_days,
    not_regexp,
    similar_to,
    values_df,
)


def test_similar_to_is_anchored(spark):
    df = spark.createDataFrame(
        [("+1 555 123",), ("x +1 555 123",), ("555-1234",), ("abc",)], "v string")
    # the reference's phone pattern (default_validations.py:267)
    got = [r["m"] for r in
           df.select(similar_to("v", r"(\+)?[0-9][0-9 ()-]+").alias("m")).collect()]
    assert got == [True, False, True, False]  # SIMILAR TO anchors both ends


def test_similar_to_anchors_whole_alternation(spark):
    """Regression: bare ^pat|tern$ binds anchors to the outer alternatives
    only — 'xxbar' must NOT match 'foo|bar' under SIMILAR TO semantics."""
    df = spark.createDataFrame(
        [("foo",), ("bar",), ("xxbar",), ("fooyy",)], "v string")
    got = [r["m"] for r in
           df.select(similar_to("v", "foo|bar").alias("m")).collect()]
    assert got == [True, True, False, False]


def test_not_regexp_unanchored(spark):
    df = spark.createDataFrame([("abc123",), ("xyz",)], "v string")
    got = [r["m"] for r in df.select(not_regexp("v", "[0-9]").alias("m")).collect()]
    assert got == [False, True]


def test_count_filter_and_datediff(spark):
    df = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", "2026-01-01 05:30:00")],
        "id int, a string, b string").select(
        "id", F.col("a").cast("timestamp").alias("a"),
        F.col("b").cast("timestamp").alias("b"))
    row = df.agg(count_filter(F.col("id") > 0).alias("c")).collect()[0]
    assert row["c"] == 1
    h = df.select(datediff_hours("a", "b").alias("h")).collect()[0]["h"]
    assert h == 5.5


def test_generate_series_days(spark):
    df = spark.range(1).select(
        F.explode(generate_series_days("2026-01-01", "2026-01-05")).alias("d"))
    assert df.count() == 5


def test_values_df_doubles_round_trip_bit_exact(spark):
    """Engine results travel through values_df, so every double must come
    back with the same bits — -0.0 too, whose bare literal parses as a
    signless decimal zero."""
    vals = [-0.0, 0.0, 0.1, 1 / 3, 1e-20, 1.2345678901234567e20,
            9007199254740993.0, 5e-324, 1.7976931348623157e308,
            float("nan"), float("inf"), -float("inf"), None]
    got = [r["x"] for r in values_df(spark, [(v,) for v in vals],
                                     "x double").collect()]
    bits = [None if v is None else struct.pack(">d", v) for v in vals]
    assert [None if v is None else struct.pack(">d", v)
            for v in got] == bits


def test_values_df_strings_round_trip(spark):
    """Quotes and backslashes reach the frame unchanged — a trailing
    backslash must not escape the closing quote."""
    vals = ["o'k", "p\\", "a\\tb", "it''s", "\\'", "x\ny", "ü", "", None]
    got = [r["s"] for r in values_df(spark, [(v,) for v in vals],
                                     "s string").collect()]
    assert got == vals
