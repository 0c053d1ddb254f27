"""Profiler tests (P1-P14) at sf0.001."""

import pytest

from sparvi_spark.operators.profile import (
    duplicate_count,
    health_score,
    profile_table,
    top_values,
    type_bucket,
)
from sparvi_spark.testdata import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def lineitem_profile(spark):
    df = load_table(spark, "lineitem", SF_DIR)
    return profile_table(df, "lineitem", as_of="2026-01-01 00:00:00")


def test_row_and_column_counts(lineitem_profile):
    p = lineitem_profile
    assert p["row_count"] == 6000
    assert p["column_count"] == 11
    assert p["table"] == "lineitem"
    assert set(p["columns"]) == set(p["column_types"])


def test_completeness_contract(lineitem_profile):
    c = lineitem_profile["completeness"]["l_quantity"]
    assert set(c) == {"nulls", "null_percentage", "distinct_count", "distinct_percentage"}
    assert c["nulls"] >= 0
    assert lineitem_profile["null_fractions"]["l_orderkey"] == 0.0


def test_numeric_summary(lineitem_profile):
    s = lineitem_profile["summary_statistics"]["l_quantity"]
    assert s["min"] == 1.0 and s["max"] == 50.0
    assert s["negative_count"] == 0
    assert s["avg"] == pytest.approx(s["sum"] / 6000, abs=1e-6)
    assert s["stddev"] is not None and s["stddev"] > 0


def test_string_and_date_summary(lineitem_profile):
    s = lineitem_profile["summary_statistics"]["l_returnflag"]
    assert s["min_length"] == 1 and s["max_length"] == 1 and s["empty_count"] == 0
    d = lineitem_profile["summary_statistics"]["l_shipdate"]
    assert d["min"].startswith("19") or d["min"].startswith("20")
    assert d["future_count"] == 0


def test_top_values_present_and_bounded(lineitem_profile):
    tv = lineitem_profile["top_values"]
    assert "l_returnflag" in tv
    assert 0 < len(tv["l_returnflag"]) <= 10
    counts = [v["count"] for v in tv["l_returnflag"]]
    assert counts == sorted(counts, reverse=True)
    # high-cardinality numeric keys must be excluded by the distinct cap
    assert "l_orderkey" not in tv


def test_duplicate_count_zero_on_keyed_table(spark):
    df = load_table(spark, "nation", SF_DIR)
    assert duplicate_count(df) == 0


def test_duplicate_count_detects_dupes(spark):
    df = load_table(spark, "nation", SF_DIR)
    assert duplicate_count(df.unionAll(df.limit(3))) == 3


def test_health_score_heuristic():
    assert health_score(100, 5, 1, True) == 100
    assert health_score(0, 5, 1, True) == 70
    assert health_score(100, 5, 5, False) == 65  # no PK, all nullable
    assert health_score(100, 60, 0, True) == 90  # wide table
    assert health_score(0, 60, 60, False) == 25


def test_top_values_tie_break_deterministic(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("a",), ("b",), ("c",)], "v string"
    )
    rows = top_values(df, ["v"], k=2).collect()
    assert [(r["value"], r["cnt"]) for r in rows] == [("a", 2), ("b", 2)]


def test_profile_row_count_change(spark):
    df = load_table(spark, "nation", SF_DIR)
    prev = {"row_count": 20}
    p = profile_table(df, "nation", previous_profile=prev)
    assert p["row_count_change"] == 5


def test_type_buckets(spark):
    df = load_table(spark, "embeddings", SF_DIR)
    assert type_bucket(df.schema["embedding"].dataType) == "other"
    assert type_bucket(df.schema["vec_id"].dataType) == "numeric"


def test_profile_approx_mode(spark):
    """100 TB mode: sketch distinct counts, skip exact duplicate pass."""
    from sparvi_spark.operators.profile import profile_table
    from sparvi_spark.testdata import load_table
    from tests.conftest import SF_DIR

    df = load_table(spark, "orders", SF_DIR)
    exact = profile_table(df, "orders", as_of="2026-01-01 00:00:00")
    approx = profile_table(df, "orders", exact=False, as_of="2026-01-01 00:00:00")
    assert approx["row_count"] == exact["row_count"]
    for c, d in exact["distinct_counts"].items():
        a = approx["distinct_counts"][c]
        assert a == 0 or abs(a - d) <= max(0.1 * d, 2), (c, a, d)
    # the scale lane's DOUBLE sums (numeric_exprs exact=False — the
    # decimal agg buffer is a measured 13x/core cliff at 100x, r11)
    # must agree with the decimal parity lane after the document's own
    # rounding: avg to 6dp, stddev to 4dp, both compared with one-ulp
    # slack at the rounding boundary
    for c, s in exact["summary_statistics"].items():
        if "zero_count" not in s:  # text/date summaries share the dict
            continue
        a = approx["summary_statistics"][c]
        assert a["min"] == s["min"] and a["max"] == s["max"], c
        assert a["zero_count"] == s["zero_count"], c
        for k, tol in (("avg", 2e-6), ("stddev", 2e-4)):
            if s[k] is None:
                assert a[k] is None, (c, k)
            else:
                assert abs(a[k] - s[k]) <= tol, (c, k, a[k], s[k])
        rel = abs(a["sum"] - s["sum"]) / max(abs(s["sum"]), 1.0)
        assert rel <= 1e-9, (c, a["sum"], s["sum"])


def test_profile_nonfinite_values(spark):
    """NaN/±Inf are excluded from numeric stats and disclosed as
    non_finite_count — in BOTH lanes. Before r11 the decimal lane
    dropped them from the sum but kept them in the count (avg over
    [1, NaN, Inf, 2] reported 0.75, a plausible wrong number) and the
    double lane returned NaN for every stat."""
    from sparvi_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf"),), (2.0,),
         (float("-inf"),), (None,)], "x double")
    for exact in (True, False):
        s = profile_table(df, "t", exact=exact)["summary_statistics"]["x"]
        assert s["non_finite_count"] == 3, (exact, s)
        assert s["min"] == 1.0 and s["max"] == 2.0, (exact, s)
        assert s["sum"] == 3.0 and s["avg"] == 1.5, (exact, s)
        assert s["stddev"] == pytest.approx(0.7071, abs=1e-4), (exact, s)
        # sign counts keep ordering semantics: +Inf is positive,
        # -Inf negative, NaN neither
        assert s["positive_count"] == 3 and s["negative_count"] == 1, s


def test_operators_on_empty_input(spark):
    """Every core operator must handle a 0-row input without raising and
    with sane zero/NULL semantics (the reference's health score explicitly
    covers 0-row tables, collector.py:661-687)."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.anomalies import detect_anomalies, zscore_anomalies
    from sparvi_spark.operators.dedup import jaccard_pairs
    from sparvi_spark.operators.profile import duplicate_count, profile_table
    from sparvi_spark.operators.sessions import session_stats
    from sparvi_spark.operators.text import quality_features
    from sparvi_spark.operators.trends import incremental_time_rollup
    from sparvi_spark.operators.validation import Rule, run_rules

    empty_docs = spark.createDataFrame([], "doc_id int, text string")
    empty_events = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double")

    prof = profile_table(empty_docs, "empty_docs")
    assert prof["row_count"] == 0 and prof["duplicate_count"] == 0
    assert duplicate_count(empty_docs) == 0

    rules = [Rule("not_empty", "count > 0", "greater_than", 0, "agg",
                  agg_expr="count(*)")]
    res = {r["rule_name"]: r for r in run_rules(empty_docs, rules).collect()}
    assert res["not_empty"]["actual_value"] == 0.0
    assert res["not_empty"]["is_valid"] is False

    assert zscore_anomalies(empty_events.select(
        F.col("event_type").alias("metric_name"), "ts", "value"),
        ["metric_name"]).count() == 0
    assert detect_anomalies(empty_events.select(
        F.col("event_type").alias("metric_name"), "ts", "value"),
        ["metric_name"], config={"detection_method": "zscore"}).count() == 0

    assert session_stats(empty_events, "user_id", "ts", 30.0).count() == 0
    assert quality_features(empty_docs, repetition=True).count() == 0
    assert jaccard_pairs(empty_docs, "doc_id", "text", n=1,
                         threshold=0.5).count() == 0

    state = incremental_time_rollup(None, empty_events, "ts", "event_type",
                                    "value", 3600)
    assert state.count() == 0


def test_exact_distinct_counts_match_count_distinct_on_hostile_frame(spark):
    """The exact lane takes its distinct counts from the melted plan, not
    from countDistinct inside the fused pass. Both must count alike where
    they could drift: NaN (one value), -0.0 beside 0.0 (one value), ±Inf,
    float widened to double, decimal, boolean, an all-null column and an
    empty frame; columns named with a quote and a backslash."""
    import datetime as dt
    from decimal import Decimal as D

    from sparvi_spark.operators.profile import distinct_count

    nan, inf = float("nan"), float("inf")
    schema = ("d double, f float, dec decimal(12,2), b boolean, "
              "allnull string, s string, i int, ts timestamp")
    rows = [
        (nan, nan, D("1.10"), True, None, "a", 1, dt.datetime(2026, 1, 1)),
        (-0.0, -0.0, D("0.00"), False, None, "", 2, None),
        (0.0, 0.0, D("-0.00"), None, None, None, None,
         dt.datetime(2026, 1, 2)),
        (inf, inf, D("1.1"), True, None, "a", 1, dt.datetime(2026, 1, 1)),
        (-inf, -inf, None, False, None, "b", -1, dt.datetime(2027, 1, 1)),
        (None, None, D("9999999999.99"), None, None, "ü", 0, None),
        (nan, nan, D("1.10"), True, None, "a", 1, dt.datetime(2026, 1, 1)),
        (2.5, 2.5, D("-3.25"), True, None, "c", 3, dt.datetime(2026, 1, 3)),
    ]
    # quote and backslash in names: the melt labels columns with literals
    names = ["d", "f", "dec", "b", "allnull", "o'k", "p\\", "ts"]
    got = {}
    for name, df in (("hostile", spark.createDataFrame(rows, schema)),
                     ("empty", spark.createDataFrame([], schema))):
        df = df.toDF(*names)
        got[name] = profile_table(
            df, "t", exact=True,
            as_of="2026-06-01 00:00:00")["distinct_counts"]
        old = df.agg(*[distinct_count(c) for c in df.columns]) \
            .collect()[0].asDict()
        assert got[name] == {c: old[f"{c}__distinct"] for c in df.columns}
    # NaN twice and -0.0/0.0 each count once: NaN, 0, Inf, -Inf, 2.5
    h = got["hostile"]
    assert h["d"] == h["f"] == 5 and h["dec"] == 4 and h["allnull"] == 0
    assert h["o'k"] == h["p\\"] == 5
    assert set(got["empty"].values()) == {0}


def test_profile_large_magnitudes_and_single_row(spark):
    """Review-fix pins: the profiler survives |values| >= 1e16 (the old
    dec*dec sum-of-squares overflowed decimal(38,6) — ANSI crash) and a
    single-row group reports NULL sample stddev instead of dividing by
    zero."""
    from sparvi_spark.operators.profile import profile_table

    big = spark.createDataFrame([(1e17,), (2e17,)], "x double")
    p = profile_table(big, "big")
    assert p["summary_statistics"]["x"]["max"] == 2e17
    assert p["summary_statistics"]["x"]["stddev"] is None  # overflow -> unknown

    one = spark.createDataFrame([(5.0,)], "x double")
    p1 = profile_table(one, "one")
    assert p1["summary_statistics"]["x"]["stddev"] is None

    # scale lane (double sums, no per-row overflow counter): |v| >=
    # ~1.34e154 squares to +Inf — the aggregate-level finiteness guard
    # must report honest None, not inf/NaN (r11 review fix)
    huge = spark.createDataFrame([(1e155,), (2e155,)], "x double")
    ph = profile_table(huge, "huge", exact=False)
    s = ph["summary_statistics"]["x"]
    assert s["stddev"] is None, s
    assert s["max"] == 2e155 and s["non_finite_count"] == 0, s


def test_correlation_matrix_matches_numpy(spark):
    """One-pass pairwise Pearson vs numpy, including pairwise-complete
    NULL handling and a zero-variance column -> NULL."""
    import numpy as np

    from sparvi_spark.operators.profile import correlation_matrix

    rows = [(1.0, 2.0, 5.0), (2.0, 4.1, 5.0), (3.0, 5.9, 5.0),
            (4.0, None, 5.0), (5.0, 10.2, 5.0), (None, 7.0, 5.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {(r["col_a"], r["col_b"]): r
           for r in correlation_matrix(df, ["a", "b", "c"]).collect()}

    a = [1.0, 2.0, 3.0, 5.0]
    b = [2.0, 4.1, 5.9, 10.2]
    expect_ab = float(np.corrcoef(a, b)[0, 1])
    assert got[("a", "b")]["n_pairs"] == 4
    assert abs(got[("a", "b")]["pearson"] - round(expect_ab, 6)) < 2e-6
    # zero-variance partner -> NULL, not a crash or +-1
    assert got[("a", "c")]["pearson"] is None
    assert got[("b", "c")]["pearson"] is None


def test_exact_percentiles_refine_nan_column_falls_back(spark):
    """A NaN-bearing column routes to the bucketed fallback instead of
    splicing 'nan' into SQL; values match exact_percentiles on the same
    data (NaN sorts last in both plans)."""
    from sparvi_spark.operators.profile import (
        exact_percentiles, exact_percentiles_refine)

    import math

    rows = [(float(i),) for i in range(100)] + [(float("nan"),)] * 60
    df = spark.createDataFrame(rows, "v double")
    got = exact_percentiles_refine(df, ["v"]).collect()[0]
    ref = exact_percentiles(df, ["v"]).collect()[0]
    for q in ("p25", "p50", "p75"):
        g, r = got[q], ref[q]
        assert g == r or (math.isnan(g) and math.isnan(r)), q
    assert math.isnan(got["p75"])  # NaN tail actually reached the walk


def test_refine_bracket_cache_skips_pass1_and_matches(spark):
    """Second refine over the SAME logical input reuses the cached pass-1
    probe row (no second percentile_approx action) and returns identical
    values; a DIFFERENT frame never hits the cache; bracket_cache=False
    and SPARK_GRAFT_NO_CACHE=1 both bypass it."""
    import os
    from unittest.mock import patch

    from sparvi_spark.operators import profile as prof

    df = spark.createDataFrame([(float(i % 37),) for i in range(500)],
                               "v double")
    prof._BRACKET_CACHE.clear()
    first = prof.exact_percentiles_refine(df, ["v"]).collect()[0]
    assert len(prof._BRACKET_CACHE) == 1
    cached_row = next(iter(prof._BRACKET_CACHE.values()))
    # second call: the memoized row object itself is what routing reads
    with patch.dict(prof._BRACKET_CACHE, clear=False):
        again = prof.exact_percentiles_refine(df, ["v"]).collect()[0]
    assert len(prof._BRACKET_CACHE) == 1
    assert next(iter(prof._BRACKET_CACHE.values())) is cached_row
    for q in ("p25", "p50", "p75"):
        assert first[q] == again[q], q
    # a semantically different frame gets its own entry
    df2 = spark.createDataFrame([(float(i % 11),) for i in range(500)],
                                "v double")
    prof.exact_percentiles_refine(df2, ["v"]).collect()
    assert len(prof._BRACKET_CACHE) == 2
    # escape hatches: neither touches the cache
    prof._BRACKET_CACHE.clear()
    prof.exact_percentiles_refine(df, ["v"], bracket_cache=False).collect()
    assert not prof._BRACKET_CACHE
    os.environ["SPARK_GRAFT_NO_CACHE"] = "1"
    try:
        prof.exact_percentiles_refine(df, ["v"]).collect()
        assert not prof._BRACKET_CACHE
    finally:
        del os.environ["SPARK_GRAFT_NO_CACHE"]


def test_refine_window_budget_routes_to_bucketed_plan(spark):
    """A (column, quantile) whose expected pass-2 window (8n/accuracy)
    exceeds window_budget never runs the collect_list window — it takes
    the fully distributed bucketed plan and stays exact. Guards the
    100 TB shape: at 10^11 rows the unbudgeted window is a 10^8-value
    single aggregation buffer."""
    from unittest.mock import patch

    from sparvi_spark.operators import profile as prof

    # distinct values -> no tie shortcut; n=200, accuracy=2000 gives an
    # expected window of 0.8 values, so budget=0 forces the guard while
    # any real budget admits it
    df = spark.createDataFrame([(float(i),) for i in range(200)],
                               "v double")
    ref = prof.exact_percentiles(df, ["v"]).collect()[0]

    with patch.object(prof, "exact_percentiles",
                      wraps=prof.exact_percentiles) as bucketed:
        got = prof.exact_percentiles_refine(
            df, ["v"], tie_shortcut=False, window_budget=0).collect()[0]
        assert bucketed.call_count == 1  # budget guard took the fallback
        assert bucketed.call_args[0][1] == ["v"]
    for q in ("p25", "p50", "p75"):
        assert got[q] == ref[q], q

    with patch.object(prof, "exact_percentiles",
                      wraps=prof.exact_percentiles) as bucketed:
        got2 = prof.exact_percentiles_refine(
            df, ["v"], tie_shortcut=False).collect()[0]
        assert bucketed.call_count == 0  # default budget: window path
    for q in ("p25", "p50", "p75"):
        assert got2[q] == ref[q], q


def test_refine_rounding_matches_spark_shortest_repr(spark):
    """Boundary values whose shortest repr ends in 5 at the cut digit must
    round like Spark's round() (HALF_UP on the shortest decimal repr)."""
    from sparvi_spark.operators.profile import exact_percentiles_refine

    # every row identical -> every quantile is exactly this value; its
    # shortest repr 3.0000025 rounds HALF_UP to 3.000003 (Decimal(x)'s
    # binary expansion 3.00000249999... would round DOWN to 3.000002)
    df = spark.createDataFrame([(3.0000025,)] * 10, "v double")
    got = exact_percentiles_refine(df, ["v"]).collect()[0]
    spark_rounded = spark.sql(
        "select round(cast(3.0000025 as double), 6) as r").collect()[0]["r"]
    assert got["p50"] == spark_rounded == 3.000003
