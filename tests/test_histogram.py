"""Histogram operators (operators/quality.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skope_api_spark.operators.quality import (
    equi_depth_histogram,
    equi_width_histogram,
)


@pytest.fixture(scope="module")
def values(spark):
    rows = [(float(v),) for v in range(100)]  # 0..99
    return spark.createDataFrame(rows, "x double")


def test_equi_width_counts_and_edges(spark, values):
    out = {
        r["bucket"]: r["n"]
        for r in equi_width_histogram(
            values, "x", lo=0.0, hi=100.0, buckets=10
        ).collect()
    }
    assert out == {b: 10 for b in range(1, 11)}


def test_equi_width_under_over_flow(spark):
    df = spark.createDataFrame(
        [(-5.0,), (50.0,), (150.0,), (100.0,)], "x double"
    )
    out = {
        r["bucket"]: r["n"]
        for r in equi_width_histogram(
            df, "x", lo=0.0, hi=100.0, buckets=4
        ).collect()
    }
    # hi itself is overflow (right-open domain)
    assert out == {0: 1, 3: 1, 5: 2}


def test_equi_width_ignores_nulls(spark):
    df = spark.createDataFrame([(1.0,), (None,)], "x double")
    out = equi_width_histogram(df, "x", lo=0.0, hi=10.0, buckets=2)
    assert out.agg(F.sum("n")).first()[0] == 1


def test_equi_width_validation(values):
    with pytest.raises(ValueError, match="buckets"):
        equi_width_histogram(values, "x", lo=0.0, hi=1.0, buckets=0)
    with pytest.raises(ValueError, match="lo < hi"):
        equi_width_histogram(values, "x", lo=2.0, hi=1.0, buckets=3)


def test_equi_depth_balanced(spark, values):
    out = {
        r["bucket"]: r["n"]
        for r in equi_depth_histogram(values, "x", buckets=4).collect()
    }
    assert sum(out.values()) == 100
    assert set(out) == {1, 2, 3, 4}
    assert all(20 <= n <= 30 for n in out.values())


def test_equi_depth_skewed_mass_on_one_value(spark):
    # 90% of the mass on a single value: duplicated boundaries collapse
    # every tied row into the same (lowest-qualifying) bucket
    rows = [(1.0,)] * 90 + [(float(v),) for v in range(2, 12)]
    df = spark.createDataFrame(rows, "x double")
    out = {
        r["bucket"]: r["n"]
        for r in equi_depth_histogram(df, "x", buckets=4).collect()
    }
    assert sum(out.values()) == 100
    assert out[1] == 90  # all ties land together — no row split


def test_equi_depth_validation(values):
    with pytest.raises(ValueError, match="buckets"):
        equi_depth_histogram(values, "x", buckets=1)


def test_equi_depth_tick_mode_matches_float_mode(spark):
    # away from rounding-boundary knife edges the integer-exact tick
    # path must produce the same buckets as the float path
    import numpy as np

    rng = np.random.default_rng(3)
    vals = np.round(rng.uniform(1, 1000, 500), 2)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    a = {
        r["bucket"]: r["n"]
        for r in equi_depth_histogram(df, "x", buckets=5).collect()
    }
    b = {
        r["bucket"]: r["n"]
        for r in equi_depth_histogram(
            df, "x", buckets=5, tick_scale=100
        ).collect()
    }
    assert a == b
    assert sum(b.values()) == 500


def test_equi_depth_tick_mode_ties_collapse(spark):
    rows = [(1.25,)] * 90 + [(float(v),) for v in range(2, 12)]
    df = spark.createDataFrame(rows, "x double")
    out = {
        r["bucket"]: r["n"]
        for r in equi_depth_histogram(
            df, "x", buckets=4, tick_scale=100
        ).collect()
    }
    assert sum(out.values()) == 100
    assert out[1] == 90


def test_winsorize_ticks_matches_fraction_reference(spark):
    """winsorize_ticks against pure-Python Fraction arithmetic: exact
    interpolated rational bounds, integer clip, exact dtick values."""
    from fractions import Fraction

    import numpy as np
    from skope_api_spark.operators.stats import winsorize_ticks

    rng = np.random.default_rng(11)
    vals = [round(float(v), 2) for v in rng.uniform(0, 100, 101)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = winsorize_ticks(
        df, "x", lower=(1, 10), upper=(9, 10), tick_scale=100
    ).collect()
    ticks = sorted(round(v * 100) for v in vals)
    n = len(ticks)

    def q(num, den):
        h = Fraction((n - 1) * num, den)
        fl = (n - 1) * num // den
        frac = h - fl
        return Fraction(ticks[fl]) + frac * (
            ticks[min(fl + 1, n - 1)] - ticks[fl]
        )

    lo, hi = q(1, 10), q(9, 10)
    for r in out:
        t = Fraction(round(r["x"] * 100))
        expect = min(max(t, lo), hi)
        assert Fraction(r["x_winsorized_dticks"], 10) == expect
        assert r["x_winsorized"] == float(expect / 100)


def test_winsorize_ticks_nulls_and_validation(spark):
    from skope_api_spark.operators.stats import winsorize_ticks

    df = spark.createDataFrame(
        [(1.0,), (None,), (100.0,)] + [(50.0,)] * 20, "x double"
    )
    rows = winsorize_ticks(df, "x").collect()
    got = {r["x"]: r["x_winsorized"] for r in rows}
    assert got[None] is None
    assert got[50.0] == 50.0
    with pytest.raises(ValueError, match="lower"):
        winsorize_ticks(df, "x", lower=(2, 3), upper=(1, 3))


def test_k_anonymity_report(spark):
    from skope_api_spark.operators.quality import k_anonymity_report

    rows = [("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)] * 7
    df = spark.createDataFrame(rows, "seg string, nat int")
    out = k_anonymity_report(df, ["seg", "nat"], k=5).first()
    assert out["n_rows"] == 14 and out["n_classes"] == 3
    assert out["k_min"] == 2
    assert out["n_rows_below_k"] == 2 and out["n_classes_below_k"] == 1
    assert out["anonymous"] is False
    ok = k_anonymity_report(df, ["seg"], k=5).first()
    assert ok["anonymous"] is True  # classes a=7, b=7


def test_k_anonymity_validation(spark):
    import pytest as _pytest

    from skope_api_spark.operators.quality import k_anonymity_report

    df = spark.createDataFrame([("a",)], "seg string")
    with _pytest.raises(ValueError, match="quasi"):
        k_anonymity_report(df, [])
    with _pytest.raises(ValueError, match="k must"):
        k_anonymity_report(df, ["seg"], k=1)


class TestColumnProfile:
    def test_typed_metrics_and_nulls(self, spark):
        from datetime import datetime

        from skope_api_spark.operators.quality import column_profile

        df = spark.createDataFrame(
            [
                (1, "ab", 10.5, datetime(2024, 1, 1)),
                (2, None, 20.5, datetime(2024, 1, 3)),
                (None, "abcd", None, None),
            ],
            "k long, s string, v double, ts timestamp",
        )
        prof = {
            (r["column"], r["metric"]): r["value"]
            for r in column_profile(df, float_decimal="decimal(18,1)")
            .collect()
        }
        assert prof[("*", "n_rows")] == 3.0
        assert prof[("k", "completeness")] == pytest.approx(2 / 3)
        assert prof[("k", "n_distinct")] == 2.0
        assert prof[("k", "mean")] == pytest.approx(1.5)
        assert prof[("s", "min_length")] == 2.0
        assert prof[("s", "max_length")] == 4.0
        assert prof[("s", "avg_length")] == pytest.approx(3.0)
        assert prof[("v", "mean")] == pytest.approx(15.5)
        # 2024-01-03 minus 2024-01-01 = 2 days of epoch seconds
        assert prof[("ts", "max_epoch")] - prof[("ts", "min_epoch")] == (
            2 * 86400.0
        )

    def test_single_aggregation_plan(self, spark):
        from skope_api_spark.operators.quality import column_profile

        df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
        prof = column_profile(df)
        # subset selection + validation
        assert prof.count() == 2 * 5 + 1
        import pytest as _pt

        from skope_api_spark.operators.quality import column_profile as cp

        with _pt.raises(ValueError, match="unknown"):
            cp(df, ["nope"])
