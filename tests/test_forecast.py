"""Holt linear smoothing (operators/forecast.py) vs a plain-Python
reference recurrence."""

from __future__ import annotations

import pytest

from skope_api_spark.operators.forecast import holt_forecast


def _holt_ref(xs, alpha, beta):
    level, trend = xs[0], 0.0
    for x in xs[1:]:
        new_level = alpha * x + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        level = new_level
    return level, trend


def _series_df(spark, series):
    rows = [
        (k, i, float(v))
        for k, xs in series.items()
        for i, v in enumerate(xs)
    ]
    return spark.createDataFrame(rows, "k string, t int, v double")


def test_holt_matches_reference(spark):
    xs = [10.0, 12.0, 11.0, 13.0, 15.0, 14.0, 16.0]
    df = _series_df(spark, {"a": xs})
    row = holt_forecast(
        df, key_cols=("k",), order_col="t", value_col="v",
        alpha=0.5, beta=0.3, horizon=3,
    ).first()
    level, trend = _holt_ref(xs, 0.5, 0.3)
    assert row["n_points"] == 7
    assert abs(row["level"] - level) < 1e-12
    assert abs(row["trend"] - trend) < 1e-12
    for h in (1, 2, 3):
        assert abs(row[f"forecast_{h}"] - (level + h * trend)) < 1e-12


def test_holt_linear_series_forecasts_exactly(spark):
    # a perfectly linear series: forecasts continue the line (alpha=beta=1
    # locks level/trend onto the data immediately)
    xs = [float(2 * i + 5) for i in range(10)]
    df = _series_df(spark, {"a": xs})
    row = holt_forecast(
        df, key_cols=("k",), order_col="t", value_col="v",
        alpha=1.0, beta=1.0, horizon=2,
    ).first()
    assert abs(row["forecast_1"] - (xs[-1] + 2)) < 1e-9
    assert abs(row["forecast_2"] - (xs[-1] + 4)) < 1e-9


def test_holt_single_point_series(spark):
    df = _series_df(spark, {"a": [42.0]})
    row = holt_forecast(
        df, key_cols=("k",), order_col="t", value_col="v", horizon=1
    ).first()
    assert row["level"] == 42.0
    assert row["trend"] == 0.0
    assert row["forecast_1"] == 42.0


def test_holt_multiple_keys_independent(spark):
    df = _series_df(spark, {"a": [1.0, 2.0, 3.0], "b": [10.0, 10.0, 10.0]})
    rows = {
        r["k"]: r
        for r in holt_forecast(
            df, key_cols=("k",), order_col="t", value_col="v", horizon=1
        ).collect()
    }
    la, ta = _holt_ref([1.0, 2.0, 3.0], 0.5, 0.3)
    assert abs(rows["a"]["level"] - la) < 1e-12
    assert abs(rows["b"]["level"] - 10.0) < 1e-12
    assert abs(rows["b"]["trend"]) < 1e-12


def test_holt_validation(spark):
    df = _series_df(spark, {"a": [1.0]})
    with pytest.raises(ValueError, match="key_cols"):
        holt_forecast(df, key_cols=(), order_col="t", value_col="v")
    with pytest.raises(ValueError, match="alpha"):
        holt_forecast(
            df, key_cols=("k",), order_col="t", value_col="v", alpha=0.0
        )
    with pytest.raises(ValueError, match="horizon"):
        holt_forecast(
            df, key_cols=("k",), order_col="t", value_col="v", horizon=-1
        )


def test_holt_null_values_dropped(spark):
    rows = [("a", 0, 10.0), ("a", 1, None), ("a", 2, 12.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    row = holt_forecast(
        df, key_cols=("k",), order_col="t", value_col="v", horizon=1
    ).first()
    level, trend = _holt_ref([10.0, 12.0], 0.5, 0.3)
    assert row["n_points"] == 2
    assert abs(row["level"] - level) < 1e-12
