"""Distributed covariance (operators/linalg.py): strategy parity and
numpy ground truth."""

from __future__ import annotations

import numpy as np
import pytest

from skope_api_spark.operators.linalg import covariance


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(7)
    d, n = 6, 400
    X = rng.normal(size=(n, d)) @ np.diag([3.0, 2.0, 1.0, 0.5, 0.3, 0.1])
    X = X + rng.normal(size=d)  # non-zero mean exercises centering
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "id long, embedding array<double>",
    ).repartition(4)
    return X, df


def _to_matrix(rows, d):
    C = np.zeros((d, d))
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    return C


def test_covariance_explode_matches_numpy(data):
    X, df = data
    C = _to_matrix(covariance(df).collect(), X.shape[1])
    assert np.abs(C - np.cov(X.T, bias=True)).max() < 1e-10


def test_covariance_gram_matches_explode(data):
    X, df = data
    Ce = _to_matrix(covariance(df, strategy="explode").collect(), X.shape[1])
    Cg = _to_matrix(covariance(df, strategy="gram").collect(), X.shape[1])
    assert np.abs(Ce - Cg).max() < 1e-10


def test_covariance_upper_triangle_only(data):
    _, df = data
    assert all(r["i"] <= r["j"] for r in covariance(df).collect())


def test_covariance_rejects_unknown_strategy(data):
    _, df = data
    with pytest.raises(ValueError, match="strategy"):
        covariance(df, strategy="magic")


def test_covariance_null_rows_skipped_both_strategies(spark):
    import numpy as np

    from skope_api_spark.operators.linalg import covariance

    rows = [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0]), (3, None)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    X = np.array([[1.0, 2.0], [3.0, 4.0]])
    ref = np.cov(X.T, bias=True)
    for strat in ("explode", "gram"):
        got = _to_matrix(covariance(df, strategy=strat).collect(), 2)
        assert np.abs(got - ref).max() < 1e-12, strat
