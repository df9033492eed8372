"""Window operators vs numpy reference implementations on random series.

The reference's kernels are numpy/numba (``timeseries.py:34-176``); these
tests re-derive expected outputs with numpy on random data (fixed seeds,
NaN holes included) and assert the Spark window expressions agree — the
randomized correctness layer the reference lacks (SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from skope_api_spark.operators import windows as wops


def _series_df(spark, values):
    rows = [(i + 1, None if np.isnan(v) else float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "band int, value double")


def _collect(df, col):
    return {r.band: getattr(r, col) for r in df.collect()}


def _rand_series(seed, n=40, nan_frac=0.15):
    rng = np.random.default_rng(seed)
    xs = rng.normal(100, 20, n)
    xs[rng.random(n) < nan_frac] = np.nan
    return xs


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_centered_ma_matches_convolve_valid(spark, seed):
    xs = _rand_series(seed)
    w = 5
    out = _collect(
        wops.centered_moving_average(
            _series_df(spark, xs), "value", order_by=("band",), width=w, out_col="sm"
        ),
        "sm",
    )
    # np.convolve 'valid': full windows only; NaN poisons the window
    expected = np.convolve(xs, np.ones(w) / w, "valid")
    for i, e in enumerate(expected):
        band = i + w // 2 + 1
        if np.isnan(e):
            assert out[band] is None
        else:
            assert out[band] == pytest.approx(e, rel=1e-12)
    # edges (partial windows) are NULL
    for band in list(range(1, w // 2 + 1)) + list(
        range(len(xs) - w // 2 + 1, len(xs) + 1)
    ):
        assert out[band] is None


@pytest.mark.parametrize("seed", [3, 4])
def test_trailing_ma_excludes_current(spark, seed):
    xs = _rand_series(seed)
    w = 4
    out = _collect(
        wops.trailing_moving_average(
            _series_df(spark, xs), "value", order_by=("band",), width=w, out_col="sm"
        ),
        "sm",
    )
    for band in range(1, len(xs) + 1):
        i = band - 1
        window = xs[i - w : i] if i - w >= 0 else None
        if window is None or np.isnan(window).any():
            assert out[band] is None
        else:
            assert out[band] == pytest.approx(window.mean(), rel=1e-12)


@pytest.mark.parametrize("seed", [5, 6])
def test_rolling_zscore_nanskipping_exclusive(spark, seed):
    xs = _rand_series(seed)
    w = 6
    out = _collect(
        wops.rolling_zscore(
            _series_df(spark, xs), "value", order_by=("band",), width=w, out_col="z"
        ),
        "z",
    )
    for band in range(1, len(xs) + 1):
        i = band - 1
        if i < w:
            assert out[band] is None
            continue
        window = xs[i - w : i]
        m, s = np.nanmean(window), np.nanstd(window)  # ddof=0, NaN-skipping
        if np.isnan(xs[i]) or np.isnan(m) or s == 0 or np.isnan(s):
            assert out[band] is None
        else:
            assert out[band] == pytest.approx((xs[i] - m) / s, rel=1e-9)


def test_rolling_zscore_sigma_zero_is_null(spark):
    xs = np.array([5.0, 5.0, 5.0, 7.0, 9.0])
    out = _collect(
        wops.rolling_zscore(
            _series_df(spark, xs), "value", order_by=("band",), width=2, out_col="z"
        ),
        "z",
    )
    assert out[3] is None  # window [5,5] has sigma 0
    assert out[4] is None  # window [5,5] again
    assert out[5] == pytest.approx((9 - 6) / 1.0)  # window [5,7]


@pytest.mark.parametrize("seed", [7, 8])
def test_fixed_zscore_matches_scipy_semantics(spark, seed):
    xs = _rand_series(seed)
    out = _collect(
        wops.fixed_interval_zscore(_series_df(spark, xs), "value", out_col="z"), "z"
    )
    m, s = np.nanmean(xs), np.nanstd(xs)  # scipy.stats.zscore nan_policy=omit, ddof=0
    for band in range(1, len(xs) + 1):
        x = xs[band - 1]
        if np.isnan(x):
            assert out[band] is None
        else:
            assert out[band] == pytest.approx((x - m) / s, rel=1e-9)


def test_reference_interval_zscore(spark):
    xs = np.arange(1, 11, dtype=float)
    df = _series_df(spark, xs)
    ref = df.where(F.col("band") <= 5)
    out = _collect(
        wops.fixed_reference_zscore(df, ref, "value", out_col="z"), "z"
    )
    m, s = np.mean(xs[:5]), np.std(xs[:5])
    for band in range(1, 11):
        assert out[band] == pytest.approx((xs[band - 1] - m) / s, rel=1e-12)


# -- driver kernels (api/kernels.py) vs the Spark operators ------------------

WIDTHS = range(1, 22)


def _kernel_series() -> dict[int, np.ndarray]:
    """Random series with NaN holes, one shorter than most windows, and
    constant runs of values binary floating point cannot represent (a
    two-pass numpy std of such a run is a few ulps, not 0).

    Random values separate the runs: a window mixing 0.1 and float32(0.1)
    (1.5e-9 apart) has a z-score conditioned at ~1e-8 relative, where
    Spark's one-pass (Welford) sigma and the kernels' two-pass sigma
    legitimately differ in the ninth digit."""
    runs = np.concatenate([
        np.full(25, 23.3),
        _rand_series(12, n=10),
        np.full(25, 0.1),
        _rand_series(14, n=10),
        np.full(25, float(np.float32(0.1))),
    ])
    runs[25 + 10 + 5] = np.nan  # a hole inside the 0.1 run
    return {
        0: _rand_series(9),
        1: _rand_series(10, nan_frac=0.4),
        2: _rand_series(11, n=60, nan_frac=0.05),
        3: _rand_series(13, n=5),  # shorter than most windows
        4: runs,
    }


REF_BANDS = 7  # the first 7 bands: all 23.3 in series 4 → sigma 0


@pytest.fixture(scope="module")
def spark_windows(spark):
    """Every Spark window operator at every width over every series, in
    one collect: {(sid, column): [value by band]}."""
    series = _kernel_series()
    rows = [
        (sid, i + 1, None if np.isnan(v) else float(v))
        for sid, xs in series.items()
        for i, v in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "sid int, band int, value double")
    kw = dict(order_by=("band",), partition_by=("sid",))
    for w in WIDTHS:
        if w % 2:
            df = wops.centered_moving_average(df, "value", width=w, out_col=f"c{w}", **kw)
        df = wops.trailing_moving_average(df, "value", width=w, out_col=f"t{w}", **kw)
        df = wops.rolling_zscore(df, "value", width=w, out_col=f"z{w}", **kw)
    df = wops.fixed_interval_zscore(df, "value", partition_by=("sid",), out_col="fz")
    df = wops.fixed_reference_zscore(
        df, df.where(F.col("band") <= REF_BANDS).select("sid", "value"),
        "value", join_on=("sid",), out_col="rz",
    )
    out: dict[tuple[int, str], list] = {}
    for r in sorted(df.collect(), key=lambda r: (r.sid, r.band)):
        for col, v in r.asDict().items():
            out.setdefault((r.sid, col), []).append(v)
    return series, out


def _assert_matches(got: list, want: np.ndarray, rel: float) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if np.isnan(w):
            assert g is None
        else:
            assert g == pytest.approx(w, rel=rel, abs=rel)


class TestDriverKernelParity:
    def test_moving_averages(self, spark_windows):
        from skope_api_spark.api import kernels

        series, out = spark_windows
        for sid, xs in series.items():
            for w in WIDTHS:
                if w % 2:
                    _assert_matches(
                        out[(sid, f"c{w}")], kernels.centered_moving_average(xs, w), 1e-12
                    )
                _assert_matches(
                    out[(sid, f"t{w}")], kernels.trailing_moving_average(xs, w), 1e-12
                )

    def test_rolling_zscore(self, spark_windows):
        from skope_api_spark.api import kernels

        series, out = spark_windows
        for sid, xs in series.items():
            for w in WIDTHS:
                _assert_matches(out[(sid, f"z{w}")], kernels.rolling_zscore(xs, w), 1e-9)

    def test_fixed_zscores(self, spark_windows):
        from skope_api_spark.api import kernels

        series, out = spark_windows
        for sid, xs in series.items():
            _assert_matches(out[(sid, "fz")], kernels.fixed_zscore(xs, xs), 1e-9)
            _assert_matches(
                out[(sid, "rz")], kernels.fixed_zscore(xs, xs[:REF_BANDS]), 1e-9
            )

    def test_constant_runs_have_exactly_zero_sigma(self):
        """numpy's std of a constant non-representable run is not 0; the
        kernels still treat it as sigma == 0 (NULL), like Spark."""
        from skope_api_spark.api import kernels

        for v, n in ((23.3, 7), (0.1, 3)):
            run = np.full(n, v)
            assert np.nanstd(run) > 0
            assert np.isnan(kernels.rolling_zscore(np.append(run, v + 1), n)[-1])
            assert np.isnan(kernels.fixed_zscore(run, run)).all()


class TestGapFillInterpolate:
    def test_interior_gaps_linear_edges_null(self, spark):
        from datetime import datetime

        from skope_api_spark.operators.windows import gap_fill_interpolate

        ev = spark.createDataFrame(
            [
                (1, datetime(2024, 1, 1, 5), 1.0),
                (1, datetime(2024, 1, 4, 9), 4.0),   # days 2,3 are gaps
                (1, datetime(2024, 1, 4, 10), 0.0),  # same-day second event
                (2, datetime(2024, 3, 1, 0), 7.5),   # single-day key
            ],
            "user_id long, ts timestamp, value double",
        )
        rows = {
            (r.key, str(r.day)): (r.value, r.interpolated)
            for r in gap_fill_interpolate(ev).collect()
        }
        assert rows[(1, "2024-01-01")] == (1.0, False)
        assert rows[(1, "2024-01-02")] == (2.0, True)   # 1 + (4-1)*1/3
        assert rows[(1, "2024-01-03")] == (3.0, True)
        assert rows[(1, "2024-01-04")] == (4.0, False)  # daily SUM of 2 events
        assert rows[(2, "2024-03-01")] == (7.5, False)
        assert len(rows) == 5  # spine covers exactly min..max per key
