"""Driver-side series kernels: the SKOPE chain on one collected series.

A request's zonal series has at most one row per band (2017 on the
production cube), so the service runs transform, smoothers and summaries
here, in numpy on the collected rows, instead of as Spark window plans.
Each kernel keeps the semantics of its Spark operator in
``operators/windows.py`` (``tests/test_window_numpy_parity.py`` pins the
pairs), which mirror the reference's numpy/numba kernels
(``timeseries.py:34-176``).

Series are float64 arrays ordered by band with NaN for a missing value;
an output is NaN wherever the Spark operator returns NULL. Windows count
rows, like the Spark frames.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view


def _moments(windows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """NaN-skipping mean and POPULATION sigma along the last axis.

    Sigma is NaN when the window has no values or all of them are equal:
    Spark's ``stddev_pop`` is exactly 0 there (the operators then return
    NULL), but a two-pass numpy std of a constant run of a value that is
    not representable (23.3, ``float32(0.1)``) is a few ulps, not 0.
    """
    ok = ~np.isnan(windows)
    n = ok.sum(axis=-1)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(ok, windows, 0.0).sum(axis=-1) / n
        dev = np.where(ok, windows - np.expand_dims(mean, -1), 0.0)
        var = (dev * dev).sum(axis=-1) / n
    lo = np.min(np.where(ok, windows, np.inf), axis=-1, initial=np.inf)
    hi = np.max(np.where(ok, windows, -np.inf), axis=-1, initial=-np.inf)
    sigma = np.where((hi > lo) & (var > 0), np.sqrt(var), np.nan)
    return mean, sigma


def _preceding(x: np.ndarray, width: int) -> np.ndarray:
    """The ``width`` rows before each row i >= width (row i excluded)."""
    return sliding_window_view(x[:-1], width)


def centered_moving_average(x: np.ndarray, width: int) -> np.ndarray:
    """W1 — mean of the centered odd-width window; partial windows and any
    NaN inside a window give NaN (``np.convolve(..., "valid")``)."""
    if width < 1 or width % 2 == 0:
        raise ValueError(f"centered moving average width must be odd >= 1, got {width}")
    out = np.full(len(x), np.nan)
    if len(x) >= width:
        half = width // 2
        out[half : len(x) - half] = sliding_window_view(x, width).mean(axis=-1)
    return out


def trailing_moving_average(x: np.ndarray, width: int) -> np.ndarray:
    """W2 — mean of the ``width`` PRECEDING rows, current row excluded."""
    if width < 1:
        raise ValueError(f"trailing moving average width must be >= 1, got {width}")
    out = np.full(len(x), np.nan)
    if len(x) > width:
        out[width:] = _preceding(x, width).mean(axis=-1)
    return out


def rolling_zscore(x: np.ndarray, width: int) -> np.ndarray:
    """W3 — z of each row vs the NaN-skipping mean/sigma of the ``width``
    preceding rows; rows without a full window are NaN."""
    if width < 1:
        raise ValueError(f"rolling z-score width must be >= 1, got {width}")
    out = np.full(len(x), np.nan)
    if len(x) > width:
        mean, sigma = _moments(_preceding(x, width))
        out[width:] = (x[width:] - mean) / sigma
    return out


def fixed_zscore(x: np.ndarray, reference: np.ndarray) -> np.ndarray:
    """W4 — z vs the NaN-skipping mean/sigma of ``reference`` (``x`` itself
    for the self-interval form, scipy ``zscore(nan_policy="omit")``)."""
    mean, sigma = _moments(reference)
    return (x - mean) / sigma
