"""Independent numpy oracle for SKOPE API responses.

Each dataset's cells are evaluated from their analytic construction rule
(FIXTURES.md for the dev cubes, ``lake.LBDA_RULE`` for the lbda-shaped
cube) over the cell window the request generator knows it selected, then
pushed through the reference semantics: NaN-skipping zonal mean/median,
z-scores with population std, smoothers that emit only full windows (a NaN
inside a window poisons it), outputs clipped to the requested range, and
NaN-skipping summary statistics. Nothing here calls into the program.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import date
from typing import Callable

import numpy as np

from perfbench import lake

REL_TOL = ABS_TOL = 1e-7


def _f32(v: np.ndarray) -> np.ndarray:
    return v.astype(np.float32).astype(np.float64)


def _dev_holes(b, r, c, band3_hole: bool):
    hole = (r == 3) & (c == 4)
    if band3_hole:
        hole = hole | ((b == 3) & (r == 2) & (c == 4))
    return hole


@dataclass(frozen=True)
class Dataset:
    dataset_id: str
    variable_id: str
    n_bands: int
    rows: int
    cols: int
    origin_lon: float
    origin_lat: float
    px: float
    monthly: bool
    values: Callable[[np.ndarray, np.ndarray, np.ndarray], np.ndarray]
    uncertainty: Callable | None = None

    def band_date(self, band: int) -> date:
        if self.monthly:
            return date(1 + (band - 1) // 12, (band - 1) % 12 + 1, 1)
        return date(band, 1, 1)

    def band_of(self, d: date) -> int:
        if self.monthly:
            return (d.year - 1) * 12 + d.month
        return d.year

    def point(self, row: int, col: int, u: float, v: float) -> list[float]:
        """lon/lat of a point inside cell (row, col); u, v in (0, 1)."""
        return [
            self.origin_lon + (col + u) * self.px,
            self.origin_lat - (row + v) * self.px,
        ]


def _annual_f32(b, r, c):
    return np.where(_dev_holes(b, r, c, True), np.nan, _f32(b * 100 + r * 10 + c * 1.1))


def _annual_u16(b, r, c):
    return np.where(_dev_holes(b, r, c, True), np.nan, (b * 100 + r * 10 + c) * 1.0)


def _monthly_f32(b, r, c):
    return np.where(_dev_holes(b, r, c, False), np.nan, _f32(b * 100 + r * 10 + c * 1.1))


def _monthly_i16(b, r, c):
    return (b * 100 + r * 10 + c) * 1.0


def _annual_unc(b, r, c):
    return _f32(b * 10 + r + c * 0.1)


_DEV = dict(rows=5, cols=5, origin_lon=-123.0, origin_lat=45.0, px=1.0)
DATASETS: dict[tuple[str, str], Dataset] = {
    (d.dataset_id, d.variable_id): d
    for d in (
        Dataset("annual_5x5x5_dataset", "float32_variable", 5, monthly=False,
                values=_annual_f32, uncertainty=_annual_unc, **_DEV),
        Dataset("annual_5x5x5_dataset", "uint16_variable", 5, monthly=False,
                values=_annual_u16, **_DEV),
        Dataset("monthly_5x5x60_dataset", "float32_variable", 60, monthly=True,
                values=_monthly_f32, **_DEV),
        Dataset("monthly_5x5x60_dataset", "int16_variable", 60, monthly=True,
                values=_monthly_i16, **_DEV),
        Dataset(lake.LBDA_ID, lake.LBDA_VAR, lake.LBDA_BANDS, lake.LBDA_ROWS,
                lake.LBDA_COLS, lake.LBDA_ORIGIN[0], lake.LBDA_ORIGIN[1],
                lake.LBDA_PX, monthly=False, values=lake.lbda_values),
    )
}


def zonal(fn, cells: list[tuple[int, int]], lo: int, hi: int, stat: str) -> np.ndarray:
    """Per-band zonal statistic over ``cells`` for bands lo..hi (NaN-skipping;
    an all-NaN band is NaN)."""
    b = np.arange(lo, hi + 1)[:, None]
    r = np.array([rc[0] for rc in cells])[None, :]
    c = np.array([rc[1] for rc in cells])[None, :]
    vals = fn(b, r, c) * np.ones((len(b), len(cells)))
    out = np.full(len(b), np.nan)
    ok = ~np.all(np.isnan(vals), axis=1)
    agg = np.nanmean if stat == "mean" else np.nanmedian
    out[ok] = agg(vals[ok], axis=1)
    return out


def _nanstats(xs: np.ndarray) -> tuple[float, float]:
    xs = xs[~np.isnan(xs)]
    if len(xs) == 0:
        return math.nan, math.nan
    return float(xs.mean()), float(xs.std())


def _z(x: float, mean: float, sigma: float) -> float:
    if math.isnan(x) or not sigma > 0:
        return math.nan
    return (x - mean) / sigma


def _smoother_pad(sm: dict) -> tuple[int, int]:
    """Bands a smoother consumes before / after each output band."""
    if sm.get("type", "NoSmoother") == "NoSmoother":
        return 0, 0
    w = sm["width"]
    return (w // 2, w // 2) if sm["method"] == "centered" else (w, 0)


def _series_options(payload: dict) -> list[dict]:
    opts = payload.get("requested_series_options")
    if opts is None:
        return [{"name": "original", "smoother": {"type": "NoSmoother"}}]
    return opts


def band_ranges(payload: dict) -> tuple[tuple[int, int], tuple[int, int]]:
    """(requested, extracted) band ranges of a valid request. The one read
    covers the requested range widened by the transform's lookback and each
    smoother's window, clipped to the data."""
    ds = DATASETS[(payload["dataset_id"], payload["variable_id"])]
    tr = payload.get("time_range") or {}
    g = ds.band_of(date.fromisoformat(tr["gte"])) if tr.get("gte") else 1
    lte = ds.band_of(date.fromisoformat(tr["lte"])) if tr.get("lte") else ds.n_bands
    transform = payload.get("transform", {"type": "NoTransform"})
    tpad = transform["width"] if transform["type"] == "ZScoreMovingInterval" else 0
    e0, e1 = g - tpad, lte
    for o in _series_options(payload):
        before, after = _smoother_pad(o["smoother"])
        e0, e1 = min(e0, g - tpad - before), max(e1, lte + after)
    return (g, lte), (max(e0, 1), min(e1, ds.n_bands))


def expected_response(payload: dict, cells: list[tuple[int, int]]) -> dict:
    """The response body a correct service returns for ``payload`` (a valid
    request whose selection is exactly ``cells``)."""
    ds = DATASETS[(payload["dataset_id"], payload["variable_id"])]
    stat = payload.get("zonal_statistic", "mean")
    transform = payload.get("transform", {"type": "NoTransform"})
    ttype = transform["type"]
    opts = _series_options(payload)
    (g, lte), (e0, e1) = band_ranges(payload)
    base = zonal(ds.values, cells, e0, e1, stat)

    def at(arr: np.ndarray, band: int) -> float:
        return float(arr[band - e0])

    # transform → (series over e0..e1, bands holding full-window values)
    if ttype == "NoTransform":
        tser, p0 = base, e0
    elif ttype == "ZScoreMovingInterval":
        w = transform["width"]
        tser = np.full(len(base), np.nan)
        for i in range(w, len(base)):
            m, s = _nanstats(base[i - w : i])
            tser[i] = _z(base[i], m, s)
        p0 = e0 + w
    else:
        ref = transform.get("time_range")
        if ref:
            f0 = ds.band_of(date.fromisoformat(ref["gte"]))
            f1 = ds.band_of(date.fromisoformat(ref["lte"]))
            m, s = _nanstats(zonal(ds.values, cells, f0, f1, stat))
        else:
            m, s = _nanstats(base)
        tser = np.array([_z(x, m, s) for x in base])
        p0 = e0
    p1 = e1

    series, stats = [], []
    if ttype != "NoTransform":
        stats.append(_summary("Original", base[g - e0 : lte - e0 + 1]))
    for o in opts:
        sm = o["smoother"]
        before, after = _smoother_pad(sm)
        lo, hi = max(p0 + before, g), min(p1 - after, lte)
        vals = []
        for t in range(lo, hi + 1):
            if sm.get("type", "NoSmoother") == "NoSmoother":
                vals.append(at(tser, t))
                continue
            w = sm["width"]
            win = (
                tser[t - before - e0 : t + after + 1 - e0]
                if sm["method"] == "centered"
                else tser[t - w - e0 : t - e0]
            )
            vals.append(math.nan if np.isnan(win).any() else float(win.mean()))
        rng = (
            {"gte": ds.band_date(lo).isoformat(), "lte": ds.band_date(hi).isoformat()}
            if hi >= lo
            else None
        )
        series.append({"name": o["name"], "time_range": rng, "values": vals})
        stats.append(_summary(o["name"], np.array(vals, dtype=float)))

    out = {
        "dataset_id": ds.dataset_id,
        "variable_id": ds.variable_id,
        "n_cells": len(cells),
        "area_m2": sum(
            lake.cell_area_m2(ds.origin_lat - r * ds.px, ds.px, ds.px) for r, _ in cells
        ),
        "series": series,
        "summary_stats": stats,
        "uncertainty": None,
    }
    if payload.get("include_uncertainty") and ds.uncertainty is not None:
        u = zonal(ds.uncertainty, cells, g, lte, stat)
        out["uncertainty"] = {
            "name": "uncertainty",
            "time_range": {
                "gte": ds.band_date(g).isoformat(),
                "lte": ds.band_date(lte).isoformat(),
            },
            "values": list(u),
        }
    return out


def _summary(name: str, xs: np.ndarray) -> dict:
    if len(xs) == 0 or np.all(np.isnan(xs)):
        return {"name": name, "mean": None, "median": None, "stdev": None}
    return {
        "name": name,
        "mean": float(np.nanmean(xs)),
        "median": float(np.nanmedian(xs)),
        "stdev": float(np.nanstd(xs)),
    }


def _close(a, b) -> bool:
    a_none = a is None or (isinstance(a, float) and math.isnan(a))
    b_none = b is None or (isinstance(b, float) and math.isnan(b))
    if a_none or b_none:
        return a_none and b_none
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def diff(got, want, path: str = "") -> str | None:
    """First difference between a response body and the expected one (None
    when they agree). Numbers compare with a tolerance; ``want`` keys only,
    so timing fields of the response are ignored."""
    if isinstance(want, dict):
        if not isinstance(got, dict):
            return f"{path}: expected object, got {got!r:.80}"
        for k, v in want.items():
            d = diff(got.get(k), v, f"{path}.{k}")
            if d:
                return d
        return None
    if isinstance(want, list):
        if not isinstance(got, list) or len(got) != len(want):
            n = len(got) if isinstance(got, list) else got
            return f"{path}: expected {len(want)} items, got {n!r:.80}"
        for i, (g, w) in enumerate(zip(got, want)):
            d = diff(g, w, f"{path}[{i}]")
            if d:
                return d
        return None
    if isinstance(want, float) or isinstance(got, float):
        return None if _close(got, want) else f"{path}: {got!r} != {want!r}"
    return None if got == want else f"{path}: {got!r} != {want!r}"


def check(item, status: int, body) -> str | None:
    """Failure message for one answered request, None when correct."""
    if status != item.status:
        return f"status {status}, expected {item.status}: {str(body)[:200]}"
    if item.status != 200:
        return None
    return diff(body, expected_response(item.payload, item.cells))


# The two known ``execute_many`` defects; any other wrong batch answer is a
# failure of the run.
MISSING_UNCERTAINTY = "missing uncertainty series"
FAILED_BY_INVALID = "whole batch failed by one invalid request"
INVALID_REQUEST_ERRORS = ("DatasetNotFoundError", "SelectedAreaOutOfBoundsError")


def check_batch(items, bodies, error: str | None) -> list[tuple[str | None, str]]:
    """(known defect or None, message) for each valid request of one
    ``execute_many`` call that was answered wrongly or not at all. ``bodies``
    are the response bodies in request order; ``error`` is the
    ``"Type: message"`` of the exception the call raised, if any."""
    valid = [i for i, it in enumerate(items) if it.status == 200]
    if error is not None:
        known = None
        if len(valid) < len(items) and error.split(":")[0] in INVALID_REQUEST_ERRORS:
            known = FAILED_BY_INVALID
        return [(known, f"{items[i].kind}: batch failed: {error}") for i in valid]
    if len(bodies) != len(items):
        return [(None, f"{len(bodies)} answers for {len(items)} requests")]
    out = []
    for i in valid:
        item, body = items[i], bodies[i]
        msg = check(item, 200, body)
        if msg is None:
            continue
        known = None
        if item.payload.get("include_uncertainty") and body.get("uncertainty") is None:
            want = expected_response(item.payload, item.cells)
            want.pop("uncertainty")
            if diff(body, want) is None:
                known = MISSING_UNCERTAINTY
        out.append((known, f"{item.kind}: {msg}"))
    return out
