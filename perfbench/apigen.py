"""Seeded SKOPE request generators.

Requests come in cycles of fixed slots: each slot fixes the window length,
the polygon size, the statistic, the transform and the number of smoothed
series, which set most of a request's cost; the slots of a class spread
its sizes over the class's range. The seed picks the slots' order and
every location, shape, window position and smoother width. A run executes whole cycles, so two seeds
load the service with the same mix of work and the run's medians stay
comparable while its inputs differ.

Polygons are rectangles, L-shaped rectilinear unions of two rectangles, and
two-rectangle MultiPolygons whose vertices sit strictly inside grid cells.
The all-touched cell set of such a shape is exactly the union of each
rectangle's row/column span, so the generator knows the selection without
rasterizing anything.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.oracle import DATASETS, Dataset

LBDA = DATASETS[("lbda_v2", "pdsi")]
DEV_ANNUAL = DATASETS[("annual_5x5x5_dataset", "float32_variable")]
DEV_KEYS = [k for k in DATASETS if k[0] != "lbda_v2"]

# api_point: 10 slots (kind, statistic, smoothed) per cycle; the last one
# alternates between an invalid request (422) and a dev-cube point, so 1
# request in 20 is invalid. Dev-cube and short-window requests cost about
# the same and fill the middle of a run's latencies, so its median does not
# sit on a step between classes.
POINT_SLOTS = [
    ("dev", "mean", False),
    ("short", "mean", False), ("short", "median", True),
    ("short", "median", False), ("short", "mean", False),
    ("medium", "median", False),
    ("long", "mean", True), ("long", "median", False),
    ("full", "mean", False),
]
POINT_ALTERNATE = (("invalid", "median", False), ("dev", "median", False))
POINT_WINDOWS = {"short": (10, 49), "medium": (50, 499), "long": (500, 2016)}
# api_polygon_chain: 6 slots (kind, transform, smoothed series, statistic)
POLY_SLOTS = [
    ("small", "moving", 1, "mean"),
    ("small", "fixed_ref", 3, "median"),
    ("medium", "fixed", 2, "mean"),
    ("medium", "moving", 3, "median"),
    ("large", "fixed", 1, "median"),
    ("dev_uncertainty", "fixed_ref", 2, "mean"),
]
POLY_CELLS = {"small": (10, 60), "medium": (100, 500), "large": (800, 2000)}


@dataclass
class Item:
    """One generated request and what a correct service must answer."""

    kind: str
    payload: dict
    cells: list[tuple[int, int]] = field(default_factory=list)
    status: int = 200


def _iso(ds: Dataset, band: int) -> str:
    return ds.band_date(band).isoformat()


def _stratum(lo: int, hi: int, stratum: tuple[int, int] | None) -> tuple[int, int]:
    """The middle of the ``i``-th of ``k`` equal slices of ``lo..hi`` for
    ``stratum=(i, k)`` as a one-value range, or the whole range for None.
    A slot's size is fixed so that its cost is the same in every cycle."""
    if stratum is None:
        return lo, hi
    i, k = stratum
    step = (hi - lo + 1) / k
    mid = lo + int((i + 0.5) * step)
    return mid, mid


def _window(rng, ds: Dataset, lo: int, hi: int) -> dict:
    n = int(rng.integers(lo, min(hi, ds.n_bands) + 1))
    start = int(rng.integers(1, ds.n_bands - n + 2))
    return {"gte": _iso(ds, start), "lte": _iso(ds, start + n - 1)}


def _smoother(rng, max_width: int = 21) -> dict:
    if rng.random() < 0.5:
        w = int(rng.integers(1, max_width // 2 + 1)) * 2 + 1
        return {"type": "MovingAverageSmoother", "method": "centered", "width": min(w, max_width)}
    w = int(rng.integers(1, max_width + 1))
    return {"type": "MovingAverageSmoother", "method": "trailing", "width": w}


def _stat(rng) -> str:
    return "mean" if rng.random() < 0.5 else "median"


def _point_item(rng, ds: Dataset, kind: str, stat: str | None) -> Item:
    r, c = int(rng.integers(0, ds.rows)), int(rng.integers(0, ds.cols))
    u, v = rng.uniform(0.15, 0.85, 2)
    payload = {
        "dataset_id": ds.dataset_id,
        "variable_id": ds.variable_id,
        "selected_area": {"type": "Point", "coordinates": ds.point(r, c, u, v)},
        "zonal_statistic": stat or _stat(rng),
    }
    return Item(kind, payload, [(r, c)])


def point_request(
    rng, kind: str, stat: str | None = None, smoother: bool | None = None,
    stratum: tuple[int, int] | None = None,
) -> Item:
    if kind == "dev":
        ds = DATASETS[DEV_KEYS[int(rng.integers(0, len(DEV_KEYS)))]]
        item = _point_item(rng, ds, kind, stat)
        if rng.random() < 0.5:
            item.payload["time_range"] = _window(rng, ds, 2, ds.n_bands)
        return item
    if kind == "invalid":
        item = _point_item(rng, LBDA, kind, stat)
        item.status, item.cells = 422, []
        if rng.random() < 0.5:
            item.payload["variable_id"] = "pdsi_unknown"
        else:
            lon, lat = item.payload["selected_area"]["coordinates"]
            item.payload["selected_area"]["coordinates"] = [lon + 60.0, lat]
        return item
    item = _point_item(rng, LBDA, kind, stat)
    if kind != "full":
        item.payload["time_range"] = _window(rng, LBDA, *_stratum(*POINT_WINDOWS[kind], stratum))
    if smoother if smoother is not None else rng.random() < 0.3:
        item.payload["requested_series_options"] = [
            {"name": "original", "smoother": {"type": "NoSmoother"}},
            {"name": "smoothed", "smoother": _smoother(rng)},
        ]
    return item


# -- polygons ---------------------------------------------------------------


def _rect_dims(rng, n: int, max_rows: int, max_cols: int) -> tuple[int, int]:
    h = min(max(int(round((n * rng.uniform(0.3, 1.5)) ** 0.5)), 2), max_rows)
    w = min(max(int(round(n / h)), 2), max_cols)
    return h, w


def _ring(ds: Dataset, pts: list[tuple[int, float, int, float]]) -> list[list[float]]:
    """Closed lon/lat ring from (col, u, row, v) vertices inside cells."""
    ring = [ds.point(r, c, u, v) for c, u, r, v in pts]
    return ring + [ring[0]]


def _rect(rng, ds: Dataset, r0: int, r1: int, c0: int, c1: int):
    ul, ur = rng.uniform(0.1, 0.9, 2) if c0 != c1 else sorted(rng.uniform(0.1, 0.9, 2))
    vt, vb = rng.uniform(0.1, 0.9, 2) if r0 != r1 else sorted(rng.uniform(0.1, 0.9, 2))
    ring = _ring(ds, [(c0, ul, r1, vb), (c1, ur, r1, vb), (c1, ur, r0, vt), (c0, ul, r0, vt)])
    cells = [(r, c) for r in range(r0, r1 + 1) for c in range(c0, c1 + 1)]
    return ring, cells


def polygon_area(rng, ds: Dataset, n: int) -> tuple[dict, list[tuple[int, int]]]:
    """A rectangle, L-shape or two-rectangle MultiPolygon of about ``n``
    cells, and the exact set of cells it touches."""
    shape = rng.choice(["rect", "L", "multi"]) if min(ds.rows, ds.cols) > 5 else "rect"
    if shape == "multi":
        h, w = _rect_dims(rng, max(n // 2, 4), ds.rows, (ds.cols - 1) // 2)
        r0 = int(rng.integers(0, ds.rows - h + 1))
        c0 = int(rng.integers(0, ds.cols - 2 * w))
        ra, ca = _rect(rng, ds, r0, r0 + h - 1, c0, c0 + w - 1)
        r2 = int(rng.integers(0, ds.rows - h + 1))
        c2 = int(rng.integers(c0 + w + 1, ds.cols - w + 1))
        rb, cb = _rect(rng, ds, r2, r2 + h - 1, c2, c2 + w - 1)
        return {"type": "MultiPolygon", "coordinates": [[ra], [rb]]}, sorted(set(ca + cb))
    h, w = _rect_dims(rng, n, ds.rows, ds.cols)
    r0 = int(rng.integers(0, ds.rows - h + 1))
    c0 = int(rng.integers(0, ds.cols - w + 1))
    r2, c2 = r0 + h - 1, c0 + w - 1
    if shape == "rect" or h < 3 or w < 3:
        ring, cells = _rect(rng, ds, r0, r2, c0, c2)
        return {"type": "Polygon", "coordinates": [ring]}, cells
    # L: a full-width bar over rows r1..r2 under a narrower column over
    # rows r0..r1 (c0..c1); both rectangles share row r1
    r1 = int(rng.integers(r0 + 1, r2))
    c1 = int(rng.integers(c0 + 1, c2))
    ul, ub, ur = rng.uniform(0.1, 0.9, 3)
    vt, vj, vb = rng.uniform(0.1, 0.9, 3)
    ring = _ring(
        ds,
        [(c0, ul, r2, vb), (c2, ur, r2, vb), (c2, ur, r1, vj),
         (c1, ub, r1, vj), (c1, ub, r0, vt), (c0, ul, r0, vt)],
    )
    cells = {(r, c) for r in range(r1, r2 + 1) for c in range(c0, c2 + 1)}
    cells |= {(r, c) for r in range(r0, r1 + 1) for c in range(c0, c1 + 1)}
    return {"type": "Polygon", "coordinates": [ring]}, sorted(cells)


def _transform(rng, ds: Dataset, kind: str, max_width: int) -> dict:
    if kind == "moving":
        return {"type": "ZScoreMovingInterval", "width": int(rng.integers(2, max_width + 1))}
    if kind == "fixed":
        return {"type": "ZScoreFixedInterval"}
    lo = min(30, ds.n_bands)
    return {"type": "ZScoreFixedInterval", "time_range": _window(rng, ds, lo, min(300, ds.n_bands))}


def polygon_request(
    rng, kind: str, transform: str, n_series: int | None = None, stat: str | None = None,
    cells: tuple[int, int] | None = None, bands: tuple[int, int] | None = None,
) -> Item:
    """``cells`` / ``bands`` = (i, k) fix the cell count and the band window
    length at the middle of the i-th of k slices of the class's cell range
    and of 50-400 bands."""
    if kind == "dev_uncertainty":
        ds, n, max_w, window = DEV_ANNUAL, int(rng.integers(10, 26)), 2, (3, 5)
    else:
        lo, hi = _stratum(*POLY_CELLS[kind], cells)
        ds, n, max_w, window = LBDA, int(rng.integers(lo, hi + 1)), 30, _stratum(50, 400, bands)
    area, cells = polygon_area(rng, ds, n)
    n_series = n_series or int(rng.integers(1, 4))
    payload = {
        "dataset_id": ds.dataset_id,
        "variable_id": ds.variable_id,
        "selected_area": area,
        "zonal_statistic": stat or _stat(rng),
        "time_range": _window(rng, ds, *window),
        "transform": _transform(rng, ds, transform, max_w),
        "requested_series_options": [
            {"name": f"s{i}", "smoother": _smoother(rng, 21 if ds is LBDA else 3)}
            for i in range(n_series)
        ],
    }
    if ds is DEV_ANNUAL:
        payload["include_uncertainty"] = True
    return Item(kind, payload, cells)


def _strata(kinds: list[str]) -> list[tuple[int, int]]:
    """(occurrence of ``kinds[i]`` so far, occurrences in all) for each
    slot: spreads a class's slots over equal slices of its range."""
    return [(kinds[:i].count(k), kinds.count(k)) for i, k in enumerate(kinds)]


def point_cycle(rng, index: int) -> list[Item]:
    slots = POINT_SLOTS + [POINT_ALTERNATE[index % 2]]
    strata = _strata([k for k, _, _ in slots])
    items = [
        point_request(rng, k, stat, smoothed, stratum)
        for (k, stat, smoothed), stratum in zip(slots, strata)
    ]
    return [items[i] for i in rng.permutation(len(items))]


def polygon_cycle(rng, index: int) -> list[Item]:
    strata = _strata([k for k, *_ in POLY_SLOTS])
    lbda = [i for i, (k, *_) in enumerate(POLY_SLOTS) if k in POLY_CELLS]
    bands = {i: j for j, i in enumerate(lbda)}
    items = [
        polygon_request(rng, k, t, n, stat, strata[i], (bands[i], len(lbda)) if i in bands else None)
        for i, (k, t, n, stat) in enumerate(POLY_SLOTS)
    ]
    return [items[i] for i in rng.permutation(len(items))]


def warm_requests(rng, workload: str) -> list[Item]:
    """Requests that compile and JIT-warm the workload's plan shapes: two
    point cycles, or the four polygon slots that together take every
    transform, both statistics and the uncertainty series (12-20 s on a
    4-core host)."""
    if workload == "api_point":
        return point_cycle(rng, 0) + point_cycle(rng, 1)
    return [polygon_request(rng, *POLY_SLOTS[i]) for i in (1, 2, 3, 5)]


# Share of the batch probe's 11 valid requests that the two known
# execute_many defects fail: the uncertainty request, and the 4 valid
# requests that share a batch with the invalid one.
BATCH_KNOWN_FAILED_SHARE = 5 / 11


def batch_probe(rng) -> list[list[Item]]:
    """Two ``execute_many`` batches: mixed valid requests (points, small
    polygons, smoothers, one uncertainty request), then a batch of points
    carrying one invalid request."""
    mixed = [point_request(rng, k) for k in ("short", "short", "medium", "medium", "long")]
    mixed.append(polygon_request(rng, "small", "moving"))
    unc = point_request(rng, "dev")
    unc.payload.update(
        dataset_id=DEV_ANNUAL.dataset_id,
        variable_id=DEV_ANNUAL.variable_id,
        include_uncertainty=True,
        selected_area={"type": "Point", "coordinates": DEV_ANNUAL.point(*unc.cells[0], 0.5, 0.5)},
    )
    unc.payload.pop("time_range", None)
    mixed.append(unc)
    with_invalid = [point_request(rng, k) for k in ("short", "medium", "short", "medium")]
    with_invalid.insert(int(rng.integers(0, 5)), point_request(rng, "invalid"))
    return [mixed, with_invalid]
