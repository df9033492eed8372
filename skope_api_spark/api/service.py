"""Timeseries pipeline service — the v2 query lifecycle on Spark.

Mirrors the reference lifecycle (SURVEY.md §3; reference
``timeseries/app/core/services.py``): validate → bind catalog → plan
(interval algebra) → extract (pruned scan + cell predicate) → zonal agg →
transform → per-series smoothing → relabel/clip → summarize.

One lifecycle: ``execute(req)`` is ``_run([req])[0]``, ``execute_many`` is
``_run(reqs)``, and neither calls the other (the traced benchmark wraps
both as one span; nesting them would count a request twice). Per
(dataset, variable, statistic) group, ``_run`` plans every request and
runs at most ONE Spark aggregation and ONE collect of ``zonal_picks``: a
scan filtered by the tiles of the group's cells (on the lake, a
partition filter) and by ``band IN`` sets for each disjoint band
interval the group needs (padded extractions and fixed z-score reference
ranges),
then a filter on the set of a lone request's cell keys (for a polygon,
within ``ONE_TASK_CELLS`` and ``ONE_TASK_ROWS``, aggregated in its one
scan task: one Spark job, no exchange) or else one broadcast
``(query_id, row, col, bgte, blte)`` mask join. The sets are data that
the generated code holds by reference, so requests of one plan shape
reuse one compiled class. A group whose every
request picks one cell runs no aggregation: a lone cell's mean or median
is its value. The registry's SKOPE queries run the same ``zonal_picks``
plan, so their DuckDB oracles check it. Each request's slice runs
transform, smoothers, clipping and summaries on the driver
(``api/kernels.py``); a member's ``include_uncertainty`` adds the
``{variable_id}_uncertainty`` companion to the group's slice, so to its
one scan and collect. Every service reads one long cube table, ``lake``,
whatever holds it.

The collect runs under a cancellable job group (cooperative timeout — the
reference's anyio ``fail_after`` → 504 becomes ``TimeseriesTimeoutError``;
the Spark jobs are cancelled, not orphaned). A group's deadline is its
largest ``max_processing_time``, or none if any member has 0 ("no
deadline"), so no request inherits a neighbour's deadline.

Known divergence from the reference (documented in SURVEY.md §2.5 W7): the
reference hard-codes an annual PeriodIndex (``freq="A"``,
``timeseries.py:222``) so *monthly* series get mislabeled time ranges; here
times come from the cube's real ``time`` column at the dataset's
resolution.
"""

from __future__ import annotations

import math
import threading
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.api import kernels
from skope_api_spark.api import models as M
from skope_api_spark.geometry import (
    DEFAULT_MAX_CELLS,
    Grid,
    mask_df,
    point_cell,
    rasterize_all_touched,
)
from skope_api_spark.operators.zonal import zonal_series
from skope_api_spark.plans.catalog import Catalog, DatasetMeta
from skope_api_spark.plans.intervals import (
    BandRange,
    TimeRange,
    band_range_for_time_range,
    disjoint_band_ranges,
    extraction_band_range,
    normalize_time_range,
    output_band_range,
)
from skope_api_spark.sources.cube import cell_area_m2, tile_of


# A lone pick of at most ONE_TASK_CELLS cells that selects at most
# ONE_TASK_ROWS rows (cells × bands, per variable; only a group with an
# uncertainty companion reads two) is selected by its set of cell keys and
# aggregated in the one task that scans it. Above either bound the broadcast
# mask join and the partial-aggregate exchange win: Spark plans the
# predicate in time linear in its cells, and one task reads a large
# selection's tile files and aggregates them slower than the join plan's
# tasks, one per file, spread them (PERF.md "One Spark job per polygon
# request": the sweeps on the tile-partitioned lake; "One compiled class
# per request shape": the re-sweep once neither plan compiles per request).
ONE_TASK_CELLS = 750
ONE_TASK_ROWS = 150_000


class TimeseriesTimeoutError(RuntimeError):
    """Request exceeded max_processing_time; Spark jobs were cancelled."""


def _grid(meta: DatasetMeta) -> Grid:
    return Grid(
        origin_lon=meta.origin_lon,
        origin_lat=meta.origin_lat,
        pixel_deg=meta.pixel_deg,
        rows=meta.grid_rows,
        cols=meta.grid_cols,
        pixel_deg_lon=meta.pixel_deg_lon,
        pixel_deg_lat=meta.pixel_deg_lat,
    )


def collect_with_timeout(spark: SparkSession, df: DataFrame, timeout_ms: int):
    """Collect under a job group; cancel the group when the budget expires.

    Cooperative cancellation (reference services.py:187-201 → 504): the JVM
    scheduler interrupts the stage tasks; nothing keeps running after the
    deadline.
    """
    if timeout_ms <= 0:
        return df.collect()
    sc = spark.sparkContext
    group = f"skope-{uuid.uuid4().hex[:8]}"
    fired = threading.Event()

    def cancel() -> None:
        fired.set()
        sc.cancelJobGroup(group)

    sc.setJobGroup(group, "timeseries request", interruptOnCancel=True)
    timer = threading.Timer(timeout_ms / 1000.0, cancel)
    timer.start()
    try:
        out = df.collect()
    except Exception as ex:  # noqa: BLE001
        if fired.is_set():
            raise TimeseriesTimeoutError(
                f"processing exceeded {timeout_ms} ms"
            ) from ex
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "", False)
    if fired.is_set():
        # The deadline is authoritative: cancelJobGroup no-ops when it
        # fires before the job is submitted (planning/analysis can exceed
        # a short budget), and the collect then completes anyway. The
        # reference 504s on deadline regardless (services.py:187-201) —
        # a result that arrives after the budget is still a timeout.
        raise TimeseriesTimeoutError(f"processing exceeded {timeout_ms} ms")
    return out


def _summary(values: list[float | None]) -> tuple[float | None, float | None, float | None]:
    """Driver-side summary of a returned series (reference
    timeseries.py:243-261): nan-skipping mean/median/POPULATION stddev;
    all-missing → None."""
    xs = np.array([math.nan if v is None else v for v in values], dtype=float)
    if np.all(np.isnan(xs)):
        return None, None, None
    return (
        float(np.nanmean(xs)),
        float(np.nanmedian(xs)),
        float(np.nanstd(xs)),
    )


def _values(rows: list, bands: BandRange) -> np.ndarray:
    """The band-ordered ``rows``' values inside ``bands``, NULL → NaN."""
    return np.array(
        [math.nan if r.value is None else r.value for r in rows if bands.gte <= r.band <= bands.lte],
        dtype=float,
    )


def _transform(
    t, x: np.ndarray, extract: BandRange, reference: np.ndarray | None
) -> tuple[np.ndarray, BandRange | None]:
    """Returns (transformed series, bands with valid post-transform values)."""
    if isinstance(t, M.NoTransform):
        return x, extract
    if isinstance(t, M.ZScoreMovingInterval):
        valid = output_band_range(extract, extract, t.adjustment())
        return kernels.rolling_zscore(x, t.width), valid
    if isinstance(t, M.ZScoreFixedInterval):
        # scipy.zscore over the extracted interval (reference
        # timeseries.py:163-167 applies it to the full padded slice), or
        # vs the reference interval's slice (services.py:131-147)
        return kernels.fixed_zscore(x, x if reference is None else reference), extract
    raise TypeError(f"unknown transform {type(t).__name__}")


def _smooth(smoother, x: np.ndarray) -> np.ndarray:
    if isinstance(smoother, M.NoSmoother):
        return x
    if isinstance(smoother, M.MovingAverageSmoother):
        fn = (
            kernels.centered_moving_average
            if smoother.method == "centered"
            else kernels.trailing_moving_average
        )
        return fn(x, smoother.width)
    raise TypeError(f"unknown smoother {type(smoother).__name__}")


# Catalyst keeps an ``IN`` list of at most IN_LITERALS values as ``In``
# (one value as ``=``), whose generated code holds every value, and turns a
# longer one into ``InSet``, a hash set the code holds by reference (Spark's
# ``spark.sql.optimizer.inSetConversionThreshold``, left at its default).
IN_LITERALS = 10
# a cell's key, unique while a grid is at most 65,536 cells wide (as the
# tile id is); BIGINT, so any grid height fits
CELL_KEY = "CAST(row AS BIGINT) * 65536 + col"


def _band_in(gte: int, lte: int) -> str:
    return f"band IN ({', '.join(map(str, range(gte, lte + 1)))})"


def _band_filter(bands: list[BandRange]) -> str:
    """The bands as sets that the generated code holds by reference, one
    per disjoint interval, ORed. Each set reaches Parquet as ``In(band,
    ...)``; above 10 values (``spark.sql.parquet.pushdown.inFilterThreshold``)
    the reader prunes pages by the set's least and greatest band, so a gap
    between intervals is never read, where one ``IN`` over every band
    would be bounded by the hull of the set. An interval of at most
    ``IN_LITERALS`` bands, whose ``IN`` Catalyst would write into the code,
    is the intersection of two sets of ``IN_LITERALS + 1`` bands, one
    reaching below the interval and one above it: a row is in both exactly
    when it is in the interval, and a page overlaps both exactly when it
    overlaps the interval."""
    def one(b: BandRange) -> str:
        if len(b) > IN_LITERALS:
            return _band_in(b.gte, b.lte)
        k = IN_LITERALS + 1 - len(b)
        return f"({_band_in(b.gte - k, b.lte)} AND {_band_in(b.gte, b.lte + k)})"

    return " OR ".join(map(one, bands))


def _cell_filter(cells: list[tuple[int, int]]) -> str:
    """The cells as a set of ``CELL_KEY`` values that the generated code
    holds by reference: a BIGINT ``IN`` of more than ``IN_LITERALS`` keys
    is a hash set, and a literal array (a short one, scanned per row) is
    a reference too, where a short ``IN`` would be written into the
    code."""
    keys = ", ".join(f"{r * 65536 + c}L" for r, c in cells)
    if len(cells) > IN_LITERALS:
        return f"{CELL_KEY} IN ({keys})"
    return f"array_contains(array({keys}), {CELL_KEY})"


def zonal_picks(
    cube: DataFrame,
    stat: str,
    picks: list[tuple[list[tuple[int, int]], list[BandRange]]],
) -> DataFrame:
    """One scan and at most one zonal aggregation for every pick (its
    (row, col) cells and disjoint band intervals): ``(query_id,
    variable_id, band, time, value, n_cells, n_valid)``, ``query_id``
    being the pick's index, one series per variable of ``cube``.

    This is the one cell-selection plan, for the API service and for the
    registry's SKOPE queries. One request touches ~KBs after pruning; the
    cluster-scale workload is thousands of geometries × variables at once.
    Instead of one Spark job per request (the reference's one request per
    HTTP call), the cells carry a ``query_id`` and join the cube ONCE: N
    picks are one scan and one aggregation grouped by ``(query_id,
    variable_id, band, time)`` (SURVEY.md §4). The mask is Σ cells per
    pick, driver-tiny next to the cube.

    The scan is filtered by the picks' tiles and the union of their
    bands. On the lake, ``tile IN (...)`` is a partition filter: the
    planner keeps only those tiles' files and evaluates nothing per row.
    The bands are one ``band IN (...)`` per disjoint interval, which the
    Parquet reader uses to prune pages. A lone pick's cells are a set of
    keys, ``CAST(row AS BIGINT) * 65536 + col``; a lone pick of one cell
    is then one ``where`` and one ``selectExpr``. A lone pick of several
    cells, when it has at most ``ONE_TASK_CELLS`` cells and selects at
    most ``ONE_TASK_ROWS`` rows, is coalesced into one partition so that
    the scan task aggregates it (one Spark job, no broadcast, no
    exchange). Anything else is ONE broadcast join of a ``(query_id, row,
    col, bgte, blte)`` mask, clipped by ``band BETWEEN bgte AND blte``
    (inner, not semi: a cell may belong to several picks, and each
    membership must produce a row). A pick's cells are distinct, so for
    a lone pick the key set and the join select the same rows. When
    every pick is one cell, the selected rows are the series: no
    aggregation runs.

    Values are data, not code: every set above has more than
    ``IN_LITERALS`` values, so it is a hash set (``get_spark`` makes an
    int one a hash set too), or is a short cell set, a literal array; the
    generated code holds both by reference. A band interval of at most
    ``IN_LITERALS`` bands is two such sets (``_band_filter``). So requests
    of one plan shape share one compiled class, and a fresh request
    compiles nothing, whatever its window's length (PERF.md "One compiled
    class per request shape").
    """
    cells = [rc for cs, _ in picks for rc in cs]
    bands = disjoint_band_ranges([b for _, bs in picks for b in bs])
    # predicates are SQL strings: one py4j call each, where a Column
    # costs a round trip (~1 ms) per operator
    tiles = ", ".join(str(t) for t in sorted({tile_of(r, c) for r, c in cells}))
    scan = f"tile IN ({tiles}) AND ({_band_filter(bands)})"
    # the cube holds one row per (band, row, col), so a one-cell pick's
    # mean or median IS that cell's value, NULL included: project it,
    # with no aggregation and so no exchange
    one_cell = (
        "CAST(value AS DOUBLE) AS value",
        "CAST(1 AS BIGINT) AS n_cells",
        "CAST(value IS NOT NULL AS BIGINT) AS n_valid",
    )
    if len(cells) == 1:  # one pick of one cell (a pick is never empty)
        return cube.where(f"{scan} AND {_cell_filter(cells)}").selectExpr(
            "0 AS query_id", "variable_id", "band", "time", *one_cell
        )
    n_rows = len(cells) * sum(b.lte - b.gte + 1 for b in bands)
    if len(picks) == 1 and len(cells) <= ONE_TASK_CELLS and n_rows <= ONE_TASK_ROWS:
        selected = (
            cube.where(f"{scan} AND {_cell_filter(cells)}")
            # a single partition needs no exchange to aggregate
            .coalesce(1)
            .withColumn("query_id", F.lit(0))
        )
    else:
        mask = mask_df(
            cube.sparkSession,
            [(q, r, c, b.gte, b.lte)
             for q, (qcells, qbands) in enumerate(picks)
             for r, c in qcells for b in qbands],
            "query_id int, row int, col int, bgte int, blte int",
        )
        selected = (
            cube.where(scan)
            .join(F.broadcast(mask), ["row", "col"])
            .where("band BETWEEN bgte AND blte")
        )
    keys = ("query_id", "variable_id", "band", "time")
    if all(len(qcells) == 1 for qcells, _ in picks):
        return selected.selectExpr(*keys, *one_cell)
    return zonal_series(selected, stat, keys=keys)


def cells_area_m2(grid: Grid, cells: list[tuple[int, int]]) -> float:
    """The selection's area: the sum of its cells' WGS84 areas."""
    lat_top = grid.origin_lat - np.array([r for r, _ in cells]) * grid.px_lat
    return sum(cell_area_m2(lat_top, grid.px_lat, grid.px_lon).tolist())


@dataclass
class _Plan:
    """One request bound to its dataset: grid, band ranges and cells."""

    grid: Grid
    requested: BandRange
    extract: BandRange
    reference: BandRange | None  # a fixed-reference z-score's bands
    cells: list[tuple[int, int]]

    def bands(self) -> list[BandRange]:
        """The disjoint band intervals the one scan must read."""
        return disjoint_band_ranges(
            [r for r in (self.extract, self.reference) if r is not None]
        )


@dataclass
class TimeseriesService:
    """The API over one long cube table, ``lake`` (``sources.cube``): the
    Parquet lake as read by ``sources.lake.lake_service``, or the dev cube
    ``full_dev_cube``. The service plans every request against that
    DataFrame, so a Parquet lake's file listing is fixed when the caller
    reads it: a lake re-ingested after that needs a new service."""

    spark: SparkSession
    lake: DataFrame
    catalog: Catalog = field(default_factory=Catalog)
    max_cells: int = DEFAULT_MAX_CELLS
    _slices: dict[tuple[str, ...], DataFrame] = field(
        default_factory=dict, init=False, repr=False
    )

    def cube(self, meta: DatasetMeta, *variable_ids: str) -> DataFrame:
        """The lake's slice of one dataset's ``variable_ids``, built once
        per service and key (a ``Column`` chain costs a py4j round trip per
        operator). Its partition filters keep one (dataset, variable)
        directory per variable; one the lake does not hold reads nothing."""
        key = (meta.dataset_id, *variable_ids)
        if key not in self._slices:
            self._slices[key] = self.lake.where(
                (F.col("dataset_id") == meta.dataset_id)
                & F.col("variable_id").isin(*variable_ids)
            )
        return self._slices[key]

    # -- lifecycle -----------------------------------------------------------

    def _plan(self, req: M.TimeseriesV2Request, meta: DatasetMeta) -> _Plan:
        """Compute the band ranges and the validated cell selection."""
        requested_time = normalize_time_range(
            req.time_range.gte, req.time_range.lte, meta.time_range
        )
        requested = band_range_for_time_range(
            requested_time, meta.time_range, meta.resolution
        )
        extract = extraction_band_range(
            requested,
            BandRange(1, meta.n_bands()),
            transform_adjustment=req.transform.adjustment(),
            smoother_adjustments=tuple(
                s.smoother.adjustment() for s in req.requested_series_options
            ),
        )
        t = req.transform
        reference = None
        if isinstance(t, M.ZScoreFixedInterval) and t.time_range is not None:
            reference = band_range_for_time_range(
                TimeRange(t.time_range.gte, t.time_range.lte),
                meta.time_range,
                meta.resolution,
            )
        grid, area = _grid(meta), req.selected_area
        geom = area.get("geometry") if area.get("type") == "Feature" else area
        cells = (
            [point_cell(grid, area)]
            if isinstance(geom, dict) and geom.get("type") == "Point"
            else rasterize_all_touched(grid, area, max_cells=self.max_cells)
        )
        return _Plan(grid, requested, extract, reference, cells)

    def _assemble(
        self, req: M.TimeseriesV2Request, plan: _Plan, rows: list, t0: float
    ) -> M.TimeseriesV2Response:
        """Run the chain on the pick's band-ordered rows; build the response."""
        requested, extract = plan.requested, plan.extract
        # S6 — the companion's requested range: no transform or smoother pads it
        unc = [r for r in rows if req.include_uncertainty and r.variable_id != req.variable_id
               and requested.gte <= r.band <= requested.lte]
        rows = [r for r in rows if r.variable_id == req.variable_id]
        base = [r for r in rows if extract.gte <= r.band <= extract.lte]
        ref = None if plan.reference is None else _values(rows, plan.reference)
        transformed, valid = _transform(req.transform, _values(rows, extract), extract, ref)

        series_out: list[M.SeriesResult] = []
        stats_out: list[M.SummaryStatRow] = []
        if not isinstance(req.transform, M.NoTransform):
            # A6 — stats of the UNtransformed series over the requested range
            orig_vals = [
                r.value for r in base if requested.gte <= r.band <= requested.lte
            ]
            mean, median, stdev = _summary(orig_vals)
            stats_out.append(
                M.SummaryStatRow(name="Original", mean=mean, median=median, stdev=stdev)
            )

        for opt in req.requested_series_options:
            out = (
                None
                if valid is None
                else output_band_range(valid, requested, opt.smoother.adjustment())
            )
            keep = [
                i for i, r in enumerate(base)
                if out is not None and out.gte <= r.band <= out.lte
            ]
            smoothed = _smooth(opt.smoother, transformed)[keep].tolist()
            values = [None if math.isnan(v) else v for v in smoothed]
            tr = (
                M.TimeRangeModel(gte=base[keep[0]].time, lte=base[keep[-1]].time)
                if keep
                else None
            )
            series_out.append(
                M.SeriesResult(name=opt.name, time_range=tr, values=values)
            )
            mean, median, stdev = _summary(values)
            stats_out.append(
                M.SummaryStatRow(name=opt.name, mean=mean, median=median, stdev=stdev)
            )

        return M.TimeseriesV2Response(
            dataset_id=req.dataset_id,
            variable_id=req.variable_id,
            n_cells=len(plan.cells),
            area_m2=cells_area_m2(plan.grid, plan.cells),
            series=series_out,
            summary_stats=stats_out,
            processing_time_ms=int((time.perf_counter() - t0) * 1000),
            # a companion the lake lacks has no rows: no uncertainty series
            uncertainty=M.SeriesResult(
                name="uncertainty",
                time_range=M.TimeRangeModel(gte=unc[0].time, lte=unc[-1].time),
                values=[r.value for r in unc],
            ) if unc else None,
        )

    def execute(self, req: M.TimeseriesV2Request) -> M.TimeseriesV2Response:
        return self._run([req])[0]

    def execute_many(self, reqs: list[M.TimeseriesV2Request]) -> list[M.TimeseriesV2Response]:
        """Batched execution — the 100 TB serving shape: thousands of
        requests, one aggregation per (dataset, variable, statistic)."""
        return self._run(reqs)

    def _run(self, reqs: list[M.TimeseriesV2Request]) -> list[M.TimeseriesV2Response]:
        t0 = time.perf_counter()
        results: list[M.TimeseriesV2Response | None] = [None] * len(reqs)
        groups: dict[tuple, list[int]] = {}
        for i, req in enumerate(reqs):
            key = (req.dataset_id, req.variable_id, req.zonal_statistic)
            groups.setdefault(key, []).append(i)

        for (dataset_id, variable_id, stat), idxs in groups.items():
            meta = self.catalog.variable(dataset_id, variable_id)
            # S6 — the uncertainty companion is one more variable of the scan
            unc = any(reqs[i].include_uncertainty for i in idxs)
            cube = self.cube(meta, variable_id, *([variable_id + "_uncertainty"] if unc else []))
            plans = {i: self._plan(reqs[i], meta) for i in idxs}
            budgets = [reqs[i].max_processing_time for i in idxs]
            timeout = max(budgets) if min(budgets) > 0 else 0  # 0: no deadline
            picks = [(p.cells, p.bands()) for p in plans.values()]
            for i, rows in zip(idxs, self._zonal(cube, stat, picks, timeout)):
                results[i] = self._assemble(reqs[i], plans[i], rows, t0)
        return results  # type: ignore[return-value]

    def _zonal(
        self,
        cube: DataFrame,
        stat: str,
        picks: list[tuple[list[tuple[int, int]], list[BandRange]]],
        timeout_ms: int,
    ) -> list[list]:
        """Every pick's per-band rows in band order, from ONE collect of
        ``zonal_picks``."""
        out: list[list] = [[] for _ in picks]
        for row in collect_with_timeout(self.spark, zonal_picks(cube, stat, picks), timeout_ms):
            out[row.query_id].append(row)
        return [sorted(rows, key=lambda r: r.band) for rows in out]

    def execute_v1(self, req: M.TimeseriesV1Request) -> dict:
        """P9 — legacy adapter: run v2, reshape (reference routers/v1)."""
        v2 = M.v1_to_v2(req)
        resp = self.execute(v2)
        s0 = resp.series[0]
        return {
            "datasetId": req.datasetId,
            "variableName": req.variableName,
            "boundaryGeometry": req.boundaryGeometry,
            "start": s0.time_range.gte.isoformat() if s0.time_range else None,
            "end": s0.time_range.lte.isoformat() if s0.time_range else None,
            "values": s0.values,
        }

    def metadata(self) -> list[dict]:
        """GET /metadata equivalent: catalog descriptors."""
        return [
            {
                "dataset_id": m.dataset_id,
                "resolution": m.resolution,
                "time_range": {
                    "gte": m.time_range.gte.isoformat(),
                    "lte": m.time_range.lte.isoformat(),
                },
                "variables": list(m.variables),
            }
            for m in self.catalog.datasets.values()
        ]

