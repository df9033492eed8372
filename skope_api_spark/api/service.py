"""Timeseries pipeline service — the v2 query lifecycle on Spark.

Mirrors the reference lifecycle (SURVEY.md §3; reference
``timeseries/app/core/services.py``): validate → bind catalog → plan
(interval algebra) → extract (pruned scan + cell predicate) → zonal agg →
transform → per-series smoothing → relabel/clip → summarize.

One lifecycle: ``execute(req)`` is ``_run([req])[0]``, ``execute_many`` is
``_run(reqs)``, and neither calls the other (the traced benchmark wraps
both as one span; nesting them would count a request twice). Per
(dataset, variable, statistic) group, ``_run`` plans every request and
runs ONE Spark aggregation and ONE collect (``_zonal``): a scan filtered
by the OR of the disjoint band intervals the group needs (padded
extractions and fixed z-score reference ranges) and by its cell bounding
box, then a literal cell predicate for a lone one-cell request or else
one broadcast ``(query_id, row, col, bgte, blte)`` mask join. Each
request's slice runs transform, smoothers, clipping and summaries on the
driver (``api/kernels.py``); requests with ``include_uncertainty`` share
one more aggregation over the ``_uncertainty`` cube.

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
from skope_api_spark.sources.cube import analytic_cube, cell_area_m2


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
    spark: SparkSession
    catalog: Catalog = field(default_factory=Catalog)
    max_cells: int = DEFAULT_MAX_CELLS

    def cube(self, meta: DatasetMeta, variable_id: str) -> DataFrame:
        """Cube slice provider — dev default regenerates the analytic cube;
        override/subclass to read the ingested Parquet lake instead."""
        return analytic_cube(self.spark, meta.dataset_id, variable_id, meta=meta)

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
        geom = area.get("geometry", {}) if area.get("type") == "Feature" else area
        cells = (
            [point_cell(grid, area)]
            if geom.get("type") == "Point"
            else rasterize_all_touched(grid, area, max_cells=self.max_cells)
        )
        return _Plan(grid, requested, extract, reference, cells)

    def _assemble(
        self, req: M.TimeseriesV2Request, plan: _Plan, rows: list, t0: float
    ) -> M.TimeseriesV2Response:
        """Run the chain on the band-ordered per-band rows; build the response."""
        requested, extract = plan.requested, plan.extract
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

        grid = plan.grid
        return M.TimeseriesV2Response(
            dataset_id=req.dataset_id,
            variable_id=req.variable_id,
            n_cells=len(plan.cells),
            area_m2=sum(
                cell_area_m2(grid.origin_lat - r * grid.px_lat, grid.px_lat, grid.px_lon)
                for r, _ in plan.cells
            ),
            series=series_out,
            summary_stats=stats_out,
            processing_time_ms=int((time.perf_counter() - t0) * 1000),
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
            cube = self.cube(meta, variable_id)
            plans = {i: self._plan(reqs[i], meta) for i in idxs}
            budgets = [reqs[i].max_processing_time for i in idxs]
            timeout = max(budgets) if min(budgets) > 0 else 0  # 0: no deadline
            picks = [(p.cells, p.bands()) for p in plans.values()]
            for i, rows in zip(idxs, self._zonal(cube, stat, picks, timeout)):
                results[i] = self._assemble(reqs[i], plans[i], rows, t0)

            unc = [i for i in idxs if reqs[i].include_uncertainty]
            if not unc:
                continue
            try:
                ucube = self.cube(meta, variable_id + "_uncertainty")
            except KeyError:
                continue  # dataset has no uncertainty companion
            # S6 — no padding: transforms and smoothers never apply to the
            # uncertainty channel, so each request reads its requested range
            picks = [(plans[i].cells, [plans[i].requested]) for i in unc]
            for i, rows in zip(unc, self._zonal(ucube, stat, picks, timeout)):
                if rows:
                    results[i].uncertainty = M.SeriesResult(
                        name="uncertainty",
                        time_range=M.TimeRangeModel(gte=rows[0].time, lte=rows[-1].time),
                        values=[r.value for r in rows],
                    )
        return results  # type: ignore[return-value]

    def _zonal(
        self,
        cube: DataFrame,
        stat: str,
        picks: list[tuple[list[tuple[int, int]], list[BandRange]]],
        timeout_ms: int,
    ) -> list[list]:
        """One scan, one zonal aggregation and one collect for every pick
        (its (row, col) cells and disjoint band intervals); returns each
        pick's per-band rows in band order.

        The scan is filtered by the union of the picks' bands and their
        cells' bounding box, which the Parquet reader prunes with. A lone
        one-cell pick is a literal ``row = r AND col = c`` predicate;
        anything else is ONE broadcast join of a ``(query_id, row, col,
        bgte, blte)`` mask, clipped by ``band BETWEEN bgte AND blte``
        (inner, not semi: a cell may belong to several picks)."""
        cells = [rc for cs, _ in picks for rc in cs]
        bands = disjoint_band_ranges([b for _, bs in picks for b in bs])
        # predicates are SQL strings: one py4j call each, where a Column
        # costs a round trip (~1 ms) per operator
        in_bands = " OR ".join(f"band BETWEEN {b.gte} AND {b.lte}" for b in bands)
        if len(cells) == 1:  # one pick of one cell (a pick is never empty)
            (r, c), = cells
            selected = cube.where(f"({in_bands}) AND row = {r} AND col = {c}")
            selected = selected.withColumn("query_id", F.lit(0))
        else:
            rs, cs = zip(*cells)
            mask = mask_df(
                self.spark,
                [(q, r, c, b.gte, b.lte)
                 for q, (qcells, qbands) in enumerate(picks)
                 for r, c in qcells for b in qbands],
                "query_id int, row int, col int, bgte int, blte int",
            )
            selected = (
                cube.where(
                    f"({in_bands}) AND row BETWEEN {min(rs)} AND {max(rs)} "
                    f"AND col BETWEEN {min(cs)} AND {max(cs)}"
                )
                .join(F.broadcast(mask), ["row", "col"])
                .where("band BETWEEN bgte AND blte")
            )
        keys = ("query_id", "band", "time")
        series = zonal_series(selected, stat, keys=keys).select(*keys, "value")
        out: list[list] = [[] for _ in picks]
        for row in collect_with_timeout(self.spark, series, timeout_ms):
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

