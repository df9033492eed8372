"""The service over a Parquet lake: identical responses to the dev cube,
partition-pruned scans, and a tile-partitioned layout: a point reads its
own tile's file in one task, a polygon the files of its tiles."""

from __future__ import annotations

import math
from datetime import date

import numpy as np
import pyarrow.parquet as pq
import pytest

from skope_api_spark.api import models as M
from skope_api_spark.api.service import TimeseriesService
from skope_api_spark.plans.catalog import DEV_CATALOG, DatasetMeta
from skope_api_spark.plans.intervals import YEAR, TimeRange
from skope_api_spark.sources.cube import (
    TILE_CELLS,
    VARIABLE_RULES,
    full_dev_cube,
    ingest_to_parquet,
    tile_of,
)
from skope_api_spark.sources.lake import lake_service

POINT = {"type": "Point", "coordinates": [-120.0, 42.5]}


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake_svc") / "cube")
    ingest_to_parquet(spark, path)
    return path


def req(**kw):
    base = dict(
        dataset_id="annual_5x5x5_dataset",
        variable_id="float32_variable",
        selected_area=POINT,
    )
    base.update(kw)
    return M.TimeseriesV2Request(**base)


MONTHLY = DEV_CATALOG["monthly_5x5x60_dataset"]


def _band_date(b: int) -> date:
    """The monthly dev dataset's date of band ``b`` (band 1 = 0001-01)."""
    return date(1 + (b - 1) // 12, (b - 1) % 12 + 1, 1)


def _monthly(area: dict, b0: int, b1: int, **kw) -> M.TimeseriesV2Request:
    return M.TimeseriesV2Request(
        dataset_id=MONTHLY.dataset_id, variable_id="float32_variable", selected_area=area,
        time_range=M.OptionalTimeRangeModel(gte=_band_date(b0), lte=_band_date(b1)),
        **kw,
    )


def _ring(*cells: tuple[float, float]) -> dict:
    """A polygon through the given (row, col) positions of a dev grid,
    in cell units (cell centers at +0.5), closed."""
    ring = [[MONTHLY.origin_lon + c * MONTHLY.pixel_deg, MONTHLY.origin_lat - r * MONTHLY.pixel_deg]
            for r, c in cells]
    return {"type": "Polygon", "coordinates": [[*ring, ring[0]]]}


# through cell centers: rows 0-1 x cols 0-4 (10 cells), and that block
# plus cell (2, 0) (11 cells)
TEN_CELLS = _ring((0.5, 0.5), (0.5, 4.5), (1.5, 4.5), (1.5, 0.5))
ELEVEN_CELLS = _ring((0.5, 0.5), (0.5, 4.5), (1.5, 4.5), (1.5, 0.7), (2.5, 0.7), (2.5, 0.5))

SQUARE = {
    "type": "Polygon",
    "coordinates": [[[-121.9, 43.9], [-120.1, 43.9], [-120.1, 42.1],
                     [-121.9, 42.1], [-121.9, 43.9]]],
}


def _collected(monkeypatch) -> list:
    """The DataFrames the service hands to ``collect_with_timeout``."""
    from skope_api_spark.api import service as service_mod

    collected = []
    real = service_mod.collect_with_timeout

    def spy(spark, df, timeout_ms):
        collected.append(df)
        return real(spark, df, timeout_ms)

    monkeypatch.setattr(service_mod, "collect_with_timeout", spy)
    return collected


class TestLakeService:
    def test_matches_analytic_provider(self, spark, dev_service, lake):
        """The dev cube and the Parquet lake answer alike, uncertainty
        included; a variable with no uncertainty companion gets none."""
        parquet = lake_service(spark, lake)
        point = req()
        polygon = req(selected_area=SQUARE, include_uncertainty=True)
        no_companion = req(variable_id="uint16_variable", include_uncertainty=True)
        for r in (point, polygon, no_companion):
            a, b = dev_service.execute(r), parquet.execute(r)
            da, db = a.model_dump(), b.model_dump()
            da.pop("processing_time_ms"), db.pop("processing_time_ms")
            assert da == db
            assert (b.uncertainty is None) == (r is not polygon)
            if r is point:
                assert b.series[0].values == [
                    pytest.approx(x + 23.3, abs=0.01) for x in (100, 200, 300, 400, 500)
                ]

    def test_scan_is_partition_pruned(self, spark, lake):
        svc = lake_service(spark, lake)
        cube = svc.cube(DEV_CATALOG["annual_5x5x5_dataset"], "float32_variable")
        plan = cube._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters")[1][:300]
        assert "dataset_id" in pf and "variable_id" in pf

    def test_batched_scan_pushes_the_band_filter(self, spark, lake, monkeypatch):
        """Each plan shape hands its bands to the Parquet reader, which
        prunes pages by them: one ``In(band, ...)`` per disjoint interval
        of more than 10 bands, two for a shorter one (each set a hash set
        in the generated code)."""
        collected = _collected(monkeypatch)
        svc = lake_service(spark, lake)
        reference = M.ZScoreFixedInterval(
            time_range=M.TimeRangeModel(gte=_band_date(40), lte=_band_date(55))
        )
        shapes = {  # name: (requests, pushed band sets)
            "point": ([_monthly(POINT, 3, 20)], 1),
            "short point": ([_monthly(POINT, 3, 5)], 2),
            "polygon": ([_monthly(SQUARE, 3, 20)], 1),
            "short polygon": ([_monthly(SQUARE, 7, 7)], 2),
            "batch": ([_monthly(POINT, 3, 20), _monthly(SQUARE, 10, 30)], 1),
            "gapped polygon": ([_monthly(SQUARE, 3, 20, transform=reference)], 2),
        }
        # the plan string cuts a scan's pushed filters at this length
        spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
        try:
            for name, (reqs, sets) in shapes.items():
                collected.clear()
                svc.execute_many(reqs)
                (df,) = collected
                plan = df._jdf.queryExecution().executedPlan().toString()
                pushed = plan.split("PushedFilters")[1].split("ReadSchema")[0]
                assert pushed.count("In(band,") == sets, (name, pushed)
        finally:
            spark.conf.unset("spark.sql.maxMetadataStringLength")

    @pytest.mark.parametrize("source", ["dev", "parquet"])
    def test_two_requests_build_the_slice_once(self, spark, lake, monkeypatch, source):
        svc = (
            TimeseriesService(spark, full_dev_cube(spark))
            if source == "dev"
            else lake_service(spark, lake)
        )
        frame = type(svc.lake)
        slices = []
        real = frame.where

        def spy(df, *a, **kw):
            if df is svc.lake:
                slices.append(1)
            return real(df, *a, **kw)

        monkeypatch.setattr(frame, "where", spy)
        svc.execute(req())
        svc.execute(req(zonal_statistic="median"))
        assert len(slices) == 1
        meta = DEV_CATALOG["annual_5x5x5_dataset"]
        assert svc.cube(meta, "float32_variable") is svc.cube(meta, "float32_variable")


class TestInListEdges:
    """The dev cube and the lake agree where the service changes how it
    writes a set, at Catalyst's edges (an ``IN`` of one value becomes
    ``=``, one of at most 10 stays ``In``, a longer one is an ``InSet``):
    a band interval of at most 10 bands is the intersection of two
    11-band sets, a longer one is one set; a cell set of at most 10 keys
    is a literal array."""

    CASES = {  # name: (requests, series lengths, cell counts)
        "point_1_band": ([_monthly(POINT, 7, 7)], [1], [1]),
        "point_10_bands": ([_monthly(POINT, 7, 16)], [10], [1]),
        "point_11_bands": ([_monthly(POINT, 7, 17)], [11], [1]),
        "polygon_10_cells": ([_monthly(TEN_CELLS, 3, 20)], [18], [10]),
        "polygon_11_cells": ([_monthly(ELEVEN_CELLS, 3, 20)], [18], [11]),
        # the union of the batch's bands is 1..10
        "batch_10_bands": ([_monthly(POINT, 1, 6), _monthly(ELEVEN_CELLS, 4, 10)], [6, 7], [1, 11]),
    }

    @pytest.mark.parametrize("case", sorted(CASES))
    def test_dev_cube_and_lake_agree(self, spark, dev_service, lake, case):
        reqs, lengths, n_cells = self.CASES[case]
        a = dev_service.execute_many(reqs)
        b = lake_service(spark, lake).execute_many(reqs)
        assert [len(r.series[0].values) for r in b] == lengths
        assert [r.n_cells for r in b] == n_cells
        for x, y in zip(a, b):
            dx, dy = x.model_dump(), y.model_dump()
            dx.pop("processing_time_ms"), dy.pop("processing_time_ms")
            assert dx == dy


# A grid of 6x6 tiles, 100 bands: large enough that a point's tile is a
# small share of every band range.
TILED = DatasetMeta(
    dataset_id="tiled_grid",
    resolution=YEAR,
    time_range=TimeRange(date(1, 1, 1), date(100, 1, 1)),
    variables=("v",),
    grid_rows=6 * TILE_CELLS,
    grid_cols=6 * TILE_CELLS,
    origin_lon=-120.0,
    origin_lat=50.0,
    pixel_deg=0.25,
)


@pytest.fixture(scope="module")
def tiled_lake(spark, tmp_path_factory):
    """The dev lake plus ``TILED``, registered while the module runs."""
    path = tmp_path_factory.mktemp("tiled") / "cube"
    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(DEV_CATALOG, TILED.dataset_id, TILED)
        mp.setitem(
            VARIABLE_RULES,
            (TILED.dataset_id, "v"),
            {"value": "b * 10000 + r * 100 + c", "f32": False, "null": "FALSE"},
        )
        ingest_to_parquet(spark, str(path))
        yield path


def _scan_metric(df, metric: str) -> int:
    """A metric (``numOutputRows``, ``numFiles``) summed over the file
    scans of an executed DataFrame handed on."""

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            yield node.metrics().apply(metric).value()
        elif name == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            yield from walk(node.plan())
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    return sum(walk(df._jdf.queryExecution().executedPlan()))


def _tiled_point(r: int, c: int) -> dict:
    return {"type": "Point", "coordinates": [
        TILED.origin_lon + (c + 0.5) * TILED.pixel_deg,
        TILED.origin_lat - (r + 0.5) * TILED.pixel_deg,
    ]}


def _tiled_box(r0: int, c0: int, r1: int, c1: int) -> dict:
    """A rectangle through the centers of cells (r0, c0) and (r1, c1)."""
    west, east = (TILED.origin_lon + (c + 0.5) * TILED.pixel_deg for c in (c0, c1))
    north, south = (TILED.origin_lat - (r + 0.5) * TILED.pixel_deg for r in (r0, r1))
    return {"type": "Polygon", "coordinates": [[
        [west, north], [east, north], [east, south], [west, south], [west, north],
    ]]}


def _tiled_req(area: dict, b0: int, b1: int, **kw) -> M.TimeseriesV2Request:
    return M.TimeseriesV2Request(
        dataset_id=TILED.dataset_id, variable_id="v", selected_area=area,
        time_range=M.OptionalTimeRangeModel(gte=date(b0, 1, 1), lte=date(b1, 1, 1)),
        **kw,
    )


class TestTiledLayout:
    def test_file_is_clustered_by_tile(self, tiled_lake):
        """One file per tile directory, holding exactly its tile's cells,
        sorted by (band, row, col)."""
        slice_dir = tiled_lake / "dataset_id=tiled_grid" / "variable_id=v"
        tiles = sorted(slice_dir.glob("tile=*"))
        assert len(tiles) == (TILED.grid_rows // TILE_CELLS) * (TILED.grid_cols // TILE_CELLS)
        seen = set()
        for d in tiles:
            (f,) = d.glob("*.parquet")
            tile = int(d.name.removeprefix("tile="))
            t = pq.read_table(f, columns=["band", "row", "col"])
            b, r, c = (t[k].to_numpy().astype(np.int64) for k in ("band", "row", "col"))
            # exactly its tile's cells, every band of each
            cells = set(zip(r.tolist(), c.tolist()))
            assert {tile_of(*rc) for rc in cells} == {tile}
            assert len(cells) == TILE_CELLS**2
            assert len(b) == TILE_CELLS**2 * TILED.n_bands()
            assert (np.lexsort((c, r, b)) == np.arange(len(b))).all()
            seen.add(tile)
        assert len(seen) == len(tiles)

    def test_point_scan_reads_its_tile(self, spark, tiled_lake, monkeypatch):
        collected = _collected(monkeypatch)
        r, c, b0, b1 = 40, 50, 20, 69
        svc = lake_service(spark, str(tiled_lake))
        resp = svc.execute(_tiled_req(_tiled_point(r, c), b0, b1))
        assert resp.series[0].values == [b * 10000 + r * 100 + c for b in range(b0, b1 + 1)]

        (df,) = collected
        assert _scan_metric(df, "numFiles") == 1
        page = spark._jvm.org.apache.parquet.column.ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT
        run = TILE_CELLS**2 * (b1 - b0 + 1)  # the tile's rows for the band range
        assert _scan_metric(df, "numOutputRows") <= math.ceil(run / page) * page

    @pytest.mark.parametrize("b1", [30, 32, 39])
    def test_short_window_reads_one_page(self, spark, tiled_lake, monkeypatch, b1):
        """A window of at most 10 bands still prunes pages: bands 30..39
        of a tile file lie in its first page, and the file is longer."""
        collected = _collected(monkeypatch)
        r, c, b0 = 40, 50, 30
        resp = lake_service(spark, str(tiled_lake)).execute(_tiled_req(_tiled_point(r, c), b0, b1))
        assert resp.series[0].values == [b * 10000 + r * 100 + c for b in range(b0, b1 + 1)]
        (df,) = collected
        page = spark._jvm.org.apache.parquet.column.ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT
        assert TILE_CELLS**2 * 39 <= page < TILE_CELLS**2 * TILED.n_bands()
        assert _scan_metric(df, "numOutputRows") <= page

    def test_polygon_scan_lists_its_tiles(self, spark, tiled_lake, monkeypatch):
        collected = _collected(monkeypatch)
        # cells rows 10..20 x cols 30..50: tiles rows 0-1 x cols 1-3
        svc = lake_service(spark, str(tiled_lake))
        resp = svc.execute(_tiled_req(_tiled_box(10, 30, 20, 50), 1, 5))
        assert resp.n_cells == 11 * 21
        mean_rc = 15 * 100 + 40
        assert resp.series[0].values == [pytest.approx(b * 10000 + mean_rc) for b in range(1, 6)]

        (df,) = collected
        tiles = {tile_of(r, c) for r in range(10, 21) for c in range(30, 51)}
        assert len(tiles) == 6
        assert _scan_metric(df, "numFiles") == len(tiles)

    def test_point_runs_one_task(self, spark, tiled_lake):
        svc = lake_service(spark, str(tiled_lake))
        point = _tiled_req(_tiled_point(70, 5), 1, 100, max_processing_time=0)
        svc.execute(point)  # plans and compiles once, outside the group
        sc = spark.sparkContext
        sc.setJobGroup("tiled-point", "a point on the lake")
        try:
            svc.execute(point)
        finally:
            sc.setJobGroup("", "", False)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup("tiled-point")
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        assert len(jobs) == 1
        assert sum(tracker.getStageInfo(s).numTasks for s in stages) == 1


class TestCompiledOnce:
    """Requests of one plan shape share one compiled class: their cells
    and bands are data that the generated code holds by reference."""

    # (first window, second window): more than 10 bands each, and at
    # most 10, which the service writes as two sets
    WINDOWS = {"long": ((20, 45), (51, 90)), "short": ((20, 22), (51, 51))}

    @pytest.mark.parametrize("window", sorted(WINDOWS))
    @pytest.mark.parametrize("shape", ["cell", "polygon"])
    def test_second_request_compiles_nothing(self, spark, tiled_lake, shape, window):
        compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        svc = lake_service(spark, str(tiled_lake))
        if shape == "cell":
            first, second = _tiled_point(40, 50), _tiled_point(70, 5)
            mean_rc = 70 * 100 + 5
        else:  # 4 x 5 and 3 x 6 cells, each aggregated in its one scan task
            first, second = _tiled_box(40, 50, 43, 54), _tiled_box(70, 5, 72, 10)
            mean_rc = 71 * 100 + 7.5
        (a0, a1), (b0, b1) = self.WINDOWS[window]
        svc.execute(_tiled_req(first, a0, a1))
        before = compilations.getCount()
        resp = svc.execute(_tiled_req(second, b0, b1))
        assert compilations.getCount() - before == 0
        assert resp.series[0].values == [pytest.approx(b * 10000 + mean_rc) for b in range(b0, b1 + 1)]
