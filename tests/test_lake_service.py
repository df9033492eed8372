"""The service over a Parquet lake: identical responses to the dev cube,
partition-pruned scans, and a tile-clustered layout whose page indexes
let a point read its own tile."""

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


SQUARE = {
    "type": "Polygon",
    "coordinates": [[[-121.9, 43.9], [-120.1, 43.9], [-120.1, 42.1],
                     [-121.9, 42.1], [-121.9, 43.9]]],
}


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
        from skope_api_spark.api import service as service_mod

        collected = []
        real = service_mod.collect_with_timeout

        def spy(spark, df, timeout_ms):
            collected.append(df)
            return real(spark, df, timeout_ms)

        monkeypatch.setattr(service_mod, "collect_with_timeout", spy)
        lake_service(spark, lake).execute_many([req(), req(selected_area=SQUARE)])
        (df,) = collected
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters")[1][:300]
        assert "GreaterThanOrEqual(band," in pushed and "LessThanOrEqual(ban" in pushed

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


def _scan_rows(df) -> int:
    """Rows the file scans of an executed DataFrame handed on."""

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            yield node.metrics().apply("numOutputRows").value()
        elif name == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            yield from walk(node.plan())
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    return sum(walk(df._jdf.queryExecution().executedPlan()))


class TestTiledLayout:
    def test_file_is_clustered_by_tile(self, tiled_lake):
        (f,) = (tiled_lake / "dataset_id=tiled_grid" / "variable_id=v").glob("*.parquet")
        t = pq.read_table(f, columns=["band", "row", "col"])
        b, r, c = (t[k].to_numpy().astype(np.int64) for k in ("band", "row", "col"))
        assert len(b) == TILED.grid_rows * TILED.grid_cols * TILED.n_bands()
        tr, tc = r // TILE_CELLS, c // TILE_CELLS
        order = np.lexsort((c, r, b, np.where(tr % 2 == 0, tc, -tc), tr))
        assert (order == np.arange(len(b))).all()

    def test_point_scan_reads_its_tile(self, spark, tiled_lake, monkeypatch):
        from skope_api_spark.api import service as service_mod

        collected = []
        real = service_mod.collect_with_timeout

        def spy(spark, df, timeout_ms):
            collected.append(df)
            return real(spark, df, timeout_ms)

        monkeypatch.setattr(service_mod, "collect_with_timeout", spy)
        r, c, b0, b1 = 40, 50, 20, 69
        point = {"type": "Point", "coordinates": [
            TILED.origin_lon + (c + 0.5) * TILED.pixel_deg,
            TILED.origin_lat - (r + 0.5) * TILED.pixel_deg,
        ]}
        svc = lake_service(spark, str(tiled_lake))
        resp = svc.execute(M.TimeseriesV2Request(
            dataset_id=TILED.dataset_id, variable_id="v", selected_area=point,
            time_range=M.OptionalTimeRangeModel(gte=date(b0, 1, 1), lte=date(b1, 1, 1)),
        ))
        assert resp.series[0].values == [b * 10000 + r * 100 + c for b in range(b0, b1 + 1)]

        (df,) = collected
        page = spark._jvm.org.apache.parquet.column.ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT
        run = TILE_CELLS**2 * (b1 - b0 + 1)  # the tile's rows for the band range
        # the pages holding that run, plus the two pages where the tile
        # starts and ends, each shared with the neighbour next to it in
        # the order
        bound = (math.ceil(run / page) + 1 + 2) * page
        band_range = TILED.grid_rows * TILED.grid_cols * (b1 - b0 + 1)
        assert _scan_rows(df) <= bound < band_range // 3
