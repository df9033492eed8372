"""Lake-backed service: identical responses to the analytic provider, and
partition-pruned scans."""

from __future__ import annotations

import pytest

from skope_api_spark.api import models as M
from skope_api_spark.api.service import TimeseriesService
from skope_api_spark.sources.cube import ingest_to_parquet
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


class TestLakeService:
    def test_matches_analytic_provider(self, spark, lake):
        a = TimeseriesService(spark).execute(req())
        b = lake_service(spark, lake).execute(req())
        da, db = a.model_dump(), b.model_dump()
        da.pop("processing_time_ms"), db.pop("processing_time_ms")
        assert da == db
        assert b.series[0].values == [
            pytest.approx(x + 23.3, abs=0.01) for x in (100, 200, 300, 400, 500)
        ]

    def test_scan_is_partition_pruned(self, spark, lake):
        svc = lake_service(spark, lake)
        from skope_api_spark.plans.catalog import DEV_CATALOG

        cube = svc.cube(DEV_CATALOG["annual_5x5x5_dataset"], "float32_variable")
        plan = cube._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters")[1][:300]
        assert "dataset_id" in pf and "variable_id" in pf

    def test_lake_is_opened_once_per_service(self, spark, lake, monkeypatch):
        svc = lake_service(spark, lake)
        reads = []
        real = svc._spark_read

        def spy():
            reads.append(1)
            return real()

        monkeypatch.setattr(svc, "_spark_read", spy)
        svc.execute(req())
        svc.execute(req(zonal_statistic="median"))
        assert len(reads) == 1
