"""Source-layer tests: non-unit grid coordinates and the S1 ingestion
round-trip (partitioned Parquet write → pruned read)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skope_api_spark.sources.cube import (
    analytic_cube,
    full_dev_cube,
    ingest_to_parquet,
)


class TestNonUnitGrid:
    def test_half_degree_grid_coordinates_and_area(self, spark, monkeypatch):
        """lon/lat/cell_area must scale row/col by pixel_deg (a 1.0° grid
        hides the bug because r*px == r)."""
        import datetime as dt

        from skope_api_spark.plans.catalog import DatasetMeta, TimeRange
        from skope_api_spark.sources import cube as cu

        meta = DatasetMeta(
            dataset_id="halfdeg",
            resolution="year",
            time_range=TimeRange(dt.date(1, 1, 1), dt.date(2, 1, 1)),
            variables=("v",),
            grid_rows=3,
            grid_cols=3,
            origin_lon=-10.0,
            origin_lat=40.0,
            pixel_deg=0.5,
        )
        monkeypatch.setitem(cu.DEV_CATALOG, "halfdeg", meta)
        monkeypatch.setitem(
            cu.VARIABLE_RULES,
            ("halfdeg", "v"),
            {"value": "b", "f32": False, "null": "FALSE"},
        )
        got = {
            (r.row, r.col): (r.lon, r.lat, r.cell_area)
            for r in analytic_cube(spark, "halfdeg", "v")
            .where(F.col("band") == 1)
            .collect()
        }
        for (rr, cc), (lon, lat, area) in got.items():
            assert lon == pytest.approx(-10.0 + cc * 0.5 + 0.25)
            assert lat == pytest.approx(40.0 - rr * 0.5 - 0.25)
            assert area == pytest.approx(
                cu.cell_area_m2(40.0 - rr * 0.5, 0.5), rel=1e-12
            )
        # row 2 of a 0.5° grid sits at a DIFFERENT latitude than row 2 of a
        # 1° grid — the exact case the unscaled form got wrong
        assert got[(2, 0)][1] == pytest.approx(40.0 - 1.25)


class TestIngestionRoundTrip:
    @pytest.fixture(scope="class")
    def lake(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("lake") / "cube")
        ingest_to_parquet(spark, path)
        return path

    def test_roundtrip_values_equal(self, spark, lake):
        disk = spark.read.parquet(lake)
        mem = full_dev_cube(spark)
        # same row count and identical per-slice checksums
        assert disk.count() == mem.count()
        key = ["dataset_id", "variable_id"]
        sums_disk = {
            tuple(r[k] for k in key): (r.n, r.s)
            for r in disk.groupBy(*key)
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
            .collect()
        }
        sums_mem = {
            tuple(r[k] for k in key): (r.n, r.s)
            for r in mem.groupBy(*key)
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
            .collect()
        }
        assert sums_disk == sums_mem

    def test_partition_pruning(self, spark, lake):
        disk = spark.read.parquet(lake)
        q = disk.where(
            (F.col("dataset_id") == "annual_5x5x5_dataset")
            & (F.col("variable_id") == "float32_variable")
            & F.col("band").between(2, 3)
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "dataset_id" in plan.split("PartitionFilters")[1][:300]
        # band predicate reaches the parquet reader for row-group pruning
        assert "band" in plan.split("PushedFilters")[1][:200]

    def test_uncertainty_slice_present(self, spark, lake):
        disk = spark.read.parquet(lake)
        unc = disk.where(F.col("variable_id") == "float32_variable_uncertainty")
        assert unc.count() == 125
        # uncertainty rule: b*10 + r + c*0.1 at origin = b*10
        vals = {
            r.band: r.value
            for r in unc.where((F.col("row") == 0) & (F.col("col") == 0)).collect()
        }
        assert vals[1] == pytest.approx(10.0)
        assert vals[5] == pytest.approx(50.0)
