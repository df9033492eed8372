"""End-to-end API pipeline tests — ports of the reference's route tests
(``test_datasets.py:58-153``) against the Spark pipeline."""

from __future__ import annotations

from datetime import date

import numpy as np
import pytest
from pydantic import ValidationError

from skope_api_spark.api import models as M
from skope_api_spark.api.service import TimeseriesService
from skope_api_spark.plans.catalog import DatasetNotFoundError
from skope_api_spark.plans.intervals import TimeRangeContainmentError

ORIGIN_POINT = {"type": "Point", "coordinates": [-123.0, 45.0]}
INTERIOR_POINT = {"type": "Point", "coordinates": [-120.0, 42.5]}


@pytest.fixture(scope="module")
def service(dev_service):
    return dev_service


def v2(**kw) -> M.TimeseriesV2Request:
    base = dict(
        dataset_id="annual_5x5x5_dataset",
        variable_id="float32_variable",
        selected_area=ORIGIN_POINT,
    )
    base.update(kw)
    return M.TimeseriesV2Request(**base)


class TestPointE2E:
    def test_origin_series_is_band_times_100(self, service):
        """Reference golden (test_datasets.py:68-88), all 6 time subranges."""
        for gte, lte, expected in [
            (None, None, [100.0, 200.0, 300.0, 400.0, 500.0]),
            (date(1, 1, 1), date(3, 1, 1), [100.0, 200.0, 300.0]),
            (date(3, 1, 1), date(5, 1, 1), [300.0, 400.0, 500.0]),
            (date(2, 1, 1), date(2, 1, 1), [200.0]),
        ]:
            resp = service.execute(
                v2(time_range=M.OptionalTimeRangeModel(gte=gte, lte=lte))
            )
            assert resp.series[0].values == expected
            assert resp.n_cells == 1

    def test_multi_series_window_labeling(self, service):
        """Reference semantic golden (test_datasets.py:91-121): years 1–4,
        [NoSmoother, trailing w=2, centered w=3] → ranges [1–4],[3–4],[2–4]."""
        resp = service.execute(
            v2(
                time_range=M.OptionalTimeRangeModel(gte=date(1, 1, 1), lte=date(4, 1, 1)),
                requested_series_options=[
                    M.SeriesOptions(name="raw", smoother=M.NoSmoother()),
                    M.SeriesOptions(
                        name="tma",
                        smoother=M.MovingAverageSmoother(method="trailing", width=2),
                    ),
                    M.SeriesOptions(
                        name="cma",
                        smoother=M.MovingAverageSmoother(method="centered", width=3),
                    ),
                ],
            )
        )
        out = {s.name: s for s in resp.series}
        assert out["raw"].values == [100.0, 200.0, 300.0, 400.0]
        assert out["raw"].time_range == M.TimeRangeModel(gte=date(1, 1, 1), lte=date(4, 1, 1))
        assert out["tma"].values == [150.0, 250.0]
        assert out["tma"].time_range == M.TimeRangeModel(gte=date(3, 1, 1), lte=date(4, 1, 1))
        assert out["cma"].values == [200.0, 300.0, 400.0]
        assert out["cma"].time_range == M.TimeRangeModel(gte=date(2, 1, 1), lte=date(4, 1, 1))

    def test_monthly_resolution_labels(self, service):
        """Documented divergence from the reference's freq='A' bug: monthly
        series carry real month labels."""
        resp = service.execute(
            v2(
                dataset_id="monthly_5x5x60_dataset",
                time_range=M.OptionalTimeRangeModel(gte=date(1, 11, 1), lte=date(2, 2, 1)),
            )
        )
        s = resp.series[0]
        assert s.time_range == M.TimeRangeModel(gte=date(1, 11, 1), lte=date(2, 2, 1))
        assert s.values == [1100.0, 1200.0, 1300.0, 1400.0]

    def test_summary_stats_population_stddev(self, service):
        resp = service.execute(v2())
        row = resp.summary_stats[0]
        assert row.mean == pytest.approx(300.0)
        assert row.median == pytest.approx(300.0)
        assert row.stdev == pytest.approx(np.std([100, 200, 300, 400, 500]))


class TestTransforms:
    def test_fixed_zscore_with_original_row(self, service):
        resp = service.execute(v2(transform=M.ZScoreFixedInterval()))
        assert resp.summary_stats[0].name == "Original"
        assert resp.summary_stats[0].mean == pytest.approx(300.0)
        xs = np.array([100.0, 200, 300, 400, 500])
        expected = (xs - xs.mean()) / xs.std()
        assert resp.series[0].values == pytest.approx(list(expected))

    def test_reference_interval_zscore(self, service):
        resp = service.execute(
            v2(
                transform=M.ZScoreFixedInterval(
                    time_range=M.TimeRangeModel(gte=date(1, 1, 1), lte=date(3, 1, 1))
                )
            )
        )
        ref = np.array([100.0, 200, 300])
        xs = np.array([100.0, 200, 300, 400, 500])
        expected = (xs - ref.mean()) / ref.std()
        assert resp.series[0].values == pytest.approx(list(expected))

    def test_rolling_zscore_shrinks_output(self, service):
        resp = service.execute(v2(transform=M.ZScoreMovingInterval(width=2)))
        s = resp.series[0]
        # bands 1-2 lack 2 predecessors; output starts at band 3
        assert s.time_range == M.TimeRangeModel(gte=date(3, 1, 1), lte=date(5, 1, 1))
        # each window is [v-200, v-100] → mean v-150, std 50 → z = 3 everywhere
        assert s.values == pytest.approx([3.0, 3.0, 3.0])


class TestPolygonE2E:
    def test_polygon_mean_and_area(self, service):
        square = {
            "type": "Polygon",
            "coordinates": [
                [[-121.9, 43.9], [-120.1, 43.9], [-120.1, 42.1], [-121.9, 42.1], [-121.9, 43.9]]
            ],
        }
        resp = service.execute(v2(selected_area=square, variable_id="uint16_variable"))
        assert resp.n_cells == 4  # cells (1,1),(1,2),(2,1),(2,2)
        vals = [[b * 100 + r * 10 + c for (r, c) in [(1, 1), (1, 2), (2, 1), (2, 2)]] for b in range(1, 6)]
        assert resp.series[0].values == [sum(v) / 4 for v in vals]
        assert resp.area_m2 == pytest.approx(4 * 8.6e9, rel=0.1)  # ~1° cells at 43°N

    def test_zonal_median(self, service):
        resp = service.execute(
            v2(
                selected_area={
                    "type": "Polygon",
                    "coordinates": [
                        [[-122.9, 44.9], [-118.1, 44.9], [-118.1, 40.1], [-122.9, 40.1], [-122.9, 44.9]]
                    ],
                },
                variable_id="uint16_variable",
                zonal_statistic="median",
            )
        )
        assert resp.n_cells == 25
        # uint16 shares float32's nodata holes (r12 parity fix): median
        # over the valid 24 cells (23 in band 3)
        assert resp.series[0].values == [
            float(
                np.median(
                    [
                        b * 100 + r * 10 + c
                        for r in range(5)
                        for c in range(5)
                        if not (
                            (r == 3 and c == 4)
                            or (b == 3 and r == 2 and c == 4)
                        )
                    ]
                )
            )
            for b in range(1, 6)
        ]


class TestErrors:
    def test_unknown_dataset(self, service):
        with pytest.raises(DatasetNotFoundError):
            service.execute(v2(dataset_id="nope"))

    def test_unknown_variable(self, service):
        with pytest.raises(DatasetNotFoundError):
            service.execute(v2(variable_id="nope"))

    def test_out_of_span_time_range(self, service):
        with pytest.raises(TimeRangeContainmentError):
            service.execute(
                v2(time_range=M.OptionalTimeRangeModel(gte=date(1, 1, 1), lte=date(9, 1, 1)))
            )

    def test_validation_422_equivalents(self):
        with pytest.raises(ValidationError):
            M.TimeseriesV2Request(
                dataset_id="bad id!",
                variable_id="v",
                selected_area=ORIGIN_POINT,
            )
        with pytest.raises(ValidationError):
            M.MovingAverageSmoother(method="centered", width=4)  # even
        with pytest.raises(ValidationError):
            M.MovingAverageSmoother(method="trailing", width=500)  # > 200
        with pytest.raises(ValidationError):
            M.TimeseriesV2Request(
                dataset_id="d",
                variable_id="v",
                selected_area=ORIGIN_POINT,
                max_processing_time=99_999_999,
            )
        # {"year": null} must be a 422-mapped ValidationError, not a raw
        # TypeError from date(None, 1, 1) that would 500 the request
        with pytest.raises(ValidationError):
            M.OptionalTimeRangeModel(gte={"year": None})


class TestV1Adapter:
    def test_v1_roundtrip(self, service):
        resp = service.execute_v1(
            M.TimeseriesV1Request(
                datasetId="annual_5x5x5_dataset",
                variableName="float32_variable",
                boundaryGeometry=ORIGIN_POINT,
                start="1",
                end="5",
            )
        )
        assert resp["values"] == [100.0, 200.0, 300.0, 400.0, 500.0]
        assert resp["start"] == "0001-01-01"
        assert resp["datasetId"] == "annual_5x5x5_dataset"

    def test_v1_year_month_parsing(self):
        assert M.parse_v1_date("1") == date(1, 1, 1)
        assert M.parse_v1_date("2000-01") == date(2000, 1, 1)
        assert M.parse_v1_date("3") == date(3, 1, 1)


class TestTimeout:
    def test_timeout_cancels_jobs(self, spark):
        from pyspark.sql import functions as F

        from skope_api_spark.api.service import (
            TimeseriesTimeoutError,
            collect_with_timeout,
        )

        big = (
            spark.range(2_000_000_000)
            .groupBy((F.col("id") % 99991).alias("k"))
            .agg(F.sum("id").alias("s"))
        )
        with pytest.raises(TimeseriesTimeoutError):
            collect_with_timeout(spark, big, timeout_ms=100)


class TestMetadata:
    def test_metadata_lists_datasets(self, service):
        md = service.metadata()
        ids = {m["dataset_id"] for m in md}
        assert ids == {"annual_5x5x5_dataset", "monthly_5x5x60_dataset"}


class TestNullSeriesEdgeCases:
    def test_all_null_cell_selection(self, service):
        """Selecting only the all-nodata cell (row 3, col 4): values come
        back as Nones, summary stats are None — numpy all-NaN parity."""
        cell_poly = {
            "type": "Polygon",
            "coordinates": [
                [[-118.9, 41.9], [-118.1, 41.9], [-118.1, 41.1], [-118.9, 41.1], [-118.9, 41.9]]
            ],
        }
        resp = service.execute(v2(selected_area=cell_poly))
        assert resp.n_cells == 1
        assert resp.series[0].values == [None] * 5
        row = resp.summary_stats[0]
        assert row.mean is None and row.median is None and row.stdev is None

    def test_partial_null_series_summary_skips(self, service):
        """Cell (2,4) is NULL only in band 3: the series has one hole and
        summaries skip it (nan* semantics)."""
        cell_poly = {
            "type": "Polygon",
            "coordinates": [
                [[-118.9, 42.9], [-118.1, 42.9], [-118.1, 42.1], [-118.9, 42.1], [-118.9, 42.9]]
            ],
        }
        resp = service.execute(v2(selected_area=cell_poly))
        vals = resp.series[0].values
        assert vals[2] is None and all(v is not None for i, v in enumerate(vals) if i != 2)
        expected = [v for v in vals if v is not None]
        assert resp.summary_stats[0].mean == pytest.approx(sum(expected) / 4)

    def test_monthly_trailing_over_year_boundary(self, service):
        """Monthly trailing w=2 across the year-1 → year-2 boundary: labels
        advance by real months (the reference's freq='A' bug would break
        this)."""
        resp = service.execute(
            v2(
                dataset_id="monthly_5x5x60_dataset",
                time_range=M.OptionalTimeRangeModel(gte=date(1, 11, 1), lte=date(2, 2, 1)),
                requested_series_options=[
                    M.SeriesOptions(
                        name="tma",
                        smoother=M.MovingAverageSmoother(method="trailing", width=2),
                    )
                ],
            )
        )
        s = resp.series[0]
        # requested months 11..14; trailing 2 full windows exist everywhere
        # (extraction padded back to month 9)
        assert s.time_range == M.TimeRangeModel(gte=date(1, 11, 1), lte=date(2, 2, 1))
        # value at month b = mean(100*(b-2), 100*(b-1))
        assert s.values == [
            (100 * (b - 2) + 100 * (b - 1)) / 2 for b in (11, 12, 13, 14)
        ]


class TestUncertainty:
    def test_include_uncertainty_series(self, service):
        resp = service.execute(v2(include_uncertainty=True))
        u = resp.uncertainty
        assert u is not None and u.name == "uncertainty"
        # uncertainty rule at origin cell: b*10 + 0 + 0 (float32)
        assert u.values == [10.0, 20.0, 30.0, 40.0, 50.0]
        assert u.time_range == M.TimeRangeModel(gte=date(1, 1, 1), lte=date(5, 1, 1))

    def test_uncertainty_absent_for_variable_without_companion(self, service):
        resp = service.execute(
            v2(variable_id="uint16_variable", include_uncertainty=True)
        )
        assert resp.uncertainty is None

    def test_uncertainty_off_by_default(self, service):
        assert service.execute(v2()).uncertainty is None


class TestNonSquareGrid:
    """Rectangular pixels (lon≠lat resolution) through the full API path —
    mirrors tests/test_geotiff.py::TestNonSquarePixels for the service
    layer (reference affine handles this via ``dataset.index``,
    timeseries/app/schemas/geometry.py:87-89)."""

    RECT_ID = "rect_5x10_dataset"
    RULE = {"value": "b * 100 + r * 10 + c", "f32": False, "null": "FALSE"}

    @pytest.fixture(scope="class")
    def rect_service(self, spark):
        from skope_api_spark.plans.catalog import Catalog, DatasetMeta, TimeRange
        from skope_api_spark.sources.cube import analytic_cube

        meta = DatasetMeta(
            dataset_id=self.RECT_ID,
            resolution="year",
            time_range=TimeRange(date(1, 1, 1), date(5, 1, 1)),
            variables=("uint16_variable",),
            grid_rows=5,
            grid_cols=10,
            origin_lon=-123.0,
            origin_lat=45.0,
            pixel_deg=1.0,
            pixel_deg_lon=0.5,
            pixel_deg_lat=1.0,
        )
        cube = analytic_cube(spark, self.RECT_ID, "uint16_variable", meta=meta, rule=self.RULE)
        return TimeseriesService(spark, cube, catalog=Catalog(datasets={self.RECT_ID: meta}))

    def rect_v2(self, **kw):
        base = dict(
            dataset_id=self.RECT_ID,
            variable_id="uint16_variable",
            selected_area=INTERIOR_POINT,
        )
        base.update(kw)
        return M.TimeseriesV2Request(**base)

    def test_point_lands_in_half_degree_column(self, rect_service):
        """(-120.3, 42.5): col = (2.7 // 0.5) = 5, row = (2.5 // 1.0) = 2 —
        a square-pixel Grid would pick col 2 and return ...22 values."""
        resp = rect_service.execute(
            self.rect_v2(
                selected_area={"type": "Point", "coordinates": [-120.3, 42.5]}
            )
        )
        assert resp.n_cells == 1
        assert resp.series[0].values == [b * 100 + 25.0 for b in range(1, 6)]

    def test_polygon_touches_rect_cells_and_area(self, rect_service):
        from skope_api_spark.sources.cube import cell_area_m2

        square = {
            "type": "Polygon",
            "coordinates": [
                [
                    [-121.9, 43.9],
                    [-121.1, 43.9],
                    [-121.1, 42.1],
                    [-121.9, 42.1],
                    [-121.9, 43.9],
                ]
            ],
        }
        resp = rect_service.execute(self.rect_v2(selected_area=square))
        # lon [-121.9, -121.1] touches 0.5° cols 2 and 3; lat rows 1 and 2
        assert resp.n_cells == 4
        expected = [(1, 2), (1, 3), (2, 2), (2, 3)]
        mean_rc = sum(r * 10 + c for r, c in expected) / 4
        assert resp.series[0].values == [b * 100 + mean_rc for b in range(1, 6)]
        # area: lon width 0.5° halves each cell; latitude band sets the rest
        want = 2 * (cell_area_m2(44.0, 1.0, 0.5) + cell_area_m2(43.0, 1.0, 0.5))
        assert resp.area_m2 == pytest.approx(want, rel=1e-12)
        assert cell_area_m2(44.0, 1.0, 0.5) == pytest.approx(
            cell_area_m2(44.0, 1.0) / 2, rel=1e-9
        )

    def test_out_of_bounds_uses_rect_extent(self, rect_service):
        """Grid covers lon up to -123 + 10*0.5 = -118: a point at -117.5
        must 422 even though a square 1.0° grid of 10 cols would cover it."""
        from skope_api_spark.geometry import SelectedAreaOutOfBoundsError

        with pytest.raises(SelectedAreaOutOfBoundsError):
            rect_service.execute(
                self.rect_v2(
                    selected_area={"type": "Point", "coordinates": [-117.5, 42.0]}
                )
            )
