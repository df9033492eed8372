"""execute_many: batched API execution equals per-request execution."""

from __future__ import annotations

import math
from datetime import date

import pytest

from skope_api_spark.api import models as M
from skope_api_spark.api import service as service_mod
from skope_api_spark.api.service import TimeseriesService, TimeseriesTimeoutError

POINT = {"type": "Point", "coordinates": [-123.0, 45.0]}
SQUARE = {
    "type": "Polygon",
    "coordinates": [
        [[-121.9, 43.9], [-120.1, 43.9], [-120.1, 42.1], [-121.9, 42.1], [-121.9, 43.9]]
    ],
}


@pytest.fixture(scope="module")
def service(spark):
    return TimeseriesService(spark)


def _strip_time(resp):
    d = resp.model_dump()
    d.pop("processing_time_ms")
    return d


class TestExecuteMany:
    def test_batch_equals_individual(self, service):
        reqs = [
            M.TimeseriesV2Request(
                dataset_id="annual_5x5x5_dataset",
                variable_id="float32_variable",
                selected_area=POINT,
            ),
            M.TimeseriesV2Request(
                dataset_id="annual_5x5x5_dataset",
                variable_id="float32_variable",
                selected_area=SQUARE,
                time_range=M.OptionalTimeRangeModel(gte=date(1, 1, 1), lte=date(4, 1, 1)),
                include_uncertainty=True,
                requested_series_options=[
                    M.SeriesOptions(name="raw", smoother=M.NoSmoother()),
                    M.SeriesOptions(
                        name="tma",
                        smoother=M.MovingAverageSmoother(method="trailing", width=2),
                    ),
                ],
            ),
            M.TimeseriesV2Request(
                dataset_id="annual_5x5x5_dataset",
                variable_id="float32_variable",
                selected_area=POINT,
                transform=M.ZScoreFixedInterval(),
            ),
            # different variable → second group
            M.TimeseriesV2Request(
                dataset_id="annual_5x5x5_dataset",
                variable_id="uint16_variable",
                selected_area=SQUARE,
                zonal_statistic="median",
                include_uncertainty=True,  # no companion cube: None both ways
            ),
        ]
        batched = service.execute_many(reqs)
        individual = [service.execute(r) for r in reqs]
        assert len(batched) == len(individual) == 4
        for b, s in zip(batched, individual):
            assert _strip_time(b) == _strip_time(s)
        assert batched[1].uncertainty is not None
        assert len(batched[1].uncertainty.values) == 4
        assert batched[3].uncertainty is None

    def test_no_deadline_member_keeps_the_group_unbounded(self, service, monkeypatch):
        """max_processing_time=0 means no deadline; a neighbour's 1 ms
        budget must not become the group's deadline."""
        budgets = []
        real = service_mod.collect_with_timeout

        def spy(spark, df, timeout_ms):
            budgets.append(timeout_ms)
            return real(spark, df, timeout_ms)

        monkeypatch.setattr(service_mod, "collect_with_timeout", spy)
        reqs = [
            M.TimeseriesV2Request(
                dataset_id="annual_5x5x5_dataset",
                variable_id="float32_variable",
                selected_area=area,
                max_processing_time=ms,
            )
            for area, ms in ((POINT, 0), (SQUARE, 1))
        ]
        out = service.execute_many(reqs)
        assert budgets == [0]
        assert [r.n_cells for r in out] == [1, 4]
        # with every member bounded, the group takes the largest budget
        with pytest.raises(TimeseriesTimeoutError):
            service.execute_many([reqs[1], reqs[1].model_copy(update={"max_processing_time": 2})])

    def test_overlapping_reference_range_alone_and_batched(self, service):
        """A fixed-reference z-score whose reference range overlaps its
        extraction: the batch reads the union of the two once, so no band
        joins twice and no zonal value is double-counted."""
        req = M.TimeseriesV2Request(
            dataset_id="annual_5x5x5_dataset",
            variable_id="float32_variable",
            selected_area=SQUARE,
            time_range=M.OptionalTimeRangeModel(gte=date(2, 1, 1), lte=date(5, 1, 1)),
            transform=M.ZScoreFixedInterval(
                time_range=M.TimeRangeModel(gte=date(1, 1, 1), lte=date(3, 1, 1))
            ),
        )
        other = M.TimeseriesV2Request(
            dataset_id="annual_5x5x5_dataset",
            variable_id="float32_variable",
            selected_area=POINT,
        )
        alone = service.execute(req)
        batched = service.execute_many([other, req])
        assert _strip_time(batched[1]) == _strip_time(alone)
        assert _strip_time(batched[0]) == _strip_time(service.execute(other))
        # cells (1,1),(1,2),(2,1),(2,2): band means step by 100, so the
        # reference (bands 1-3) has mean m2 and sigma 100·sqrt(2/3)
        assert alone.n_cells == 4
        assert alone.series[0].values == pytest.approx(
            [(b - 2) / math.sqrt(2 / 3) for b in range(2, 6)], rel=1e-5, abs=1e-5
        )

    def test_many_points_one_group(self, service):
        """6 distinct points in one (dataset, variable, stat) group: each
        response carries its own cell's series from the shared extraction."""
        reqs = [
            M.TimeseriesV2Request(
                dataset_id="annual_5x5x5_dataset",
                variable_id="uint16_variable",
                selected_area={
                    "type": "Point",
                    "coordinates": [-122.5 + i * 0.9, 44.5 - i * 0.7],
                },
            )
            for i in range(6)
        ]
        out = service.execute_many(reqs)
        assert all(r is not None and r.n_cells == 1 for r in out)
        for i, resp in enumerate(out):
            lon, lat = reqs[i].selected_area["coordinates"]
            # far-edge points clamp to the last cell (inclusive bounds)
            r, c = min(int(45.0 - lat), 4), min(int(lon - -123.0), 4)
            if (r, c) == (3, 4):
                # the uint16 nodata hole (r12 parity fix: real raster
                # sentinel 65535) — the series is all-missing, like the
                # reference's read-time nulling yields
                assert resp.series[0].values == [None] * 5
            else:
                assert resp.series[0].values == [
                    float(b * 100 + r * 10 + c) for b in range(1, 6)
                ]
