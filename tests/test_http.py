"""HTTP façade: the reference's status-code contract at the JSON level."""

from __future__ import annotations

import json
from datetime import date

import numpy as np
import pytest

from skope_api_spark.api import http as H
from skope_api_spark.api import models as M

POINT = {"type": "Point", "coordinates": [-123.0, 45.0]}


@pytest.fixture(scope="module")
def service(dev_service):
    return dev_service


class TestV2Route:
    def test_200_success_json_serializable(self, service):
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": POINT,
            },
        )
        assert status == 200
        json.dumps(body)  # fully serializable (dates → ISO strings)
        assert body["series"][0]["values"] == [100.0, 200.0, 300.0, 400.0, 500.0]
        assert body["series"][0]["time_range"] == {
            "gte": "0001-01-01",
            "lte": "0005-01-01",
        }

    def test_422_validation(self, service):
        status, body = H.handle_timeseries_v2(
            service,
            {"dataset_id": "bad id!", "variable_id": "v", "selected_area": POINT},
        )
        assert status == 422
        assert body["detail"][0]["loc"] == ["dataset_id"]

    @pytest.mark.parametrize(
        ("dataset_id", "error"),
        [
            ("nope", "DatasetNotFoundError"),
            # S8: a dataset id is a partition-filter value, never a path;
            # a traversal-shaped id is refused at the request edge
            ("../../etc", "string_pattern_mismatch"),
        ],
        ids=["nope", "traversal"],
    )
    def test_422_unknown_dataset(self, service, dataset_id, error):
        status, body = H.handle_timeseries_v2(
            service,
            {"dataset_id": dataset_id, "variable_id": "v", "selected_area": POINT},
        )
        assert status == 422
        assert body["detail"][0]["type"] == error

    def test_422_out_of_bounds_geometry(self, service):
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": {"type": "Point", "coordinates": [0.0, 0.0]},
            },
        )
        assert status == 422
        assert body["detail"][0]["type"] == "SelectedAreaOutOfBoundsError"


class TestV1Route:
    def test_200_legacy_shape(self, service):
        status, body = H.handle_timeseries_v1(
            service,
            {
                "datasetId": "annual_5x5x5_dataset",
                "variableName": "float32_variable",
                "boundaryGeometry": POINT,
                "start": "1",
                "end": "5",
            },
        )
        assert status == 200
        assert body["values"] == [100.0, 200.0, 300.0, 400.0, 500.0]
        assert body["start"] == "0001-01-01"


class TestErrorBodies:
    """The 422 and 504 bodies of both routes (reference main.py:48-63)."""

    class _TimingOut:
        def execute(self, req):
            raise H.TimeseriesTimeoutError("processing exceeded 250 ms")

        def execute_v1(self, req):
            raise H.TimeseriesTimeoutError("processing exceeded 250 ms")

    def test_422_bodies(self, service):
        # str() of a KeyError subclass is its repr-quoted message
        body = {"detail": [{"msg": '"no such dataset \'nope\'"',
                            "type": "DatasetNotFoundError"}]}
        assert H.handle_timeseries_v2(
            service, {"dataset_id": "nope", "variable_id": "v", "selected_area": POINT}
        ) == (422, body)
        assert H.handle_timeseries_v1(
            service, {"datasetId": "nope", "variableName": "v", "boundaryGeometry": POINT}
        ) == (422, body)

    def test_504_bodies(self):
        detail = "processing exceeded 250 ms"
        assert H.handle_timeseries_v2(
            self._TimingOut(),
            {"dataset_id": "d", "variable_id": "v", "selected_area": POINT,
             "max_processing_time": 250},
        ) == (504, {"detail": detail, "processing_time": 250})
        assert H.handle_timeseries_v1(
            self._TimingOut(),
            {"datasetId": "d", "variableName": "v", "boundaryGeometry": POINT},
        ) == (504, {"detail": detail, "processing_time": M.MAX_PROCESSING_TIME_MS})


SQUARE_RING = [[-122.9, 44.9], [-122.1, 44.9], [-122.1, 44.1], [-122.9, 44.1], [-122.9, 44.9]]
# (route, payload field, value): each must be a 422, never an uncaught error
HOSTILE = {
    "point_without_coordinates": ("v2", "selected_area", {"type": "Point"}),
    "point_of_one_number": ("v2", "selected_area", {"type": "Point", "coordinates": [-122.5]}),
    "point_of_strings": ("v2", "selected_area", {"type": "Point", "coordinates": ["a", "b"]}),
    "point_of_null": ("v2", "selected_area", {"type": "Point", "coordinates": None}),
    "point_of_booleans": ("v2", "selected_area", {"type": "Point", "coordinates": [True, False]}),
    "point_at_nan": ("v2", "selected_area", {"type": "Point", "coordinates": [float("nan"), 45.0]}),
    "polygon_without_coordinates": ("v2", "selected_area", {"type": "Polygon"}),
    "polygon_of_numbers": ("v2", "selected_area", {"type": "Polygon", "coordinates": [[1, 2, 3, 1]]}),
    "polygon_without_rings": ("v2", "selected_area", {"type": "Polygon", "coordinates": []}),
    "multipolygon_of_a_number": ("v2", "selected_area", {"type": "MultiPolygon", "coordinates": 5}),
    "feature_without_geometry": ("v2", "selected_area", {"type": "Feature"}),
    "feature_of_null": ("v2", "selected_area", {"type": "Feature", "geometry": None}),
    "collection_without_features": ("v2", "selected_area", {"type": "FeatureCollection"}),
    "collection_of_strings": ("v2", "selected_area", {"type": "FeatureCollection", "features": ["x"]}),
    "vertex_at_inf": ("v2", "selected_area", {"type": "Polygon", "coordinates": [
        [*SQUARE_RING[:2], [float("inf"), 44.1], *SQUARE_RING[3:]]
    ]}),
    "year_past_a_c_long": ("v2", "time_range", {"gte": 10**20}),
    # a JSON boolean or a fractional number is no date component
    "year_of_true": ("v2", "time_range", {"gte": {"year": True}, "lte": 4}),
    "month_of_true": ("v2", "time_range", {"gte": {"year": 2, "month": True}, "lte": 4}),
    "year_fractional": ("v2", "time_range", {"gte": {"year": 2.7}, "lte": 4}),
    "v1_point_of_null": ("v1", "boundaryGeometry", {"type": "Point", "coordinates": None}),
    **{f"v1_start_{s}": ("v1", "start", s)
       for s in ("abc", "2000-13", "0", "-5", "99999999999999999999")},
    "v1_end_abc": ("v1", "end", "abc"),
}


@pytest.mark.parametrize("case", sorted(HOSTILE))
def test_hostile_payload_is_422(service, case):
    route, name, value = HOSTILE[case]
    if route == "v2":
        payload = {"dataset_id": "annual_5x5x5_dataset", "variable_id": "float32_variable",
                   "selected_area": POINT, name: value}
        status, body = H.handle_timeseries_v2(service, payload)
    else:
        payload = {"datasetId": "annual_5x5x5_dataset", "variableName": "float32_variable",
                   "boundaryGeometry": POINT, name: value}
        status, body = H.handle_timeseries_v1(service, payload)
    assert status == 422, body
    if name in ("selected_area", "boundaryGeometry"):
        # refused as malformed, not read as a position off the grid
        assert body["detail"][0]["type"] == "InvalidGeometryError"
    else:
        assert body["detail"][0]["type"] == "value_error"


class TestMetadataRoute:
    def test_200(self, service):
        status, body = H.handle_metadata(service)
        assert status == 200
        assert {m["dataset_id"] for m in body} == {
            "annual_5x5x5_dataset",
            "monthly_5x5x60_dataset",
        }


class TestSettingsRoute:
    def test_200_settings(self, service):
        status, body = H.handle_settings(service)
        assert status == 200
        assert body["max_cells"] == 500_000
        assert "annual_5x5x5_dataset" in body["datasets"]


class TestBuildApp:
    def test_routes_all_four_handlers(self, monkeypatch):
        """``build_app`` routes every handler; FastAPI is not installed
        here, so a stub module records the routes."""
        import sys
        import types

        class StubApp:
            def __init__(self, title):
                self.routes = {}

            def _route(self, method, path):
                def register(fn):
                    self.routes[(method, path)] = fn
                    return fn

                return register

            def post(self, path):
                return self._route("POST", path)

            def get(self, path):
                return self._route("GET", path)

        fastapi = types.ModuleType("fastapi")
        fastapi.FastAPI = StubApp
        responses = types.ModuleType("fastapi.responses")
        responses.JSONResponse = lambda status_code, content: (status_code, content)
        monkeypatch.setitem(sys.modules, "fastapi", fastapi)
        monkeypatch.setitem(sys.modules, "fastapi.responses", responses)
        for name in ("handle_timeseries_v2", "handle_timeseries_v1"):
            monkeypatch.setattr(H, name, lambda service, payload, n=name: (200, n))
        for name in ("handle_metadata", "handle_settings"):
            monkeypatch.setattr(H, name, lambda service, n=name: (200, n))

        app = H.build_app(service=None)
        served = {
            route: fn({}) if route[0] == "POST" else fn()
            for route, fn in app.routes.items()
        }
        assert served == {
            ("POST", "/timeseries"): (200, "handle_timeseries_v2"),
            ("POST", "/v1/timeseries"): (200, "handle_timeseries_v1"),
            ("GET", "/metadata"): (200, "handle_metadata"),
            ("GET", "/settings"): (200, "handle_settings"),
        }


class TestMalformedPayloads422:
    """Malformed client input must map to 422, never an unhandled error
    (the reference returns FastAPI 422s for all of these)."""

    def test_null_month_in_loose_date_is_422(self, service):
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": POINT,
                "time_range": {"gte": {"year": 2, "month": None}, "lte": 4},
            },
        )
        assert status == 200  # null month means "not specified" -> Jan

    def test_integral_float_year_is_that_year(self):
        """``{"year": 2.0}`` is year 2, as ``{"year": 2}`` is: many JSON
        encoders write a whole number that way."""
        tr = M.TimeRangeModel(gte={"year": 2.0, "month": 3.0}, lte={"year": 4})
        assert (tr.gte, tr.lte) == (date(2, 3, 1), date(4, 1, 1))

    def test_non_numeric_month_is_422(self, service):
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": POINT,
                "time_range": {"gte": {"year": 2, "month": "febru"}, "lte": 4},
            },
        )
        assert status == 422

    def test_transforms_plus_series_options_conflict_is_422(self, service):
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": POINT,
                "transforms": [{"type": "NoSmoother"}],
                "requested_series_options": [
                    {"name": "original", "smoother": {"type": "NoSmoother"}}
                ],
            },
        )
        assert (status, body) == (422, {"detail": [{
            "msg": "payload mixes legacy 'transforms' with"
                   " 'requested_series_options' — send one or the other",
            "type": "ValueError",
        }]})


# The four request payloads the reference ships under
# `timeseries/data/requests/`, rebuilt from FIXTURES.md §3 and the shapes
# the tests below pin (point (−120, 42.5) is row 2, col 3 of the dev grid).
CELL_2_3 = {"type": "Point", "coordinates": [-120.0, 42.5]}
YEARLY = {  # legacy shape: bare-int years, `transforms`, `resolution`
    "dataset_id": "annual_5x5x5_dataset",
    "variable_id": "float32_variable",
    "selected_area": CELL_2_3,
    "zonal_statistic": "mean",
    "resolution": "year",
    "time_range": {"gte": 2, "lte": 6},
    "transforms": [
        {"type": "MovingAverageSmoother", "method": "centered", "width": 1}
    ],
}
YEARLY_PROD = {**YEARLY, "dataset_id": "lbda-v2"}
MONTHLY = {
    "dataset_id": "monthly_5x5x60_dataset",
    "variable_id": "float32_variable",
    "selected_area": CELL_2_3,
    "zonal_statistic": "mean",
    "transform": {"type": "NoTransform"},
    "time_range": {"gte": "0001-02-01", "lte": "0003-01-01"},
    "requested_series_options": [
        {"name": "original", "smoother": {"type": "NoSmoother"}},
        {
            "name": "transformed",
            "smoother": {
                "type": "MovingAverageSmoother",
                "method": "trailing",
                "width": 7,
            },
        },
    ],
}
TIMESERIES_V1 = {
    "datasetId": "annual_5x5x5_dataset",
    "variableName": "uint16_variable",
    "boundaryGeometry": POINT,
    "start": 1,
    "end": 5,
}


def cell_2_3(b: int) -> float:
    """float32_variable law f32(b*100 + r*10 + c*1.1) at row 2, col 3."""
    return float(np.float32(b * 100 + 2 * 10 + 3 * 1.1))


class TestReferenceRequestFixtures:
    """Replay the reference's four request fixture shapes through the
    façade and pin the golden outcomes the reference's own code yields
    for them against its dev catalog
    (`timeseries/app/tests/routers/test_datasets.py:68-88`'s band·100(+
    cell offset) law, `schemas/dataset.py:49-72`'s containment errors,
    `routers/v1/api.py:11-30`'s response shape)."""

    def test_yearly_legacy_transforms_parse(self):
        """The legacy `transforms` list becomes `original` plus one
        `transform_<i>` series per smoother; bare-int years become dates."""
        req = M.TimeseriesV2Request(**M.legacy_payload_to_v2(YEARLY))
        assert req.time_range == M.OptionalTimeRangeModel(
            gte=date(2, 1, 1), lte=date(6, 1, 1)
        )
        names = [s.name for s in req.requested_series_options]
        assert names == ["original", "transform_0"]
        sm = req.requested_series_options[1].smoother
        assert (sm.type, sm.method, sm.width) == (
            "MovingAverageSmoother",
            "centered",
            1,
        )

    def test_yearly_int_year_coercion_and_containment_422(self, service):
        """yearly uses BARE-INT years (`gte: 2, lte: 6`). The int→
        0002-01-01 coercion must parse, and then — exactly like the
        reference's `find_band_range` (`schemas/dataset.py:56-63`) —
        lte=0006 beyond the annual dataset's 0001..0005 range must raise
        TimeRangeContainmentError, not clip."""
        status, body = H.handle_timeseries_v2(service, YEARLY)
        assert status == 422
        err = body["detail"][0]
        assert err["type"] == "TimeRangeContainmentError"
        # both ints coerced to real dates before containment was checked
        assert "datetime.date(2, 1, 1)" in err["msg"]
        assert "datetime.date(6, 1, 1)" in err["msg"]

    def test_yearly_span_clipped_variant_succeeds(self, service):
        """With lte clipped to the dataset's last year the same legacy
        payload succeeds, and the centered width-1 moving average is the
        identity."""
        payload = {**YEARLY, "time_range": {"gte": 2, "lte": 5}}
        status, body = H.handle_timeseries_v2(service, payload)
        assert status == 200
        assert body["n_cells"] == 1
        by_name = {s["name"]: s for s in body["series"]}
        want = [cell_2_3(b) for b in range(2, 6)]
        assert by_name["original"]["values"] == want
        assert by_name["transform_0"]["values"] == want
        assert by_name["transform_0"]["time_range"] == {
            "gte": "0002-01-01",
            "lte": "0005-01-01",
        }

    def test_yearly_prod_dataset_absent_in_dev_catalog_422(self, service):
        """yearly_prod targets the production `lbda-v2` dataset, which the
        dev catalog (deploy/metadata/dev.yml mirror) does not carry — a
        clean DatasetNotFoundError 422, not a 500."""
        status, body = H.handle_timeseries_v2(service, YEARLY_PROD)
        assert status == 422
        assert body["detail"][0]["type"] == "DatasetNotFoundError"
        assert "lbda-v2" in body["detail"][0]["msg"]

    def test_monthly_two_series_golden_values(self, service):
        """monthly: point (−120, 42.5) → cell value law
        f32(b*100 + 23.3) (FIXTURES.md §1); original series spans the
        requested 0001-02..0003-01 (bands 2..25) with exact float32
        values; the trailing-width-7 series starts at band 8 (first band
        with 7 predecessors in the DATA, current row excluded — W2
        semantics) and keeps the requested lte."""
        status, body = H.handle_timeseries_v2(service, MONTHLY)
        assert status == 200
        assert body["n_cells"] == 1
        series = {s["name"]: s for s in body["series"]}
        assert set(series) == {"original", "transformed"}

        orig = series["original"]
        assert orig["time_range"] == {"gte": "0001-02-01", "lte": "0003-01-01"}
        assert orig["values"] == [cell_2_3(b) for b in range(2, 26)]

        tma = series["transformed"]
        assert tma["time_range"] == {"gte": "0001-08-01", "lte": "0003-01-01"}
        want = [
            float(np.mean([cell_2_3(x) for x in range(b - 7, b)]))
            for b in range(8, 26)
        ]
        assert tma["values"] == pytest.approx(want, rel=1e-12)

    def test_timeseriesv1_bare_int_start_end(self, service):
        """timeseriesv1: v1 shape with BARE-INT start/end (1, 5) — the
        int→str→date chain must coerce, and the uint16 variable obeys
        the b*100 law at (−123, 45) (r=0, c=0 cell)."""
        status, body = H.handle_timeseries_v1(service, TIMESERIES_V1)
        assert status == 200
        assert body["datasetId"] == "annual_5x5x5_dataset"
        assert body["variableName"] == "uint16_variable"
        assert body["start"] == "0001-01-01"
        assert body["end"] == "0005-01-01"
        assert body["values"] == [100.0, 200.0, 300.0, 400.0, 500.0]
