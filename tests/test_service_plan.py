"""Request plan shape: one Spark aggregation and one collect per request,
and the layer entry points the traced benchmark (``perfbench/spans.py``)
wraps stay module globals of ``api/service.py``."""

from __future__ import annotations

import re
from datetime import date

import pytest

from skope_api_spark.api import models as M
from skope_api_spark.api import service as service_mod
from skope_api_spark.api.service import TimeseriesService

POINT = {"type": "Point", "coordinates": [-120.0, 42.5]}
SQUARE = {
    "type": "Polygon",
    "coordinates": [
        [[-121.9, 43.9], [-120.1, 43.9], [-120.1, 42.1], [-121.9, 42.1], [-121.9, 43.9]]
    ],
}
SMOOTHERS = [
    M.SeriesOptions(name="raw", smoother=M.NoSmoother()),
    M.SeriesOptions(name="cma", smoother=M.MovingAverageSmoother(method="centered", width=3)),
    M.SeriesOptions(name="tma", smoother=M.MovingAverageSmoother(method="trailing", width=2)),
]
REQUESTS = {
    "point": dict(selected_area=POINT),
    "polygon_rolling_z": dict(
        selected_area=SQUARE,
        transform=M.ZScoreMovingInterval(width=2),
        requested_series_options=SMOOTHERS,
    ),
    "polygon_reference_z": dict(
        selected_area=SQUARE,
        time_range=M.OptionalTimeRangeModel(gte=date(4, 1, 1), lte=date(5, 1, 1)),
        transform=M.ZScoreFixedInterval(
            time_range=M.TimeRangeModel(gte=date(1, 1, 1), lte=date(2, 1, 1))
        ),
        requested_series_options=SMOOTHERS,
    ),
}
TRACED_LAYERS = ("collect_with_timeout", "rasterize_all_touched", "mask_df", "zonal_series")


@pytest.fixture(scope="module")
def service(spark):
    return TimeseriesService(spark)


def _req(**kw) -> M.TimeseriesV2Request:
    return M.TimeseriesV2Request(
        dataset_id="annual_5x5x5_dataset", variable_id="float32_variable", **kw
    )


def _plan_nodes(df) -> set[str]:
    """Operator names of the optimized logical and the physical plan."""
    qe = df._jdf.queryExecution()
    text = qe.optimizedPlan().toString() + "\n" + qe.executedPlan().toString()
    return {m.group(1) for m in re.finditer(r"^[\s:+\-|]*([A-Za-z]+)", text, re.M)}


@pytest.mark.parametrize("name", sorted(REQUESTS))
def test_one_collect_of_one_aggregation(service, monkeypatch, name):
    collected = []
    real = service_mod.collect_with_timeout

    def spy(spark, df, timeout_ms):
        collected.append(df)
        return real(spark, df, timeout_ms)

    monkeypatch.setattr(service_mod, "collect_with_timeout", spy)
    resp = service.execute(_req(**REQUESTS[name]))
    assert resp.series and resp.series[0].values
    assert len(collected) == 1
    nodes = _plan_nodes(collected[0])
    assert "Aggregate" in nodes or "HashAggregate" in nodes
    assert not nodes & {"Window", "Sort", "Union", "InMemoryRelation", "InMemoryTableScan"}


def test_uncertainty_reuses_the_selection(service, monkeypatch):
    calls = []
    real = service_mod.rasterize_all_touched

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(service_mod, "rasterize_all_touched", spy)
    resp = service.execute(_req(selected_area=SQUARE, include_uncertainty=True))
    assert resp.uncertainty is not None and len(resp.uncertainty.values) == 5
    assert len(calls) == 1


def test_perfbench_tracer_wraps_the_service_layers(service):
    from perfbench.spans import Tracer

    originals = {n: getattr(service_mod, n) for n in TRACED_LAYERS}
    execute = TimeseriesService.execute
    tracer = Tracer()
    tracer.op = 0
    tracer.install()
    try:
        assert all(getattr(service_mod, n) is not f for n, f in originals.items())
        service.execute(_req(**REQUESTS["polygon_rolling_z"]))
    finally:
        tracer.uninstall()
    assert all(getattr(service_mod, n) is f for n, f in originals.items())
    assert TimeseriesService.execute is execute

    layers = tracer.per_op(0)
    for span in ("service.execute", "service.collect", "geometry.rasterize",
                 "geometry.mask_df", "operators.zonal_series"):
        assert layers.get(span, 0) > 0, span
    assert layers["service.collects"] == 1
    assert layers["geometry.cells"] == 4
